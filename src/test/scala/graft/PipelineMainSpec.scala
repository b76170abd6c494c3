package graft

import graft.io.PipelineMain
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The CLI rejects bad arguments before it builds (or, through
  * `getOrCreate`, borrows and then stops) a SparkSession. */
class PipelineMainSpec extends AnyFunSuite {

  test("unknown flags and --append with --incremental are usage errors, with no session touched") {
    val before = SparkSession.getDefaultSession
    val missing = "target/pipeline_main_missing"
    Seq(
      Seq(missing, missing + "_out", "--stirct"),
      Seq(missing, missing + "_out", "--append", "--incremental"),
      Seq(missing),
    ).foreach { args =>
      val e = intercept[IllegalArgumentException](PipelineMain.main(args.toArray))
      assert(e.getMessage.contains("usage: PipelineMain"), args)
    }
    assert(SparkSession.getDefaultSession == before)
    before.foreach(s => assert(!s.sparkContext.isStopped))
  }
}
