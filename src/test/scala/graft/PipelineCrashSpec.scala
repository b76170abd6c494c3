package graft

import graft.io.Pipeline
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Spark's default file commit protocol, except that one job commit fails:
  * before its files are moved into place, or after. */
class CrashingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (!CrashingCommitProtocol.afterMove) CrashingCommitProtocol.crashIfDue()
    super.commitJob(jobContext, taskCommits)
    if (CrashingCommitProtocol.afterMove) CrashingCommitProtocol.crashIfDue()
  }
}

object CrashingCommitProtocol {
  private val Key = "spark.sql.sources.commitProtocolClass"
  private val countdown = new AtomicInteger(0)
  @volatile private var afterMove = false

  private def crashIfDue(): Unit =
    if (countdown.decrementAndGet() == 0)
      throw new java.io.IOException("injected crash in commitJob")

  /** Runs `body` with the `nth` job commit in it failing once, then
    * restores the session's commit protocol. */
  def crashing[T](spark: SparkSession, nth: Int, afterMove: Boolean)(body: => T): T = {
    val prior = spark.conf.getAll.get(Key)
    countdown.set(nth)
    this.afterMove = afterMove
    spark.conf.set(Key, classOf[CrashingCommitProtocol].getName)
    try body
    finally {
      countdown.set(0)
      prior.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    }
  }
}

/** Exactly-once per `ingest_date` partition under a crash at each of the
  * pipeline's commit points: inside the sink's job commit (before and after
  * the files move into place), and after the write but before the ledger
  * records it. */
class PipelineCrashSpec extends SparkSpec {
  import CrashingCommitProtocol.crashing

  /** rows out per date: faithful expansion of the intervals below */
  private val expected = Map("2024-01-01" -> 2L, "2024-01-02" -> 4L, "2024-01-03" -> 5L)

  private def mkSource(): String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "crashsrc").toString
    def write(name: String, rows: String*): Unit =
      Files.write(Paths.get(dir, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    write("20240101_readings.csv", "2024-01-01 00:00:00,2024-01-01 00:00:10,2,20.0")
    write("20240102_readings.csv", "2024-01-02 00:00:00,2024-01-02 00:00:30,3,21.0",
      "2024-01-02 01:00:00,2024-01-02 01:00:10,1,22.0")
    write("20240103_readings.csv", "2024-01-03 00:00:00,2024-01-03 00:00:50,5,23.0")
    dir
  }

  private def partitionRows(out: String): Map[String, Long] =
    expected.keys.map(d => d -> spark.read.parquet(s"$out/ingest_date=$d").count()).toMap

  /** Every line of every ledger marker, duplicates kept. */
  private def ledgerLines(ledger: String): Seq[String] =
    Files.list(Paths.get(ledger)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("run-"))
      .flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty)

  private def assertLedgerOnce(ledger: String, late: String*): Unit = {
    val names = ledgerLines(ledger).map(f => f.substring(f.lastIndexOf('/') + 1))
    assert(names.sorted == (late ++
      Seq("20240101_readings.csv", "20240102_readings.csv", "20240103_readings.csv")).sorted)
  }

  private def rowsOf(out: String) =
    spark.read.parquet(out).collect().map(_.toString).sorted.toSeq

  test("runWithRetry after a crash in the sink's job commit leaves one copy of each row") {
    val dir = mkSource()
    val reference = dir + "_ref"
    assert(Pipeline.run(spark, dir, reference) == 5)
    for (afterMove <- Seq(false, true)) {
      val out = s"${dir}_retry_$afterMove"
      val n = crashing(spark, nth = 1, afterMove) {
        Pipeline.runWithRetry(spark, dir, out, maxAttempts = 3, backoffMs = 1)
      }
      assert(n == 5)
      assert(rowsOf(out) == rowsOf(reference), s"afterMove=$afterMove")
    }
  }

  test("a runIncremental that crashes mid-write is exactly-once after a re-run, late files too") {
    for (afterMove <- Seq(false, true)) {
      val dir = mkSource()
      val (out, ledger) = (dir + "_out", dir + "_ledger")
      // the second date's commit fails: the first is written and recorded
      crashing(spark, nth = 2, afterMove) {
        intercept[Exception](Pipeline.runIncremental(spark, dir, out, ledger))
      }
      assert(ledgerLines(ledger).map(f => f.substring(f.lastIndexOf('/') + 1)) ==
        Seq("20240101_readings.csv"))
      val (files, rows) = Pipeline.runIncremental(spark, dir, out, ledger)
      assert(files.size == 2 && rows == 9)
      assert(partitionRows(out) == expected, s"afterMove=$afterMove")
      assertLedgerOnce(ledger)
      // a late file for a processed date: its partition rebuild crashes,
      // and the re-run rebuilds it once from the ledger plus the late file
      Files.write(Paths.get(dir, "20240102_late.csv"), ("start_time,end_time,samples,temperature\n" +
        "2024-01-02 02:00:00,2024-01-02 02:00:30,3,24.0\n").getBytes)
      crashing(spark, nth = 1, afterMove) {
        intercept[Exception](Pipeline.runIncremental(spark, dir, out, ledger))
      }
      assert(Pipeline.runIncremental(spark, dir, out, ledger)._2 == 7)
      assert(partitionRows(out) == expected.updated("2024-01-02", 7L), s"afterMove=$afterMove")
      assertLedgerOnce(ledger, "20240102_late.csv")
    }
  }

  test("a crash after the write and before the ledger record overwrites on re-run") {
    val dir = mkSource()
    val (out, ledger) = (dir + "_out", dir + "_ledger")
    // a regular file where the ledger directory should be: Ledger.record throws
    Files.createFile(Paths.get(ledger))
    intercept[Exception](Pipeline.runIncremental(spark, dir, out, ledger))
    // the first date's write committed before the ledger failed
    assert(spark.read.parquet(s"$out/ingest_date=2024-01-01").count() == 2)
    Files.delete(Paths.get(ledger))
    val (files, rows) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files.size == 3 && rows == 11)
    assert(partitionRows(out) == expected)
    assertLedgerOnce(ledger)
  }
}
