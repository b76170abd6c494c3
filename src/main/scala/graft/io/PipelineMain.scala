package graft.io

import org.apache.spark.sql.SparkSession

/** CLI entry for the batch pipeline: `runMain graft.io.PipelineMain
  * <sourceDir> <targetDir> [--strict] [--append | --incremental]`.
  * `--incremental` processes every pending dated file (bookmark ledger at
  * `<targetDir>/_ledger` — the underscore prefix keeps it invisible to
  * Spark's file index) and always overwrites per `ingest_date`, so it
  * cannot be combined with `--append`; default processes the newest file
  * only, like the reference. Unknown flags and that combination are usage
  * errors, raised before any SparkSession is built. Exit code semantics
  * replace the reference's Step Functions retry contract (SURVEY §3.3).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val flags = args.drop(2).toSet
    require(args.length >= 2 && flags.subsetOf(Set("--strict", "--append", "--incremental")) &&
      !(flags("--append") && flags("--incremental")),
      s"usage: PipelineMain <sourceDir> <targetDir> [--strict] [--append | --incremental]; " +
      s"got: ${args.mkString(" ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (flags("--incremental")) {
        val (files, rows) = Pipeline.runIncremental(spark, args(0), args(1),
          ledgerDir = args(1) + "/_ledger", strict = flags("--strict"))
        println(s"""{"pipeline":"ok","files_processed":${files.size},"rows_written":$rows,"target":"${args(1)}"}""")
      } else {
        val n = Pipeline.run(spark, args(0), args(1),
          strict = flags("--strict"), idempotent = !flags("--append"))
        println(s"""{"pipeline":"ok","rows_written":$n,"target":"${args(1)}"}""")
      }
    } finally spark.stop()
  }
}
