package graft

import graft.io.{Pipeline, Sinks, Sources}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

import java.nio.file.{Files, Paths}

/** End-to-end pipeline tests: latest-file selection (Q9 anchored rule),
  * fail-fast on empty input (Q1/Q2), idempotent re-run (Q8). */
class PipelineSpec extends SparkSpec with TimeLimits {

  private def mkSource(): String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "pipe_src").toString
    def write(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(dir, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    write("20230601_measurement_data.csv",
      Seq("2023-06-01 00:00:00,2023-06-01 00:00:10,2,99.0"))
    write("20230703_measurement_data.csv",
      Seq("2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5",
          "2023-07-03 01:00:00,2023-07-03 01:00:10,1,22.0"))
    write("backup_20991231.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    write("9999_bad_date.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    dir
  }

  test("latest-file selection: anchored date prefix, invalid dates skipped") {
    val dir = mkSource()
    val files = Sources.listFiles(spark, dir)
    assert(files.size == 4)
    // backup_20991231.csv must NOT win: date must prefix the basename (Q9)
    val latest = Sources.latestByFilenameDate(files)
    assert(latest.exists(_.endsWith("20230703_measurement_data.csv")))
  }

  test("empty source fails fast (Q1/Q2 fixed: no silent fallback)") {
    val empty = Files.createTempDirectory(Paths.get("target"), "pipe_empty").toString
    intercept[IllegalStateException] {
      Pipeline.run(spark, empty, empty + "_out")
    }
  }

  test("pipeline expands the newest file only; idempotent re-run keeps counts") {
    val dir = mkSource()
    val out = dir + "_out"
    val n1 = Pipeline.run(spark, dir, out)
    assert(n1 == 4) // 3 + 1 samples from the 20230703 file
    val firstRead = spark.read.parquet(out).count()
    assert(firstRead == 4)
    // re-run: same ingest_date partition overwritten, NOT appended (Q8)
    Pipeline.run(spark, dir, out)
    assert(spark.read.parquet(out).count() == 4)
    // reference-faithful append mode duplicates instead
    val out2 = dir + "_append"
    Pipeline.run(spark, dir, out2, idempotent = false)
    Pipeline.run(spark, dir, out2, idempotent = false)
    assert(spark.read.parquet(out2).count() == 8)
  }

  test("incremental run processes each dated file once, new files only on re-run") {
    val dir = mkSource()
    val out = dir + "_inc_out"
    val ledger = dir + "_ledger"
    // first run: both valid dated files (bad-date + unanchored skipped)
    val (files1, rows1) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files1.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ==
      Seq("20230601_measurement_data.csv", "20230703_measurement_data.csv"))
    assert(rows1 == 6) // 2 samples (June) + 4 samples (July)
    assert(spark.read.parquet(out).count() == 6)
    // second run: ledger says everything is processed
    val (files2, rows2) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files2.isEmpty && rows2 == 0)
    assert(spark.read.parquet(out).count() == 6)
    // a newly landed file is picked up alone; existing partitions untouched
    Files.write(Paths.get(dir, "20230801_measurement_data.csv"),
      ("start_time,end_time,samples,temperature\n" +
       "2023-08-01 00:00:00,2023-08-01 00:00:20,2,25.0\n").getBytes)
    val (files3, rows3) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files3.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("20230801_measurement_data.csv"))
    assert(rows3 == 2)
    assert(spark.read.parquet(out).count() == 8)
  }

  test("incremental run unions same-date files into one partition write") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pipe_samedate").toString
    def write(name: String, row: String): Unit =
      Files.write(Paths.get(dir, name),
        s"start_time,end_time,samples,temperature\n$row\n".getBytes)
    // two files with the SAME date prefix -> same ingest_date partition
    write("20230901_station_a.csv", "2023-09-01 00:00:00,2023-09-01 00:00:10,2,20.0")
    write("20230901_station_b.csv", "2023-09-01 01:00:00,2023-09-01 01:00:30,3,21.0")
    val out = dir + "_out"
    val (files, rows) = Pipeline.runIncremental(spark, dir, out, dir + "_ledger")
    assert(files.size == 2 && rows == 5)
    // the overwrite-by-partition write must keep BOTH files' rows
    assert(spark.read.parquet(out).count() == 5)
  }

  test("incremental run keeps processed rows when a same-date file arrives LATER") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pipe_latedate").toString
    def write(name: String, row: String): Unit =
      Files.write(Paths.get(dir, name),
        s"start_time,end_time,samples,temperature\n$row\n".getBytes)
    val out = dir + "_out"
    val ledger = dir + "_ledger"
    write("20231001_station_a.csv", "2023-10-01 00:00:00,2023-10-01 00:00:10,2,20.0")
    val (_, rows1) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(rows1 == 2)
    // a SECOND file lands for the already-processed date: the partition
    // rebuild must union the ledger's same-date files, not erase them
    write("20231001_station_b.csv", "2023-10-01 01:00:00,2023-10-01 01:00:30,3,21.0")
    val (files2, rows2) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files2.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("20231001_station_b.csv"))
    assert(rows2 == 5) // rebuilt partition: 2 (station_a) + 3 (station_b)
    assert(spark.read.parquet(out).count() == 5)
    // third run: nothing pending, nothing lost
    val (files3, _) = Pipeline.runIncremental(spark, dir, out, ledger)
    assert(files3.isEmpty && spark.read.parquet(out).count() == 5)
    // a recorded file that vanished from the source fails LOUDLY on the
    // next same-date rebuild instead of silently dropping its rows
    write("20231001_station_c.csv", "2023-10-01 02:00:00,2023-10-01 02:00:10,1,22.0")
    Files.delete(Paths.get(dir, "20231001_station_a.csv"))
    intercept[IllegalStateException] {
      Pipeline.runIncremental(spark, dir, out, ledger)
    }
  }

  test("returned row count is the rows written: run and runIncremental, faithful and strict") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pipe_rowcount").toString
    def write(name: String, rows: String*): Unit =
      Files.write(Paths.get(dir, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    def partitionRows(out: String, date: String): Long = {
      val p = Paths.get(out, s"ingest_date=$date")
      if (Files.exists(p)) spark.read.parquet(p.toString).count() else 0L
    }
    write("20230601_measurement_data.csv", "2023-06-01 00:00:00,2023-06-01 00:00:10,2,20.0")
    write("20230702_measurement_data.csv",
      "2023-07-02 00:00:00,2023-07-02 00:00:30,3,21.5",
      "2023-07-02 01:00:00,2023-07-02 01:00:10,0,22.0", // Q3
      "2023-07-02 02:00:00,2023-07-02 02:00:10,,23.0") // Q4: samples NULL
    // faithful: 3 + 2 bogus Q3 rows + 0 (Q4); strict: 3
    for ((strict, newest) <- Seq(false -> 5L, true -> 3L)) {
      val out = s"${dir}_run_$strict"
      assert(Pipeline.run(spark, dir, out, strict = strict) == newest)
      assert(partitionRows(out, "2023-07-02") == newest)
      val appended = s"${dir}_append_$strict"
      assert(Pipeline.run(spark, dir, appended, strict = strict, idempotent = false) == newest)
      assert(spark.read.parquet(appended).count() == newest)
      val inc = s"${dir}_inc_$strict"
      val (files, rows) = Pipeline.runIncremental(spark, dir, inc, inc + "_ledger", strict = strict)
      assert(files.size == 2 && rows == 2 + newest)
      assert(partitionRows(inc, "2023-06-01") == 2 && partitionRows(inc, "2023-07-02") == newest)
    }
    // a header-only newest file writes and returns 0 rows, without hanging
    write("20230803_measurement_data.csv")
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(3, Minutes)) {
      for (strict <- Seq(false, true)) {
        val out = s"${dir}_run_$strict"
        assert(Pipeline.run(spark, dir, out, strict = strict) == 0)
        assert(partitionRows(out, "2023-08-03") == 0)
        val inc = s"${dir}_inc_$strict"
        val (files, rows) = Pipeline.runIncremental(spark, dir, inc, inc + "_ledger", strict = strict)
        assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
          Seq("20230803_measurement_data.csv") && rows == 0)
        assert(partitionRows(inc, "2023-08-03") == 0)
      }
    }
  }

  test("loader stages the newest dated CSV into the source dir (S6)") {
    import graft.io.Loader
    val staging = Files.createTempDirectory(Paths.get("target"), "stage").toString
    def write(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(staging, name),
        ("start_time,end_time,samples,temperature" +: rows).mkString("\n").getBytes)
    write("20230601_measurement_data.csv",
      Seq("2023-06-01 00:00:00,2023-06-01 00:00:10,2,99.0"))
    write("20230703_measurement_data.csv",
      Seq("2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5"))
    write("notadate.csv", Seq("2023-01-01 00:00:00,2023-01-01 00:00:10,1,0.0"))
    val source = staging + "_source"
    // empty staging -> None (no crash), nothing staged
    assert(Loader.stageLatest(spark, staging + "_missing", source).isEmpty)
    // stages ONLY the newest dated file; end-to-end run consumes it
    val staged = Loader.stageLatest(spark, staging, source)
    assert(staged.exists(_.endsWith("20230703_measurement_data.csv")))
    assert(Sources.listFiles(spark, source).size == 1)
    assert(Pipeline.run(spark, source, source + "_out") == 3)
    // re-staging is idempotent (overwrite, not duplicate)
    Loader.stageLatest(spark, staging, source)
    assert(Sources.listFiles(spark, source).size == 1)
  }

  test("retry wrapper retries then rethrows (sync retry-or-fail contract)") {
    val empty = Files.createTempDirectory(Paths.get("target"), "retry_empty").toString
    // empty source: every attempt fails -> last failure is rethrown
    intercept[IllegalStateException] {
      Pipeline.runWithRetry(spark, empty, empty + "_out", maxAttempts = 2, backoffMs = 1)
    }
    // healthy source: first attempt succeeds
    val dir = mkSource()
    assert(Pipeline.runWithRetry(spark, dir, dir + "_retry_out", backoffMs = 1) == 4)
  }

  test("compaction merges small files without changing the data") {
    import graft.io.Maintenance
    import spark.implicits._
    val dir = Files.createTempDirectory(Paths.get("target"), "compact").toString + "/t"
    // write deliberately fragmented: 16 partitions -> 16 small files
    (1L to 1000L).toDF("id").repartition(16).write.parquet(dir)
    val sumBefore = spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0)
    val before = Maintenance.layoutStats(spark, dir)
    val after = Maintenance.compact(spark, dir)
    assert(before.nFiles == 16 && after.nFiles == 1)
    val out = spark.read.parquet(dir)
    assert(out.count() == 1000)
    assert(out.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == sumBefore)
  }

  test("clustered write partitions by key and sorts within files") {
    import graft.io.Maintenance
    import spark.implicits._
    val dir = Files.createTempDirectory(Paths.get("target"), "clustered").toString + "/t"
    val df = (1L to 500L).map(i => (i % 3, (i * 37) % 101, i)).toDF("p", "c", "id")
    Maintenance.writeClustered(df, dir, "p", Seq("c"))
    // directory layout gives pruning
    assert(spark.read.parquet(dir).where($"p" === 1).count() == df.where($"p" === 1).count())
    // each physical file is sorted by the clustering key
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("p="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val cs = spark.read.parquet(f.getAbsolutePath).select("c").collect().map(_.getLong(0))
      assert(cs.sameElements(cs.sorted), s"file ${f.getName} not sorted by c")
    }
  }

  test("explicit schema matches the inferSchema path on clean data") {
    val dir = mkSource()
    val f = dir + "/20230703_measurement_data.csv"
    val explicit = Sources.readCsv(spark, f)
    val inferred = Sources.readCsv(spark, f, schema = None)
    assert(explicit.count() == inferred.count())
    assert(explicit.schema.fieldNames.toSeq == inferred.schema.fieldNames.toSeq)
  }
}
