package perfbench

import graft.SparkEntry
import graft.io.{Ledger, Pipeline, Sinks, Sources}
import graft.ops.IntervalExpand
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** What one traced unit reports: the wall time of the calls that make up
  * an untraced unit (`runS`), the per-layer figures measured around the
  * layer calls, and `after`, work that must run once the engine counters
  * for the unit have been read (the catalog's `count()` pass). */
final case class Traced(runS: Double, layers: Map[String, Double],
                        after: () => Map[String, Double] = () => Map.empty)

/** One workload: its inputs, its unit of work, a traced replay of that unit
  * through each layer's public entry point, and the data its output checks
  * need. Every file it touches lives under `root`. */
abstract class Workload(val root: File, val seed: Long) {
  /** Seconds of untimed units between the cold unit and the warm ones. */
  def warmupS: Double = 0
  /** Generate the inputs and register tables. */
  def prepare(spark: SparkSession): Unit
  /** One untraced unit; returns what the output check needs about it. */
  def unit(spark: SparkSession, k: Int): Map[String, Any]
  def traced(spark: SparkSession, k: Int, spans: Spans): Traced
  /** Untimed, once per run, after the warm-up: what the output checks
    * read once the run has ended. */
  def checkData(spark: SparkSession): Map[String, Any]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(bytes).sum

  def apply(name: String, root: File, seed: Long): Workload = name match {
    case "pipeline" => new PipelineWorkload(root, seed)
    case "catalog" => new Catalog(root, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** The pipeline's first half, the reference's monthly job: `Pipeline.run`
  * (faithful expansion, idempotent `ingest_date` overwrite) over a landing
  * dir whose newest dated file is large. Every run overwrites the same
  * partition. */
final class MonthlyRun(root: File, seed: Long) {
  val BigRows = 50000
  val SmallRows = 2000
  private val landing = new File(root, "landing")
  private val target = new File(root, "target")
  private val traceTarget = new File(root, "trace_target")
  private var latest = ""

  def prepare(): Unit = latest = Inputs.latestLanding(landing, seed, BigRows, SmallRows)

  def unit(spark: SparkSession, k: Int): Map[String, Any] =
    Map("rows" -> Pipeline.run(spark, landing.getPath, target.getPath))

  def traced(spark: SparkSession, k: Int, spans: Spans): Traced = {
    val (path, discover) = spans.timed("io.Sources.discover") {
      Sources.latestByFilenameDate(Sources.listFiles(spark, landing.getPath)).get
    }
    val date = Sources.filenameDate(new Path(path).getName).get.toString
    def readings = Sources.readCsv(spark, path)
    val (_, parse) = spans.timed("io.Sources.parse")(noop(readings))
    val (_, expand) = spans.timed("ops.IntervalExpand.expand")(noop(IntervalExpand.faithful(readings)))
    val (_, write) = spans.timed("io.Sinks.write") {
      Sinks.writeIdempotent(IntervalExpand.faithful(readings), traceTarget.getPath, date)
    }
    val (rows, run) = spans.timed("io.Pipeline.run")(Pipeline.run(spark, landing.getPath, target.getPath))
    Traced(run, Map(
      "io.Sources.discover_s" -> discover,
      "io.Sources.parse_s" -> parse,
      "ops.IntervalExpand.expand_s" -> (expand - parse),
      "ops.IntervalExpand.rows_out" -> rows.toDouble,
      "io.Sinks.write_s" -> (write - expand),
      "io.Sinks.commits" -> 1.0,
      "io.Sinks.output_bytes" -> bytes(new File(target, s"ingest_date=$date")).toDouble,
      "io.Sources.input_bytes" -> new File(landing, latest).length.toDouble,
      "io.Pipeline.overhead_s" -> (run - discover - write),
      "io.Pipeline.per_date_s" -> run))
  }

  def checkData: Map[String, Any] = Map(
    "landing" -> landing.getPath, "latest" -> latest, "target" -> target.getPath)
}

/** The pipeline's second half, the Glue-bookmark analogue:
  * `Pipeline.runIncremental` into an empty target and ledger over a few
  * small daily files, then again after two late files for processed dates
  * and one file for a new date land. */
final class Backfill(root: File, seed: Long) {
  val Days = 3
  val Rows = 3000
  private val landing = new File(root, "landing")
  private val late = new File(root, "late")

  def prepare(): Unit = Inputs.backfillLanding(landing, late, seed, Days, Rows)

  private def lateFiles = Option(late.listFiles).toSeq.flatten.map(_.getName).sorted
  private var staged = Seq.empty[String]

  private def lateIn(): Unit = {
    staged = lateFiles
    staged.foreach(n => new File(late, n).renameTo(new File(landing, n)))
  }

  private def lateOut(): Unit = {
    staged.foreach(n => new File(landing, n).renameTo(new File(late, n)))
    staged = Nil
  }

  private def dirs(tag: String, k: Int): (String, String) = {
    val d = new File(root, s"$tag/$k")
    (new File(d, "target").getPath, new File(d, "ledger").getPath)
  }

  def unit(spark: SparkSession, k: Int): Map[String, Any] = {
    val (target, ledger) = dirs("units", k)
    val (files1, rows1) = Pipeline.runIncremental(spark, landing.getPath, target, ledger)
    lateIn()
    val (files2, rows2) =
      try Pipeline.runIncremental(spark, landing.getPath, target, ledger)
      finally lateOut()
    Map("target" -> target, "ledger" -> ledger, "files1" -> files1, "rows1" -> rows1,
      "files2" -> files2, "rows2" -> rows2)
  }

  def traced(spark: SparkSession, k: Int, spans: Spans): Traced = {
    val t = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timed[T](name: String)(body: => T): T = {
      val (r, s) = spans.timed(name)(body)
      t(name) += s
      r
    }
    val (replayTarget, replayLedger) = dirs("trace_replay", k)
    // runIncremental's steps, each through its layer's public entry point
    def replay(): Unit = {
      val done = timed("io.Ledger.processed")(Ledger.processed(spark, replayLedger))
      val byDate = timed("io.Sources.discover") {
        Sources.listFiles(spark, landing.getPath).map(Ledger.normalize(spark, _))
          .flatMap(f => Sources.filenameDate(new Path(f).getName).map(_ -> f))
          .filterNot { case (_, f) => done.contains(f) }
          .groupBy(_._1).toSeq.sortBy(_._1)
      }
      byDate.foreach { case (date, pending) =>
        val fresh = pending.map(_._2)
        val files = done.toSeq.sorted.filter(p =>
          Sources.filenameDate(new Path(p).getName).contains(date)) ++ fresh
        def readings = files.map(Sources.readCsv(spark, _)).reduce(_ unionByName _)
        timed("io.Sources.parse")(noop(readings))
        timed("ops.IntervalExpand.expand")(noop(IntervalExpand.faithful(readings)))
        timed("io.Sinks.write")(
          Sinks.writeIdempotent(IntervalExpand.faithful(readings), replayTarget, date.toString))
        timed("io.Ledger.record")(Ledger.record(spark, replayLedger, fresh))
        t("commits") += 1
      }
    }
    replay()
    lateIn()
    try replay() finally lateOut()

    val (target, ledger) = dirs("trace_units", k)
    val (r1, run1) = spans.timed("io.Pipeline.runIncremental")(
      Pipeline.runIncremental(spark, landing.getPath, target, ledger))
    lateIn()
    val (r2, run2) =
      try spans.timed("io.Pipeline.runIncremental")(
        Pipeline.runIncremental(spark, landing.getPath, target, ledger))
      finally lateOut()
    val run = run1 + run2
    Traced(run, Map(
      "io.Sources.discover_s" -> t("io.Sources.discover"),
      "io.Sources.parse_s" -> t("io.Sources.parse"),
      "ops.IntervalExpand.expand_s" -> (t("ops.IntervalExpand.expand") - t("io.Sources.parse")),
      "ops.IntervalExpand.rows_out" -> (r1._2 + r2._2).toDouble,
      "io.Sinks.write_s" -> (t("io.Sinks.write") - t("ops.IntervalExpand.expand")),
      "io.Sinks.commits" -> t("commits"),
      "io.Sinks.output_bytes" -> bytes(new File(target)).toDouble,
      "io.Sources.input_bytes" -> (bytes(landing) + bytes(late)).toDouble,
      "io.Ledger.processed_s" -> t("io.Ledger.processed"),
      "io.Ledger.record_s" -> t("io.Ledger.record"),
      // the local filesystem keeps a hidden .crc file next to each marker
      "io.Ledger.markers" ->
        Option(new File(ledger).listFiles).fold(0)(_.count(!_.getName.startsWith("."))).toDouble,
      "io.Pipeline.overhead_s" -> (run - t("io.Ledger.processed") - t("io.Sources.discover") -
        t("io.Sinks.write") - t("io.Ledger.record")),
      "io.Pipeline.per_date_s" -> run / t("commits")))
  }

  def checkData: Map[String, Any] = Map(
    "landing" -> landing.getPath, "late" -> late.getPath, "days" -> Days)
}

/** The pipeline's write side, both regimes in one unit: the monthly run
  * (one large densify and write) and then the incremental backfill (many
  * small per-date commits and the ledger). */
final class PipelineWorkload(root: File, seed: Long) extends Workload(root, seed) {
  override def warmupS: Double = 8
  private val latest = new MonthlyRun(new File(root, "latest"), seed)
  private val backfill = new Backfill(new File(root, "backfill"), seed + 1)

  def prepare(spark: SparkSession): Unit = { latest.prepare(); backfill.prepare() }

  def unit(spark: SparkSession, k: Int): Map[String, Any] =
    Map("latest" -> latest.unit(spark, k), "backfill" -> backfill.unit(spark, k))

  def traced(spark: SparkSession, k: Int, spans: Spans): Traced = {
    val a = latest.traced(spark, k, spans)
    val b = backfill.traced(spark, k, spans)
    val sum = (a.layers.keySet ++ b.layers.keySet).map(key =>
      key -> (a.layers.getOrElse(key, 0.0) + b.layers.getOrElse(key, 0.0))).toMap
    Traced(a.runS + b.runS, sum - "io.Sinks.output_bytes" - "io.Sources.input_bytes" ++ Map(
      "io.Sinks.bytes_per_input_byte" -> sum("io.Sinks.output_bytes") / sum("io.Sources.input_bytes"),
      "io.Pipeline.per_date_s" -> (a.runS + b.runS) / sum("io.Sinks.commits")))
  }

  def checkData(spark: SparkSession): Map[String, Any] =
    Map("latest" -> latest.checkData, "backfill" -> backfill.checkData)
}

/** The read side: one unit is a pass over a fixed list of catalog queries
  * (batch queries from every query module plus a streaming query), each
  * materialised with the `noop` sink. The order is fixed: the seed varies
  * the tables, not the order, because a seeded order moved `cold_s` by 20%
  * between seeds (whichever query runs first pays the JVM's warm-up). */
final class Catalog(root: File, seed: Long) extends Workload(root, seed) {
  override def warmupS: Double = 3
  import graft.queries._

  val Batch = Seq("q_interval_expand", "q_agg_pricing", "q_window_running", "q_from_json",
    "q_dedup_exact", "q_text_stats", "q_multimodal_meta")
  // four chronological files read with maxFilesPerTrigger=1: four real
  // micro-batches, each paying the state store, WAL and checkpoint commit
  val Stream = Seq("q_stream_dedup")
  val names: Seq[String] = Batch ++ Stream

  private val data = new File(root, "data")
  private lazy val fns = SparkEntry.queries
  private val modules: Seq[(String, Map[String, Q])] = Seq(
    "Flagship" -> Flagship.defs, "Relational" -> Relational.defs, "Windows" -> Windows.defs,
    "Events" -> Events.defs, "LlmOps" -> LlmOps.defs, "TextQueries" -> TextQueries.defs,
    "Multimodal" -> Multimodal.defs, "StreamingQueries" -> StreamingQueries.defs)
  private def moduleOf(q: String): String = modules.find(_._2.contains(q)).get._1
  val moduleNames: Seq[String] = modules.map(_._1)

  /** The tables were generated before the JVM started; register them. */
  def prepare(spark: SparkSession): Unit = registerAll(spark, data.getPath)

  def unit(spark: SparkSession, k: Int): Map[String, Any] = {
    names.foreach { q =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      noop(fns(q)(spark, data.getPath))
      if (k == 0) System.err.println(f"[perfbench] cold $q ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    Map.empty
  }

  def traced(spark: SparkSession, k: Int, spans: Spans): Traced = {
    val t = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var run = 0.0
    names.foreach { q =>
      val m = moduleOf(q)
      spark.catalog.clearCache()
      val (df, construct) = spans.timed(s"queries.$m.construct")(fns(q)(spark, data.getPath))
      val (_, execute) = spans.timed(s"queries.$m.execute")(noop(df))
      t(s"queries.$m.construct_s") += construct
      t(s"queries.$m.execute_s") += execute
      if (m == "StreamingQueries") t("streaming.construct_s") += construct
      run += construct + execute
    }
    // count() on the same queries, after the engine counters are read:
    // the gap between what a consumer pays (noop) and what count() pays
    val countPass = () => {
      val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      names.foreach { q =>
        val m = moduleOf(q)
        spark.catalog.clearCache()
        val df = fns(q)(spark, data.getPath)
        c(m) += spans.timed(s"queries.$m.count")(df.count())._2
      }
      moduleNames.map(m => s"queries.$m.count_gap_s" -> (t(s"queries.$m.execute_s") - c(m))).toMap
    }
    Traced(run, t.toMap, countPass)
  }

  /** Runs every query once more and writes its result for the oracle
    * compare. It runs after the warm-up pass and adds to the warm-up. */
  def checkData(spark: SparkSession): Map[String, Any] = {
    val results = new File(root, "results")
    names.foreach { q =>
      spark.catalog.clearCache()
      fns(q)(spark, data.getPath).coalesce(1).write.mode("overwrite")
        .parquet(new File(results, q).getPath)
    }
    // read after the queries ran: some oracles are generated at run time
    val oracles = SparkEntry.oracleSql
    Map("data" -> data.getPath, "results" -> results.getPath, "queries" -> names,
      "oracles" -> names.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }
}
