package perfbench

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one fresh JVM: set up once, run a cold unit, run
  * untimed warm-up units while the JIT settles, run warm units for the
  * requested seconds, then write everything the output checks and the
  * metrics need to `--out` as JSON.
  *
  * `--trace 1` interleaves untraced and traced warm units. Traced units
  * replay the workload through each layer's public calls with Spark's
  * listeners attached; untraced units run with no listener, so the
  * difference of their medians is the tracing overhead. The traced units'
  * spans go to stderr as one `[spans]` line when the run ends.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1 --root DIR --out FILE
  *             --start-ms EPOCH_MS
  */
object Main {
  val Cores = 4
  val MinWarm = 3

  def session(root: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(root, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val root = new File(opts("root")).getAbsoluteFile
    val workload = Workload(opts("workload"), root, seed)

    // set-up: from the start of the benchmark process's set-up (before this
    // JVM started) to a session ready with its inputs generated and tables
    // registered
    val spark = session(root)
    workload.prepare(spark)
    val setupS = (System.currentTimeMillis() - opts("start-ms").toLong) / 1e3

    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runUnit(k: Int, phase: String): Unit = {
      val t0 = System.nanoTime()
      val (err, data) =
        try (None, workload.unit(spark, k))
        catch { case NonFatal(e) => e.printStackTrace(); (Some(e.toString), Map.empty[String, Any]) }
      val wall = (System.nanoTime() - t0) / 1e9
      units += Map("k" -> k, "phase" -> phase, "wall_s" -> wall, "error" -> err.orNull, "data" -> data)
    }

    val spans = new Spans
    val engine = new EngineListener
    val stream = new StreamListener
    val tracedLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedRuns = mutable.ArrayBuffer.empty[Double]
    val tracedErrors = mutable.ArrayBuffer.empty[String]

    def tracedUnit(k: Int): Unit = {
      val sc = spark.sparkContext
      sc.addSparkListener(engine)
      spark.streams.addListener(stream)
      try {
        BusDrain(sc)
        val e0 = engine.snapshot()
        val s0 = stream.snapshot()
        engine.resetPeak()
        val from = System.currentTimeMillis()
        val (tr, _) = spans.timed("unit")(workload.traced(spark, k, spans))
        val to = System.currentTimeMillis()
        BusDrain(sc)
        val e = engine.snapshot().map { case (key, v) => key -> (v - e0.getOrElse(key, 0.0)) }
        val s = stream.snapshot().map { case (key, v) => key -> (v - s0.getOrElse(key, 0.0)) }
        val wallS = (to - from) / 1e3
        val derived = Map(
          "spark.cached_bytes_peak" -> engine.peakCachedBytes.toDouble,
          "spark.driver_gap_s" -> (to - from - engine.jobBusyMs(from, to)) / 1e3,
          "spark.slot_busy_frac" -> e.getOrElse("spark.task_busy_s", 0.0) / (wallS * Cores),
          "streaming.outside_trigger_s" -> (tr.layers.getOrElse("streaming.construct_s", 0.0) -
            s.getOrElse("streaming.triggerExecution_s", 0.0)))
        tracedLayers += tr.layers ++ e ++ s ++ derived ++ tr.after()
        tracedRuns += tr.runS
      } catch {
        case NonFatal(e) => e.printStackTrace(); tracedErrors += e.toString
      } finally {
        sc.removeSparkListener(engine)
        spark.streams.removeListener(stream)
      }
    }

    runUnit(0, "cold")
    // the JIT keeps compiling for several seconds after the cold unit; warm
    // units start once it has settled, so run_s is a steady-state figure
    var k = 1
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < workload.warmupS) { runUnit(k, "warmup"); k += 1 }
    // the output checks' data, gathered here so that any work it does
    // (the catalog re-runs its queries) adds to the warm-up, not the run
    val checks = workload.checkData(spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def warmCount = units.count(_("phase") == "warm")
    while (elapsed < seconds || warmCount < MinWarm || (trace && tracedRuns.size < MinWarm)) {
      runUnit(k, "warm")
      k += 1
      if (trace) { tracedUnit(k); k += 1 }
    }

    val rss = peakRssMb()
    spark.stop()

    val warmWalls = units.filter(u => u("phase") == "warm" && u("error") == null)
      .map(_("wall_s").asInstanceOf[Double])
    val layers: Map[String, Double] =
      if (!trace || tracedLayers.isEmpty) Map.empty
      else {
        val keys = tracedLayers.flatMap(_.keys).distinct
        keys.map(key => key -> median(tracedLayers.map(_.getOrElse(key, 0.0)).toSeq)).toMap ++ Map(
          "trace.run_s" -> median(tracedRuns.toSeq),
          "trace.overhead_s" -> (median(tracedRuns.toSeq) - median(warmWalls.toSeq)),
          "trace.units" -> tracedRuns.size.toDouble)
      }
    val result = Map(
      "workload" -> opts("workload"),
      "setup_s" -> setupS,
      "units" -> units.toSeq,
      "traced_errors" -> tracedErrors.toSeq,
      "peak_rss_mb" -> rss,
      "layers" -> layers,
      "checks" -> checks)
    Files.write(new File(opts("out")).toPath, Json(result).getBytes(StandardCharsets.UTF_8))
    if (trace) System.err.println(s"[spans] ${Json(spans.records(t0))}")
    System.exit(0)
  }
}

/** Minimal JSON writer for the result file and the spans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
