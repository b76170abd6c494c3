package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generators for the pipeline workloads' landing dirs. The same
  * seed always gives byte-identical files; everything is written under the
  * run's own temp root. (The catalog's tables come from
  * `perfbench/catalog_tables.py`.) */
object Inputs {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val day = DateTimeFormatter.BASIC_ISO_DATE

  /** Interval-encoded sensor readings in the reference's CSV layout
    * (`start_time,end_time,samples,temperature`). `start_time` order is
    * random, about 1% of rows carry `samples=0` (quirk Q3) and about 1%
    * an empty `samples` field, which parses to NULL (quirk Q4). */
  def writeReadings(f: File, rng: SplittableRandom, n: Int,
                    from: LocalDate, spanDays: Int): Unit = {
    val base = from.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try {
      w.write("start_time,end_time,samples,temperature\n")
      var i = 0
      while (i < n) {
        val start = base + rng.nextLong(spanDays * 86400L)
        val end = start + 10 + rng.nextInt(290)
        val q = rng.nextInt(100)
        val samples = if (q == 0) "0" else if (q == 1) "" else (1 + rng.nextInt(8)).toString
        val temp = (rng.nextInt(6000) - 1000) / 100.0
        w.write(LocalDateTime.ofEpochSecond(start, 0, ZoneOffset.UTC).format(tsFmt))
        w.write(',')
        w.write(LocalDateTime.ofEpochSecond(end, 0, ZoneOffset.UTC).format(tsFmt))
        w.write(',')
        w.write(samples)
        w.write(',')
        w.write(String.format(java.util.Locale.ROOT, "%.2f", Double.box(temp)))
        w.write('\n')
        i += 1
      }
    } finally w.close()
  }

  /** The monthly run's landing dir: twelve monthly `yyyyMM01_readings.csv`
    * files, the newest one large and the rest small, plus an undated decoy
    * and a decoy whose date prefix is invalid (month 13) but sorts newest.
    * Returns the newest file's name. */
  def latestLanding(dir: File, seed: Long, bigRows: Int, smallRows: Int): String = {
    val rng = new SplittableRandom(seed)
    dir.mkdirs()
    val year = 2019 + rng.nextInt(5)
    val months = (1 to 12).map(m => LocalDate.of(year, m, 1))
    months.foreach { m =>
      val n = if (m == months.last) bigRows else smallRows
      writeReadings(new File(dir, s"${m.format(day)}_readings.csv"), rng.split(), n, m, 28)
    }
    writeReadings(new File(dir, "readings_undated.csv"), rng.split(), smallRows, months.last, 28)
    writeReadings(new File(dir, s"${year}1301_readings.csv"), rng.split(), smallRows, months.last, 28)
    s"${months.last.format(day)}_readings.csv"
  }

  /** The backfill's inputs: `days` daily files in `landing`, and in
    * `late` the files that arrive after the first incremental run — one
    * more file for each of two already-processed dates and one file for a
    * new date. */
  def backfillLanding(landing: File, late: File, seed: Long, days: Int,
                      rows: Int): Unit = {
    val rng = new SplittableRandom(seed)
    landing.mkdirs(); late.mkdirs()
    val first = LocalDate.of(2020 + rng.nextInt(4), 1 + rng.nextInt(12), 1)
    (0 until days).foreach { d =>
      val date = first.plusDays(d)
      writeReadings(new File(landing, s"${date.format(day)}_readings.csv"), rng.split(), rows, date, 1)
    }
    val lateDays = rng.ints(0, days).distinct().limit(2).toArray.sorted
    lateDays.foreach { d =>
      val date = first.plusDays(d)
      writeReadings(new File(late, s"${date.format(day)}_readings_late.csv"), rng.split(), rows, date, 1)
    }
    val next = first.plusDays(days)
    writeReadings(new File(late, s"${next.format(day)}_readings.csv"), rng.split(), rows, next, 1)
  }
}
