package perfbench

import Corpus.{Day, Radar}
import graft.lake.{CsvSink, Inventory, LakeController}
import graft.vpts.Vpts
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.Instant
import org.apache.spark.sql.SparkSession

/** One timed call of a workload: its wall time, and the units (days, months,
  * files written) it attempted and failed. A unit fails when the call throws,
  * returns short of the expected count, or leaves an output the check
  * rejects.
  */
final case class Outcome(seconds: Double, attempted: Int, failed: Int)

/** A benchmark workload over generated ODIM inputs. */
trait Workload {
  def name: String
  /** ODIM files the timed call converts (for files/s). */
  def files: Int
  /** Write the workload's inputs under `dir`. */
  def setup(dir: Path): Unit
  /** Folder holding the workload's h5 files (the layer ladders scan it). */
  def h5Root(dir: Path): Path
  /** Remove the outputs of an earlier call (not timed). */
  def clear(dir: Path): Unit
  /** The timed call. Traced runs replay its public steps under spans. */
  def call(spark: SparkSession, dir: Path, tracer: Tracer): Outcome
  /** Check every output of the last call (not timed); returns failed units. */
  def check(dir: Path): Int
  /** Output files, for the digest. */
  def outputs(dir: Path): Seq[Path]
  /** Inventory rows the call reads (0 when it reads none). */
  def inventoryRows: Long = 0L
}

object Workloads {
  /** Workload name -> constructor for a seed. */
  def apply(name: String, seed: Long): Workload = name match {
    case "lake_backfill" => new Backfill(seed)
    case "vpts_convert" => new Convert(seed)
    case "lake_incremental" => new Incremental(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  def gunzip(p: Path): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(p))
    try in.readAllBytes() finally in.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** SHA-256 over (relative path, bytes) of each file, in path order. */
  def digest(root: Path, files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.toString).foreach { f =>
      md.update(root.relativize(f).toString.getBytes(UTF_8))
      md.update(if (Files.exists(f)) Files.readAllBytes(f) else Array.emptyByteArray)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Shared lake layout and checks: `dir/bucket` is the lake root, with h5
  * under `baltrad/hdf5`, dailies under `baltrad/daily`, monthly gzips under
  * `baltrad/monthly`; the inventory chunks sit in `dir/inventory`.
  */
abstract class LakeBase(seed: Long) extends Workload {
  protected def bucket(dir: Path): Path = dir.resolve("bucket")
  protected def inventory(dir: Path): Path = dir.resolve("inventory")
  protected def coverage(dir: Path): Path = dir.resolve("coverage.csv")
  def h5Root(dir: Path): Path = bucket(dir).resolve(Corpus.Source).resolve("hdf5")

  /** Radar-days the call rebuilds, and the months they fall in. */
  protected def rebuiltDays: Seq[(Radar, Day)]
  protected def rebuiltMonths: Seq[(Radar, Int, Int)] =
    rebuiltDays.map { case (r, d) => (r, d.year, d.month) }.distinct
  /** Days whose dailies make up a month's gzip. */
  protected def monthDays(r: Radar, year: Int, month: Int): Seq[Day]
  protected def modifiedDaysAgo: Int
  protected def now: Instant
  /** Expected coverage.csv text. */
  protected def expectedCoverage: String

  def files: Int = rebuiltDays.size * Corpus.FilesPerDay

  private lazy val dailySha: Map[(String, Day), String] =
    rebuiltDays.map { case (r, d) =>
      (r.code, d) -> Workloads.sha256(Corpus.expectedDaily(seed, r, d).getBytes(UTF_8))
    }.toMap

  def clear(dir: Path): Unit = {
    rebuiltDays.foreach { case (r, d) => Files.deleteIfExists(bucket(dir).resolve(Corpus.dailyKey(r, d))) }
    Workloads.deleteTree(bucket(dir).resolve(Corpus.Source).resolve("monthly"))
    Files.deleteIfExists(coverage(dir))
  }

  def call(spark: SparkSession, dir: Path, tracer: Tracer): Outcome = {
    val b = bucket(dir).toString
    val inv = inventory(dir).toString
    val cov = coverage(dir).toString
    val t0 = System.nanoTime()
    val (days, months) =
      if (!tracer.enabled)
        LakeController.run(spark, b, inv, modifiedDaysAgo, now, Some(cov))
      else tracedRun(spark, b, inv, cov, tracer)
    val dt = (System.nanoTime() - t0) / 1e9
    val expected = rebuiltDays.size + rebuiltMonths.size
    Outcome(dt, expected, expected - days - months)
  }

  /** `LakeController.run`, step by step through the same public calls, with
    * a span around each.
    */
  private def tracedRun(spark: SparkSession, b: String, invPath: String, cov: String,
      tracer: Tracer): (Int, Int) = {
    val inv = tracer.span("lake.inventory")(Inventory.read(spark, invPath))
    tracer.span("lake.coverage")(CsvSink.writeSingleCsv(Inventory.coverage(inv), cov))
    val days = tracer.span("lake.inventory")(
      LakeController.dayKeys(Inventory.daysToRebuild(inv, modifiedDaysAgo, now)))
    val okDays = days.count { d =>
      tracer.span("lake.rebuild_day") {
        try { LakeController.rebuildDay(spark, b, d); true }
        catch { case e: Exception => System.err.println(s"[perfbench] day failed: $e"); false }
      }
    }
    val okMonths = LakeController.monthKeys(days).count { m =>
      tracer.span("lake.rebuild_month") {
        try { LakeController.rebuildMonth(spark, b, m); true }
        catch { case e: Exception => System.err.println(s"[perfbench] month failed: $e"); false }
      }
    }
    (okDays, okMonths)
  }

  def check(dir: Path): Int = {
    val badDays = rebuiltDays.count { case (r, d) =>
      val p = bucket(dir).resolve(Corpus.dailyKey(r, d))
      !Files.exists(p) || Workloads.sha256(Files.readAllBytes(p)) != dailySha((r.code, d))
    }
    val badMonths = rebuiltMonths.count { case (r, y, m) =>
      val p = bucket(dir).resolve(Corpus.monthlyKey(r, y, m))
      !Files.exists(p) || {
        // the gzip must equal the header-once concatenation of its dailies
        val expected = new java.io.ByteArrayOutputStream()
        expected.write((Corpus.Header + "\n").getBytes(UTF_8))
        monthDays(r, y, m).foreach { d =>
          val daily = bucket(dir).resolve(Corpus.dailyKey(r, d))
          if (Files.exists(daily)) {
            val bytes = Files.readAllBytes(daily)
            val body = bytes.indexOf('\n'.toByte) + 1
            expected.write(bytes, body, bytes.length - body)
          }
        }
        !java.util.Arrays.equals(Workloads.gunzip(p), expected.toByteArray)
      }
    }
    val badCoverage =
      if (Files.exists(coverage(dir)) &&
          new String(Files.readAllBytes(coverage(dir)), UTF_8) == expectedCoverage) 0
      else 1
    math.min(badDays + badMonths + badCoverage, rebuiltDays.size + rebuiltMonths.size)
  }

  def outputs(dir: Path): Seq[Path] =
    rebuiltDays.map { case (r, d) => bucket(dir).resolve(Corpus.dailyKey(r, d)) } ++
      rebuiltMonths.map { case (r, y, m) => bucket(dir).resolve(Corpus.monthlyKey(r, y, m)) } :+
      coverage(dir)
}

/** lake_backfill: `LakeController.run` with `modifiedDaysAgo = 0` (rebuild
  * everything) and coverage on, over 2 radars x `Days` days from 28 February
  * 2023 (so each radar has a February and a March gzip) and their h5-only
  * inventory. It exists because the controller runs one Spark job per
  * radar-day, so per-job overhead, not conversion, sets its files/s.
  */
final class Backfill(seed: Long) extends LakeBase(seed) {
  val name = "lake_backfill"
  private val Days = 2
  protected val rebuiltDays: Seq[(Radar, Day)] =
    for (r <- Corpus.radars.take(2); i <- 0 until Days) yield (r, Day(2023, 2, 28).plusDays(i))
  protected def monthDays(r: Radar, year: Int, month: Int): Seq[Day] =
    rebuiltDays.collect { case (rr, d) if rr == r && d.year == year && d.month == month => d }
  protected val modifiedDaysAgo = 0
  protected val now: Instant = Instant.parse("2023-03-01T00:30:00Z")
  override def inventoryRows: Long = files.toLong

  protected lazy val expectedCoverage: String =
    rebuiltDays.map { case (r, d) =>
      s"${Corpus.Source}/hdf5/${r.code}/${d.yyyy}/${d.mm}/${d.dd},${Corpus.FilesPerDay}"
    }.sorted.mkString("directory,file_count\n", "\n", "\n")

  def setup(dir: Path): Unit = {
    val written = Corpus.writeH5(seed, bucket(dir), rebuiltDays)
    val lines = rebuiltDays.flatMap { case (r, d) => Corpus.dayFiles(r, d) }
      .zip(written).map { case (f, p) =>
        Corpus.inventoryLine(f.key, Files.size(p), Corpus.modified(f))
      }
    Corpus.writeInventoryChunk(inventory(dir).resolve("inventory-00.csv.gz"))(lines.foreach)
  }
}

/** lake_incremental: the nightly cron, `LakeController.run` with
  * `modifiedDaysAgo = 2` at a fixed `now`, coverage on. The inventory lists
  * `InvRadars` radars x 365 days x up to 96 profiles plus the daily and
  * monthly keys a real bucket holds, in 8 gzip chunks; only the corpus
  * radar has h5 files, and the window selects its last 2 days of February
  * 2023. Its month is re-concatenated from 28 dailies, 26 of them pre-built
  * by setup. It exists because inventory analytics and month-concat reads
  * dominate it while decode is small: it uses the lake layer read-heavily
  * where backfill is write-heavy.
  */
final class Incremental(seed: Long) extends LakeBase(seed) {
  val name = "lake_incremental"
  private val InvRadars = 4
  private val Chunks = 8
  private val feb = (1 to 28).map(Day(2023, 2, _))
  private val window = Seq(Day(2023, 2, 27), Day(2023, 2, 28))
  private val CorpusRadars = 1
  private val corpusRadars = Corpus.radars.take(CorpusRadars)
  protected val rebuiltDays: Seq[(Radar, Day)] =
    for (r <- corpusRadars; d <- window) yield (r, d)
  protected def monthDays(r: Radar, year: Int, month: Int): Seq[Day] = feb
  protected val modifiedDaysAgo = 2
  protected val now: Instant = Instant.parse("2023-03-01T00:30:00Z")

  /** Days listed for a radar: the corpus radar's last 365 days end with
    * February 2023, the others' lie in 2022 (all outside the window).
    */
  private def listedDays(ri: Int): Seq[Day] = {
    val first = if (ri < CorpusRadars) Day(2022, 3, 1) else Day(2022, 1, 1)
    (0 until 365).map(first.plusDays(_))
  }
  /** Profiles listed for a radar-day: the corpus radar has all 96, the
    * others miss a seeded 0-3 (outages).
    */
  private def listedSlots(ri: Int, d: Day): Seq[Int] =
    if (ri < CorpusRadars) 0 until Corpus.FilesPerDay
    else {
      val rnd = new java.util.SplittableRandom(seed * 31 + ri * 1000003L + d.compact.toLong)
      val drop = (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(Corpus.FilesPerDay)).toSet
      (0 until Corpus.FilesPerDay).filterNot(drop)
    }

  override lazy val inventoryRows: Long =
    (0 until InvRadars).map { ri =>
      listedDays(ri).map(d => listedSlots(ri, d).size + 1).sum +
        listedDays(ri).map(d => (d.year, d.month)).distinct.size
    }.sum.toLong + 1

  protected lazy val expectedCoverage: String =
    (0 until InvRadars).flatMap { ri =>
      val r = Corpus.radars(ri)
      listedDays(ri).map(d =>
        s"${Corpus.Source}/hdf5/${r.code}/${d.yyyy}/${d.mm}/${d.dd},${listedSlots(ri, d).size}")
    }.sorted.mkString("directory,file_count\n", "\n", "\n")

  def setup(dir: Path): Unit = {
    val written = Corpus.writeH5(seed, bucket(dir), rebuiltDays)
    val sizes = rebuiltDays.flatMap { case (r, d) => Corpus.dayFiles(r, d) }
      .zip(written).map { case (f, p) => f.key -> Files.size(p) }.toMap
    // pre-built dailies of the rest of the month, as earlier nights left them
    val prebuilt = for (r <- corpusRadars; d <- feb if !window.contains(d)) yield (r, d)
    Par.foreachIndex(prebuilt.size) { i =>
      val (r, d) = prebuilt(i)
      val p = bucket(dir).resolve(Corpus.dailyKey(r, d))
      Files.createDirectories(p.getParent)
      Files.write(p, Corpus.expectedDaily(seed, r, d).getBytes(UTF_8))
    }
    // inventory: chunk c holds radars c, c + Chunks, ...
    Par.foreachIndex(Chunks) { c =>
      Corpus.writeInventoryChunk(inventory(dir).resolve(f"inventory-$c%02d.csv.gz")) { line =>
        if (c == 0) line(Corpus.inventoryLine("coverage.csv", 420000L, now.minusSeconds(86400)))
        (c until InvRadars by Chunks).foreach { ri =>
          val r = Corpus.radars(ri)
          listedDays(ri).foreach { d =>
            listedSlots(ri, d).foreach { s =>
              val f = Corpus.VpFile(r, d, s)
              line(Corpus.inventoryLine(f.key, sizes.getOrElse(f.key, 9800L + (s % 7) * 13),
                Corpus.modified(f)))
            }
            line(Corpus.inventoryLine(Corpus.dailyKey(r, d), 590000L,
              Corpus.modified(Corpus.VpFile(r, d.plusDays(1), 0))))
          }
          listedDays(ri).map(d => (d.year, d.month)).distinct.foreach { case (y, m) =>
            line(Corpus.inventoryLine(Corpus.monthlyKey(r, y, m), 4200000L,
              Corpus.modified(Corpus.VpFile(r, Day(y, m, 1).plusDays(40), 0))))
          }
        }
      }
    }
  }
}

/** vpts_convert: `CsvSink.writeSingleCsv(Vpts.vpts(all files))`, the
  * library's `vpts()` + `vpts_to_csv` path, over 2 radars x `Days` days. One
  * job with no per-day orchestration, so decode, render, sort and sink
  * throughput show here, and a controller change must leave it unchanged.
  */
final class Convert(seed: Long) extends Workload {
  val name = "vpts_convert"
  private val Days = 7
  private val radarDays: Seq[(Radar, Day)] =
    for (r <- Corpus.radars.take(2); i <- 0 until Days) yield (r, Day(2023, 2, 1).plusDays(i))
  def files: Int = radarDays.size * Corpus.FilesPerDay
  def h5Root(dir: Path): Path = dir.resolve("bucket").resolve(Corpus.Source).resolve("hdf5")
  private def out(dir: Path): Path = dir.resolve("vpts.csv")

  def setup(dir: Path): Unit = Corpus.writeH5(seed, dir.resolve("bucket"), radarDays)
  def clear(dir: Path): Unit = Files.deleteIfExists(out(dir))

  def call(spark: SparkSession, dir: Path, tracer: Tracer): Outcome = {
    val t0 = System.nanoTime()
    val ok =
      try {
        CsvSink.writeSingleCsv(Vpts.vpts(spark, Seq(h5Root(dir).toString)), out(dir).toString)
        true
      } catch { case e: Exception => System.err.println(s"[perfbench] convert failed: $e"); false }
    Outcome((System.nanoTime() - t0) / 1e9, 1, if (ok) 0 else 1)
  }

  /** Canonical order: radar, datetime, height, source_file. */
  private lazy val expectedSha: String = {
    val sb = new StringBuilder(Corpus.Header).append('\n')
    radarDays.sortBy { case (r, d) => (r.code, d.compact) }.foreach { case (r, d) =>
      Corpus.dayFiles(r, d).foreach { f =>
        Corpus.expectedLines(Corpus.profile(seed, f)).foreach(l => sb.append(l).append('\n'))
      }
    }
    Workloads.sha256(sb.toString.getBytes(UTF_8))
  }

  def check(dir: Path): Int =
    if (Files.exists(out(dir)) && Workloads.sha256(Files.readAllBytes(out(dir))) == expectedSha) 0
    else 1

  def outputs(dir: Path): Seq[Path] = Seq(out(dir))
}
