package perfbench

import graft.odim.MiniHdf5Writer
import graft.odim.MiniHdf5Writer.{WDataset, WGroup}
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generator of the ODIM inputs and of the VPTS rows the product must
  * turn them into.
  *
  * A profile is one radar at one timestamp: 16 quantities x 25 levels, as
  * vol2bird writes them. `HGHT` holds the levels; `gap` and the `n*` counts
  * are int32; the other 10 quantities are float32 with two-decimal values,
  * so their widened doubles render with full 17-digit precision exactly as
  * real profiles do. About 30% of the non-height cells are nodata or
  * undetect. Files are written in the modern HDF5 layout by the test-side
  * `MiniHdf5Writer`.
  *
  * The expected rows are rendered here from the generated values and the
  * decode spec (raw*gain+offset cast back to the raw type, nodata -> "",
  * undetect -> "NaN", Python `repr` for floats), not through the library's
  * own `VptsCsvV1`, so the output check is independent of the code it
  * checks.
  */
object Corpus {

  val Source = "baltrad"
  val Repo = "aloftdata"
  val Levels = 25
  val FilesPerDay = 96
  val Header: String =
    "radar,datetime,height,u,v,w,ff,dd,sd_vvp,gap,eta,dens,dbz,dbz_all," +
      "n,n_dbz,n_all,n_dbz_all,rcs,sd_vvp_threshold,vcp,radar_latitude," +
      "radar_longitude,radar_height,radar_wavelength,source_file"

  /** Float quantities in output-column order, with the value range drawn from
    * (in hundredths).
    */
  private val floatQs: Seq[(String, Int, Int)] = Seq(
    ("u", -2500, 2500), ("v", -2500, 2500), ("w", -500, 500),
    ("ff", 0, 3000), ("dd", 0, 36000), ("sd_vvp", 0, 800),
    ("eta", 0, 500000), ("dens", 0, 30000), ("dbz", -3000, 3000),
    ("DBZH", -3000, 4000))
  private val intQs: Seq[(String, Int)] =
    Seq(("gap", 1), ("n", 5000), ("n_dbz", 5000), ("n_all", 9000), ("n_dbz_all", 9000))
  /** Output columns 4..18 and the quantity behind each. */
  private val columnQs: Seq[String] = Seq("u", "v", "w", "ff", "dd", "sd_vvp", "gap",
    "eta", "dens", "dbz", "DBZH", "n", "n_dbz", "n_all", "n_dbz_all")

  private val FloatNodata = -9999.0
  private val FloatUndetect = -9998.0
  private val IntNodata = -1.0
  private val IntUndetect = -2.0

  /** A radar: its ODIM node code and its site metadata as the decimal
    * strings the VPTS columns must carry.
    */
  final case class Radar(code: String, wmo: String, lat: String, lon: String,
      height: Long, wavelength: String, vcp: Long)

  /** 40 radars; the corpus uses the first two, the inventory lists all. */
  lazy val radars: IndexedSeq[Radar] = {
    val countries = Seq("be", "nl", "de", "fr", "pl", "se", "fi", "no", "dk", "cz")
    val sites = Seq("jab", "hrw", "ess", "abb")
    for {
      (c, ci) <- countries.zipWithIndex
      (s, si) <- sites.zipWithIndex
    } yield {
      val i = ci * sites.length + si
      // six-decimal coordinates: the library's 6-dp rounding keeps them as is
      Radar(c + s, f"0${6000 + i}%05d", pyRepr((45000000L + i * 371113L) / 1e6),
        pyRepr((2000000L + i * 517219L) / 1e6), 50L + 13L * i,
        if (i % 2 == 0) "5.3" else "5.32", if (i % 3 == 0) 0L else 12L)
    }
  }.toIndexedSeq

  final case class Day(year: Int, month: Int, day: Int) {
    def yyyy: String = f"$year%04d"
    def mm: String = f"$month%02d"
    def dd: String = f"$day%02d"
    def compact: String = yyyy + mm + dd
    def iso: String = s"$yyyy-$mm-$dd"
    def plusDays(n: Long): Day = Day.of(java.time.LocalDate.of(year, month, day).plusDays(n))
  }
  object Day {
    def of(d: java.time.LocalDate): Day = Day(d.getYear, d.getMonthValue, d.getDayOfMonth)
  }

  /** One source file: radar x day x slot (15-minute cadence). */
  final case class VpFile(radar: Radar, day: Day, slot: Int) {
    def hh: String = f"${slot / 4}%02d"
    def mi: String = f"${(slot % 4) * 15}%02d"
    def name: String = s"${radar.code}_vp_${day.compact}T$hh${mi}00Z_0x9.h5"
    def key: String =
      s"$Source/hdf5/${radar.code}/${day.yyyy}/${day.mm}/${day.dd}/$name"
    def datetime: String = s"${day.iso}T$hh:$mi:00Z"
  }

  def dayFiles(radar: Radar, day: Day): IndexedSeq[VpFile] =
    (0 until FilesPerDay).map(VpFile(radar, day, _))

  def dailyKey(radar: Radar, day: Day): String =
    s"$Source/daily/${radar.code}/${day.yyyy}/${radar.code}_vpts_${day.compact}.csv"
  def monthlyKey(radar: Radar, year: Int, month: Int): String =
    f"$Source/monthly/${radar.code}/$year%04d/${radar.code}_vpts_$year%04d$month%02d.csv.gz"

  /** The generated raw values of one file: quantity -> 25 raw cells. */
  final class Profile(val file: VpFile, val raw: Map[String, Array[Double]])

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def profile(seed: Long, f: VpFile): Profile = {
    val rnd = new SplittableRandom(
      mix(mix(mix(seed, f.radar.code.hashCode), f.day.compact.toLong), f.slot))
    def cell(sentinelNodata: Double, sentinelUndetect: Double)(value: => Double): Double = {
      val u = rnd.nextInt(100)
      if (u < 15) sentinelNodata else if (u < 30) sentinelUndetect else value
    }
    val floats = floatQs.map { case (q, lo, hi) =>
      q -> Array.fill(Levels)(cell(FloatNodata, FloatUndetect)(
        (rnd.nextInt(lo, hi + 1) / 100.0).toFloat.toDouble))
    }
    val ints = intQs.map { case (q, hi) =>
      q -> Array.fill(Levels)(cell(IntNodata, IntUndetect)(rnd.nextInt(hi + 1).toDouble))
    }
    val hght = "HGHT" -> Array.tabulate(Levels)(i => (i * 200).toDouble)
    new Profile(f, (floats ++ ints :+ hght).toMap)
  }

  /** ODIM HDF5 bytes of one profile. */
  def h5Bytes(p: Profile): Array[Byte] = {
    val f = p.file
    val r = f.radar
    val what = Seq[(String, Any)](
      "date" -> f.day.compact, "time" -> s"${f.hh}${f.mi}00", "object" -> "VP",
      "source" -> s"WMO:${r.wmo},RAD:${r.code.toUpperCase},NOD:${r.code}",
      "version" -> "H5rad 2.3")
    val where = Seq[(String, Any)](
      "lat" -> r.lat.toDouble, "lon" -> r.lon.toDouble, "height" -> r.height.toDouble,
      "interval" -> 200.0, "levels" -> Levels.toLong, "minheight" -> 0.0,
      "maxheight" -> (Levels * 200).toDouble)
    val how = Seq[(String, Any)](
      "wavelength" -> r.wavelength.toDouble, "rcs_bird" -> 11.0, "sd_vvp_thresh" -> 2.0,
      "vcp" -> r.vcp, "beamwidth" -> 1.0, "task" -> "vol2bird",
      "software" -> "BALTRAD", "startdate" -> f.day.compact,
      "starttime" -> s"${f.hh}${f.mi}00", "enddate" -> f.day.compact,
      "endtime" -> s"${f.hh}${f.mi}00")
    val quantities = floatQs.map(_._1) ++ intQs.map(_._1) :+ "HGHT"
    val data = quantities.zipWithIndex.map { case (q, i) =>
      val isInt = intQs.exists(_._1 == q)
      val qWhat = Seq[(String, Any)]("quantity" -> q, "gain" -> 1.0, "offset" -> 0.0,
        "nodata" -> (if (isInt) IntNodata else FloatNodata),
        "undetect" -> (if (isInt) IntUndetect else FloatUndetect))
      s"data${i + 1}" -> (WGroup(Nil, Seq(
        "what" -> WGroup(qWhat, Nil),
        "data" -> WDataset(Nil, Array(Levels.toLong, 1L), p.raw(q), isInt = isInt,
          elemSize = 4))): MiniHdf5Writer.Node)
    }
    val dataset1 = WGroup(Nil, ("what" -> (WGroup(Seq("product" -> "VP"), Nil):
      MiniHdf5Writer.Node)) +: data)
    MiniHdf5Writer.write(WGroup(Nil, Seq(
      "what" -> WGroup(what, Nil), "where" -> WGroup(where, Nil),
      "how" -> WGroup(how, Nil), "dataset1" -> dataset1)))
  }

  // ---- expected VPTS rows ----

  private val reprCache = new java.util.concurrent.ConcurrentHashMap[java.lang.Double, String]()

  /** Python `repr` of a double: the shortest correctly rounded decimal that
    * reads back as the same double, positional for exponents in [-4, 16).
    */
  def pyRepr(d: Double): String = {
    val cached = reprCache.get(d)
    if (cached != null) return cached
    val s =
      if (d == 0.0) "0.0"
      else {
        val exact = new JBigDecimal(d)
        var p = 1
        var r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
        while (r.doubleValue != d) {
          p += 1
          r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
        }
        val exp10 = r.precision - r.scale - 1
        require(exp10 >= -4 && exp10 < 16, s"value $d outside the positional range")
        val plain = r.stripTrailingZeros.toPlainString
        if (plain.contains('.')) plain else plain + ".0"
      }
    reprCache.put(d, s)
    s
  }

  private def floatCell(raw: Double): String =
    if (raw == FloatNodata) "" else if (raw == FloatUndetect) "NaN" else pyRepr(raw)
  private def intCell(raw: Double, q: String): String =
    if (raw == IntNodata) "" else if (raw == IntUndetect) "NaN"
    else if (q == "gap") (if (raw == 1.0) "TRUE" else "FALSE")
    else raw.toLong.toString

  /** The 25 VPTS CSV lines of one profile, in canonical (height) order. */
  def expectedLines(p: Profile): IndexedSeq[String] = {
    val f = p.file
    val r = f.radar
    val tail = Seq("11.0", "2.0", if (r.vcp == 0) "" else r.vcp.toString,
      r.lat, r.lon, r.height.toString, r.wavelength, f.name).mkString(",")
    (0 until Levels).map { i =>
      val sb = new StringBuilder
      sb.append(r.code).append(',').append(f.datetime).append(',')
        .append((i * 200).toString)
      columnQs.foreach { q =>
        sb.append(',')
        val raw = p.raw(q)(i)
        sb.append(if (intQs.exists(_._1 == q)) intCell(raw, q) else floatCell(raw))
      }
      sb.append(',').append(tail).toString
    }
  }

  /** Expected daily CSV text of one radar-day. */
  def expectedDaily(seed: Long, radar: Radar, day: Day): String = {
    val sb = new StringBuilder(Header).append('\n')
    dayFiles(radar, day).foreach { f =>
      expectedLines(profile(seed, f)).foreach(l => sb.append(l).append('\n'))
    }
    sb.toString
  }

  /** Write the h5 files of the given radar-days under `bucket` on the `Par`
    * threads; returns the written paths in key order.
    */
  def writeH5(seed: Long, bucket: Path, days: Seq[(Radar, Day)]): IndexedSeq[Path] = {
    val files = days.flatMap { case (r, d) => dayFiles(r, d) }.toIndexedSeq
    val out = files.map(f => bucket.resolve(f.key))
    out.map(_.getParent).distinct.foreach(Files.createDirectories(_))
    Par.foreachIndex(files.length) { i =>
      Files.write(out(i), h5Bytes(profile(seed, files(i))))
    }
    out
  }

  /** Inventory line in S3-inventory CSV form (all fields quoted). */
  def inventoryLine(key: String, size: Long, modified: java.time.Instant): String =
    s""""$Repo","$key","$size","${ModifiedFormat.format(modified)}""""

  private val ModifiedFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** Modified time of a profile key: uploaded 5 to 9 minutes after its scan. */
  def modified(f: VpFile): java.time.Instant =
    java.time.LocalDateTime.of(f.day.year, f.day.month, f.day.day, f.slot / 4, (f.slot % 4) * 15)
      .toInstant(java.time.ZoneOffset.UTC).plusSeconds(300 + (f.slot % 5) * 60)

  /** Write one headerless gzip CSV inventory chunk; `body` emits its lines. */
  def writeInventoryChunk(p: Path)(body: (String => Unit) => Unit): Unit = {
    Files.createDirectories(p.getParent)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(p), 1 << 16), UTF_8), 1 << 16)
    try body { l => out.write(l); out.write('\n') } finally out.close()
  }
}

/** A small fixed pool of threads for the generator. */
object Par {
  val threads: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def foreachIndex(n: Int)(body: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && err.get == null) {
          try body(i) catch { case t: Throwable => err.compareAndSet(null, t) }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (err.get != null) throw err.get
  }
}
