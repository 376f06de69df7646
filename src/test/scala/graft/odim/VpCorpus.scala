package graft.odim

import graft.odim.MiniHdf5Writer.{Node, WDataset, WGroup}
import java.nio.file.{Files, Path}

/** A small generated corpus of ODIM vertical-profile files for the paper-core
  * specs, written by [[MiniHdf5Writer]] (modern HDF5 layout), together with
  * the VPTS CSV lines each file must decode to.
  *
  * Each file holds `Levels` heights and three quantities: float32 `u` and
  * int32 `gap` and `n`; every other VPTS variable is absent and so renders
  * as nodata. `u` takes quarter values, so each float32 has a short exact
  * decimal. The expected lines are rendered here from the generated values
  * and the decode spec (nodata -> "", undetect -> "NaN", gap 0/1 ->
  * FALSE/TRUE), not through `VptsCsvV1`.
  */
object VpCorpus {

  val Source = "baltrad"
  val Levels = 5
  val Header: String =
    "radar,datetime,height,u,v,w,ff,dd,sd_vvp,gap,eta,dens,dbz,dbz_all," +
      "n,n_dbz,n_all,n_dbz_all,rcs,sd_vvp_threshold,vcp,radar_latitude," +
      "radar_longitude,radar_height,radar_wavelength,source_file"

  private val FloatNodata = -9999.0
  private val FloatUndetect = -9998.0
  private val IntNodata = -1.0
  private val IntUndetect = -2.0

  /** One profile: a radar (5-letter ODIM node) at yyyymmdd, hhmm. */
  final case class VpFile(radar: String, day: String, hhmm: String) {
    def yyyy: String = day.take(4)
    def mm: String = day.slice(4, 6)
    def dd: String = day.drop(6)
    def name: String = s"${radar}_vp_${day}T${hhmm}00Z_0x9.h5"
    /** Lake key: `{source}/hdf5/{radar}/{yyyy}/{mm}/{dd}/{name}`. */
    def key: String = s"$Source/hdf5/$radar/$yyyy/$mm/$dd/$name"
    def datetime: String = s"$yyyy-$mm-${dd}T${hhmm.take(2)}:${hhmm.drop(2)}:00Z"

    private val seed = name.hashCode & 0x7fffffff
    private def draw(i: Int, n: Int): Int = ((seed >>> i) ^ (i * 40503)) % n

    val heights: IndexedSeq[Double] = (0 until Levels).map(i => i * 200.0)
    /** Raw cells; level 1 is nodata and level 2 undetect. */
    val u: IndexedSeq[Double] = (0 until Levels).map {
      case 1 => FloatNodata
      case 2 => FloatUndetect
      case i => (draw(i, 400) - 200) / 4.0
    }
    val gap: IndexedSeq[Double] =
      (0 until Levels).map(i => if (i == 3) IntNodata else draw(i, 2).toDouble)
    val n: IndexedSeq[Double] =
      (0 until Levels).map(i => if (i == 0) IntUndetect else draw(i, 5000).toDouble)
  }

  /** `radars` x `days` x `times` profiles, in lake-key order. */
  def files(radars: Seq[String], days: Seq[String], times: Seq[String]): Seq[VpFile] =
    for (r <- radars; d <- days; t <- times) yield VpFile(r, d, t)

  def h5Bytes(f: VpFile): Array[Byte] = {
    def quantity(q: String, raw: IndexedSeq[Double], isInt: Boolean): Node = WGroup(Nil, Seq(
      "what" -> WGroup(Seq("quantity" -> q, "gain" -> 1.0, "offset" -> 0.0,
        "nodata" -> (if (isInt) IntNodata else FloatNodata),
        "undetect" -> (if (isInt) IntUndetect else FloatUndetect)), Nil),
      "data" -> WDataset(Nil, Array(Levels.toLong, 1L), raw.toArray, isInt = isInt,
        elemSize = 4)))
    val dataset1 = WGroup(Nil, Seq(
      "what" -> WGroup(Seq("product" -> "VP"), Nil),
      "data1" -> quantity("HGHT", f.heights, isInt = false),
      "data2" -> quantity("u", f.u, isInt = false),
      "data3" -> quantity("gap", f.gap, isInt = true),
      "data4" -> quantity("n", f.n, isInt = true)))
    MiniHdf5Writer.write(WGroup(Nil, Seq(
      "what" -> WGroup(Seq("date" -> f.day, "time" -> s"${f.hhmm}00", "object" -> "VP",
        "source" -> s"WMO:06410,RAD:XX41,NOD:${f.radar}"), Nil),
      "where" -> WGroup(Seq("lat" -> 50.5, "lon" -> 4.25, "height" -> 100.0), Nil),
      "how" -> WGroup(Seq("wavelength" -> 5.3, "rcs_bird" -> 11.0,
        "sd_vvp_thresh" -> 2.0, "vcp" -> 12L), Nil),
      "dataset1" -> dataset1)))
  }

  private def floatCell(raw: Double): String =
    if (raw == FloatNodata) ""
    else if (raw == FloatUndetect) "NaN"
    else {
      val s = java.math.BigDecimal.valueOf(raw).stripTrailingZeros.toPlainString
      if (s.contains('.')) s else s + ".0"
    }
  private def intCell(raw: Double): String =
    if (raw == IntNodata) "" else if (raw == IntUndetect) "NaN" else raw.toLong.toString
  private def boolCell(raw: Double): String =
    if (raw == IntNodata) "" else if (raw == 1.0) "TRUE" else "FALSE"

  /** The VPTS CSV lines of one file, in height order. */
  def expectedLines(f: VpFile): IndexedSeq[String] = (0 until Levels).map { i =>
    (Seq(f.radar, f.datetime, f.heights(i).toLong.toString, floatCell(f.u(i))) ++
      Seq.fill(5)("") ++ Seq(boolCell(f.gap(i))) ++ Seq.fill(4)("") ++
      Seq(intCell(f.n(i))) ++ Seq.fill(3)("") ++
      Seq("11.0", "2.0", "12", "50.5", "4.25", "100", "5.3", f.name)).mkString(",")
  }

  /** Expected CSV text (header + lines) of files already in canonical order. */
  def expectedCsv(files: Seq[VpFile]): String =
    (Header +: files.flatMap(expectedLines)).map(_ + "\n").mkString

  /** Write each file under `root` at its lake key; returns the paths. */
  def write(root: Path, files: Seq[VpFile]): Seq[Path] = files.map { f =>
    val p = root.resolve(f.key)
    Files.createDirectories(p.getParent)
    Files.write(p, h5Bytes(f))
  }

  /** Overwrite an h5 file with the first 40% of its bytes. */
  def truncate(p: Path): Path = {
    val bytes = Files.readAllBytes(p)
    Files.write(p, bytes.take(bytes.length * 2 / 5))
  }

  /** Delete a directory tree. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally all.close()
    }
}
