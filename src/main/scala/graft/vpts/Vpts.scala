package graft.vpts

import graft.odim.OdimReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The core VPTS transforms, Spark-first (`vpts.py:180-275`):
  *
  *   file scan -> per-file ODIM decode ([[Vpts.decodeFile]]) -> per-level
  *   26-column string rows -> canonical total sort
  *
  * The reference's multiprocessing.Pool becomes Spark task parallelism over
  * the file scan; its pd.concat + sort becomes one range-partitioned total
  * sort. Duplicate (radar, datetime, height) rows from different source
  * files are preserved by contract (tests/test_vpts.py:84-91).
  */
object Vpts {

  val schemaV1: StructType =
    StructType(VptsCsvV1.columns.map(StructField(_, StringType, nullable = false)))

  /** Many ODIM VP files -> canonical VPTS DataFrame (reference `vpts()`).
    * Scans through the DSv2 `odim` source (parallel listing + small-file
    * bin-packing), then applies the canonical total sort.
    */
  def vpts(spark: SparkSession, paths: Seq[String], version: String = "v1.0",
      failFast: Boolean = true): DataFrame = {
    val df = spark.read.format("odim")
      .option("version", version)
      .option("failFast", failFast.toString)
      .load(paths: _*)
    sortCanonical(df)
  }

  /** One ODIM file -> its VPTS rows: the VP gate, the decode and the render
    * (reference `vp()` for one file). Every scan path decodes through here.
    * A file that fails to read or decode is skipped with a warning when
    * `failFast` is false and rethrown otherwise.
    */
  def decodeFile(ruleset: VptsCsvVersion, path: String, failFast: Boolean)(
      bytes: => Array[Byte]): Seq[Seq[String]] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    try ruleset.rows(BirdProfile.fromOdim(OdimReader.checkVpOdim(OdimReader(bytes, name)), name))
    catch {
      case e: Exception if !failFast =>
        System.err.println(s"[vpts] skipping $name: ${e.getMessage}")
        Seq.empty
    }
  }

  /** Options of a recursive `binaryFile` listing of the *.h5 files. */
  private[graft] val h5Listing: Map[String, String] =
    Map("pathGlobFilter" -> "*.h5", "recursiveFileLookup" -> "true")

  /** `binaryFile` rows (batch or streaming) -> the version's string columns,
    * one row per altitude level of each decoded file.
    */
  private[graft] def decodeBinaryFiles(bin: DataFrame, version: String,
      failFast: Boolean): DataFrame = {
    val ruleset = VptsCsvVersion(version)
    val spark = bin.sparkSession
    import spark.implicits._
    bin.select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        decodeFile(ruleset, path, failFast)(bytes)
      })
      .select(ruleset.columns.zipWithIndex.map { case (c, i) =>
        element_at(col("value"), i + 1).as(c)
      }: _*)
  }

  /** binaryFile + mapPartitions variant of [[vpts]]: the reference that the
    * `odim` source's listing and partitioning are checked against.
    */
  def vptsViaBinaryFile(spark: SparkSession, paths: Seq[String], version: String = "v1.0",
      failFast: Boolean = true): DataFrame =
    sortCanonical(decodeBinaryFiles(
      spark.read.format("binaryFile").options(h5Listing).load(paths: _*), version, failFast))

  /** One file -> VP DataFrame (reference `vp()`). */
  def vp(spark: SparkSession, path: String, version: String = "v1.0"): DataFrame =
    vpts(spark, Seq(path), version)

  /** Canonical VPTS sort: radar (str), datetime (str), height (int),
    * source_file (str) (`vpts_csv.py:253-256`, applied `vpts.py:129-134`).
    * Range-partitioned total sort in Spark.
    */
  def sortCanonical(df: DataFrame): DataFrame =
    df.orderBy(col("radar"), col("datetime"),
      col("height").cast("int"), col("source_file"))

  /** String-preserving VPTS CSV scan (reference S7, `vph5_to_vpts.py:
    * 230-240`): all 26 columns as raw strings, no NA inference — "" and
    * "NaN" sentinels survive the round-trip.
    */
  def readVptsCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(schemaV1)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(paths: _*)
      // univocity yields null for unquoted empty fields no matter the
      // options; the reference's keep_default_na=False semantics are ""
      .na.fill("")

  /** Frictionless resource-descriptor sink next to a VPTS CSV (reference
    * `_write_resource_descriptor`, vpts.py:320-343): same fields, 4-space
    * indent, sorted keys.
    */
  def writeResourceDescriptor(vptsCsvPath: String, schemaVersion: String = "v1.0"): Unit = {
    val p = java.nio.file.Paths.get(vptsCsvPath)
    val json =
      s"""{
         |    "dialect": {
         |        "delimiter": ","
         |    },
         |    "encoding": "utf8",
         |    "format": "csv",
         |    "mediatype": "text/csv",
         |    "name": "vpts",
         |    "path": "${p.getFileName}",
         |    "schema": "https://raw.githubusercontent.com/aloftdata/vpts-csv/$schemaVersion/vpts-csv-table-schema.json"
         |}""".stripMargin
    val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("vpts.resource.json"), json)
  }
}
