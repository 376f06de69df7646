package graft.lake

import graft.vpts.Vpts
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Incremental lake rebuild controller — the Spark-first equivalent of the
  * `vph5_to_vpts` CLI (`vph5_to_vpts.py:59-251`): inventory -> coverage +
  * days-to-rebuild -> per-day daily VPTS rebuild -> per-month concat.
  *
  * Recompute granularity is the whole radar-day (the reference's
  * day-granularity late-data handling): any modified file re-derives its day
  * and month. Each day is an independent Spark job over ~100 small h5 files;
  * failures warn-and-continue (X3). At fleet scale the days loop can run
  * jobs concurrently — each rebuild touches disjoint input/output paths.
  */
object LakeController {

  final case class DayKey(source: String, radar: String, yyyy: String, mm: String, dd: String) {
    def h5Folder(bucket: String) = s"$bucket/$source/hdf5/$radar/$yyyy/$mm/$dd"
    def dailyCsvPath(bucket: String) =
      s"$bucket/$source/daily/$radar/$yyyy/${radar}_vpts_$yyyy$mm$dd.csv"
  }

  final case class MonthKey(source: String, radar: String, yyyy: String, mm: String) {
    def dailyFolder(bucket: String) = s"$bucket/$source/daily/$radar/$yyyy"
    def monthlyCsvPath(bucket: String) =
      s"$bucket/$source/monthly/$radar/$yyyy/${radar}_vpts_$yyyy$mm.csv.gz"
  }

  def dayKeys(days: DataFrame): Seq[DayKey] =
    days.select("source", "radar", "yyyy", "mm", "dd").collect().toSeq.map {
      case Row(s: String, r: String, y: String, m: String, d: String) => DayKey(s, r, y, m, d)
    }

  def monthKeys(days: Seq[DayKey]): Seq[MonthKey] =
    days.map(d => MonthKey(d.source, d.radar, d.yyyy, d.mm)).distinct

  /** Rebuild one radar-day: scan its h5 folder, convert, write the single
    * sorted daily CSV (`vph5_to_vpts.py:159-202` minus the download hop —
    * Spark reads the lake directly).
    */
  def rebuildDay(spark: SparkSession, bucket: String, day: DayKey): Unit = {
    val df = Vpts.vpts(spark, Seq(day.h5Folder(bucket)))
    CsvSink.writeSingleCsv(df, day.dailyCsvPath(bucket))
  }

  /** Rebuild one radar-month: concat its daily CSVs (sorted, month-filtered
    * file list) into the gzipped monthly file (`vph5_to_vpts.py:214-248`).
    * Dailies are matched on the file name, as the reference does, so neither
    * the bucket path nor a temp file can pull in another month.
    */
  def rebuildMonth(spark: SparkSession, bucket: String, month: MonthKey): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val filesystem = CsvSink.fs(conf, month.dailyFolder(bucket))
    val folder = new HPath(month.dailyFolder(bucket))
    val daily = s"\\Q${month.radar}_vpts_${month.yyyy}${month.mm}\\E\\d\\d\\.csv".r
    val files =
      if (filesystem.exists(folder))
        filesystem.listStatus(folder).toSeq.map(_.getPath)
          .filter(p => daily.matches(p.getName)).map(_.toString)
          .sorted
      else Seq.empty
    if (files.nonEmpty)
      CsvSink.concatCsvFiles(conf, files, month.monthlyCsvPath(bucket), gzip = true)
  }

  /** Rebuild every given day, then every month they touch; a failing day or
    * month is reported and skipped (X3). Returns (n_days_rebuilt,
    * n_months_rebuilt).
    */
  def rebuild(spark: SparkSession, bucket: String, days: Seq[DayKey]): (Int, Int) = {
    val okDays = days.count { d =>
      try { rebuildDay(spark, bucket, d); true }
      catch { case e: Exception =>
        System.err.println(s"[lake] WARNING day ${d.h5Folder(bucket)}: ${e.getMessage}")
        false
      }
    }
    val okMonths = monthKeys(days).count { m =>
      try { rebuildMonth(spark, bucket, m); true }
      catch { case e: Exception =>
        System.err.println(s"[lake] WARNING month ${m.monthlyCsvPath(bucket)}: ${e.getMessage}")
        false
      }
    }
    (okDays, okMonths)
  }

  /** Full incremental run from an inventory file (manifest path of the CLI).
    * Returns (n_days_rebuilt, n_months_rebuilt).
    */
  def run(spark: SparkSession, bucket: String, inventoryPath: String,
      modifiedDaysAgo: Int, now: java.time.Instant,
      coverageOut: Option[String] = None): (Int, Int) = {
    val inv = Inventory.read(spark, inventoryPath)
    coverageOut.foreach(p => CsvSink.writeSingleCsv(Inventory.coverage(inv), p))
    rebuild(spark, bucket, dayKeys(Inventory.daysToRebuild(inv, modifiedDaysAgo, now)))
  }
}
