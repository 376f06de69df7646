package graft.vpts

import graft.cli.Vph5ToVpts
import graft.lake.LakeController
import graft.lake.LakeController.{DayKey, MonthKey}
import graft.odim.VpCorpus
import graft.odim.VpCorpus.VpFile
import graft.sources.OdimScan
import graft.streaming.OdimStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The paper core (ODIM file -> VPTS rows -> CSV -> lake rebuild) on a
  * generated corpus: 2 radars x 2 days (across a month boundary) x 3
  * profiles, plus one truncated profile in the scan corpus.
  */
class PaperCoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = SparkTestSession.spark

  private val days = Seq("20230228", "20230301")
  private val good: Seq[VpFile] =
    VpCorpus.files(Seq("bejab", "nlhrw"), days, Seq("0000", "0015", "0030"))
  private val broken = VpFile("bejab", "20230228", "0045")

  private val tmpDirs = Seq.newBuilder[Path]
  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs += d
    d
  }
  override def afterAll(): Unit = tmpDirs.result().foreach(VpCorpus.deleteTree)

  /** The good files plus the truncated one, under `{source}/hdf5`. */
  private lazy val scanRoot: String = {
    val root = tempDir("paper-core-scan")
    VpCorpus.write(root, good)
    VpCorpus.write(root, Seq(broken)).foreach(VpCorpus.truncate)
    root.resolve(VpCorpus.Source).resolve("hdf5").toString
  }

  private def lines(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString(","))

  private def expectedDaily(radar: String, day: String): String =
    VpCorpus.expectedCsv(good.filter(f => f.radar == radar && f.day == day))

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)
  private def readGz(p: Path): String = {
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("odim source, binaryFile and stream scans decode to the same rows") {
    // canonical order: one file per (radar, datetime), its levels by height
    val canonical = good.sortBy(f => (f.radar, f.datetime)).flatMap(VpCorpus.expectedLines)
    assert(lines(Vpts.vpts(spark, Seq(scanRoot), failFast = false)) == canonical)
    assert(lines(Vpts.vptsViaBinaryFile(spark, Seq(scanRoot), failFast = false)) == canonical)
    val want = canonical.sorted
    assert(lines(OdimStream.drainAvailable(spark, scanRoot, "paper_core_drain")).sorted == want)
  }

  test("failFast=false skips the truncated file on every path; failFast=true surfaces it") {
    val perFile = VpCorpus.Levels.toLong
    assert(Vpts.vpts(spark, Seq(scanRoot), failFast = false).count() == good.size * perFile)
    assert(Vpts.vptsViaBinaryFile(spark, Seq(scanRoot), failFast = false).count() ==
      good.size * perFile)
    assert(lines(OdimStream.drainAvailable(spark, scanRoot, "paper_core_skip")).size ==
      good.size * perFile)

    intercept[org.apache.spark.SparkException](Vpts.vpts(spark, Seq(scanRoot)).count())
    intercept[org.apache.spark.SparkException](
      Vpts.vptsViaBinaryFile(spark, Seq(scanRoot)).count())
    val q = OdimStream.vptsStream(spark, scanRoot, failFast = true).writeStream
      .format("memory").queryName("paper_core_failfast")
      .trigger(Trigger.AvailableNow()).start()
    intercept[StreamingQueryException](q.awaitTermination())
  }

  test("radar and datetime predicates plan only the matching files") {
    def planned(filter: org.apache.spark.sql.Column): (Long, Int) = {
      OdimScan.lastPlannedFileCount = -1
      val n = spark.read.format("odim").option("failFast", "false").load(scanRoot)
        .filter(filter).count()
      (n, OdimScan.lastPlannedFileCount)
    }
    val perRadar = good.count(_.radar == "nlhrw")
    assert(planned(col("radar") === "nlhrw") == (perRadar * VpCorpus.Levels.toLong, perRadar))
    // the truncated bejab file is listed but yields no rows
    assert(planned(col("radar") === "bejab") == (perRadar * VpCorpus.Levels.toLong, perRadar + 1))
    val march = good.count(_.day == "20230301")
    assert(planned(col("datetime") >= "2023-03-01T00:00:00Z") ==
      (march * VpCorpus.Levels.toLong, march))
    assert(planned(col("height") === "200") == (good.size.toLong, good.size + 1))
  }

  test("vph5ToVpts --path-folder writes the expected daily and monthly files") {
    val bucket = tempDir("paper-core-cli")
    VpCorpus.write(bucket, good)
    Vph5ToVpts.run(spark, Array(
      "--bucket", bucket.toString, "--path-folder", bucket.resolve("baltrad/hdf5").toString))
    for (radar <- Seq("bejab", "nlhrw")) {
      days.foreach { day =>
        assert(read(bucket.resolve(s"baltrad/daily/$radar/${day.take(4)}/${radar}_vpts_$day.csv"))
          == expectedDaily(radar, day), s"$radar $day daily")
      }
      days.foreach { day =>
        val monthly = bucket.resolve(
          s"baltrad/monthly/$radar/${day.take(4)}/${radar}_vpts_${day.take(6)}.csv.gz")
        assert(readGz(monthly) == expectedDaily(radar, day), s"$radar ${day.take(6)} monthly")
      }
    }
  }

  test("monthly rebuild matches dailies by file name, not by bucket path") {
    // the bucket path names February, so a match on the whole path would
    // pull March's daily into the February month
    val bucket = tempDir("paper-core").resolve("lake_202302")
    val radarFiles = good.filter(_.radar == "bejab")
    VpCorpus.write(bucket, radarFiles)
    radarFiles.map(f => DayKey(VpCorpus.Source, f.radar, f.yyyy, f.mm, f.dd)).distinct
      .foreach(LakeController.rebuildDay(spark, bucket.toString, _))
    LakeController.rebuildMonth(spark, bucket.toString,
      MonthKey(VpCorpus.Source, "bejab", "2023", "02"))
    assert(readGz(bucket.resolve("baltrad/monthly/bejab/2023/bejab_vpts_202302.csv.gz")) ==
      expectedDaily("bejab", "20230228"))
  }

  test("a failed day rebuild keeps the previous daily CSV") {
    val bucket = tempDir("paper-core-keep")
    val dayFiles = good.filter(f => f.radar == "nlhrw" && f.day == "20230228")
    val paths = VpCorpus.write(bucket, dayFiles)
    val key = DayKey(VpCorpus.Source, "nlhrw", "2023", "02", "28")
    LakeController.rebuildDay(spark, bucket.toString, key)
    val daily = bucket.resolve("baltrad/daily/nlhrw/2023/nlhrw_vpts_20230228.csv")
    val before = Files.readAllBytes(daily)
    assert(new String(before, UTF_8) == expectedDaily("nlhrw", "20230228"))

    VpCorpus.truncate(paths.head)
    intercept[Exception](LakeController.rebuildDay(spark, bucket.toString, key))
    assert(Files.readAllBytes(daily).sameElements(before))
    val listing = Files.list(daily.getParent)
    val names = try listing.toArray.toSeq.map(_.toString) finally listing.close()
    assert(names.contains(daily.toString))
    assert(!names.exists(_.contains(".tmp")), s"temp files left next to the daily CSV: $names")
  }
}
