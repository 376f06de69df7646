package perfbench

import graft.lake.CsvSink
import graft.odim.OdimReader
import graft.sources.OdimScan
import graft.vpts.{BirdProfile, Vpts, VptsCsvV1}
import java.nio.file.{Files, Path}
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** The two layer ladders of the traced run, over a workload's h5 files.
  *
  * Single-thread, per file: read bytes -> `OdimReader` + `checkVpOdim`
  * (parse) -> `BirdProfile.fromOdim` (decode) -> `VptsCsvV1.rows` (render).
  *
  * Parallel, cumulative: plan (`Vpts.vpts(..).queryExecution.executedPlan`:
  * list, prune, bin-pack) -> scan (`format("odim")` to the noop sink) ->
  * +sort (`Vpts.vpts` to noop) -> +sink (`CsvSink.writeSingleCsv`). Each
  * layer's time is its rung minus the rung below.
  */
object Ladder {

  def perFile(h5: Seq[Path], sample: Int, reps: Int): Map[String, Double] = {
    val files = h5.take(sample)
    var read, parse, decode, render = Seq.empty[Double]
    (0 to reps).foreach { rep =>
      var tr, tp, td, tn = 0L
      files.foreach { p =>
        val name = p.getFileName.toString
        val t0 = System.nanoTime()
        val bytes = Files.readAllBytes(p)
        val t1 = System.nanoTime()
        val reader = OdimReader.checkVpOdim(OdimReader(bytes, name))
        reader.what; reader.where; reader.how
        val t2 = System.nanoTime()
        val profile = BirdProfile.fromOdim(reader, name)
        val t3 = System.nanoTime()
        val rows = VptsCsvV1.rows(profile)
        var chars = 0
        rows.foreach(_.foreach(c => chars += c.length))
        val t4 = System.nanoTime()
        require(chars > 0)
        tr += t1 - t0; tp += t2 - t1; td += t3 - t2; tn += t4 - t3
      }
      if (rep > 0) { // rep 0 warms up
        val n = files.size * 1000.0
        read :+= tr / n; parse :+= tp / n; decode :+= td / n; render :+= tn / n
      }
    }
    Map("odim.read_us" -> Stats.median(read), "odim.parse_us" -> Stats.median(parse),
      "vpts.decode_us" -> Stats.median(decode), "vpts.render_us" -> Stats.median(render))
  }

  def parallel(spark: SparkSession, root: Path, scratch: Path, counters: Counters,
      reps: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    val paths = Seq(root.toString)
    def timed[A](body: => A): (Double, Counters#Snap, Long, Long) = {
      BenchBridge.drainListeners(sc)
      val c0 = counters.snap(); val r0 = FsStats.bytesRead; val w0 = FsStats.bytesWritten
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      BenchBridge.drainListeners(sc)
      (dt, counters.snap() - c0, FsStats.bytesRead - r0, FsStats.bytesWritten - w0)
    }
    val out = scratch.resolve("ladder.csv")
    val rungs = (1 to reps).map { _ =>
      val plan = timed(Vpts.vpts(spark, paths).queryExecution.executedPlan)
      val listed = OdimScan.lastPlannedFileCount
      val scan = timed(spark.read.format("odim").load(paths: _*)
        .write.format("noop").mode("overwrite").save())
      val sort = timed(Vpts.vpts(spark, paths).write.format("noop").mode("overwrite").save())
      Files.deleteIfExists(out)
      val sink = timed(CsvSink.writeSingleCsv(Vpts.vpts(spark, paths), out.toString))
      Files.deleteIfExists(out)
      (plan, listed, scan, sort, sink)
    }
    Map(
      "sources.plan_s" -> Stats.median(rungs.map(_._1._1)),
      "sources.files_listed" -> rungs.last._2.toDouble,
      "sources.scan_tasks" -> Stats.median(rungs.map(_._3._2.tasks.toDouble)),
      "sources.bytes_read" -> Stats.median(rungs.map(_._3._3.toDouble)),
      "sources.scan_s" -> Stats.median(rungs.map(_._3._1)),
      "vpts.sort_s" -> Stats.median(rungs.map(r => r._4._1 - r._3._1)),
      "vpts.shuffle_write_bytes" -> Stats.median(rungs.map(_._4._2.shuffleWrite.toDouble)),
      "lake.sink_s" -> Stats.median(rungs.map(r => r._5._1 - r._4._1)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
