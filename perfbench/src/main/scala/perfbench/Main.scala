package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Benchmark JVM: one workload, one seed.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--trace-out <file>] [--truncate-one]
  *
  * Generates the workload's inputs from the seed twice untimed and five times
  * timed (setup_s is the median of the five), makes two untimed warm-up
  * calls, then timed calls until `--seconds` have passed (at least five). Every call's outputs are checked after it, not
  * inside the timed region; a call that throws, falls short of the expected
  * day/month count or fails its check is counted in `failed` and its time
  * is dropped. `--trace 1` adds listener counters, spans and the layer
  * ladders, and alternates untraced and traced calls so the tracing overhead
  * is measured in the same process. `--truncate-one` cuts one h5 file in
  * half after setup (the self-test: the run must then report failures).
  *
  * The last stdout line is the result object; the line before it carries
  * the detail (per-call times, output digest).
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", traceOut: Option[String] = None,
      truncateOne: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = Some(v)))
    case "--truncate-one" :: t => parse(t, o.copy(truncateOne = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def h5Files(root: Path): IndexedSeq[Path] = {
    val s = Files.walk(root)
    try {
      val it = s.iterator()
      val b = IndexedSeq.newBuilder[Path]
      while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".h5")) b += p }
      b.result().sortBy(_.toString)
    } finally s.close()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    val wl = Workloads(opts.workload, opts.seed)
    val work = Paths.get(opts.work).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .appName(s"perfbench-${wl.name}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, wl, opts, work, cores)
    finally spark.stop()
  }

  private val WarmUpCalls = 2
  private val SetupWarmUps = 2
  private val SetupRuns = 5
  private val startNs = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%.2f s: $what")

  private def run(spark: SparkSession, wl: Workload, opts: Opts, work: Path, cores: Int): Unit = {
    phase("session ready")
    // ---- setup: untimed warm-up generations, then SetupRuns timed; the last
    // copy is kept, the others are deleted only after all are timed ----
    val generated = (1 to SetupWarmUps + SetupRuns).map { k =>
      val d = work.resolve(s"inputs-$k")
      val t0 = System.nanoTime()
      wl.setup(d)
      (d, (System.nanoTime() - t0) / 1e9)
    }
    val dir = generated.last._1
    generated.init.foreach(g => Workloads.deleteTree(g._1))
    val setupTimes = generated.drop(SetupWarmUps).map(_._2)
    phase("setup done")
    val h5 = h5Files(wl.h5Root(dir))
    if (opts.truncateOne) {
      val victim = h5(h5.size / 2)
      val bytes = Files.readAllBytes(victim)
      Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length / 2),
        StandardOpenOption.TRUNCATE_EXISTING)
      System.err.println(s"[perfbench] truncated ${work.relativize(victim)}")
    }

    val sc = spark.sparkContext
    val tracer = new Tracer(opts.trace)
    val counters = new Counters
    var attempted = 0
    var failed = 0
    final case class Call(traced: Boolean, outcome: Outcome, ok: Boolean,
        startMs: Long, endMs: Long, startNs: Long, endNs: Long, snap: Counters#Snap,
        written: Long)
    val calls = ArrayBuffer.empty[Call]

    def once(traced: Boolean): Call = {
      wl.clear(dir)
      if (traced) sc.addSparkListener(counters)
      val c0 = counters.snap(); val w0 = FsStats.bytesWritten
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      val o = wl.call(spark, dir, if (traced) tracer else new Tracer(false))
      val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      val written = FsStats.bytesWritten - w0
      if (traced) { BenchBridge.drainListeners(sc); sc.removeSparkListener(counters) }
      phase(f"call ${o.seconds}%.3f s")
      val bad = math.max(o.failed, wl.check(dir))
      attempted += o.attempted
      failed += bad
      Call(traced, o, bad == 0, ms0, ms1, ns0, ns1, counters.snap() - c0, written)
    }

    // warm-up: JIT, codegen and first-job costs; the first call costs 3-5x a
    // warm one
    (1 to WarmUpCalls).foreach(_ => once(traced = false))
    // a call varies by about 8% on its own (host noise): the median needs many
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    val minCalls = if (opts.trace) 6 else 5
    var i = 0
    while ((i < minCalls || System.nanoTime() < deadline) && i < 40) {
      calls += once(traced = opts.trace && i % 2 == 1)
      i += 1
    }
    val digest = Workloads.digest(dir, wl.outputs(dir))
    phase("timed calls done")

    val passS = Stats.median(calls.filter(c => !c.traced && c.ok).map(_.outcome.seconds).toSeq)
    val metrics = LinkedHashMap.empty[String, (Double, String)]
    if (!opts.trace) {
      metrics("setup_s") = (Stats.median(setupTimes), "s")
      metrics("pass_s") = (passS, "s")
      metrics("files_per_s") = (wl.files / passS, "1/s")
      metrics("peak_rss_mb") = (peakRssMb, "MB")
    } else {
      val traced = calls.filter(c => c.traced && c.ok).toSeq
      val tracedS = Stats.median(traced.map(_.outcome.seconds))
      def perCall(f: Call => Double): Double = Stats.median(traced.map(f))
      def spans(c: Call, name: String) =
        tracer.all.filter(s => s.name == name && s.startNs >= c.startNs && s.endNs <= c.endNs)
      def spanSum(c: Call, name: String): Double = spans(c, name).map(_.seconds).sum
      val daySpans = traced.flatMap(spans(_, "lake.rebuild_day"))
      val dayMs = daySpans.map(_.seconds * 1000)
      sc.addSparkListener(counters)
      val ladderPar = Ladder.parallel(spark, wl.h5Root(dir), work, counters, reps = 2)
      sc.removeSparkListener(counters)
      val ladderFile = Ladder.perFile(h5, sample = 192, reps = 3)
      val layer = LinkedHashMap.empty[String, (Double, String)]
      ladderPar.foreach { case (k, v) =>
        layer(k) = (v, if (k.endsWith("_s")) "s" else if (k.contains("bytes")) "bytes" else "count")
      }
      ladderFile.foreach { case (k, v) => layer(k) = (v, "us") }
      layer("lake.bytes_written") = (perCall(_.written.toDouble), "bytes")
      layer("lake.day_rebuild_ms.p50") = (if (dayMs.isEmpty) 0.0 else Stats.quantile(dayMs, 0.5), "ms")
      layer("lake.day_rebuild_ms.p80") = (if (dayMs.isEmpty) 0.0 else Stats.quantile(dayMs, 0.8), "ms")
      layer("lake.jobs_per_day") =
        (if (daySpans.isEmpty) 0.0 else counters.jobsWithin(daySpans.map(s => (s.startMs, s.endMs))) /
          daySpans.size.toDouble, "count")
      layer("lake.driver_only_s") = (perCall(c => counters.idleMs(c.startMs, c.endMs) / 1000.0), "s")
      layer("lake.month_concat_s") = (perCall(spanSum(_, "lake.rebuild_month")), "s")
      layer("lake.inventory_s") = (perCall(spanSum(_, "lake.inventory")), "s")
      layer("lake.inventory_rows") = (wl.inventoryRows.toDouble, "count")
      layer("lake.coverage_s") = (perCall(spanSum(_, "lake.coverage")), "s")
      layer("spark.jobs") = (perCall(_.snap.jobs.toDouble), "count")
      layer("spark.tasks") = (perCall(_.snap.tasks.toDouble), "count")
      layer("spark.executor_cpu_s") = (perCall(_.snap.cpuNs / 1e9), "s")
      layer("spark.gc_s") = (perCall(_.snap.gcMs / 1000.0), "s")
      layer("spark.spill_bytes") = (perCall(_.snap.spill.toDouble), "bytes")
      layer("trace.overhead_s") = (tracedS - passS, "s")
      metrics ++= layer
      opts.traceOut.foreach { p =>
        val f = Paths.get(p)
        Option(f.getParent).foreach(Files.createDirectories(_))
        Files.writeString(f, tracer.toJson)
      }
    }

    val detail = Seq(
      s""""workload":"${wl.name}"""", s""""seed":${opts.seed}""", s""""cores":$cores""",
      s""""files":${wl.files}""",
      s""""warmup_calls":$WarmUpCalls""",
      s""""calls_s":[${calls.map(c => num(c.outcome.seconds)).mkString(",")}]""",
      s""""calls_traced":[${calls.map(_.traced).mkString(",")}]""",
      s""""setup_s":[${setupTimes.map(num).mkString(",")}]""",
      s""""failed_frac":${num(failed.toDouble / math.max(1, attempted))}""",
      s""""output_sha256":"$digest"""").mkString("{\"detail\":{", ",", "}}")
    println(detail)
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}
