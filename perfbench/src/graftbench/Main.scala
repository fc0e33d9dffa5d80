package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options, as `run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, tiny: Boolean, plantWrong: Boolean,
                      cacheDir: Path, outDir: Path, resultFile: Path, python: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, m.get("scale").contains("tiny"), m.get("plant-wrong").contains("1"),
      Paths.get(need("cache")), Paths.get(need("out")), Paths.get(need("result")), need("python"))
  }
}

/** Operations attempted and failed. An operation fails if it throws or if
  * its output check returns a reason. */
final class Ops {
  var attempted = 0
  var failed = 0
  val reasons = mutable.ArrayBuffer[String]()

  def apply(name: String)(body: => Option[String]): Boolean = {
    attempted += 1
    val verdict =
      try body
      catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    verdict.foreach { r =>
      failed += 1
      if (reasons.size < 20) reasons += s"$name: $r"
    }
    verdict.isEmpty
  }
}

/** State one benchmark process shares across its workload's phases. */
final class Ctx(val opts: Opts) {
  val tracer = new Tracer(s"${opts.workload}-s${opts.seed}-${System.currentTimeMillis()}")
  val ops = new Ops
  var spark: SparkSession = _
  var listener: Option[StageListener] = None
  /** Offset from `System.nanoTime` to wall-clock milliseconds. */
  val nsToMsOffset: Long = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def nsToMs(ns: Long): Long = ns / 1000000L + nsToMsOffset

  /** Starts a local session on `cores` threads; returns the seconds taken. */
  def startSession(cores: Int): Double = {
    val t0 = System.nanoTime()
    val scratch = opts.outDir.resolve("spark")
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one split per parquet file: task counts then depend on the file
      // count the fixture fixes, not on the seed's byte sizes
      .config("spark.sql.files.maxPartitionBytes", (1L << 30).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 30).toString)
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (System.nanoTime() - t0) / 1e9
  }

  def stopSession(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    listener = None
  }

  /** Makes this a traced run: a listener exists, attached only while
    * tracing is on. */
  def traceOn(): Unit = {
    listener = Some(new StageListener)
    setTracing(true)
  }

  /** Turns spans and the listener on or off together, so untraced
    * iterations pay for neither. Turning off drains the bus first, so every
    * event of the traced work reaches the listener. */
  def setTracing(on: Boolean): Unit = {
    listener.foreach { l =>
      val sc = spark.sparkContext
      if (on && !tracer.enabled) sc.addSparkListener(l)
      if (!on && tracer.enabled) {
        org.apache.spark.GraftBenchBus.drain(sc)
        sc.removeSparkListener(l)
      }
    }
    tracer.enabled = on
  }

  /** Listener totals for the spans under `roots`, after the bus drains. */
  def totals(roots: Seq[Span]): SparkTotals = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    listener.fold(SparkTotals())(_.totals(roots.flatMap(tracer.subtree), tracer.spans.toSeq, nsToMs))
  }

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  def action[A](name: String)(body: => A): A = tracer.action(spark.sparkContext, name)(body)
  def seededRandom(salt: Long) = new scala.util.Random(opts.seed * 1000003L + salt)
}

/** A benchmark workload: seeded inputs, a compile step, and one closed-loop
  * iteration whose output is checked against expectations computed
  * independently of the validator. */
trait Workload {
  def name: String
  /** Rows one iteration validates. */
  def rows: Long
  /** Generates or reuses the seeded inputs and their expectations. Not timed. */
  def prepare(ctx: Ctx): Unit
  /** Compiles the plan or prepares the validator on the current session. */
  def compile(ctx: Ctx): Unit
  /** One iteration; returns a reason when the output check fails. */
  def iterate(ctx: Ctx): Option[String]
  /** Untimed housekeeping after each iteration. */
  def cleanup(ctx: Ctx): Unit = ()
  /** Checks made once per run, outside timing. */
  def finalChecks(ctx: Ctx): Unit = ()
  /** Per-layer metrics of the traced run (isolation ladder and layer
    * counters); `loop` holds the traced iterations' spans. */
  def layers(ctx: Ctx, loop: Seq[Span]): Map[String, Double]
  /** Facts about the inputs, for the run record. */
  def inputRecord: Map[String, String] = Map.empty
}

/** One timed iteration and the process CPU it used. */
final case class Iter(seconds: Double, cpuNs: Long, traced: Boolean, span: Option[Span])

/** `gcCpuNs` is the CPU of the collections forced between iterations; it is
  * not part of any iteration's `cpuNs`. */
final case class LoopResult(iters: Seq[Iter], gcCpuNs: Long, heapPeakMb: Double) {
  def times: Seq[Double] = iters.map(_.seconds)
  def cpuNs: Long = iters.map(_.cpuNs).sum
  def spans: Seq[Span] = iters.flatMap(_.span)
  def part(traced: Boolean): LoopResult = copy(iters = iters.filter(_.traced == traced))
}

object Main {

  def workloadFor(name: String, opts: Opts): Workload = name match {
    case "clips_suite" => new ClipsSuite(opts)
    case "json_docs" => new JsonDocs(opts)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Closed loop: one client; the next iteration starts when the last ends.
    * With `traceOdd`, odd iterations run traced and even ones untraced, so
    * the two interleave through the same JIT and host window. */
  def loop(ctx: Ctx, w: Workload, seconds: Double, label: String, minIters: Int = 3,
           traceOdd: Boolean = false): LoopResult = {
    val iters = mutable.ArrayBuffer[Iter]()
    HeapWatch.reset()
    HeapWatch.armed = true
    var gcCpuNs = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i < minIters) {
      // each iteration starts from a collected heap, outside its timing
      val gc0 = Stats.processCpuNs()
      System.gc()
      gcCpuNs += Stats.processCpuNs() - gc0
      ctx.setTracing(traceOdd && i % 2 == 1)
      val cpu0 = Stats.processCpuNs()
      val t0 = System.nanoTime()
      var threw = false
      ctx.ops(s"$label#$i")(ctx.span(s"iteration.$label") {
        try w.iterate(ctx) catch { case e: Throwable => threw = true; throw e }
      })
      // an iteration whose output check failed still ran: it is timed and
      // counted as failed; one that threw is not timed
      if (!threw) iters += Iter((System.nanoTime() - t0) / 1e9, Stats.processCpuNs() - cpu0, ctx.tracer.enabled,
        if (ctx.tracer.enabled) ctx.tracer.spans.findLast(_.name == s"iteration.$label") else None)
      w.cleanup(ctx)
      i += 1
    }
    HeapWatch.armed = false
    LoopResult(iters.toSeq, gcCpuNs, HeapWatch.peakMb())
  }

  /** Compile plus the first (cold) iteration on a fresh session. */
  def compileAndCold(ctx: Ctx, w: Workload): Double = {
    val t0 = System.nanoTime()
    ctx.span("compile") { w.compile(ctx) }
    ctx.ops("cold")(w.iterate(ctx))
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(opts.outDir)
    HeapWatch.install()
    val ctx = new Ctx(opts)
    val w = workloadFor(opts.workload, opts)

    // set-up: process start → session up → compile → cold iteration.
    // Fixture generation runs in between and is not counted.
    ctx.startSession(opts.cores)
    val sessionUp = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val fixtureT0 = System.nanoTime()
    w.prepare(ctx)
    val fixtureS = (System.nanoTime() - fixtureT0) / 1e9
    // one sample per run: a set-up repeated in the same JVM would miss JVM
    // start, class loading and the cold JIT
    val setupS = sessionUp + compileAndCold(ctx, w)

    // warm-up: the JIT keeps improving Catalyst's and the kernels' code for
    // ten or so iterations after the cold one
    loop(ctx, w, seconds = opts.seconds * 2 / 3, label = "warmup", minIters = 2)

    val metrics = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val detail = mutable.LinkedHashMap[String, String]()

    def e2e(r: LoopResult): Map[String, Double] = {
      require(r.times.nonEmpty, "no iteration passed its output check")
      Map(
        "rows_per_s" -> w.rows / Stats.median(r.times),
        "job_s.tail" -> Stats.tail(r.times),
        "cpu_us_per_row" -> r.cpuNs / 1e3 / (w.rows.toDouble * r.iters.size),
        "heap_peak_mb" -> r.heapPeakMb)
    }
    def loopRecord(r: LoopResult): String = Json.obj(Seq(
      "iterations" -> r.times.size.toString,
      "median_s" -> Json.num(Stats.median(r.times)),
      "tail_s" -> Json.num(Stats.tail(r.times)),
      "tail_percentile" -> Json.num(Stats.tailPercentile(r.times.size)),
      "times_s" -> r.times.map(Json.num).mkString("[", ",", "]"),
      "cpu_s" -> Json.num(r.cpuNs / 1e9),
      "forced_gc_cpu_s" -> Json.num(r.gcCpuNs / 1e9)))

    var referenceMedian = 0.0
    if (!opts.trace) {
      val r = loop(ctx, w, opts.seconds, "timed")
      metrics ++= e2e(r)
      metrics("setup_s") = setupS
      detail("timed") = loopRecord(r)
    } else {
      ctx.traceOn()
      val mixed = loop(ctx, w, opts.seconds, "traced", minIters = 8, traceOdd = true)
      val (plain, traced) = (mixed.part(traced = false), mixed.part(traced = true))
      // the ladders run later, on a warmer JIT than the interleaved loop's
      // early iterations: their sum is compared with untraced iterations
      // run right before them, not with the loop
      val reference = loop(ctx, w, seconds = 0, label = "reference", minIters = 5)
      referenceMedian = Stats.median(reference.times)
      detail("reference") = loopRecord(reference)
      ctx.setTracing(true)
      val (a, b) = (e2e(plain), e2e(traced))
      detail("untraced") = loopRecord(plain)
      detail("traced") = loopRecord(traced)
      detail("untraced_e2e") = Json.nums(a)
      detail("traced_e2e") = Json.nums(b)
      layer("trace.overhead_frac") = Stats.median(traced.times) / Stats.median(plain.times) - 1
      layer ++= sparkLayer(ctx, traced)
      layer ++= w.layers(ctx, traced.spans)
      layer ++= Probes.all(ctx)
      layer.get("ladder.self_sum_s").foreach(s => layer("ladder.self_sum_frac") = s / referenceMedian)
    }

    ctx.setTracing(false)
    w.finalChecks(ctx)
    if (opts.trace && opts.workload == "clips_suite") {
      // Amdahl diagnostic: the same iteration on one core
      ctx.stopSession()
      ctx.startSession(1)
      w.compile(ctx)
      ctx.ops("one-core warm")(w.iterate(ctx))
      val one = loop(ctx, w, seconds = 0, label = "one-core", minIters = 2)
      layer("spark.scaling_eff_1to4") = Stats.median(one.times) / referenceMedian / opts.cores
    } else if (opts.trace) layer("spark.scaling_eff_1to4") = 0.0
    ctx.stopSession()

    if (opts.trace) Files.writeString(opts.outDir.resolve("spans.json"), ctx.tracer.toJson)
    detail("setup_s") = Json.num(setupS)
    detail("fixture_s") = Json.num(fixtureS)
    detail("rows_per_iteration") = w.rows.toString
    detail("failures") = ctx.ops.reasons.map(Json.str).mkString("[", ",", "]")
    detail("inputs") = Json.obj(w.inputRecord.map { case (k, v) => k -> Json.str(v) })
    val out = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "attempted" -> ctx.ops.attempted.toString,
      "failed" -> ctx.ops.failed.toString,
      "metrics" -> Json.nums(metrics),
      "layers" -> Json.nums(layer),
      "detail" -> Json.obj(detail)))
    Files.writeString(opts.resultFile, out + "\n")
    System.exit(0)
  }

  /** Spark-layer metrics of the traced loop, per iteration. */
  def sparkLayer(ctx: Ctx, r: LoopResult): Map[String, Double] = {
    val per = r.spans.map(s => ctx.totals(Seq(s)))
    def med(f: SparkTotals => Double) = Stats.median(per.map(f))
    val wall = r.spans.map(_.seconds).sum
    Map(
      "spark.jobs" -> med(_.jobs),
      "spark.tasks" -> med(_.tasks),
      "spark.core_busy_frac" -> per.map(_.runS).sum / (wall * ctx.opts.cores),
      "spark.executor_cpu_s" -> med(_.cpuS),
      "spark.gc_s" -> med(_.gcS),
      "spark.task_wait_s" -> med(_.waitS),
      "spark.task_skew" -> med(_.skew),
      "spark.input_bytes" -> med(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "spark.output_bytes" -> med(_.outputBytes.toDouble),
      "spark.spill_bytes" -> med(_.spillBytes.toDouble))
  }
}
