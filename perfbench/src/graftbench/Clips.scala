package graftbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.audio.{AudioChecks, AudioSnr, Clip, ClipsGen, Pcm}
import graft.audio.expressions.{audio_snr, pcm_stats}
import graft.audit.CheckpointedRun
import graft.run.ValidationPlan
import graft.spec.{Interp, JNull, JNum, JObj, JStr, JsonValue, Spec}
import graft.table.TableChecks

/** The north-rule clips table from `ClipsGen`, plus expectations taken from
  * the generator's own bookkeeping: a row is corrupt when `clipAt` at the
  * workload's corruption rate differs from `clipAt` at rate 0. */
abstract class ClipsBase(opts: Opts) extends Workload {
  def n: Long
  def files: Int
  def corruptionRate: Double
  def genSeed: Long
  val HotKeyEvery = 200
  val MaxDurMs = 200

  var table: String = _
  var plan: ValidationPlan = _
  /** (row index, clip_id) of every corrupt row. */
  var corrupt: Seq[(Long, String)] = Nil
  var expInvalid = 0L
  var expDups: Map[String, Long] = Map.empty
  var lastViolations = 0L
  var lastDupKeys = 0

  def rows: Long = n
  override def inputRecord = Map("table" -> table, "rows" -> n.toString, "files" -> files.toString,
    "corruption_rate" -> corruptionRate.toString, "generator_seed" -> genSeed.toString)

  def prepare(ctx: Ctx): Unit = {
    val dir = Fixtures.cached(ctx, s"$name-s${opts.seed}-n$n-f$files") { d =>
      val spark = ctx.spark
      import spark.implicits._
      ClipsGen.generate(spark, n, files, corruptionRate, genSeed, HotKeyEvery, MaxDurMs)
        .write.parquet(d.resolve("table").toString)
      val (seed, rate, hot, maxDur) = (genSeed, corruptionRate, HotKeyEvery, MaxDurMs)
      val book = spark.range(0L, n, 1L, files).map { i =>
        val c = ClipsGen.clipAt(i, seed, rate, hot, maxDur)
        val clean = ClipsGen.clipAt(i, seed, 0.0, hot, maxDur)
        (i.longValue, c.clip_id, !ClipsBase.sameClip(c, clean))
      }.collect()
      val dups = book.groupBy(_._2).collect { case (k, v) if v.length > 1 => s"dup\t$k\t${v.length}" }
      Fixtures.writeLines(d.resolve("expect.txt"),
        book.filter(_._3).map { case (i, id, _) => s"corrupt\t$i\t$id" }.toSeq ++ dups)
    }
    table = dir.resolve("table").toString
    val lines = Fixtures.readLines(dir.resolve("expect.txt")).map(_.split('\t'))
    corrupt = lines.collect { case Array("corrupt", i, id) => (i.toLong, id) }
    expDups = lines.collect { case Array("dup", k, c) => k -> c.toLong }.toMap
    expInvalid = corrupt.size.toLong + (if (opts.plantWrong) 1 else 0)
  }

  def compile(ctx: Ctx): Unit =
    plan = ctx.span("compile.fullPlan") { AudioChecks.fullPlan(ctx.spark.read.parquet(table).schema) }

  def read(ctx: Ctx): DataFrame = ctx.span("spark.read") { ctx.spark.read.parquet(table) }

  def checkDups(found: Map[String, Long]): Option[String] =
    if (found != expDups) Some(s"duplicate keys $found, expected $expDups") else None

  /** Invalid rows must be exactly the corrupt rows; a seeded sample of
    * them is re-checked one instance at a time. */
  override def finalChecks(ctx: Ctx): Unit = {
    val df = ctx.spark.read.parquet(table)
    ctx.ops("invalid rows = corrupt rows") {
      val got = plan.withValidation(df).where(!col("valid")).select("clip_id")
        .collect().map(_.getString(0)).sorted.toSeq
      val want = corrupt.map(_._2).sorted
      if (got != want) Some(s"${got.size} invalid rows vs ${want.size} corrupt; first differences " +
        s"${got.diff(want).take(3)} / ${want.diff(got).take(3)}")
      else None
    }
    val unique = corrupt.groupBy(_._2).collect { case (_, Seq(one)) => one }.toSeq.sortBy(_._1)
    val sample = ctx.seededRandom(7).shuffle(unique).take(16)
    val clips = sample.map { case (i, _) => ClipsGen.clipAt(i, genSeed, corruptionRate, HotKeyEvery, MaxDurMs) }
    val ids = clips.map(_.clip_id)
    val found = plan.violations(df.where(col("clip_id").isin(ids: _*)), Seq("clip_id")).collect()
      .groupBy(_.getString(0)).map { case (id, rs) =>
        id -> rs.map { r =>
          val path = r.getAs[String]("instance_path")
          if (path == null || path.isEmpty) r.getAs[String]("keyword") else path
        }.toSet
      }
    clips.foreach { c =>
      ctx.ops(s"sample ${c.clip_id}") {
        val want = IndependentClipCheck.failures(c)
        val got = found.getOrElse(c.clip_id, Set.empty)
        if (got != want) Some(s"violations $got, single-instance check says $want") else None
      }
    }
  }

  /** Clips isolation ladder: scan → pcm_stats → audio_snr → check battery
    * agg → withValidation agg, plus the uniqueness rung. */
  def clipsLadder(ctx: Ctx): Map[String, Double] = {
    def df = ctx.spark.read.parquet(table)
    val (scan, _) = Ladder.rung(ctx, "scan") { Ladder.noop(df) }
    val (pcm, _) = Ladder.rung(ctx, "pcm_stats") {
      Ladder.noop(df.withColumn("_st", pcm_stats(col("bytes"), col("codec"))))
    }
    val (snr, _) = Ladder.rung(ctx, "audio_snr") {
      Ladder.noop(df.withColumn("_snr",
        audio_snr(col("clip_id"), col("bytes"), col("codec"), col("sr_hz"), col("dur_ms"))))
    }
    val (battery, _) = Ladder.rung(ctx, "battery") {
      df.agg(count(lit(1)), sum(when(!plan.isValidCol, 1L).otherwise(0L))).collect()
    }
    val (vio, _) = Ladder.rung(ctx, "withValidation") { ClipsSuite.suiteAgg(plan, df).collect() }
    val (uniq, uniqSpans) = Ladder.rung(ctx, "uniqueness") {
      TableChecks.uniquenessViolations(df, Seq("clip_id")).collect()
    }
    val selfSum = scan + (snr - scan) + (battery - snr) + (vio - battery) + uniq
    Map(
      "spark.scan_s" -> scan,
      "audio.decode_s" -> (pcm - scan),
      "audio.snr_s" -> (snr - scan),
      "run.battery_s" -> (battery - snr),
      "run.violations_s" -> (vio - battery),
      "table.uniqueness_s" -> uniq,
      "table.uniqueness_shuffle_bytes" -> ctx.totals(uniqSpans).shuffleWriteBytes.toDouble / uniqSpans.size,
      "ladder.self_sum_s" -> selfSum)
  }
}

object ClipsBase {
  /** `ClipsGen.clipAt` hashes `seed ^ row`, so two small seeds give the same
    * clips in another order; a splitmix64 finalizer spreads the seed first. */
  def scramble(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def sameClip(a: Clip, b: Clip): Boolean =
    a.clip_id == b.clip_id && java.util.Arrays.equals(a.bytes, b.bytes) && a.sr_hz == b.sr_hz &&
      a.dur_ms == b.dur_ms && a.codec == b.codec && a.transcript == b.transcript
}

/** The clip spec re-checked on one instance, without Spark: the scalar
  * properties through the single-instance interpreter, the audio keywords
  * through the codec and `Pcm.snrVsReference`. Labels match violation rows:
  * the instance path for property checks, the keyword for root checks. */
object IndependentClipCheck {
  private lazy val props: Map[String, Spec] = JsonValue.parse(AudioChecks.clipSpecJson) match {
    case o: JObj => o.fields.collectFirst { case ("properties", p: JObj) => p.fields }.get
      .map { case (k, v) => k -> Spec.parse(v) }.toMap
    case _ => Map.empty
  }
  private lazy val prepared = props.map { case (k, s) => k -> Interp.prepare(s) }

  def failures(c: Clip): Set[String] = {
    val out = Set.newBuilder[String]
    // the engine's NULL mapping: a NULL column is the JSON value null for
    // property keywords and an absent property for `required`
    Seq("clip_id" -> c.clip_id, "sr_hz" -> c.sr_hz, "dur_ms" -> c.dur_ms, "codec" -> c.codec,
      "transcript" -> c.transcript).foreach { case (k, v) =>
        val jv = v match {
          case null => JNull
          case s: String => JStr(s)
          case i: Int => JNum(BigDecimal(i))
        }
        if (!prepared(k).isValid(jv)) out += s"/$k"
    }
    if (Seq(c.clip_id, c.bytes, c.codec, c.transcript).contains(null)) out += "required"
    val bytesPerSample = c.codec match {
      case "pcm16" | "dpcm16" => Some(2L)
      case "ulaw8" => Some(1L)
      case _ => None
    }
    bytesPerSample.filter(_ => c.bytes != null).foreach { bps =>
      if (c.bytes.length != Math.floorDiv(c.sr_hz.toLong * c.dur_ms, 1000L) * bps)
        out += "x-audio-bytesConsistent"
      else {
        val snr = Pcm.decode(c.codec, c.bytes)
          .fold(Double.NaN)(d => Pcm.snrVsReference(c.clip_id, c.sr_hz, c.dur_ms, d))
        if (snr.isNaN || snr < AudioChecks.MinSnrDb) out += "x-audio-snr"
      }
    }
    if (c.clip_id != null && c.transcript != Pcm.expectedTranscript(c.clip_id)) out += "x-audio-transcript"
    out.result()
  }
}

/** Read path: the full clip suite over one multi-file parquet table. Each
  * iteration compiles nothing new. */
final class ClipsSuite(opts: Opts) extends ClipsBase(opts) {
  val name = "clips_suite"
  val n: Long = if (opts.tiny) 400 else 25000
  val files = if (opts.tiny) 4 else 16
  val corruptionRate = 0.01
  def genSeed: Long = ClipsBase.scramble(opts.seed)

  def iterate(ctx: Ctx): Option[String] = {
    val df = read(ctx)
    val validated = ctx.span("run.withValidation") { plan.withValidation(df) }
    val r = ctx.action("run.agg") { ClipsSuite.suiteAgg(plan, df, validated).collect()(0) }
    val dups = ctx.action("table.uniquenessViolations") {
      TableChecks.uniquenessViolations(df, Seq("clip_id")).collect()
    }.map(r => r.getString(0) -> r.getLong(1)).toMap
    lastViolations = r.getLong(2)
    lastDupKeys = dups.size
    if (r.getLong(0) != n) Some(s"rows ${r.getLong(0)} != $n")
    else if (r.getLong(1) != expInvalid) Some(s"invalid ${r.getLong(1)} != corrupt $expInvalid")
    else if (lastViolations < expInvalid) Some(s"violations $lastViolations < invalid rows")
    else checkDups(dups)
  }

  def layers(ctx: Ctx, loop: Seq[Span]): Map[String, Double] = {
    val df = ctx.spark.read.parquet(table)
    clipsLadder(ctx) ++ auditRung(ctx) ++ Map(
      "audio.snr_sites" -> Ladder.countNodes(ClipsSuite.suiteAgg(plan, df), classOf[AudioSnr]).toDouble,
      "run.invalid_frac" -> corrupt.size.toDouble / n,
      "run.violations_per_row" -> lastViolations.toDouble / n,
      "table.dup_keys" -> lastDupKeys.toDouble)
  }

  /** The write path as a rung: checkpointed runs and resumes over their own
    * 25%-corrupt multi-file table, one warm pass and then two timed. */
  private def auditRung(ctx: Ctx): Map[String, Double] = {
    val audit = new ClipsAudit(opts)
    audit.prepare(ctx)
    audit.compile(ctx)
    val passes = (0 to 2).map { k =>
      ctx.ops(s"audit rung #$k")(ctx.span("ladder.audit")(audit.iterate(ctx)))
      audit.cleanup(ctx)
      ctx.tracer.spans.findLast(_.name == "ladder.audit").get
    }
    audit.layers(ctx, passes.drop(1))
  }
}

object ClipsSuite {
  /** rows / invalid rows / violations in one aggregation. */
  def suiteAgg(plan: ValidationPlan, df: DataFrame, validated: DataFrame = null): DataFrame = {
    val v = if (validated == null) plan.withValidation(df) else validated
    v.agg(
      count(lit(1)).as("rows"),
      sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid"),
      sum(size(col("violations"))).as("violations"))
  }
}

/** Write path: a checkpointed run over small files (one file = one unit)
  * into a fresh audit directory, then a resume call on it. Each unit costs
  * ~0.7 s of per-unit jobs and commits whatever its size, so it runs as a
  * rung of the clips_suite traced run rather than as a timed workload. */
final class ClipsAudit(opts: Opts) extends ClipsBase(opts) {
  val name = "clips_audit"
  val n: Long = if (opts.tiny) 200 else 2000
  val files = 4
  val corruptionRate = 0.25
  /** A seed stream apart from clips_suite's. */
  def genSeed: Long = ClipsBase.scramble(opts.seed + 0x5eedaL)
  private var iteration = 0
  private def auditRoot: Path = opts.outDir.resolve("audit")
  private var lastUnits = 0

  def iterate(ctx: Ctx): Option[String] = {
    iteration += 1
    val dir = auditRoot.resolve(s"it$iteration").toString
    val first = ctx.span("audit.run") {
      CheckpointedRun.run(ctx.spark, table, plan, dir, "bench", Seq("clip_id"))
    }
    val again = ctx.span("audit.resume") {
      CheckpointedRun.run(ctx.spark, table, plan, dir, "bench", Seq("clip_id"))
    }
    lastViolations = first.violations
    lastUnits = first.units.size
    if (first.rows != n) Some(s"rows ${first.rows} != $n")
    else if (first.units.size != files) Some(s"${first.units.size} units, expected $files")
    else if (first.invalidRows != expInvalid) Some(s"invalid ${first.invalidRows} != corrupt $expInvalid")
    else if (first.violations < expInvalid) Some(s"violations ${first.violations} < invalid rows")
    else if (first.resumedUnits != 0) Some(s"fresh run resumed ${first.resumedUnits} units")
    else if (again.resumedUnits != files) Some(s"resume skipped ${again.resumedUnits} of $files units")
    else if ((again.rows, again.invalidRows, again.violations) != (first.rows, first.invalidRows, first.violations))
      Some("resumed totals differ from the run's")
    else None
  }

  override def cleanup(ctx: Ctx): Unit = Fixtures.deleteTree(auditRoot)

  /** Audit-layer metrics over the passes in `loop`. */
  def layers(ctx: Ctx, loop: Seq[Span]): Map[String, Double] = {
    val all = loop.flatMap(ctx.tracer.subtree)
    val runs = all.filter(_.name == "audit.run")
    val resumes = all.filter(_.name == "audit.resume")
    val t = ctx.totals(runs)
    val df = ctx.spark.read.parquet(table)
    Map(
      "audit.ms_per_unit" -> Stats.median(runs.map(_.seconds)) * 1e3 / lastUnits,
      "audit.jobs_per_unit" -> t.jobs.toDouble / (runs.size * lastUnits),
      "audit.resume_ms" -> Stats.median(resumes.map(_.seconds)) * 1e3,
      "audit.bytes_per_row" -> t.outputBytes.toDouble / (runs.size * n),
      "audit.core_busy_frac" -> t.runS / (runs.map(_.seconds).sum * ctx.opts.cores),
      "audit.violations_per_row" -> lastViolations.toDouble / n,
      "audio.snr_sites.violations" ->
        Ladder.countNodes(plan.violations(df, Seq("clip_id")), classOf[AudioSnr]).toDouble)
  }
}
