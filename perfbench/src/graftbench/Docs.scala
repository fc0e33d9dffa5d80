package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.audio.{AudioChecks, Clip, ClipsGen, Pcm}
import graft.functions.exprs.content_schema_valid
import graft.spec.{Interp, JsonValue, Spec, Streaming}

/** The reference's headline documents at table scale: row-unique Recursive
  * docs (4.7 KB, recursive `$ref`s) and CITM catalogs (501 KB). A seeded
  * share is schema-invalid; another share is truncated, which
  * `content_schema_valid` accepts (well-formedness belongs to
  * `contentMediaType`), so the expected valid count is all rows but the
  * schema-invalid ones. */
final class JsonDocs(opts: Opts) extends Workload {
  val name = "json_docs"
  val nRec: Long = if (opts.tiny) 300 else 20000
  val nCitm: Long = if (opts.tiny) 8 else 120
  val files = if (opts.tiny) 2 else 8
  val InvalidPerMille = 50
  val TruncatedPerMille = 30
  def rows: Long = nRec + nCitm

  private var dir: Path = _
  private var expValid = Map.empty[String, Long]
  private var shares = Map.empty[String, String]
  private var prepared = Map.empty[String, Interp.Prepared]
  private val schemas = Map("recursive" -> "recursive_schema.json", "citm" -> "citm_catalog_schema.json")
  override def inputRecord = Map("recursive_docs" -> nRec.toString, "citm_docs" -> nCitm.toString,
    "files_per_table" -> files.toString) ++ shares

  private def u(salt: Int, mod: Long): Column =
    pmod(xxhash64(col("id"), lit(opts.seed), lit(salt)), lit(mod))
  /** 0 = valid, 1 = schema-invalid, 2 = truncated. */
  private def kind: Column =
    when(u(1, 1000) < InvalidPerMille, 1).when(u(1, 1000) < InvalidPerMille + TruncatedPerMille, 2).otherwise(0)

  private def docs(valid: Column, invalid: Column): Column = {
    val cut = lit(1) + pmod(xxhash64(col("id"), lit(opts.seed), lit(2)), length(valid) - 1).cast("int")
    when(kind === 1, invalid).when(kind === 2, valid.substr(lit(1), cut))
      .otherwise(valid)
  }

  def prepare(ctx: Ctx): Unit = {
    dir = Fixtures.cached(ctx, s"$name-s${opts.seed}-n${nRec}x$nCitm-f$files") { d =>
      val spark = ctx.spark
      val rec = Fixtures.resource("recursive_instance.json")
      val recValid = regexp_replace(lit(rec), lit("\"term1\""), concat(lit("\"term"), col("id").cast("string"), lit("\"")))
      // a number where the first tuple item must be a string
      val recInvalid = regexp_replace(lit(rec), lit("\"term1\""), col("id").cast("string"))
      val citm = Fixtures.resource("citm_catalog.json")
      val citmValid = regexp_replace(lit(citm), lit("Salle Pleyel"), concat(lit("Salle "), col("id").cast("string")))
      // a number where every event's subjectCode must be null
      val citmInvalid = regexp_replace(citmValid, lit("\"subjectCode\":null"),
        concat(lit("\"subjectCode\":"), col("id").cast("string")))
      for ((t, n, v, i) <- Seq(("recursive", nRec, recValid, recInvalid), ("citm", nCitm, citmValid, citmInvalid))) {
        spark.range(0L, n, 1L, files).select(docs(v, i).as("doc")).write.parquet(d.resolve(t).toString)
        val counts = spark.range(0L, n, 1L, files).select(kind.as("k")).groupBy("k").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        Fixtures.writeLines(d.resolve(s"$t.expect"), Seq(
          s"valid=${n - counts.getOrElse(1, 0L)}", s"invalid=${counts.getOrElse(1, 0L)}",
          s"truncated=${counts.getOrElse(2, 0L)}"))
      }
    }
    val plant = if (opts.plantWrong) 1L else 0L
    expValid = schemas.keys.map { t =>
      val p = Fixtures.readProps(dir.resolve(s"$t.expect"))
      shares ++= Map(s"${t}_invalid" -> p("invalid"), s"${t}_truncated" -> p("truncated"))
      t -> (p("valid").toLong + plant)
    }.toMap
  }

  def compile(ctx: Ctx): Unit =
    prepared = schemas.map { case (t, s) =>
      t -> ctx.span("spec.prepare") { Interp.prepare(Spec.parseJson(Fixtures.resource(s))) }
    }

  private def table(ctx: Ctx, t: String): DataFrame = ctx.span("spark.read") {
    ctx.spark.read.parquet(dir.resolve(t).toString)
  }

  def iterate(ctx: Ctx): Option[String] =
    Seq("recursive", "citm").flatMap { t =>
      val valid = ctx.action(s"functions.content_schema_valid.$t") {
        table(ctx, t).where(content_schema_valid(col("doc"), prepared(t))).count()
      }
      if (valid != expValid(t)) Some(s"$t: $valid valid, generated ${expValid(t)}") else None
    }.headOption

  def layers(ctx: Ctx, loop: Seq[Span]): Map[String, Double] = {
    val ts = Seq("recursive", "citm")
    val (scan, _) = Ladder.rung(ctx, "scan") { ts.foreach(t => Ladder.noop(table(ctx, t))) }
    val (content, _) = Ladder.rung(ctx, "content_schema_valid") {
      ts.foreach(t => Ladder.noop(table(ctx, t).withColumn("_ok", content_schema_valid(col("doc"), prepared(t)))))
    }
    val invalid = ts.map(t => shares(s"${t}_invalid").toLong).sum
    Map(
      "spark.scan_s" -> scan,
      "functions.content_schema_s" -> (content - scan),
      "ladder.self_sum_s" -> content,
      "functions.docs_invalid_frac" -> invalid.toDouble / rows) ++ keywordsRung(ctx)
  }

  /** The keyword families as a rung: the orders workload's iteration, one
    * warm pass and then two timed, each checked against DuckDB. */
  private def keywordsRung(ctx: Ctx): Map[String, Double] = {
    val orders = new OrdersKeywords(opts)
    orders.prepare(ctx)
    orders.compile(ctx)
    val passes = (0 to 2).map { k =>
      ctx.ops(s"keywords rung #$k")(ctx.span("ladder.keywords")(orders.iterate(ctx)))
      ctx.tracer.spans.findLast(_.name == "ladder.keywords").get
    }
    orders.layers(ctx, Nil) + ("run.keywords_iteration_s" -> Stats.median(passes.drop(1).map(_.seconds)))
  }
}

/** The keyword families the clip spec lacks, run as a rung of the json_docs
  * traced run: the `q_validate_orders`, `q_validate_nested`,
  * `q_validate_combinators` and `q_validate_formats` specs over seeded
  * `orders`, `lineitem` and `events` tables with the sizes and column
  * distributions of TESTDATA sf0.1 (measured with DuckDB; see the README),
  * so each check fails on the same share of rows as there.
  * Expected per-check counts come from DuckDB running
  * `SparkEntry.oracleSql` over the same parquet files, once per run. */
final class OrdersKeywords(opts: Opts) extends Workload {
  val name = "orders_keywords"
  val nOrders: Long = if (opts.tiny) 300 else 150000
  val nLineitem: Long = 4 * nOrders
  val nEvents: Long = nOrders * 2 / 3
  val nUsers: Long = math.max(1L, nEvents * 15 / 1000)
  val files = if (opts.tiny) 1 else 4
  val Queries = Seq("q_validate_orders", "q_validate_nested", "q_validate_combinators", "q_validate_formats")
  def rows: Long = 2 * nOrders + nLineitem + nEvents

  private var dir: Path = _
  private var expected = Map.empty[String, Set[String]]
  private var lastViolations = 0L
  override def inputRecord = Map("orders" -> nOrders.toString, "lineitem" -> nLineitem.toString,
    "events" -> nEvents.toString, "users" -> nUsers.toString, "files_per_table" -> files.toString)

  private def u(salt: Int, mod: Long): Column =
    pmod(xxhash64(col("id"), lit(opts.seed), lit(salt)), lit(mod))
  private def pick(salt: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))

  private def generate(ctx: Ctx, d: Path): Unit = {
    val spark = ctx.spark
    def write(df: DataFrame, t: String) = df.write.parquet(d.resolve(s"$t.parquet").toString)
    // sf0.1: keys from 0, a tenth as many customers as orders, no NULLs,
    // status, priority, flags, quantity uniform over their values, price
    // uniform over [1000, 500000], discount and tax uniform then rounded
    write(spark.range(0L, nOrders, 1L, files).select(
      col("id").as("o_orderkey"),
      u(2, nOrders / 10).as("o_custkey"),
      pick(3, "O", "F", "P").as("o_orderstatus"),
      round(lit(1000.0) + u(6, 49900001L).cast("double") / 100.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + u(7, 2405) * 86400).as("o_orderdate"),
      pick(9, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")),
      "orders")
    write(spark.range(0L, nLineitem, 1L, files).select(
      // a uniformly drawn order: Poisson(4) lines per order, as in sf0.1
      u(10, nOrders).as("l_orderkey"),
      (u(12, 50) + 1).cast("double").as("l_quantity"),
      round(u(13, 100001).cast("double") / 1e6, 2).as("l_discount"),
      round(u(14, 80001).cast("double") / 1e6, 2).as("l_tax"),
      pick(15, "A", "N", "R").as("l_returnflag"),
      pick(16, "F", "O").as("l_linestatus")),
      "lineitem")
    write(spark.range(0L, nEvents, 1L, files).select(col("id").as("event_id"), u(21, nUsers).as("user_id")),
      "events")
  }

  /** Runs `SparkEntry.oracleSql` in DuckDB over the fixture; returns the
    * expected lines per query. */
  private def oracle(ctx: Ctx): Map[String, Set[String]] = {
    val work = Files.createDirectories(opts.outDir.resolve("oracle"))
    Files.writeString(work.resolve("oracle_sql.json"),
      Json.obj(Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    val p = new ProcessBuilder(opts.python, sys.env("GRAFTBENCH_ORACLE"), dir.toString, work.toString)
      .inheritIO().start()
    require(p.waitFor() == 0, "DuckDB oracle failed")
    Fixtures.readLines(work.resolve("expected.txt")).map(_.split('\t'))
      .collect { case Array(q, line) => q -> line }.groupBy(_._1).map { case (q, ls) => q -> ls.map(_._2).toSet }
  }

  def prepare(ctx: Ctx): Unit = {
    dir = Fixtures.cached(ctx, s"$name-s${opts.seed}-n$nOrders-f$files")(generate(ctx, _))
    expected = oracle(ctx)
    if (opts.plantWrong) {
      val q = Queries.last
      val (k, v) = expected(q).map(l => l.substring(0, l.lastIndexOf('|')) -> l.substring(l.lastIndexOf('|') + 1)).head
      expected += q -> (expected(q) - s"$k|$v" + s"$k|${v.toLong + 1}")
    }
  }

  def compile(ctx: Ctx): Unit = ()

  private def result(ctx: Ctx, q: String): Set[String] =
    if (q == "q_validate_orders")
      ctx.action(s"run.violations.$q") {
        SparkEntry.queries(q)(ctx.spark, dir.toString)
          .groupBy("keyword", "schema_path").agg(count(lit(1)), sum(col("o_orderkey"))).collect()
      }.map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|${r.getLong(3)}").toSet
    else
      ctx.action(s"run.checkStats.$q") { SparkEntry.queries(q)(ctx.spark, dir.toString).collect() }
        .map(r => s"${r.getAs[String]("keyword")}|${r.getAs[String]("schema_path")}|${r.getAs[Long]("violations")}")
        .toSet

  def iterate(ctx: Ctx): Option[String] =
    Queries.flatMap { q =>
      val got = result(ctx, q)
      if (q == Queries.head) lastViolations = got.toSeq.map(l => l.split('|')(2).toLong).sum
      if (got != expected.getOrElse(q, Set.empty))
        Some(s"$q: ${(got diff expected(q)).take(3)} vs oracle ${(expected(q) diff got).take(3)}")
      else None
    }.headOption

  def layers(ctx: Ctx, loop: Seq[Span]): Map[String, Double] = {
    def t(name: String) = ctx.spark.read.parquet(dir.resolve(s"$name.parquet").toString)
    val (scan, _) = Ladder.rung(ctx, "scan") { Seq("orders", "lineitem", "events").foreach(n => Ladder.noop(t(n))) }
    val (checks, _) = Ladder.rung(ctx, "battery") {
      (Queries.tail :+ "q_verdict_orders").foreach(q => SparkEntry.queries(q)(ctx.spark, dir.toString).collect())
    }
    val (full, _) = Ladder.rung(ctx, "violations") { Queries.foreach(result(ctx, _)) }
    val verdict = SparkEntry.queries("q_verdict_orders")(ctx.spark, dir.toString).collect()(0)
    Map(
      "run.battery_s" -> (checks - scan),
      "run.violations_s" -> (full - checks),
      "run.invalid_frac" -> verdict.getAs[Long]("n_invalid").toDouble / verdict.getAs[Long]("n_rows"),
      "run.violations_per_row" -> lastViolations.toDouble / nOrders)
  }
}

/** Single-thread layer probes, the same on every workload: the audio
  * kernel, the JSON lexer/parser/validator per document shape, validator
  * preparation and plan compilation. */
object Probes {
  /** Median microseconds per unit over 5 rounds of `roundS`, after one warm round. */
  def usPer(units: Int, roundS: Double = 0.06)(body: => Unit): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var k = 0
      while (System.nanoTime() - t0 < roundS * 1e9) { body; k += 1 }
      (System.nanoTime() - t0) / 1e3 / (k.toDouble * units)
    }
    round()
    Stats.median((1 to 5).map(_ => round()))
  }

  def all(ctx: Ctx): Map[String, Double] = {
    val clips = (0L until 64L).map(i => ClipsGen.clipAt(i, ctx.opts.seed, 0.0, 200, 200))
    val decoded = clips.map(c => (c, Pcm.decode(c.codec, c.bytes).get))
    val kernel = ctx.span("audio.snrVsReference") {
      usPer(decoded.size) { decoded.foreach { case (c, d) => Pcm.snrVsReference(c.clip_id, c.sr_hz, c.dur_ms, d) } }
    }
    val docs = Map(
      "recursive" -> (Fixtures.resource("recursive_instance.json"), Fixtures.resource("recursive_schema.json")),
      "citm" -> (Fixtures.resource("citm_catalog.json"), Fixtures.resource("citm_catalog_schema.json")))
    val spec = docs.toSeq.flatMap { case (shape, (text, schema)) =>
      val p = Interp.prepare(Spec.parseJson(schema))
      require(p.isValidText(text), s"$shape document must validate")
      Seq(
        s"spec.grammar_us_per_doc.$shape" -> ctx.span("spec.grammarOk") { usPer(1)(Streaming.grammarOk(text)) },
        s"spec.stream_us_per_doc.$shape" -> ctx.span("spec.isValidText") { usPer(1)(p.isValidText(text)) },
        s"spec.parse_us_per_doc.$shape" -> ctx.span("spec.JsonValue.parse") { usPer(1)(JsonValue.parse(text)) })
    }
    val prepareMs = docs.values.map { case (_, schema) =>
      ctx.span("spec.prepare") { usPer(1)(Interp.prepare(Spec.parseJson(schema))) } / 1e3
    }.sum
    val schema = Encoders.product[Clip].schema
    val planMs = ctx.span("compile.fullPlan") { usPer(1)(AudioChecks.fullPlan(schema)) } / 1e3
    Map(
      "audio.kernel_us_per_clip" -> kernel,
      "spec.prepare_ms" -> prepareMs,
      "compile.plan_ms" -> planMs,
      "compile.checks" -> AudioChecks.fullPlan(schema).checks.size.toDouble) ++ spec
  }
}
