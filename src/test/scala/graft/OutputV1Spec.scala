package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.run.Validation
import graft.spec.{Interp, JsonValue, Spec}

/** JSON-Schema Output v1 conformance (the `evaluate` verb +
  * `iter_annotations`, `evaluation.rs:212-560`): every document our
  * engine renders (flag / list / hierarchical) must validate against the
  * OFFICIAL output schema — vendored verbatim from json-schema.org via the
  * reference's test corpus (`tests/output_spec_schema.json`,
  * `tests/output_suite.rs` analog). The validation is performed by our own
  * reference-faithful interpreter. */
class OutputV1Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val outputSchema: Spec = {
    val in = getClass.getResourceAsStream("/output_spec_schema.json")
    Spec.parse(JsonValue.parse(new String(in.readAllBytes(), "UTF-8")))
  }

  val specJson = """{
    "properties": {
      "a": {"minimum": 0},
      "b": {"minLength": 2, "format": "hostname"},
      "j": {"contentMediaType": "application/json"}
    },
    "required": ["a"],
    "x-custom-note": {"source": "unit-test"}
  }"""

  def df = Seq(
    (1, "abc", """{"k":1}"""),
    (-1, "x", "{:}"),
  ).toDF("a", "b", "j")

  test("flag/list/hierarchical documents validate against the official output schema") {
    val plan = Validation.compile(specJson, df.schema)
    for (fmt <- Seq("flag", "list", "hierarchical")) {
      val docs = df.select(to_json(plan.outputV1(fmt)).as("doc"))
        .as[String].collect()
      docs.foreach { d =>
        val parsed = JsonValue.parse(d)
        assert(Interp.isValid(outputSchema, parsed), s"$fmt output failed the official schema:\n$d")
      }
    }
  }

  test("output invariants: errors only on invalid units, annotations only on valid rows") {
    val plan = Validation.compile(specJson, df.schema)
    val docs = df.select(to_json(plan.outputV1("list")).as("doc")).as[String].collect()
    // row 0 is fully valid: no "errors" key anywhere, annotations present
    assert(!docs(0).contains("\"errors\""), docs(0))
    assert(docs(0).contains("\"annotations\""), docs(0))
    assert(docs(0).contains("\"format\"") && docs(0).contains("x-custom-note"), docs(0))
    // row 1 fails minimum + minLength (+ json media type): errors present
    assert(docs(1).contains("\"errors\""), docs(1))
    assert(docs(1).contains("minimum"), docs(1))
  }

  test("annotation-only plan (zero checks) still renders Output v1") {
    val df2 = Seq("x").toDF("s")
    val plan = Validation.compile("""{"properties":{"s":{"x-note": 1}}}""", df2.schema)
    assert(plan.checks.isEmpty && plan.annotations.nonEmpty)
    val doc = df2.select(to_json(plan.outputV1("list")).as("d")).as[String].collect()(0)
    assert(Interp.isValid(outputSchema, JsonValue.parse(doc)), doc)
    assert(doc.contains("x-note"))
  }

  test("iterAnnotations emits one row per active annotation") {
    val plan = Validation.compile(specJson, df.schema)
    val rows = plan.iterAnnotations(df, Seq("a")).collect()
    // valid row (a=1): format + contentMediaType + x-custom-note are active
    val forValid = rows.filter(_.getInt(0) == 1).map(r =>
      (r.getAs[String]("keyword"), r.getAs[String]("schema_path"))).toSet
    assert(forValid.contains(("format", "/properties/b/format")), forValid.toString)
    assert(forValid.contains(("contentMediaType", "/properties/j/contentMediaType")))
    assert(forValid.contains(("x-custom-note", "/x-custom-note")))
    // invalid row: b fails minLength → its format annotation is dropped
    // (annotations only from valid subschemas)
    val forInvalid = rows.filter(_.getInt(0) == -1).map(_.getAs[String]("keyword")).toSet
    assert(!forInvalid.contains("format"), forInvalid.toString)
  }

  test("iterAnnotations builds the annotations array once: no filter copies it") {
    // without the barrier, InferFiltersFromGenerate adds size(annotations) > 0
    // and pushdown inlines the whole annotations expression (sibling pattern
    // check included) into a Filter below the projection
    val frame = spark.range(20).select(col("id").cast("string").as("s"))
    val plan = Validation.compile(
      """{"properties":{"s":{"pattern":"^[0-9]+$","x-note":1}}}""", frame.schema)
    val q = plan.iterAnnotations(frame, Seq("s"))
    val opt = q.queryExecution.optimizedPlan
    val copies = opt.collect { case f: Filter if f.condition.toString.contains("x-note") => f }
    assert(copies.isEmpty, opt.toString)
    assert(q.count() == 20)
  }
}
