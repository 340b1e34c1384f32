package graft

import org.apache.spark.sql.functions._

/** Span-semantics golden test (SURVEY.md §5.2 #2): ports the reference's
  * executable example `/root/reference/verify/examples/schemars_json.rs:50-75`
  * — the value `{ some_str: …, some_inner: { inner_value, inner_values },
  * unexpected_property }` with expected violation spans
  * `some_inner.inner_value`, `some_inner.inner_values.1`,
  * `unexpected_property`, and the missing-required error.
  *
  * Mapping note: the reference validates one anonymous root object, so its
  * missing-required span is the EMPTY root path; our rows are the root
  * object and columns its properties, so the engine reports the richer
  * `some_int` path for the same error. Dotted nesting and array-index
  * segments match `Keys::dotted` (span.rs:101-103) exactly.
  */
case class GoldenInner(inner_value: Double, inner_values: Seq[String])
case class GoldenDoc(doc_id: String, some_str: String, some_int: Option[Int],
    some_inner: GoldenInner, props: Map[String, Int], v: Seq[Double] = Seq(1.0))

class SpanGoldenSpec extends SparkSpec {
  import spark.implicits._

  test("golden: the four reference violation spans") {
    val df = Seq(
      GoldenDoc("row1", "not empty", None,
        GoldenInner(7.0, Seq("value", "2")),
        Map("unexpected_property" -> 2)),
      // one row per remaining per-element / per-key span builder
      GoldenDoc("elemPattern", "x", Some(1), GoldenInner(1.0, Seq("value", "Bad!")), Map()),
      GoldenDoc("elemLength", "x", Some(1), GoldenInner(1.0, Seq("toolong", "value")), Map()),
      GoldenDoc("keyPattern", "x", Some(1), GoldenInner(1.0, Seq("value")), Map("Bad-Key" -> 1)),
      GoldenDoc("keyLength", "x", Some(1), GoldenInner(1.0, Seq("value")),
        Map("a_very_long_property_name" -> 1)),
      // NaN is outside every range: the gate and the span builder agree
      GoldenDoc("elemNaN", "x", Some(1), GoldenInner(1.0, Seq("value")), Map(),
        Seq(1.0, Double.NaN, 3.0))).toDF()

    val suite = ConstraintSuite("doc_id", Seq(
      // enum violation at some_inner.inner_value (reference: enum [1,"value"])
      EnumIn("some_inner.inner_value", Seq(1.0)),
      // per-item type/enum violation at some_inner.inner_values.1
      ArrayElemIn("some_inner.inner_values", Seq("value")),
      // additionalProperties: false ⇒ UnknownProperty at unexpected_property
      MapKeysIn("props", Seq("expected_key")),
      // required some_int missing (reference span: empty root)
      NonNull("some_int"),
      ArrayElemPattern("some_inner.inner_values", "^[a-z0-9]+$"),
      ArrayElemLength("some_inner.inner_values", max = Some(5)),
      MapKeyPattern("props", "^[a-z_]+$"),
      MapKeyLength("props", max = Some(20)),
      ArrayElemRange("v", 0, 10),
      ArrayTailRange("v", 1, 0, 10)))

    val compiled = suite.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val vios = compiled.run(df).violations
    val paths = vios.filter($"doc_id" === "row1").select("path").as[String].collect().toSet
    assert(paths === Set(
      "some_inner.inner_value",
      "some_inner.inner_values.1",
      "props.unexpected_property",
      "some_int"))
    val spans = vios
      .filter($"constraint_id".rlike("^(elemPattern|elemLength|mapKeyPattern|mapKeyLength|elemRange|elemTail)"))
      .select("doc_id", "constraint_id", "path", "bound", "actual").as[(String, String, String, String, String)]
      .collect()
    assert(spans.length === 6)
    assert(spans.toSet === Set(
      ("elemPattern", "elemPattern(some_inner.inner_values)", "some_inner.inner_values.1",
        "elem pattern ^[a-z0-9]+$", "Bad!"),
      ("elemLength", "elemLength(some_inner.inner_values)", "some_inner.inner_values.0",
        "elem length in [0,5]", "toolong"),
      ("keyPattern", "mapKeyPattern(props)", "props.Bad-Key", "key pattern ^[a-z_]+$", "Bad-Key"),
      ("keyLength", "mapKeyLength(props)", "props.a_very_long_property_name",
        "key length in [0,20]", "25"),
      ("elemNaN", "elemRange(v)", "v.1", "elem in [0.0,10.0]", "NaN"),
      ("elemNaN", "elemTail(v.1+)", "v.1", "elem@>=1 in [0.0,10.0]", "NaN")))
  }
}
