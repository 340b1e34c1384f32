package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of one validation run.
  *
  * `annotated` is the lazily-defined single-pass projection every downstream
  * frame derives from; callers that need both `violations` and `report` from
  * one physical scan should `persist()` it (the runner does not force a
  * materialization policy — at 10^12 rows the caller decides cache vs
  * two pushed-down columnar scans).
  */
final case class ValidationResult(
    annotated: DataFrame,
    violations: DataFrame,
    report: DataFrame)

/** A compiled suite: the executable form.
  *
  * Execution model (SURVEY.md §3.4 / §4.3):
  *  - S1 (narrow, no shuffle): one wide `select` evaluates every row-local
  *    PREDICATE (boolean flags) plus the stable bucket id
  *    `pmod(xxhash64(key), nBuckets)`. Violation CONSTRUCTORS (per-element
  *    spans via higher-order functions, which are CodegenFallback) are NOT
  *    in this projection — they would evict the whole stage from whole-stage
  *    codegen, making every clean row pay interpreted evaluation. They live
  *    in a second projection gated behind `filter(!allOk)`, so span
  *    construction is pay-per-defect at the PLAN level: the scan + flags
  *    stage stays codegen'd and only failing rows reach the interpreted
  *    span expressions.
  *  - per-bucket report: one two-phase hash aggregation keyed by bucket.
  *  - S2/S3: each AggConstraint contributes its own shuffle (uniqueness
  *    groupBy / referential anti-join / drift agg); results union in.
  *
  * Buckets are hash-of-key, NOT `spark_partition_id()`, so reports are
  * bit-identical at any parallelism (N vs 4N executors, north rule).
  */
final case class CompiledSuite(
    keyCol: String,
    rowChecks: Seq[RowConstraint],
    aggChecks: Seq[AggConstraint],
    nBuckets: Int) {

  import Constraints._

  val BUCKET = "__bucket"
  private def okCol(i: Int) = s"__ok_$i"

  def bucketOf(key: Column): Column = pmod(xxhash64(key), lit(nBuckets.toLong)).cast(IntegerType)

  /** All row-local flags pass (defined over an annotated frame). */
  private[graft] def allOkCol: Column =
    rowChecks.indices.map(i => col(okCol(i))).reduceOption(_ && _).getOrElse(lit(true))

  /** Concatenated violation array (accumulate-all-errors: every check
    * contributes independently, reference errors.rs:411-415). References the
    * ORIGINAL input columns, so it can be evaluated over any frame that
    * retains them — the defect-only frame in [[rowViolations]]. */
  private[graft] def viosOf: Column =
    rowChecks.map(_.vios).reduceOption(concat(_, _)).getOrElse(noVios)

  /** S1: the single-pass projection — bucket id + one boolean per check.
    * Deliberately flags-only: predicates are codegen-able (custom
    * expressions implement doGenCode), so this stage stays inside
    * whole-stage codegen; span constructors would evict it (see class doc). */
  def annotate(df: DataFrame): DataFrame = {
    val flags = rowChecks.zipWithIndex.map { case (c, i) =>
      coalesce(c.pred, lit(false)).as(okCol(i))
    }
    df.select(
      (df.columns.map(col).toSeq :+
        bucketOf(col(keyCol)).as(BUCKET)) ++
        flags: _*)
  }

  /** Row-local violations with key + bucket attached, one row per violation
    * entry. The violation-array expressions run ONLY on rows that failed at
    * least one flag, so span construction (interpreted HOFs) is proportional
    * to the defect rate, not the corpus (SURVEY.md §7.4). */
  def rowViolations(annotated: DataFrame): DataFrame =
    annotated
      .filter(!allOkCol)
      .select(col(keyCol).cast(StringType).as("doc_id"), col(BUCKET).as("bucket_id"),
        explode(viosOf).as("v"))
      .select(
        col("v.constraint_id"), col("v.path"), col("v.bound"), col("v.actual"),
        col("doc_id"), col("bucket_id"))

  /** Cross-row violations (uniqueness / referential / drift). AggConstraints
    * emit the key in its NATIVE type; the bucket is computed before the
    * string cast so it matches the report's bucket for the same value. */
  def aggViolations(df: DataFrame): Option[DataFrame] =
    aggChecks.map { a =>
      a.run(df).select(
        col("constraint_id"), col("path"), col("bound"), col("actual"),
        col("key").cast(org.apache.spark.sql.types.StringType).as("doc_id"),
        bucketOf(col("key")).as("bucket_id"))
    }.reduceOption(_.unionByName(_))

  /** Per-bucket pass/fail + per-check fail counts + optional numeric metrics
    * (e.g. "n_tok" -> min/max/sum). One two-phase hash agg. */
  def bucketReport(annotated: DataFrame, metrics: Map[String, Column] = Map.empty): DataFrame = {
    val failCounts = rowChecks.zipWithIndex.map { case (c, i) =>
      sum((!col(okCol(i))).cast(LongType)).as(s"__fail_$i")
    }
    val metricAggs = metrics.toSeq.map { case (name, c) => c.as(name) }
    val aggd = annotated
      .withColumn("__all_ok", allOkCol)
      .groupBy(col(BUCKET).as("bucket_id"))
      .agg(
        count(lit(1)).as("rows"),
        (sum(col("__all_ok").cast(LongType)).as("pass") +: failCounts) ++ metricAggs: _*)
    val ids = rowChecks.map(c => lit(c.id))
    val cnts = rowChecks.indices.map(i => col(s"__fail_$i"))
    val withMap =
      if (rowChecks.isEmpty) aggd.withColumn("fail_by_check",
        map_from_arrays(array().cast(ArrayType(StringType)), array().cast(ArrayType(LongType))))
      else aggd.withColumn("fail_by_check", map_from_arrays(array(ids: _*), array(cnts: _*)))
    withMap
      .withColumn("fail", col("rows") - col("pass"))
      .select(Seq("bucket_id", "rows", "pass", "fail", "fail_by_check").map(col) ++
        metrics.keys.toSeq.map(col): _*)
  }

  /** Full run. `persistAnnotated` caches S1's output so violations + report
    * share one scan (right for bench/local; at prod scale prefer two
    * columnar scans or write-through). */
  def run(df: DataFrame, metrics: Map[String, Column] = Map.empty,
      persistAnnotated: Boolean = false): ValidationResult = {
    val ann0 = annotate(df)
    val ann = if (persistAnnotated) ann0.persist() else ann0
    val rowV = rowViolations(ann)
    val vio = aggViolations(df).map(rowV.unionByName(_)).getOrElse(rowV)
    ValidationResult(ann, vio, bucketReport(ann, metrics))
  }

  /** QUARANTINE split on the row-local verdict: (clean, quarantined).
    * Clean keeps the ORIGINAL schema — it feeds downstream training
    * unchanged; quarantined rows carry their full violation-entry array
    * (pay-per-defect holds: the interpreted span constructors run only on
    * the failing side of the filter). Counts agree with `report` by
    * construction — both derive from the same row-local flags. Cross-row
    * checks (uniqueness / referential / drift) are corpus-level facts, not
    * per-row verdicts; gate on them via `run(...).violations` before
    * shipping the clean side. Each returned frame is its own action over
    * the one annotate plan — persist the input (or the frames) when the
    * upstream scan is expensive. */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val ann = annotate(df)
    val orig = df.columns.toSeq.map(col)
    val clean = ann.filter(allOkCol).select(orig: _*)
    val quarantined = ann.filter(!allOkCol)
      .select(orig :+ viosOf.as("violations"): _*)
    (clean, quarantined)
  }
}
