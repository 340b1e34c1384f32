package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (one narrow scan per query batch,
  * broadcast of the queries). Scale path: random-hyperplane LSH bucketing —
  * the shuffle is keyed by (plane-sign bucket), and only bucket-local pairs
  * are scored. Hyperplanes are DETERMINISTIC functions of (plane, dim) via
  * xxhash64, so results are reproducible at any parallelism with no
  * driver-side randomness.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double — a
    * custom Catalyst expression (graft.functions.VecDot): one tight JVM loop
    * per row instead of per-element lambda interpretation (~10× on the LSH
    * pair-scoring stage). */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.vec_dot(a, b)

  def norm(a: Column): Column = graft.functions.VecFunctions.vec_norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k nearest (cosine) to ONE query vector. The query side
    * is a 1-row frame → broadcast nested-loop join stays trivially cheap;
    * the scan side is embarrassingly parallel; top-k via global sort-limit
    * (Spark's TakeOrderedAndProject — no full sort materialization). */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(queryVecCol).as("__qv")))
    df.join(q)
      .withColumn("cos", cosine(col(vecCol), col("__qv")))
      .orderBy(desc("cos"), col(idCol))
      .select(col(idCol), col("cos"))
      .limit(k)
  }

  /** All-pairs brute-force top-k per row within a blocking column — an
    * exact-verification UTILITY, quadratic in block size by construction.
    * `maxBlock` drops pathological blocks (groupBy + broadcast anti-join, the
    * same guard shape as cosineLshPairs' oversized buckets) so one reducer
    * never goes cartesian. For the scale path, generate candidates with
    * [[cosineLshPairs]] and rank with [[topKForCandidates]] instead. */
  def topKPerRow(df: DataFrame, vecCol: String, idCol: String, blockCol: String,
      k: Int, maxBlock: Int = 4096): DataFrame = {
    val base = df.select(col(blockCol), col(idCol), col(vecCol))
    val oversized = base.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlock).select(col(blockCol))
    val guarded = base.join(broadcast(oversized), Seq(blockCol), "left_anti")
    val l = guarded.select(col(blockCol), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = guarded.select(col(blockCol), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(desc("cos"), col("id_b"))
    l.join(r, Seq(blockCol)).filter(col("id_a") =!= col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rn"))
  }

  /** Top-k per row over a PRE-COMPUTED candidate frame (id_a, id_b) — the
    * scale path after [[cosineLshPairs]]. Linear in |candidates|: two hash
    * joins re-attach vectors, one window bounded by per-id candidate counts.
    * Candidates are treated as undirected: each pair ranks on both sides. */
  def topKForCandidates(df: DataFrame, vecCol: String, idCol: String,
      candidates: DataFrame, k: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val undirected = candidates.select("id_a", "id_b")
      .union(candidates.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .dropDuplicates("id_a", "id_b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(desc("cos"), col("id_b"))
    undirected
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rn"))
  }

  /** Banded sign-LSH ANN: `bands` independent groups of `planesPerBand`
    * hyperplanes; two vectors are candidates iff they agree on ALL planes of
    * ≥1 band (the MinHash-LSH banding scheme applied to sign-LSH). Recall for
    * pair with plane-agreement prob p: 1-(1-p^r)^B. Only bucket-local pairs
    * are scored, with norms precomputed per ROW (not per pair) so each
    * candidate costs one dot product.
    *
    * Scale shape: narrow projection (signatures + norm) → one shuffle keyed
    * by (band, band-signature) → bounded bucket self-join. `maxBucket` drops
    * degenerate buckets (e.g. all-zero vectors) instead of letting one
    * reducer go quadratic.
    *
    * SIZE THE PLANES TO THE CORPUS: random-collision candidates per band
    * scale as n²/2^planesPerBand, so planesPerBand must grow with n
    * (≈ log2(n) + 4-8 slack bits; the packed band value holds up to 63).
    * Measured at 1.12 M dim-64 vectors: 16 planes → ~150 M accidental
    * candidates (90 s dedup + 283 s verify at local[16]); 24 planes →
    * ~0.5 M (whole pipeline 49 s) — see BASELINE.md "SemDeDup embedding
    * dedup at 1 M vectors".
    * Recall for true near-dups is governed by the BAND count, which stays
    * fixed. Very low dimensionality (≲32) additionally skews bucket
    * occupancy (correlated planes); production embedding widths are fine. */
  def cosineLshPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    // handle-less form: internal cache self-releases after the first
    // materializing action (see graft.AutoRelease)
    val (pairs, release) =
      cosineLshPairsCached(df, vecCol, idCol, threshold, bands, planesPerBand, maxBucket)
    graft.AutoRelease.onFirstMaterialize(pairs, release)
  }

  /** [[cosineLshPairs]] plus a RELEASE handle for the internal
    * (id, vec, norm) cache — call it once the returned pairs are fully
    * materialized so multi-pass sessions don't accrete cache (the pairs
    * frame can still recompute from source afterwards). */
  def cosineLshPairsCached(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 4,
      maxBucket: Int = 4096): (DataFrame, () => Unit) = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0)
      .persist() // re-read by the band explode and both candidate re-joins
    // candidate generation carries ONLY (id, band, band_val) — never the
    // vectors — so the pair dedup shuffles two longs per row, not 2×64 floats.
    // banded persisted TOO: it feeds the oversized aggregation and both
    // candidate-join sides — unpersisted, the sign-LSH projection kernel
    // (bands × planes dot products per vector) re-ran per consumer (the
    // round-5 plan showed 4 Generate nodes); the cache is two longs per
    // (row, band) and rides the same release handle as the vectors.
    val banded = base.select(col("id"),
      posexplode(graft.functions.VecFunctions.sign_lsh_bands(col("v"), bands, planesPerBand))
        .as(Seq("band", "band_val")))
      .persist()
    val oversized = banded.groupBy("band", "band_val").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("band", "band_val")
    val bucketed = banded.join(broadcast(oversized), Seq("band", "band_val"), "left_anti")
    val l = bucketed.select(col("band"), col("band_val"), col("id").as("id_a"))
    val r = bucketed.select(col("band"), col("band_val"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "band_val")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // vectors re-attached to the (much smaller) deduped candidate set
    val pairs = candidates
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    (pairs, () => { base.unpersist(); banded.unpersist(); () })
  }

  /** Integer-quantized dot product (floor(x*scale) per element) — exact across
    * engines, used by the DuckDB-oracle parity query. */
  def quantizedDot(a: Column, b: Column, scale: Int = 1000): Column = {
    val qa = transform(a, x => floor(x.cast(DoubleType) * scale).cast(LongType))
    val qb = transform(b, x => floor(x.cast(DoubleType) * scale).cast(LongType))
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
  }
}
