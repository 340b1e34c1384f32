package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Everything here is HASH-gated, never RNG-gated: membership is a pure
  * function of the row key (+ salt), so samples are reproducible at any
  * parallelism, stable across resumed/re-run jobs, and composable (the same
  * row lands on the same side of every split in every run). `sample()`'s
  * seed, by contrast, is per-partition state — repartition the input and the
  * sample changes. All variants are one narrow filter: no shuffle, pushdown-
  * friendly, trivially parallel at 10^12 rows.
  */
object Sampling {

  private val Denom = 1000000L

  /** Hash gate in [0, 1): stable per (key, op-tag, salt). Each public op
    * hashes under its OWN tag so composed calls stay independent: without
    * it, capStrata over a trainTestSplit train side (gate ≥ cut₁) filtering
    * gate < cut₂ could silently empty a stratum. Within one op, the same
    * salt still nests (sample(0.1) ⊆ sample(0.3)) — that property is per-op
    * by design.
    *
    * NULL keys: xxhash64 skips null inputs, so every null-key row would
    * share ONE gate value — all sampled or none, never `fraction` of them.
    * Null keys fall back to a ROW hash over every column (deterministic at
    * any parallelism and across reruns): each column's null flag hashes
    * alongside its value so rows differing only in WHICH columns are null
    * gate apart, and TOP-LEVEL map columns hash via their key-sorted entry
    * arrays (Spark forbids hashing MapType directly). Columns with maps
    * nested deeper (inside structs/arrays, or map-valued maps) are excluded
    * from the fallback hash — rows differing ONLY there move together
    * (documented residual). Identical null-key rows always move together —
    * use a genuinely unique key for per-row independence.
    *
    * SCALE NOTE: the null fallback BINDS every column of `df`, so Catalyst
    * cannot prune the scan below the sampling filter. Project the frame to
    * the columns you need BEFORE sampling — with a non-null key the gate
    * value is a function of the key alone, so pre-projection never changes
    * membership; for null-key rows the fallback hash is frame-shape-
    * dependent by design (it hashes whatever columns exist). One carve-out:
    * [[capStrataExact]]'s duplicate-key BOUNDARY tie-break also hashes the
    * full row — see its docstring. */
  private def gate(df: DataFrame, keyCol: String, opTag: Long, salt: Long): Column = {
    val key = col(keyCol)
    val keyed = xxhash64(key, lit(opTag), lit(salt))
    pmod(when(key.isNull, rowHash(df, opTag, salt)).otherwise(keyed), lit(Denom))
  }

  /** Deterministic FULL-ROW hash: every hashable column plus its null flag
    * (xxhash64 skips nulls, so rows differing only in null PATTERN must
    * hash apart explicitly); top-level map columns hash via key-sorted
    * entry arrays (Spark forbids hashing MapType directly — struct ordering
    * compares fields in order, key first). Columns with maps nested deeper
    * are excluded — rows differing ONLY there hash together (documented
    * residual). Degenerate frames with no hashable column fall back to a
    * constant. */
  private[graft] def rowHash(df: DataFrame, opTag: Long, salt: Long): Column = {
    import org.apache.spark.sql.types._
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case a: ArrayType => hashable(a.elementType)
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val hashCols = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case m: MapType if hashable(m.keyType) && hashable(m.valueType) =>
          Some(array_sort(map_entries(col(f.name))))
        case dt if hashable(dt) => Some(col(f.name))
        case _ => None
      }
    }
    if (hashCols.isEmpty) lit(opTag) // degenerate frame (documented)
    else xxhash64(hashCols ++ hashCols.map(_.isNull.cast("int")) ++
      Seq(lit(opTag), lit(salt)): _*)
  }

  private val TagSample = 1L
  private val TagSplit = 2L
  private val TagStratified = 3L
  private val TagCap = 4L
  private val TagWeighted = 5L
  private val TagShuffle = 6L
  private val TagMix = 7L
  private[graft] val TagCapExact = 8L

  /** AUDIT surface: the raw gate value (0 <= g < 1,000,000) a sampling op
    * compares against its cut, keyed exactly as that op keys it. Lets
    * external tooling (membership audits, SQL oracles, debuggers) re-derive
    * every sampling decision from a materialized (key, gate) table without
    * re-running the engine — e.g. trainTestSplit keeps train = g >= cut,
    * test = g < cut. Ops: "sample", "split", "stratified", "cap",
    * "weighted", "shuffle", "mix", "cap_exact". */
  def auditGate(df: DataFrame, keyCol: String, op: String, salt: Long = 0L): Column = {
    val tag = op match {
      case "sample" => TagSample
      case "split" => TagSplit
      case "stratified" => TagStratified
      case "cap" => TagCap
      case "weighted" => TagWeighted
      case "shuffle" => TagShuffle
      case "mix" => TagMix
      case "cap_exact" => TagCapExact
      case other => throw new IllegalArgumentException(s"unknown sampling op: $other")
    }
    gate(df, keyCol, tag, salt)
  }

  /** Deterministic Bernoulli sample: keeps `fraction` of rows, selected by
    * key hash. Exact membership, approximate size (binomial). */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: Long = 0L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(gate(df, keyCol, TagSample, salt) < (fraction * Denom).toLong)
  }

  /** Disjoint, exhaustive train/test split on the same hash gate — a row is
    * in exactly one side, in every run, at any parallelism. */
  def trainTestSplit(df: DataFrame, keyCol: String, testFraction: Double,
      salt: Long = 0L): (DataFrame, DataFrame) = {
    require(testFraction >= 0 && testFraction <= 1, "testFraction in [0,1]")
    val cut = (testFraction * Denom).toLong
    val g = gate(df, keyCol, TagSplit, salt)
    (df.filter(g >= cut), df.filter(g < cut))
  }

  /** Per-stratum fractions (e.g. downsample "web" to 10%, keep "books");
    * strata absent from the map keep `defaultFraction`. The fraction lookup
    * is a compile-time CASE chain — strata maps are small (sources,
    * languages), so no join is ever needed. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      salt: Long = 0L): DataFrame = {
    require((defaultFraction +: fractions.values.toSeq).forall(f => f >= 0 && f <= 1),
      "fractions in [0,1]")
    val cut = fractions.toSeq.sortBy(_._1).foldRight(lit((defaultFraction * Denom).toLong)) {
      case ((s, f), acc) => when(col(strataCol) === s, lit((f * Denom).toLong)).otherwise(acc)
    }
    df.filter(gate(df, keyCol, TagStratified, salt) < cut)
  }

  /** PER-ROW weighted sampling: keep each row with probability
    * `clamp(weightCol, 0, 1)` — the data-mixing primitive (quality-score
    * resampling, per-domain up/down-weighting computed upstream). Same hash
    * gate: reproducible at any parallelism, composable with the other ops
    * (own tag). Still one narrow filter; a NULL or NaN weight drops the row
    * (an unknown weight must not silently mean "keep" — NaN would otherwise
    * clamp to 1.0 under Spark's NaN-is-largest ordering). For weights > 1
    * (upsampling) pair with an explicit explode — repetition changes row
    * counts and belongs to the caller. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      salt: Long = 0L): DataFrame = {
    val w = col(weightCol).cast("double")
    val p = when(isnan(w), lit(0.0)).otherwise(least(greatest(w, lit(0.0)), lit(1.0)))
    df.filter(gate(df, keyCol, TagWeighted, salt) < (p * Denom).cast("long"))
  }

  /** EPOCH-STABLE deterministic shuffle: a global reordering of the corpus
    * that is a pure function of (row content, epoch) — every epoch gets a
    * different but reproducible order, identical at any parallelism and
    * across reruns (`orderBy(rand())` gives neither). Duplicate keys break
    * ties on the full-row hash (same hashable-column rules as the null-key
    * gate), so shards stay byte-stable even over corpora with duplicate
    * ids; only fully identical rows remain interchangeable. This is the
    * write-side op for producing shuffled training shards: one
    * range-partitioned sort, the same cost class as any global sort. */
  def deterministicShuffle(df: DataFrame, keyCol: String, epoch: Long): DataFrame = {
    val tie = rowHash(df, TagShuffle, epoch)
    df.orderBy(xxhash64(col(keyCol), lit(TagShuffle), lit(epoch)), tie)
  }

  /** Cap each stratum at ~`maxRows`: counts strata (one small agg), derives
    * per-stratum keep fractions, then hash-filters behind a BROADCAST join
    * of the over-cap cuts — no driver collect, so strata cardinality is
    * unbounded (a per-domain cap over millions of hosts works). Still NO
    * per-stratum window/sort — a row_number cap would serialize a hot
    * stratum into one task — and the corpus side never shuffles. The cap is
    * approximate (binomial around maxRows); exact-k selection belongs to a
    * sort-based job the caller opts into knowingly. The NULL stratum is
    * capped too (missing-metadata rows are often exactly the stratum that
    * explodes), via a null-safe join key. */
  def capStrata(df: DataFrame, strataCol: String, keyCol: String, maxRows: Long,
      salt: Long = 0L): DataFrame = {
    require(maxRows > 0, "maxRows > 0")
    val cuts = df.groupBy(col(strataCol).as("__s")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxRows)
      .select(col("__s"),
        (lit(maxRows.toDouble) / col("__n") * Denom).cast("long").as("__cut"))
    df.join(broadcast(cuts), df(strataCol) <=> col("__s"), "left")
      .filter(col("__cut").isNull || gate(df, keyCol, TagCap, salt) < col("__cut"))
      .drop("__s", "__cut")
  }

  /** DOMAIN-MIXTURE rebalancing: down-sample to target stratum PROPORTIONS
    * (the data-mixing step of a training pipeline — "40% web, 30% code,
    * 30% books"). Finds the largest total T the targets can support without
    * replication (T = min over strata of count_s / share_s), then keeps
    * each stratum at share_s * T rows in expectation via the deterministic
    * hash gate. Strata ABSENT from `targets` are dropped (a mixture
    * definition is exhaustive); a target stratum with zero rows makes the
    * mixture infeasible → empty result (never a silently skewed one).
    * Shares are normalized (sorted-key summation order, so the normalizer
    * is reproducible) and need not sum to 1.
    *
    * Scale shape: one tiny count agg (|targets| rows — the mixture spec is
    * driver-side by definition) plus the usual narrow gate filter; the
    * corpus never shuffles. Like every op here, membership is a pure
    * function of (key, salt) — stable across reruns and parallelism. */
  def balanceToMix(df: DataFrame, strataCol: String, keyCol: String,
      targets: Map[String, Double], salt: Long = 0L): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive shares")
    val shareSum = targets.toSeq.sortBy(_._1).map(_._2).sum
    val counts = df.filter(col(strataCol).isin(targets.keys.toSeq: _*))
      .groupBy(col(strataCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = targets.map { case (s, sh) =>
      counts.getOrElse(s, 0L).toDouble / (sh / shareSum) }.min
    val cuts = targets.map { case (s, sh) =>
      val n = counts.getOrElse(s, 0L)
      // binding strata (n/share' == t) keep EVERYTHING: mathematically
      // frac = 1 there, but (share'*t)/n can round to 0.999… and a trunc'd
      // cut of 999999 would silently drop ~1e-6 of a stratum the contract
      // says is fully kept — pin it to exactly 1.0
      val frac =
        if (n == 0L) 0.0
        else if (n.toDouble / (sh / shareSum) == t) 1.0
        else math.min(1.0, (sh / shareSum) * t / n)
      s -> (frac * Denom).toLong
    }
    // non-target strata get cut -1: gate (>= 0) never passes → dropped
    val cut = cuts.toSeq.sortBy(_._1).foldRight(lit(-1L): Column) {
      case ((s, c), acc) => when(col(strataCol) === s, lit(c)).otherwise(acc)
    }
    df.filter(gate(df, keyCol, TagMix, salt) < cut)
  }

  /** EXACT-k per-stratum cap — the exact opt-in [[capStrata]]'s docstring
    * points at: every stratum keeps its `maxRows` LOWEST-gate rows exactly
    * (ties broken by key, then by a full-row hash), instead of capStrata's
    * binomial approximation.
    *
    * TWO-PHASE, no window-sort: a bounded-heap aggregate
    * ([[graft.functions.BoundedMinRows]], multiset semantics) keeps the k
    * smallest (gate, key, rowhash) rows per stratum with MAP-SIDE partial
    * aggregation, so a hot stratum contributes O(partitions · k) rows to
    * its reducer instead of serializing the entire stratum into one task's
    * sort (the round-4 perf-weak this retires; BASELINE.md "Adversarial
    * skew: the EXACT cap's two-phase formulation" has the hostile-stratum
    * ratio). Output is the identical multiset to the
    * row_number() formulation, including boundary-tie behavior (fully
    * identical duplicate rows are interchangeable at the cap boundary).
    * MEMORY contract: k · row-size per stratum per task must fit on an
    * executor — `maxRows` is an Int by design; for caps where k · rows is
    * itself cluster-scale, use the approximate [[capStrata]].
    * Deterministic: the gate is a pure function of (key, salt), and
    * DUPLICATE-key ties at the cap boundary break by a full-row hash —
    * repartition/rerun-stable, but (unlike the pure key gate) dependent on
    * the frame's COLUMN SET, so pass the same projection on every run when
    * keys can repeat. */
  def capStrataExact(df: DataFrame, strataCol: String, keyCol: String,
      maxRows: Int, salt: Long = 0L): DataFrame = {
    require(maxRows > 0, "maxRows > 0")
    val g = gate(df, keyCol, TagCapExact, salt)
    // THRESHOLD PRE-PASS (round 6): the one-pass form evaluated the full
    // sort key — including the every-column rowHash tie-breaker — and
    // heap-copied (gate, key, hash, payload) entries for ALL n rows, which
    // made the UNIFORM case (every stratum over cap, no skew) the worst
    // case (17.3 s uniform vs 7.5 s hostile at 16 M rows, OPTIMIZATION_r06.md §8).
    // Pass 1 instead histograms the gate — uniform over [0, Denom) by
    // construction — into `CapBuckets` fixed-width buckets per stratum:
    // a plain two-phase (stratum, bucket) count with bounded partial
    // state and zero per-row allocation. The smallest bucket whose
    // cumulative count reaches k yields a threshold whose rank is
    // PROVABLY ≥ k (every row counted through that bucket has gate ≤ its
    // upper edge), so the pass-2 prefilter keeps a guaranteed superset of
    // the true k smallest rows — deterministically, no sketch error to
    // reason about. A stratum under its cap falls through to its last
    // nonempty bucket (keep everything). Pass 3 runs the round-5 exact
    // heap over the ≤ k + n_s/CapBuckets survivors per stratum, which
    // resolves boundary ties identically to the one-pass form (Round5Spec
    // asserts bit-equality vs the window formulation). The cumulative scan
    // over a stratum's bucket counts is a higher-order `aggregate` over a
    // collected bucket array — at most CapBuckets entries per stratum,
    // bounded by the constant, never by data (NO per-stratum window: the
    // no-window plan guard stays intact). Thresholds ride a broadcast: one
    // (stratum, long) row per stratum, strictly smaller than pass 3's
    // per-stratum heap state the operator already budgets for.
    val CapBuckets = 8192L
    val width = math.max(1L, (Denom + CapBuckets - 1) / CapBuckets)
    val hist = df
      .groupBy(col(strataCol).as("__s"),
        // g ∈ [0, Denom) and width ≤ Denom: double division is exact here
        // and the cast truncates non-negatives = floor → integer bucket id
        floor(g / lit(width)).cast("long").as("__b"))
      .agg(count(lit(1)).as("__c"))
    // walk the (sorted, ≤ CapBuckets-entry) histogram once: acc = (cum,
    // chosen bucket or -1); the chosen bucket is the smallest whose
    // cumulative count reaches k, else -1 → fall through to the last
    // nonempty bucket (under-cap stratum keeps everything)
    val thresholds = hist
      .groupBy(col("__s"))
      .agg(array_sort(collect_list(struct(col("__b"), col("__c")))).as("__h"))
      .select(col("__s"),
        aggregate(col("__h"),
          struct(lit(0L).as("cum"), lit(-1L).as("bk")),
          (acc, x) => struct(
            (acc.getField("cum") + x.getField("__c")).as("cum"),
            when(acc.getField("bk") >= 0L, acc.getField("bk"))
              .when(acc.getField("cum") + x.getField("__c") >= maxRows.toLong,
                x.getField("__b"))
              .otherwise(lit(-1L)).as("bk"))).as("__acc"),
        element_at(col("__h"), -1).getField("__b").as("__bmax"))
      .select(col("__s"),
        ((when(col("__acc.bk") >= 0L, col("__acc.bk"))
          .otherwise(col("__bmax")) + 1L) * width - 1L).as("__t"))
    val survivors = df
      .join(broadcast(thresholds), col(strataCol) <=> col("__s"), "inner")
      .filter(g <= col("__t"))
    val sortKey = struct(g.as("g"), col(keyCol).as("k"),
      rowHash(df, TagCapExact, salt).as("h"))
    val payload = struct(df.columns.map(col): _*)
    survivors.groupBy(col(strataCol))
      .agg(graft.functions.BoundedMinRows.bounded_min_rows(sortKey, payload, maxRows)
        .as("__kept"))
      .select(explode(col("__kept")).as("__row"))
      .select(col("__row.*"))
  }
}
