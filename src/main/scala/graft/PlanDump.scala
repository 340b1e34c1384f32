package graft

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans of the flagship paths to stdout —
  * the artifact behind docs/PLANS.md (prompt: ".explain('formatted') the
  * plan and iterate until it's the plan you'd want"). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = DataGen.sequences(spark, 10000, maxLen = 32)
    val compiled = DataGen.standardSuite(spark, 32).compile(Seq_.schema).toOption.get

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== PLAN: $name =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    dump("S1 row-local annotate (narrow, single pass)", compiled.annotate(corpus))
    dump("row violations (defect-gated span projection AFTER the codegen'd flags filter)",
      compiled.rowViolations(compiled.annotate(corpus)))
    dump("bucket report (one exchange, partial agg)", compiled.bucketReport(compiled.annotate(corpus)))
    dump("uniqueness (hash shuffle, 2-phase count)", Unique("doc_id").run(corpus))
    dump("referential (broadcast anti-join)",
      RefIntegrity("source", DataGen.sourcesDim(spark), "source").run(corpus))
    dump("drift chi-square (small-agg joins only)",
      DriftChiSquare("n_tok", "source", 2.0, 100.0).run(corpus))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dump("v_range pushdown", SparkEntry.queries("v_range")(spark, "/root/testdata/sf0.001"))
    dump("minhash LSH (bare-id candidate shuffle)",
      ops.Dedup.minhashLsh(docs, "text", "doc_id", numHashes = 32, bands = 8, shingleK = 1))
    import spark.implicits._
    val toks = docs.selectExpr("doc_id", "array(cast(doc_id as int), 1, 2, 3) as tokens")
    val bench = Seq(Tuple1(Seq(1, 2, 3))).toDF("tokens")
    dump("decontamination (benchmark broadcast, corpus never shuffled)",
      ops.Decontaminate.overlapReport(toks, "tokens", "doc_id", bench, "tokens", n = 2))
    dump("deterministic sampling (pure narrow filter)",
      ops.Sampling.deterministicSample(docs, "doc_id", 0.1))
    dump("IVF assignment (joinless narrow projection)",
      ops.Ivf.index(docs.selectExpr("doc_id", "array(cast(doc_id as double), 1.0) as v"),
        "v", ops.Ivf.Model(Array(Array(0.0, 0.0), Array(100.0, 1.0)))))
    // batched IVF search over a list_id-partitioned store: the probe filter
    // must appear as PartitionFilters on the scan (unprobed lists unread)
    val ivfModel = ops.Ivf.Model(
      Array(Array(0.4, 0.0), Array(-0.4, 0.0), Array(0.0, 0.4), Array(0.0, -0.4)))
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivfDir = java.nio.file.Files.createTempDirectory("plandump_ivf").toString
    ops.Ivf.index(embs, "embedding", ivfModel).write.mode("overwrite")
      .partitionBy("list_id").parquet(ivfDir)
    val queries = embs.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
      .selectExpr("vec_id as qid", "embedding")
    dump("batched IVF search (partition-pruned probe scan, broadcast queries, WindowGroupLimit top-k)",
      ops.Ivf.searchTopKBatch(spark.read.parquet(ivfDir), "embedding", "vec_id",
        ivfModel, queries, "embedding", "qid", k = 3, nprobe = 2))
    dump("repetition profile (zero-shuffle single-kernel projection + gate)",
      ops.TextAnalysis.repetitionProfile(docs, "text"))
    dump("unigram-LM scoring (broadcast-vocab kernel, zero shuffles)",
      ops.UnigramLM.score(docs, "text",
        ops.UnigramLM.Model(Map("the" -> 100L, "a" -> 50L), 1000L)))
    dump("mixture rebalance (compiled cut CASE chain, one narrow filter)",
      ops.Sampling.balanceToMix(docs.select("doc_id", "lang"), "lang", "doc_id",
        Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25)))
    dump("tf-idf top-k (in-row TF kernel, df agg + idf join + bounded window)",
      ops.TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 3))
    val (clean, quarantined) = compiled.split(corpus)
    dump("quarantine split: clean side (codegen'd flags filter, original columns)", clean)
    dump("quarantine split: quarantined side (inverted filter + violation spans)", quarantined)
    spark.stop()
  }
}
