package graft

/** Dev tool: dump formatted physical plans for selected queries so plan
  * regressions (lost pushdown, missed broadcast, surprise cartesian) are
  * visible. `runMain graft.Explain [q...]` — no args prints a curated set. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = DevSession(cpus = "4", logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q2_filter_project", "q3_join_agg", "q4_join_topk", "q5_topk",
      "q27_minhash_pairs", "q29_cosine_topk", "q35_asof_join", "q41_range_join",
      "q44_sliding_window", "q45_ann_ivf", "q50_quantize", "q52_upsert",
      "q54_qc_agg", "q56_neardup_lsh", "q99_double_correlated",
      "q100_passage_dedup", "q102_incremental_neardup", "q103_semantic_dedup",
      "q104_incremental_exact_screen", "q106_zorder_pruned_scan",
      "q265_variant_extract", "q266_variant_shred_prune")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    // The RecallGate-d queries (q27/q28/q30/q45/q56) return their exact-twin
    // emission, so the SCALE-PATH operator plans are printed separately —
    // these are the plans that run at 100 TB.
    if (args.isEmpty) {
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      println("\n========== q27 scale path: Dedup.minHashDedupPairs ==========")
      graft.ext.Dedup.minHashDedupPairs(docs, "doc_id", "text")
        .explain("formatted")
      println("\n========== q56 scale path: Similarity.cosineNearDupPairsBanded ==========")
      graft.ext.Similarity.cosineNearDupPairsBanded(
        emb.filter(col("vec_id") < 500), threshold = 0.4).explain("formatted")
      println("\n========== q30 scale path: Similarity.annTopK ==========")
      graft.ext.Similarity.annTopK(
        probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding")),
        corpus = emb.filter(col("vec_id") >= 5), k = 10, nPlanes = 4)
        .explain("formatted")
      println("\n========== q105 scale path: ImageDedup.imageNearDupPairs ==========")
      graft.ext.ImageDedup.imageNearDupPairs(
        graft.ext.ImageDedup.documentsAsTextImages(spark, docs,
          jitterIdFloor = Long.MaxValue), maxHamming = 3)
        .explain("formatted")
    }
    spark.stop()
  }
}
