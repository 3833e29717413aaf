package graft

/** Results must not depend on physical parallelism: the decimal-sum /
  * rounded-double / total-order strategy exists precisely so a different
  * shuffle layout (different cluster, AQE decision, partition count)
  * produces byte-identical results. */
class DeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def runWith(partitions: Int, q: String): Seq[String] = {
    // asset-backed queries (term counts, pair tables, labels, ANN index)
    // must REBUILD under each physical layout — comparing two reads of one
    // already-materialized parquet would make these tests vacuous
    SparkEntry.clearAssetCaches()
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", 4)
  }

  for (q <- Seq("q1_pricing_summary", "tfidf_full", "sessionize_events", "knn_cosine_top10",
    "decontaminate_overlap", "sequence_packing", "repetition_stats",
    "streams_near_dups_batch", "ivf_cosine_top10",
    // round-4 additions: PMI ln-chain, arg-min double-equality join-back,
    // rank-exact quantile drop, bloom prefilter, incremental counts merge
    "bigram_pmi", "part_min_cost_supplier", "quality_rank_filter",
    "decontaminate_bloom", "tfidf_incremental_merge",
    // round-5 additions: decimal-routed entropy, floor-quantized codes,
    // posting-bounded retrieval ranks, md5-seeded IVF, EXISTS/NOT-EXISTS
    // self-joins, grouping-set Expand
    "token_entropy", "embedding_int8_stats", "self_retrieval_ranks",
    "q21_suppliers_kept_waiting", "orders_grouping_sets",
    // late round-5 additions: decimal-routed LM transition means,
    // cluster-precedence drop decisions, stream-stream band self-join
    "lm_doc_scores", "semantic_dedup", "streams_near_dup_join_batch",
    "ivf_lloyd_top10", "training_data_manifest", "bpe_vocab_segments",
    "lsh_plan", "events_key_skew", "source_term_hll", "pq_codes_portable",
    // round-6 additions: coded-pair drop agreement, corpus-first novelty
    // mark-back, composite rule flags, asset-fed BM25 postings
    "semantic_dedup_coded", "novelty_scores", "gopher_rules",
    "token_length_histogram", "bm25_full")) {
    test(s"$q is identical under 3 vs 13 shuffle partitions") {
      assert(runWith(3, q) == runWith(13, q))
    }
  }

  // AQE re-plans shuffles at runtime (coalescing, skew splits, join
  // strategy swaps) — none of it may change a single byte of output
  for (q <- Seq("tfidf_full", "dedup_apply", "events_moving_sum",
    "strip_duplicate_spans", "bm25_search")) {
    test(s"$q is identical with AQE disabled") {
      SparkEntry.clearAssetCaches()
      val withAqe = SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
      SparkEntry.clearAssetCaches()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val without = SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
        assert(withAqe == without)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  // the degenerate layout: EVERYTHING in one task — no exchange ordering,
  // no partial-agg merge order, one writer; still byte-identical
  for (q <- Seq("tfidf_full", "quality_score", "dedup_clusters")) {
    test(s"$q is identical under single-partition execution") {
      assert(runWith(13, q) == runWith(1, q))
    }
  }

  test("shared asset dir: second consumer reuses the parquet, same answers") {
    val root = java.nio.file.Files.createTempDirectory("graft_asset_share").toFile
    SparkEntry.clearAssetCaches()
    val baseline = SparkEntry.queries("term_counts")(spark, dir)
      .collect().map(_.toString).toSeq
    SparkEntry.assetRootOverride = Some(root.getAbsolutePath)
    try {
      SparkEntry.clearAssetCaches()
      val first = SparkEntry.queries("term_counts")(spark, dir)
        .collect().map(_.toString).toSeq
      assert(first == baseline)
      val assetDirs = root.listFiles().filter(_.getName.startsWith("graft_asset_"))
      assert(assetDirs.nonEmpty)
      // no in-progress temp dirs left behind
      assert(assetDirs.forall(d => !d.getName.contains(".build_")))
      val stamps = assetDirs.flatMap(_.listFiles()).map(f => (f.getName, f.lastModified)).toSet
      // simulate a fresh session/JVM: in-memory caches gone, disk remains
      SparkEntry.clearAssetCaches()
      val second = SparkEntry.queries("term_counts")(spark, dir)
        .collect().map(_.toString).toSeq
      assert(second == baseline)
      val after = assetDirs.flatMap(_.listFiles()).map(f => (f.getName, f.lastModified)).toSet
      assert(after == stamps, "reuse must not rewrite the shared asset files")
    } finally {
      SparkEntry.assetRootOverride = None
      SparkEntry.clearAssetCaches()
    }
  }

  test("contentDigest sees a head or tail byte flip that keeps size and mtime") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_digest").toFile
    val f = new java.io.File(tmp, "part-0000.parquet")
    // larger than the 64 KiB head window, so the head and the tail are
    // separate reads
    val payload = Array.tabulate(80 * 1024)(i => (i % 251).toByte)
    java.nio.file.Files.write(f.toPath, payload)
    val mtime = f.lastModified
    val before = SparkEntry.contentDigest(tmp.getAbsolutePath)
    // stable across repeated calls
    assert(before == SparkEntry.contentDigest(tmp.getAbsolutePath))
    // same length, same forced mtime, one flipped byte: a stat-only
    // (path, size, mtime) fingerprint could not see either rewrite
    def flipped(at: Int): String = {
      val b = payload.clone()
      b(at) = (b(at) ^ 1).toByte
      java.nio.file.Files.write(f.toPath, b)
      assert(f.setLastModified(mtime))
      assert(f.length == payload.length)
      SparkEntry.contentDigest(tmp.getAbsolutePath)
    }
    assert(flipped(0) != before, "digest must change when the file head changes")
    // parquet rewrites show in the footer, past the head window
    assert(flipped(payload.length - 1) != before,
      "digest must cover the tail window past the 64 KiB head")
  }
}
