package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, ExactSubstr, Paragraphs, Relational, Similarity, TextAnalysis, Tfidf}
import graft.sources.Tables

/** Driver contract — flagship entry, declared queries, and their DuckDB
  * oracle SQL (SURVEY.md §7; parity rules §7.3).
  *
  * Float-parity strategy used by every oracle query:
  *  - int÷int double division and per-row double products are IEEE-exact in
  *    both engines → no rounding needed;
  *  - `ln` may differ in the last ulp across libms → both sides
  *    `round(·, 9)`;
  *  - SUMs of doubles are order-dependent → both sides cast each addend to
  *    a fixed-scale DECIMAL first (exact associative arithmetic), then cast
  *    the exact sum back to double;
  *  - every query ends with a total ORDER BY over output columns (on the
  *    ROUNDED values, so both engines order identical keys).
  */
object SparkEntry {

  /** Golden aggregates of the decoded-raster digests over the
    * deterministic 200-asset multimodal fixture (CRC32 per decoded PPM /
    * BMP / JPEG / PNG raster; order-free count/sum/xor/byte-total). Any
    * decoder change — header walk, row un-padding, JDK decode, sRGB
    * conversion — flips at least one value and `multimodal_digest_gate`
    * THROWS. Measured once from the fixture (see MultimodalSpec, which
    * recomputes them independently). */
  private[graft] object MultimodalGolden {
    // 58 decodable images in the fixture: 42 BMP, 8 PPM, 8 JDK (JPEG/PNG).
    // Repin via `runMain graft.DevRasterGolden` ONLY for an intended
    // decoder/fixture change.
    val nDecoded: Long = 58L
    val crcSum: Long = 127702474297L
    val crcXor: Long = 2111896303L
    val rasterBytes: Long = 3489L
  }

  /** Flagship: reference-exact TF-IDF ranking (the reference's whole program,
    * `TfidfMapReduce.java`) on sf0.001, with the exact `WordCount.java:61-85`
    * normalizer chain. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Tfidf.rankByValue(Tfidf.pipeline(docs), "tfidf", Seq("term", "doc_id"))
  }

  // ---------------------------------------------------------------------------
  // Stored assets: the shared intermediates every query family reads instead
  // of recomputing (term counts, pair tables, trained indexes, snapshot
  // stores). Each is declared ONCE below as a named build; declaring it
  // registers it, so declaration order is build order — an asset's inputs
  // must be declared above it (AssetRegistrySpec forces the list in order).
  // Every build is deterministic, so a rebuild is bit-identical: the memo
  // saves time, never changes answers.
  // ---------------------------------------------------------------------------

  /** Every built asset value, keyed by (session, dataset dir, asset name) —
    * per SparkSession (reference identity) too, so a value bound to a
    * stopped session is never served to a new session in this JVM. */
  private val assetMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), Any]()

  private val declaredAssets = scala.collection.mutable.ArrayBuffer[Asset[_]]()

  /** One declared asset: `apply` builds it on first use per
    * (session, dataset dir) and serves the memoized value after. Built
    * directly, it lives in memory only (a count, a model blob). */
  private class Asset[A](val name: String, build: (SparkSession, String) => A)
      extends ((SparkSession, String) => A) {
    declaredAssets += this

    def apply(s: SparkSession, dir: String): A = {
      // values bound to STOPPED sessions are dead weight and would pin the
      // session's object graph for the JVM lifetime
      assetMemo.keys.foreach { k => if (k._1.sparkContext.isStopped) assetMemo.remove(k) }
      assetMemo.getOrElseUpdate((s, dir, name), build(s, dir)).asInstanceOf[A]
    }
  }

  /** An asset stored on disk: `write` puts the build under a path,
    * `read` serves it from there — consumers read the stored tables, which
    * no cache clear can drop, exactly the layout a production cluster
    * would read. */
  private def storedAsset[A](name: String)(write: (SparkSession, String, String) => Unit)(
      read: (SparkSession, String) => A): Asset[A] =
    new Asset(name, (s, dir) => read(s, assetPath(s, dir, name)(write(s, dir, _))))

  /** A one-frame stored asset, as parquet. */
  private def frameAsset(name: String)(
      build: (SparkSession, String) => DataFrame): Asset[DataFrame] =
    storedAsset(name) { (s, dir, path) =>
      val b = build(s, dir)
      b.write.mode("overwrite").parquet(path)
      b.unpersist() // builders may return persisted frames; the parquet is the asset
    }(_.read.parquet(_))

  /** Collision-resistant, filesystem-safe key for a dataset dir: SHA-256 hex.
    * (`String.hashCode` is 32-bit and collidable — two dirs could silently
    * share one asset path.) */
  private[graft] def dirDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
  }

  /** Per-process random component for every on-disk asset path: two JVMs
    * (or two sessions in one JVM) must never overwrite each other's asset
    * out from under a live DataFrame reading it. Combined with the
    * session's identity hash, each (session, dataset) gets its own
    * directory — rebuild cost over cross-session sharing, correctness
    * over cost. */
  private val jvmNonce = java.util.UUID.randomUUID().toString.take(8)
  private def sessionTag(s: SparkSession): String =
    s"${jvmNonce}_" + java.lang.Integer.toHexString(System.identityHashCode(s))

  /** Cross-session asset root (env `SPARK_GRAFT_ASSET_DIR`, test-overridable):
    * when set, assets live under it keyed by dataset CONTENT fingerprint
    * instead of a per-JVM nonce, so a fresh driver run reuses the previous
    * run's deterministic builds (~tens of seconds of tokenize/pair/window
    * work per dataset) instead of rebuilding. Opt-in because sharing trades
    * the nonce's absolute isolation for fingerprint-based staleness
    * detection (see [[contentDigest]] for what it can and cannot see). */
  private[graft] var assetRootOverride: Option[String] = None
  private def sharedAssetRoot: Option[String] =
    assetRootOverride.orElse(sys.env.get("SPARK_GRAFT_ASSET_DIR"))

  /** Content fingerprint of a dataset dir: SHA-256 over every file's
    * (relative path, size, mtime) plus its first AND last 64 KiB, walked
    * in sorted order. The byte windows see a rewrite in place that keeps
    * sizes and forges mtimes; parquet puts its footer metadata (row-group
    * offsets, statistics) in the tail, so head+tail covers both ends where
    * rewrites show. A rewrite differing ONLY in untouched middle bytes
    * remains invisible. Costs two bounded reads per file — independent of
    * corpus size — and runs only when a shared asset root is set. */
  private[graft] def contentDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else {
        md.update(
          s"${root.toPath.relativize(f.toPath)}|${f.length}|${f.lastModified}\n".getBytes("UTF-8"))
        val in = new java.io.RandomAccessFile(f, "r")
        try {
          // readNBytes-style full loops — a single read() may legally
          // return a short chunk (NFS/fuse), which would make the digest
          // depend on I/O chunking instead of file content
          def readFully(at: Long, n: Int): Array[Byte] = {
            in.seek(at)
            val buf = new Array[Byte](n)
            var off = 0
            var r = 0
            while (off < n && r >= 0) {
              r = in.read(buf, off, n - off)
              if (r > 0) off += r
            }
            if (off == n) buf else java.util.Arrays.copyOf(buf, off)
          }
          val len = in.length()
          val head = math.min(len, 65536L).toInt
          md.update(readFully(0L, head))
          // tail window, skipping any bytes the head already covered
          val tailStart = math.max(head.toLong, len - 65536L)
          if (tailStart < len)
            md.update(readFully(tailStart, (len - tailStart).toInt))
        } finally in.close()
      }
    walk(root)
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** The directory stored asset `name` of `dir` lives in, running `write`
    * into it first unless a finished copy is already there. `_SUCCESS`
    * (parquet's own completion marker, touched here for multi-table
    * assets too) is present iff a writer finished. */
  private def assetPath(s: SparkSession, dir: String, name: String)(
      write: String => Unit): String = {
    def finished(f: java.io.File) = new java.io.File(f, "_SUCCESS").exists()
    def writeTo(f: java.io.File): java.io.File = {
      // the scope releases every builder-internal cache (gram rows, LSH
      // signatures, iteration frames) once the asset is on disk
      operators.CacheScope { write(f.getAbsolutePath) }
      new java.io.File(f, "_SUCCESS").createNewFile()
      f
    }
    val stored = sharedAssetRoot match {
      case Some(rootDir) =>
        val target = new java.io.File(rootDir, s"graft_asset_${name}_${contentDigest(dir)}")
        if (finished(target)) target
        else {
          // writers build into a private temp dir and RENAME into place —
          // atomic on one filesystem, and the rename fails (instead of
          // merging) if a concurrent writer won
          val tmp = writeTo(
            new java.io.File(rootDir, s"${target.getName}.build_${sessionTag(s)}"))
          if (tmp.renameTo(target)) target
          else if (finished(target)) {
            // lost the race — the winner's asset is bit-identical
            // (deterministic builders), serve it
            deleteRecursively(tmp)
            target
          } else
            // target occupied but incomplete (foreign partial dir):
            // serve our finished build from the temp path, don't guess
            tmp
        }
      case None =>
        writeTo(new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_asset_${name}_${dirDigest(dir)}_${sessionTag(s)}"))
    }
    stored.getAbsolutePath
  }

  /** Test hook: forget every built asset so the next access rebuilds from
    * scratch (determinism suites re-run queries under varied physical
    * layouts and must not read a previous layout's materialized asset). */
  private[graft] def clearAssetCaches(): Unit = assetMemo.clear()

  /** Test hook: the memo's current keys. */
  private[graft] def memoizedAssets: Set[(SparkSession, String, String)] = assetMemo.keySet.toSet

  /** Every declared asset in build order, by name. The bench harness forces
    * each build ONCE up front and times it under a separate `assets` key,
    * so per-query timings are SERVING-ONLY (r6: `bigram_pmi`'s 45 s cold
    * was the token-array + bigram-counts builds landing on whichever query
    * ran first, masking real serving regressions). Forcing an asset twice
    * is idempotent, so an entry whose inputs were forced before it times
    * its own build only. */
  private[graft] def assetBuilders: Seq[(String, (SparkSession, String) => Unit)] =
    declaredAssets.toSeq.map(a => a.name -> ((s: SparkSession, d: String) => { a(s, d); () }))

  /** Token-position corpus asset `(doc_id, tokens: array<string>)` — the
    * portable token stream, tokenized ONCE per (session, dir) and stored
    * assembled. Every order-sensitive derivation (term counts, span
    * windows, bigram adjacency) slices these arrays instead of repeating
    * the regex-heavy tokenize; the array layout (vs a flat
    * `(doc_id, pos, term)` table) keeps window/adjacency building per-row
    * map work with no per-doc reassembly shuffle. */
  private val tokenArraysAsset = frameAsset("token_arrays") { (s, dir) =>
    Tfidf.tokenArrays(Tables.documents(s, dir))
  }

  /** Materialized portable term-counts table `(term, doc_id, cnt)` — the
    * intermediate every TF-IDF-family query aggregates from; derived from
    * the token-array asset (explode + groupBy — bag-of-words over the same
    * token stream), so the corpus tokenizes ONCE per (session, dir) across
    * the whole counts/windows/adjacency family; scoring math is unchanged
    * (the counts are deterministic). */
  private val termCountsAsset = frameAsset("term_counts") { (s, dir) =>
    Tfidf.termCounts(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .select(col("doc_id"), explode(col("tokens")).as("term")))
  }

  /** Corpus cardinality (N in every idf): one count per (session, dir). */
  private val docsCount =
    new Asset[Long]("docs_count", (s, dir) => Tables.documents(s, dir).count())

  /** Exact n-gram pair table at the LOOSEST consumed bar (0.2 — the
    * precision gates' loose slice); tighter consumers filter `jaccard`. */
  /** Scored frame for the token-budget selectors: the quality score as
    * `score` plus the raw whitespace token count — one surface scan and
    * a narrow self-join, spelled identically in the shared oracle. */
  private def budgetScoredFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nt = docs.select(col("doc_id"),
      graft.functions.TextFunctions.surfaceStats(col("text"))
        .getField("n_tokens").cast("long").as("n_tokens"))
    TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality").as("score"))
      .join(nt, "doc_id")
  }

  /** Scored frame for the CLASSIFIER-composed budget selectors: model
    * score (weights asset, one codegen scan) + raw token counts;
    * degenerate documents score NULL — no defined rank — and are
    * filtered here, matching the oracle's IS NOT NULL. */
  private def classifierBudgetFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nt = docs.select(col("doc_id"),
      graft.functions.TextFunctions.surfaceStats(col("text"))
        .getField("n_tokens").cast("long").as("n_tokens"))
    operators.QualityClassifier.scoreWith(docs, qualityClassifierWeightsAsset(s, dir))
      .select(col("doc_id"), col("score"))
      .where(col("score").isNotNull)
      .join(nt, "doc_id")
  }

  /** [[sources.Tables.documents]] with scan parallelism floored at the
    * session default ([[operators.Scaling.fanOut]]): the fixture's
    * single-row-group parquet scans as ONE task, which serializes per-row
    * text work (regex tokenize, paragraph cuts, gram explode) that is
    * embarrassingly parallel — measured wall ≈ summed executor time on
    * every raw-document map query (e.g. paragraph_dedup_within_doc 4.2 s
    * wall / 4.0 s executor over 4 tasks at sf0.1). At scale the scan
    * splits ≥ cores and fanOut is a no-op (no shuffle, no plan change);
    * locally it is one narrow shuffle of the compact pre-expansion rows.
    * Used by the registrations whose dominant cost is that map work. */
  private def documentsFan(s: SparkSession, dir: String): DataFrame =
    operators.Scaling.fanOut(Tables.documents(s, dir))

  /** The (part, supplier) unit-price rollup as a stored asset (r16): both
    * min-cost queries reduced the SAME decimal pair aggregate over the
    * full lineitem scan per execution — the rollup is a classic stored
    * materialization (one spelling, [[Relational.unitPricePairs]];
    * exact-valued, so serving from parquet changes nothing). */
  private val unitPricePairsAsset = frameAsset("unit_price_pairs") { (s, dir) =>
    Relational.unitPricePairs(s, dir)
  }

  private val exactPairsAsset = frameAsset("ngram_pairs") { (s, dir) =>
    Dedup.ngramJaccardExact(Tables.documents(s, dir), minJaccard = 0.2)
  }

  private val dedupLabelsAsset = frameAsset("dedup_labels") { (s, dir) =>
    Dedup.connectedComponents(
      exactPairsAsset(s, dir).where(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b"))
  }

  private val minhashPairsAsset = frameAsset("minhash_pairs") { (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir), threshold = 0.5)
  }

  private val simhashPairsAsset = frameAsset("simhash_pairs") { (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir))
  }

  /** Learned BPE merge table (8 rules over the term-counts vocabulary) —
    * a trained tokenizer model, persisted like the ANN index so the
    * training loop runs once per (session, dataset) and both the merge
    * query and the segmenter read the same artifact. */
  private val bpeMergesAsset = frameAsset("bpe_merges") { (s, dir) =>
    TextAnalysis.bpeTrainMergesFromCounts(termCountsAsset(s, dir), nMerges = 8)
  }

  /** Trained quality-classifier model (9 rows: intercept + per-feature
    * weight/mean/std) — the fastText-shaped distillation artifact,
    * persisted like the BPE merge table so the 30-iteration training loop
    * runs once per (session, dataset) and every scoring query reads the
    * same weights. Bit-deterministic across layouts (decimal-routed
    * gradients; [[operators.QualityClassifier.layoutDeterminismGate]]). */
  private val qualityClassifierWeightsAsset = frameAsset("quality_classifier_weights") { (s, dir) =>
    // fanOut: the surface-stat scan (the build's dominant cost) is
    // regex-heavy per-row map work over the single-row-group fixture
    // scan; weights are layout-invariant by the decimal-routed design
    // (pinned by layout_determinism_gate)
    val model = operators.QualityClassifier.fit(
      operators.QualityClassifier.featureFrame(documentsFan(s, dir)))
    operators.QualityClassifier.weightsDf(s, model)
  }

  /** BM25 score table `(term, doc_id, cnt, doc_total, df, idf_bm25,
    * score)` as a corpus asset — the INVERTED INDEX a retrieval stack
    * stores once and serves from: `bm25_full` re-sorts it, `bm25_search`
    * prunes postings by term, and the self-retrieval eval reads postings
    * instead of re-scoring the corpus (the avgdl head action and two
    * aggregate joins happen once per dataset). Deterministic (9-rounded
    * doubles round-trip parquet exactly), so values are unchanged. */
  private val bm25Asset = frameAsset("bm25_scores") { (s, dir) =>
    Tfidf.bm25FromCounts(termCountsAsset(s, dir), docsCount(s, dir))
  }

  /** The SERVED form of the BM25 postings index: the asset's narrow
    * (term, doc_id, score) projection, spread round-robin across the full
    * shuffle width ONCE and kept persisted — the in-memory index replica a
    * serving tier holds hot. The spread is a property of the served index,
    * not of any query plan: before this existed the spread was a
    * per-execution `repartition` inside the self-retrieval plan, so every
    * warm query re-paid the postings shuffle (r6: warm 15.7 s > cold
    * 9.4 s). Now the pin pays one shuffle; every serving query after it is
    * exchange-free above the cached scan (PlanSpec-pinned). Round-robin,
    * not term-keyed: consumers broadcast their keyword side, so any
    * posting row can process anywhere; term-keyed spreading funnels work
    * through the few distinct high-tfidf terms. */
  private val servedPostingsAsset: Asset[DataFrame] =
    new Asset[DataFrame]("bm25_served_postings", (s, dir) =>
      bm25Asset(s, dir).select("term", "doc_id", "score")
        .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)) {
      // A harness clearCache() between queries drops the blocks out from
      // under the cached frame; re-pin and re-materialize whenever that
      // happened, so consumers ALWAYS read pre-spread cached blocks (one
      // shuffle per pin, zero per serving query).
      override def apply(s: SparkSession, dir: String): DataFrame = {
        val df = super.apply(s, dir)
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count()
        }
        df
      }
    }
  private[graft] def bm25ServedPostings(s: SparkSession, dir: String): DataFrame =
    servedPostingsAsset(s, dir)

  /** Exact brute-force kNN ground truth for the standard gate probe set
    * (queries 0-9, k=10) as a corpus asset: five recall gates (`ann_recall`,
    * `ivf_recall`, `pq_recall`, `pq_recall_shallow`, `int8_knn_recall`)
    * re-ran the identical deterministic brute-force pass per execution
    * before this existed. Ground truth is a stored eval artifact — the
    * production shape for any recall harness. */
  private val knnExactAsset = frameAsset("knn_exact") { (s, dir) =>
    Similarity.knnBruteForce(Tables.embeddings(s, dir), 0L to 9L, 10)
  }

  /** One-Lloyd-iteration IVF coarse centroids as a corpus asset — centroid
    * training is model fitting (the argument that already asset-backed the
    * PQ codebooks and BPE rules): deterministic, corpus-linear, and
    * re-paid on every execution before this existed (r6: `ivf_lloyd_top10`
    * warm 1.9 s, mostly re-training). The search query reads 16 stored
    * (c_id, cv, cnorm) rows instead. */
  private val lloydCentroidsAsset = frameAsset("ivf_lloyd_cents") { (s, dir) =>
    Similarity.trainCentroidsFromEmbeddings(
      Tables.embeddings(s, dir), nCentroids = 16, lloydIters = 1)
  }

  /** Corpus adjacent-bigram counts `(w1, w2, n_ab)` — the shared LM/
    * collocation model table; `bigram_pmi` and `lm_doc_scores` both
    * aggregated it from the token arrays per execution before it became an
    * asset (r5 VERDICT item 5). */
  private val bigramCountsAsset = frameAsset("bigram_counts") { (s, dir) =>
    TextAnalysis.bigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)))
  }

  /** Corpus adjacent-trigram counts `(w1, w2, w3, n_abc)` — the one model
    * table every trigram-KN statistic aggregates from. */
  private val trigramCountsAsset = frameAsset("trigram_counts") { (s, dir) =>
    TextAnalysis.trigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)))
  }

  /** Pre-enriched KN3 model (one row per trigram type, every scoring
    * statistic inline + the type/vocab scalars) — corpus-trained KN3
    * serving joins this ONCE instead of running five stat joins per
    * query execution. */
  private val kn3ModelAsset = frameAsset("kn3_model") { (s, dir) =>
    TextAnalysis.kn3EnrichedModel(trigramCountsAsset(s, dir),
      termCountsAsset(s, dir))
  }

  /** Pre-enriched bigram-KN model — the kn3_model's bigram twin: one row
    * per bigram type with all three statistics inline, so corpus-trained
    * KN2 serving is ONE join per query instead of three stat aggregates
    * + joins per execution. */
  private val kn2ModelAsset = frameAsset("kn2_model") { (s, dir) =>
    TextAnalysis.kn2EnrichedModel(bigramCountsAsset(s, dir))
  }

  /** Per-doc perplexity-contrast scores (Moore–Lewis delta vs the
    * held-out target split) — the fused two-model scoring pass runs once
    * per dataset; the score query and both selection heads serve from the
    * parquet (the bm25/term-counts serving pattern). */
  private val contrastScoresAsset = frameAsset("contrast_scores") { (s, dir) =>
    val toksAll = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
    TextAnalysis.perplexityContrastKn3(toksAll,
      TextAnalysis.trigramCountsFromTokens(
        toksAll.where(col("doc_id") % 53 === 0)),
      termCountsAsset(s, dir).where(col("doc_id") % 53 === 0),
      kn3ModelAsset(s, dir))
  }

  /** Trigram counts over the pre-append corpus slice (doc_id % 10 ≠ 9) —
    * the STORED general-model snapshot the contrast-score snapshot
    * protocol serves from: batch scoring aggregates its per-order
    * statistics from this narrow model table (model-sized work), never
    * from a corpus rescan. */
  private val trigramCountsOld90Asset = frameAsset("trigram_counts_old90") { (s, dir) =>
    TextAnalysis.trigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") % 10 =!= 9))
  }

  /** The old90 GENERAL model's KN3 statistic tables, stored (r16): the
    * held-out contrast scorers re-aggregated these five model-sized
    * frames — plus the corpus-sized `v_size` vocabulary distinct — from
    * the trigram snapshot on EVERY batch score. A snapshot's statistics
    * are as immutable as its counts, so they persist once per dataset and
    * every batch pays only the ladder joins
    * ([[graft.operators.TextAnalysis.perplexityContrastKn3HeldoutServed]]).
    * All-integral values: the parquet round-trip is bit-identical to the
    * live aggregation (spec-pinned in TextAnalysisSpec). */
  private def kn3StatsAsset(name: String)(
      live: (SparkSession, String) => TextAnalysis.Kn3Stats): Asset[TextAnalysis.Kn3Stats] =
    storedAsset(name) { (s, dir, path) =>
      val l = live(s, dir)
      Seq("ctx" -> l.ctx, "cont2" -> l.cont2, "mid" -> l.mid, "cont1" -> l.cont1,
        "types" -> l.types, "vocab" -> l.vocab)
        .foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$path/$t") }
    } { (s, path) =>
      def t(table: String) = s.read.parquet(s"$path/$table")
      TextAnalysis.Kn3Stats(t("ctx"), t("cont2"), t("mid"), t("cont1"), t("types"), t("vocab"))
    }

  private val kn3StatsOld90 = kn3StatsAsset("kn3_stats_old90") { (s, dir) =>
    TextAnalysis.kn3Stats(trigramCountsOld90Asset(s, dir),
      termCountsAsset(s, dir).where(col("doc_id") % 10 =!= 9))
  }

  /** The IN-DOMAIN model of the old90 contrast snapshot — the fixed
    * curated split (old90 ∩ %53): its trigram counts and statistic
    * tables, stored. The snapshot's in-domain side is as frozen as its
    * general side, so batch scoring re-derived BOTH per execution
    * (tokenize slice + trigram count + five aggregates) for nothing. */
  private val trigramCountsInOld90Asset = frameAsset("trigram_counts_in_old90") { (s, dir) =>
    TextAnalysis.trigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") % 10 =!= 9 && col("doc_id") % 53 === 0))
  }

  private val kn3StatsInOld90 = kn3StatsAsset("kn3_stats_in_old90") { (s, dir) =>
    TextAnalysis.kn3Stats(trigramCountsInOld90Asset(s, dir),
      termCountsAsset(s, dir)
        .where(col("doc_id") % 10 =!= 9 && col("doc_id") % 53 === 0))
  }

  /** Bigram counts over the same pre-append slice — the stored bigram
    * model the count-merge replay updates. */
  private val bigramCountsOld90Asset = frameAsset("bigram_counts_old90") { (s, dir) =>
    TextAnalysis.bigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") % 10 =!= 9))
  }

  /** Trigram counts over the rebuild-audit shard's pre-append slice
    * (doc_id < [[rebuildAuditMaxDoc]], doc_id % 10 ≠ 9) — stored so the
    * enrichment-pricing gates read a model-sized parquet instead of
    * recounting the shard's tokens on every run (r13: that recount was
    * the registry's #3 quiet-box cost despite the constant-shard bound). */
  private val trigramCountsAuditOldAsset = frameAsset("trigram_counts_audit_old") { (s, dir) =>
    TextAnalysis.trigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") < rebuildAuditMaxDoc && col("doc_id") % 10 =!= 9))
  }

  /** Bigram twin of [[trigramCountsAuditOldAsset]]. */
  private val bigramCountsAuditOldAsset = frameAsset("bigram_counts_audit_old") { (s, dir) =>
    TextAnalysis.bigramCountsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") < rebuildAuditMaxDoc && col("doc_id") % 10 =!= 9))
  }

  /** ENRICHED KN3 model over the audit shard's pre-append slice — the
    * stored serving artifact the kn3 rebuild gate delta-merges (r15):
    * with it the gate is a model scan + batch-incident arithmetic
    * ([[graft.operators.TextAnalysis.kn3EnrichedMerge]]) instead of a
    * full enrichment re-aggregation per run. Built from the stored audit
    * counts + the old-slice term vocabulary, so the merged output's
    * scalars line up with the full-shard enrichment the oracle replays. */
  private val kn3ModelAuditOldAsset = frameAsset("kn3_model_audit_old") { (s, dir) =>
    TextAnalysis.kn3EnrichedModel(trigramCountsAuditOldAsset(s, dir),
      termCountsAsset(s, dir)
        .where(col("doc_id") < rebuildAuditMaxDoc && col("doc_id") % 10 =!= 9))
  }

  /** Bigram twin of [[kn3ModelAuditOldAsset]]. */
  private val kn2ModelAuditOldAsset = frameAsset("kn2_model_audit_old") { (s, dir) =>
    TextAnalysis.kn2EnrichedModel(bigramCountsAuditOldAsset(s, dir))
  }

  /** Pre-append contrast scores — the stored snapshot-scored asset the
    * incremental replay unions with the batch's fresh scores: every old
    * document scored ONCE against the old90 snapshot models (in-domain =
    * the pre-append curated split old90 ∩ %53; general = the old90
    * trigram snapshot) and never re-scored until a snapshot rebuild.
    * Both ladders run held-out form so the stored scores and any later
    * batch's scores come from ONE spelling. */
  private val contrastScoresOld90Asset = frameAsset("contrast_scores_old90") { (s, dir) =>
    val toksOld = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      .where(col("doc_id") % 10 =!= 9)
    TextAnalysis.perplexityContrastKn3HeldoutServed(toksOld,
      trigramCountsInOld90Asset(s, dir), kn3StatsInOld90(s, dir),
      trigramCountsOld90Asset(s, dir), kn3StatsOld90(s, dir))
  }

  /** The paragraph keeper store over the pre-append corpus slice
    * (doc_id % 10 ≠ 9 — the same replay split every incremental index
    * uses): "the stored paragraph index before the batch arrived". */
  private val paragraphKeepersOldAsset = frameAsset("paragraph_keepers_old90") { (s, dir) =>
    Paragraphs.paragraphKeepers(
      Tables.documents(s, dir).where(col("doc_id") % 10 =!= 9),
      paraTokens = 16)
  }

  /** The DELIMITER-cut keeper store over the same pre-append slice — the
    * real-boundary sibling of `paragraph_keepers_old90` (real corpora cut
    * on `\n{2,}`; the single-line fixture's stand-in separator is the
    * registry's usual ` table ` word). */
  private val paragraphKeepersDelimOldAsset = frameAsset("paragraph_keepers_delim_old90") { (s, dir) =>
    Paragraphs.paragraphKeepersByDelimiter(
      Tables.documents(s, dir).where(col("doc_id") % 10 =!= 9),
      "\\s+table\\s+")
  }

  /** Arrival split for the manifest-maintenance family: BLOCKS of 20
    * consecutive doc_ids arrive together — `(doc_id div 20) % 10 == 9` is
    * the append batch. The house per-id `% 10` split is source-degenerate
    * for the per-source quality stage on the fixture (source cycles with
    * doc_id, so the batch would hold only sources the snapshot never
    * calibrated); block arrival keeps every source on both sides, which is
    * also the realistic ingest shape (a crawl delivers whole shards, not
    * id-striped rows). */
  private def manifestArrivalBlock: org.apache.spark.sql.Column =
    expr("(doc_id div 20) % 10")

  /** Audit-shard bound for the model-rebuild gates: the gates replay
    * merge → enrichment over documents `doc_id < rebuildAuditMaxDoc`
    * ONLY. Covers the whole correctness fixture (500 docs at sf0.01, so
    * the oracle stays the unchanged full recount) while pinning the
    * gates' cost to a constant shard at any production scale — a
    * recount gate that grew with the corpus would be unrunnable at
    * 100 TB. Stored-asset integrity is separately certified by the
    * counts-merge oracles, which do hash the stored assets. */
  private val rebuildAuditMaxDoc = 2048L

  /** The pre-append corpus slice the incremental manifest's stored indexes
    * snapshot (everything outside the arrival batch). */
  private def oldSliceDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).where(manifestArrivalBlock =!= 9)

  /** Stored fingerprint keepers over the pre-append slice — the exact-dup
    * store the incremental manifest probes (FIRST-ARRIVED: keeper = the
    * earliest old arrival per content fingerprint). */
  private val fpStoreOldAsset = frameAsset("fp_store_old90") { (s, dir) =>
    oldSliceDocs(s, dir)
      .select(graft.functions.TextFunctions.contentFingerprint(col("text"))
        .as("fingerprint"), col("doc_id"))
      .groupBy("fingerprint").agg(min("doc_id").as("keeper"))
  }

  /** The near-dup snapshot index, four stored tables
    * ([[Dedup.nearDupFlagsIncremental]]'s contract): gram document
    * frequencies over the old slice (UNCAPPED — merged-df arithmetic
    * needs every old count), the old-df-capped postings, per-doc kept
    * sizes, and the stored pair-table closure. */
  private val dedupGramDfOldAsset = frameAsset("dedup_gram_df_old90") { (s, dir) =>
    Dedup.distinctGramRows(oldSliceDocs(s, dir))
      .groupBy("gram").agg(count(lit(1)).as("gram_df"))
  }

  private val dedupPostingsOldAsset = frameAsset("dedup_postings_old90") { (s, dir) =>
    Dedup.distinctGramRows(oldSliceDocs(s, dir))
      .join(dedupGramDfOldAsset(s, dir)
        .where(col("gram_df") <= 64).select("gram"), "gram")
      .select("doc_id", "gram")
  }

  private val dedupSizesOldAsset = frameAsset("dedup_sizes_old90") { (s, dir) =>
    dedupPostingsOldAsset(s, dir)
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
  }

  private val dedupLabelsOldAsset = frameAsset("dedup_labels_old90") { (s, dir) =>
    // pair stage over the STORED kept postings + sizes (built from the
    // same distinctGramRows spelling under the same df cap), not a
    // second tokenize + gram-df aggregation over the old slice —
    // row-identical by the shared-gram-domain contract
    // ([[Dedup.ngramJaccardFromPostings]]); sf0.1 build 16.5 → ~9 s
    Dedup.connectedComponents(
      Dedup.ngramJaccardFromPostings(dedupPostingsOldAsset(s, dir),
        dedupSizesOldAsset(s, dir)).select("doc_a", "doc_b"))
  }

  /** Stored benchmark gram set over the old slice's benchmark split — the
    * decontamination store an append batch unions its own new benchmark
    * grams into before scoring arriving train documents. */
  private val benchGramsOldAsset = frameAsset("bench_grams_old90") { (s, dir) =>
    Curation.gramRowsFromTokens(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir))
          .where(manifestArrivalBlock =!= 9 && col("doc_id") % 53 === 0), 3)
      .select("gram").distinct()
  }

  /** Stored per-source quality thresholds over the old slice — the
    * sampled-cut calibration ([[TextAnalysis.qualityThresholds]]) the
    * incremental manifest's quality stage compares against. */
  private val qualityThresholdsOldAsset = frameAsset("quality_thresholds_old90") { (s, dir) =>
    TextAnalysis.qualityThresholds(oldSliceDocs(s, dir), dropFraction = 0.25)
  }

  /** The conservative recipe's weight table as a stored artifact — a
    * pipeline materializes the composed weights once (the pair stage over
    * the cleaned text is derivation work, not serving work); the weights
    * query and the applied sampler both read the parquet. */
  private val conservativeWeightsAsset = frameAsset("conservative_weights") { (s, dir) =>
    // fanOut: stage 1 (within-doc strip) is per-row text work over the
    // single-row-group scan; the cleaned frame inherits the parallelism
    // into the pair stage's tokenize. Layout-invariant results.
    Curation.conservativeSoftWeights(documentsFan(s, dir), paraTokens = 2)
  }

  /** The snapshot's OWN manifest over the pre-append slice — the stored
    * dataset-card rows an append batch's incremental rows union with.
    * Every flag derives from the same stored indexes the incremental
    * family probes (fingerprint keepers, the frozen pair closure, the
    * benchmark gram store, the sampled thresholds), so stored rows and
    * batch rows carry one consistent semantics; rows are IMMUTABLE —
    * a later batch never rewrites them (retroactive effects of a
    * bench/threshold refresh are refresh-audit territory). */
  private val manifestOldAsset = frameAsset("manifest_old90") { (s, dir) =>
    val old = oldSliceDocs(s, dir)
    val exact = old.select(col("doc_id"),
        graft.functions.TextFunctions.contentFingerprint(col("text"))
          .as("fingerprint"))
      .join(fpStoreOldAsset(s, dir), "fingerprint")
      .select(col("doc_id"),
        (col("doc_id") =!= col("keeper")).cast("long").as("exact_dup"))
    val near = dedupLabelsOldAsset(s, dir)
      .where(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"), lit(1L).as("near_dup"))
    val oldToks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      .where(manifestArrivalBlock =!= 9)
    val cont = Curation.decontaminateAgainstGramStore(
        oldToks.where(col("doc_id") % 53 =!= 0), benchGramsOldAsset(s, dir))
      .select(col("doc_id"), col("contaminated").cast("long").as("contaminated"))
    val lowq = TextAnalysis.lowQualityByStoredThresholds(
      old, qualityThresholdsOldAsset(s, dir))
    val nTok = oldToks.select(col("doc_id"),
      size(col("tokens")).cast("long").as("n_tokens"))
    old.where(col("doc_id") % 53 =!= 0)
      .select("doc_id", "source")
      .join(exact, "doc_id")
      .join(lowq.select("doc_id", "quality", "low_quality"), "doc_id")
      .join(near, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(nTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("quality"), col("exact_dup"),
        coalesce(col("near_dup"), lit(0L)).as("near_dup"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"),
        col("low_quality"))
      .withColumn("kept",
        (col("exact_dup") === 0 && col("near_dup") === 0 &&
          col("contaminated") === 0 && col("low_quality") === 0).cast("long"))
  }

  /** The batch's manifest rows MATERIALIZED — what the incremental
    * protocol actually writes after scoring an append (stored old rows
    * stay immutable, these append). The dataset-card rollup reads this
    * parquet + the old manifest: a stable two-scan plan instead of
    * inlining the whole O(batch) scoring chain per report. The live
    * scoring chain itself stays registered (and priced) as the
    * `manifest_incremental` query. */
  private val manifestBatchAsset =
    frameAsset("manifest_batch90") { (s, dir) => manifestIncrementalFrame(s, dir) }

  /** The append batch's manifest rows under the snapshot protocol —
    * every curation stage's flag at O(batch) off the stored indexes
    * (shared by the `manifest_incremental` query and the incremental
    * dataset-card rollup's stored asset). */
  /** The snapshot store bundle the incremental manifest family serves
    * from — one value so the batch composition, the at-ingest batch twin,
    * and a production stream's `loadStores` all read the SAME tables. */
  private def manifestStores(s: SparkSession, dir: String): graft.streaming.Streams.ManifestStores =
    graft.streaming.Streams.ManifestStores(
      fpStoreOldAsset(s, dir),
      dedupLabelsOldAsset(s, dir), dedupPostingsOldAsset(s, dir),
      dedupGramDfOldAsset(s, dir), dedupSizesOldAsset(s, dir),
      benchGramsOldAsset(s, dir), qualityThresholdsOldAsset(s, dir))

  private def manifestIncrementalFrame(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.manifestAdmission(
      Tables.documents(s, dir).where(manifestArrivalBlock === 9),
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(manifestArrivalBlock === 9),
      manifestStores(s, dir))

  /** Refresh-impact audit for the manifest family's snapshot stores —
    * the `contrast_refresh_impact` pattern applied to the manifest: one
    * row per store naming, after an append batch, how many entries an
    * append-merge would ADD (`n_new_entries`), how many STORED entries
    * the batch made inconsistent with a full rebuild (`n_invalidated`),
    * and whether the store is rebuild-due. Everything is an O(batch)
    * keyed probe of the same stored assets the incremental manifest
    * reads — the audit prices staleness without paying the rescan it
    * recommends. Per-store rules:
    *
    *  - `exact_fps`: new content fingerprints. Never rebuild-due — the
    *    store is append-only and old keeperships are immutable by rule.
    *  - `near_dup_index`: new grams, plus stored DOCS whose kept-gram
    *    set shrank (a batch arrival pushed a gram over the df cap, so
    *    their stored postings/sizes are stale). Rebuild-due iff any
    *    stored doc is invalidated.
    *  - `benchmark_grams`: new benchmark grams. Rebuild-due iff any —
    *    stored contaminated flags were computed without them (the
    *    retroactive window `corpus_report_incremental` documents).
    *  - `quality_thresholds`: batch sources with NO stored calibration
    *    (the quality stage refuses them). Rebuild-due iff any. */
  /** One audit row of the refresh-impact family — the shared assembly
    * every store-family audit uses: two single-row count aggregates
    * (what an append-merge would ADD, what it made stale) keyed-joined
    * on a constant and composed into the family's uniform
    * `(stage, n_new_entries, n_invalidated, rebuild_due)` shape. The
    * due flags encode each store's maintenance rule: an append-only
    * store is never rebuild-due; a store whose incremental path cannot
    * reach rebuild-equivalence flags on the relevant count. */
  private def refreshAuditRow(stage: String, nNew: DataFrame,
      nInval: DataFrame, dueFromNew: Boolean,
      dueFromInval: Boolean): DataFrame =
    nNew.withColumn("k", lit(1))
      .join(nInval.withColumn("k", lit(1)), "k")
      .select(lit(stage).as("stage"),
        col("n_new_entries"), col("n_invalidated"),
        ((col("n_new_entries") > 0 && lit(dueFromNew)) ||
          (col("n_invalidated") > 0 && lit(dueFromInval))).cast("long")
          .as("rebuild_due"))

  /** A constant-zero single-row count (`agg` over an empty range) — the
    * "this store has no entries of that kind" side of an audit row. */
  private def zeroCount(s: SparkSession, alias: String): DataFrame =
    s.range(0).agg(count(lit(1)).as(alias))

  private def manifestRefreshImpactFrame(s: SparkSession, dir: String): DataFrame = {
    val newAll = Tables.documents(s, dir).where(manifestArrivalBlock === 9)
    val newToks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      .where(manifestArrivalBlock === 9)
    def audit(stage: String, nNew: DataFrame, nInval: DataFrame,
        dueFromNew: Boolean, dueFromInval: Boolean): DataFrame =
      refreshAuditRow(stage, nNew, nInval, dueFromNew, dueFromInval)
    val zero = (alias: String) => zeroCount(s, alias)
    val batchFps = newAll
      .select(graft.functions.TextFunctions.contentFingerprint(col("text"))
        .as("fingerprint")).distinct()
    val exactNew = batchFps
      .join(fpStoreOldAsset(s, dir).select("fingerprint"),
        Seq("fingerprint"), "left_anti")
      .agg(count(lit(1)).as("n_new_entries"))
    val batchDfMerged = Dedup.distinctGramRows(newAll)
      .groupBy("gram").agg(count(lit(1)).as("batch_df"))
      .join(dedupGramDfOldAsset(s, dir), Seq("gram"), "left")
    val nearNew = batchDfMerged.where(col("gram_df").isNull)
      .agg(count(lit(1)).as("n_new_entries"))
    val overCap = batchDfMerged
      .where(col("gram_df") <= 64 && col("gram_df") + col("batch_df") > 64)
      .select("gram")
    val nearInval = dedupPostingsOldAsset(s, dir).join(overCap, "gram")
      .agg(countDistinct("doc_id").as("n_invalidated"))
    val benchNew = Curation.gramRowsFromTokens(
        newToks.where(col("doc_id") % 53 === 0), 3)
      .select("gram").distinct()
      .join(benchGramsOldAsset(s, dir).select("gram"), Seq("gram"), "left_anti")
      .agg(count(lit(1)).as("n_new_entries"))
    val qualNew = newAll.select("source").distinct()
      .join(qualityThresholdsOldAsset(s, dir).select("source"),
        Seq("source"), "left_anti")
      .agg(count(lit(1)).as("n_new_entries"))
    audit("exact_fps", exactNew, zero("n_invalidated"),
        dueFromNew = false, dueFromInval = false)
      .unionByName(audit("near_dup_index", nearNew, nearInval,
        dueFromNew = false, dueFromInval = true))
      .unionByName(audit("benchmark_grams", benchNew, zero("n_invalidated"),
        dueFromNew = true, dueFromInval = false))
      .unionByName(audit("quality_thresholds", qualNew, zero("n_invalidated"),
        dueFromNew = true, dueFromInval = false))
  }

  /** Refresh-impact audit for the PARAGRAPH keeper stores (both cuts) —
    * the release owner's staleness signal after an append batch
    * (doc_id % 10 == 9, the family's own arrival split). Per store:
    *
    *  - `n_new_entries`: batch paragraph contents never stored — rows an
    *    append-merge ([[graft.operators.Paragraphs.paragraphDedupIncremental]])
    *    would ADD to the keeper set.
    *  - `n_invalidated`: stored keepers a FULL REBUILD would re-elect —
    *    the batch contains an occurrence with a smaller
    *    `(doc_id, para_idx)` key, so corpus-min election disagrees with
    *    the store's first-arrived keeper. Reported as drift, NOT as
    *    rebuild-due: first-arrived keeperships are immutable by rule
    *    (re-electing would retroactively strip already-served text —
    *    the store's scaladoc spells the argument), so `rebuild_due` is
    *    constantly 0 and the count prices exactly how far the serving
    *    store has drifted from a from-scratch build.
    *
    * O(batch) shape: the batch cuts + fingerprints its own paragraphs
    * (narrow md5 rows), then probes the stored keeper set with two
    * fp-keyed joins; stored text never moves. */
  private def paragraphRefreshImpactFrame(s: SparkSession, dir: String): DataFrame = {
    val batchDocs = Tables.documents(s, dir).where(col("doc_id") % 10 === 9)
    def stage(name: String, store: DataFrame, batchParas: DataFrame): DataFrame = {
      val nNew = batchParas.select("fp").distinct()
        .join(store.select("fp"), Seq("fp"), "left_anti")
        .agg(count(lit(1)).as("n_new_entries"))
      val batchMin = batchParas.groupBy("fp")
        .agg(min(struct(col("doc_id").as("d"), col("para_idx").as("p"))).as("bmin"))
      val nInval = store.join(batchMin, "fp")
        .where(col("bmin") <
          struct(col("doc_id").as("d"), col("para_idx").as("p")))
        .agg(count(lit(1)).as("n_invalidated"))
      refreshAuditRow(name, nNew, nInval,
        dueFromNew = false, dueFromInval = false)
    }
    stage("keepers_delim", paragraphKeepersDelimOldAsset(s, dir),
        Paragraphs.paragraphsByDelimiter(batchDocs, "\\s+table\\s+"))
      .unionByName(stage("keepers_fixed", paragraphKeepersOldAsset(s, dir),
        Paragraphs.paragraphs(batchDocs, 16)))
  }

  /** Refresh-impact audit for the EXACT-SUBSTRING index stores — the
    * verified base index (L=12) and the stored L=24 cascade level. Both
    * merges are REBUILD-EXACT (the incremental merge reproduces the full
    * rebuild's rows — oracle- and spec-pinned), so `rebuild_due` is
    * constantly 0 and the audit prices the REWRITE an append implies:
    *
    *  - `n_new_entries`: rows the merged index has that the stored one
    *    lacks — batch-document windows plus old windows the batch
    *    FLIPPED from unique to duplicated.
    *  - `n_invalidated`: stored rows whose `(occ, canon)` payload the
    *    merge rewrites — the gram gained a batch occurrence, growing its
    *    occurrence count and possibly moving its corpus-first canon.
    *
    * Serving shape: both sides are stored narrow index assets (the
    * full-corpus index IS the merged truth — its equality with the live
    * merge is what `exact_substr_incremental_merge`'s oracle pins), so
    * the audit is two scans + keyed diffs of duplicated-fraction-sized
    * tables — no tokenizing, no content verify. A deployment with an
    * index too large to diff wholesale would restrict both sides to
    * hash-candidate positions first (batch window hashes probed into the
    * stored hash asset, the merge's own candidate rule) — the counts are
    * identical, the diff then moves only batch-incident rows. */
  private def exactSubstrRefreshImpactFrame(s: SparkSession, dir: String): DataFrame = {
    def stage(name: String, full: DataFrame, stored: DataFrame): DataFrame = {
      val nNew = full
        .join(stored.select("doc_id", "pos"), Seq("doc_id", "pos"), "left_anti")
        .agg(count(lit(1)).as("n_new_entries"))
      val nInval = stored.select(col("doc_id"), col("pos"),
          col("occ").as("o_occ"), col("canon").as("o_canon"))
        .join(full.select(col("doc_id"), col("pos"),
          col("occ").as("m_occ"), col("canon").as("m_canon")),
          Seq("doc_id", "pos"))
        .where(col("m_occ") =!= col("o_occ") ||
          col("m_canon") =!= col("o_canon"))
        .agg(count(lit(1)).as("n_invalidated"))
      refreshAuditRow(name, nNew, nInval,
        dueFromNew = false, dueFromInval = false)
    }
    stage("base_index", exactSubstrWindowsAsset(s, dir),
        exactSubstrOldWindowsAsset(s, dir))
      .unionByName(stage("cascade_l24", exactSubstrL24Asset(s, dir),
        exactSubstrOldL24Asset(s, dir)))
  }

  /** BM25 score table over the pre-append corpus slice (doc_id % 10 ≠ 9)
    * — "the served retrieval index before the batch arrived": the stored
    * snapshot the BM25 refresh-impact audit probes, built by the same
    * spelling as the live index so row payloads are comparable. */
  private val bm25ScoresOld90Asset = frameAsset("bm25_scores_old90") { (s, dir) =>
    val tcOld = termCountsAsset(s, dir).where(col("doc_id") % 10 =!= 9)
    Tfidf.bm25FromCounts(tcOld,
      Tables.documents(s, dir).where(col("doc_id") % 10 =!= 9).count())
  }

  /** Refresh-impact audit for the BM25 SERVED POSTINGS — what an append
    * batch does to a retrieval index that serves precomputed scores.
    * Two stores, two very different staleness rules:
    *
    *  - `served_postings`: `n_new_entries` = the batch's posting rows
    *    (every batch (term, doc) pair is a new index row);
    *    `n_invalidated` = STORED postings whose term's document
    *    frequency grew — their `df`/`idf_bm25`/`score` payloads are
    *    stale, so the serving tier owes those rows a rewrite before the
    *    next snapshot swap (rebuild-due iff any).
    *  - `collection_stats`: `n_new_entries` = batch documents (new
    *    `doc_total` entries); `n_invalidated` = the one stored global
    *    (N, avgdl) row, stale the moment ANY document arrives — the
    *    reason every BM25 deployment snapshots collection stats and
    *    swaps them with the index version rather than patching scores
    *    in place (rebuild-due iff the batch is non-empty).
    *
    * O(batch) shape: batch postings come keyed off the stored
    * term-counts asset (a doc_id predicate on the scan); the stored
    * side is touched only by one term-keyed semi-join. */
  private def bm25RefreshImpactFrame(s: SparkSession, dir: String): DataFrame = {
    val isBatch = col("doc_id") % 10 === 9
    val batchPostings = termCountsAsset(s, dir).where(isBatch)
    val postNew = batchPostings.agg(count(lit(1)).as("n_new_entries"))
    val postInval = bm25ScoresOld90Asset(s, dir)
      .join(batchPostings.select("term").distinct(), Seq("term"), "left_semi")
      .agg(count(lit(1)).as("n_invalidated"))
    val batchDocs = Tables.documents(s, dir).where(isBatch)
    val statsNew = batchDocs.agg(count(lit(1)).as("n_new_entries"))
    val statsInval = batchDocs
      .agg((count(lit(1)) > 0).cast("long").as("n_invalidated"))
    refreshAuditRow("collection_stats", statsNew, statsInval,
        dueFromNew = true, dueFromInval = false)
      .unionByName(refreshAuditRow("served_postings", postNew, postInval,
        dueFromNew = false, dueFromInval = true))
  }

  /** IVF coarse centroids over the pre-append embedding slice
    * (vec_id % 10 ≠ 9) — "the trained quantizer before the batch
    * arrived": same hyperparameters and deterministic training as the
    * live `ivf_lloyd_cents` asset, so the audit probes a store the
    * serving index could actually have shipped. */
  private val ivfCentsOld90Asset = frameAsset("ivf_cents_old90") { (s, dir) =>
    Similarity.trainCentroidsFromEmbeddings(
      Tables.embeddings(s, dir).where(col("vec_id") % 10 =!= 9),
      nCentroids = 16, lloydIters = 1)
  }

  /** Per-cell vector counts of the stored old-slice IVF index
    * `(list_id, n_vecs)` — the snapshot's inverted-list sizes, stored at
    * build time so the imbalance audit reads 16 rows instead of
    * re-assigning the old corpus. */
  private val ivfCellSizesOld90Asset = frameAsset("ivf_cell_sizes_old90") { (s, dir) =>
    Similarity.listAssignments(
        Tables.embeddings(s, dir).where(col("vec_id") % 10 =!= 9),
        ivfCentsOld90Asset(s, dir))
      .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
  }

  /** Refresh-impact audit for the ANN (IVF) index stores — does an
    * append batch leave the frozen coarse quantizer serviceable?
    *
    *  - `centroids`: `n_new_entries` = 0 (the frozen-store protocol adds
    *    no centroid on append); `n_invalidated` = stored cells the batch
    *    pushes past 2× the snapshot's MEAN list size — the classic IVF
    *    staleness signal (an overfull list degrades every probe that
    *    touches it, and a drifting arrival distribution shows up here
    *    first). Rebuild-due iff any cell overflows: retrain the coarse
    *    quantizer, re-encode nothing else.
    *  - `cell_assignments`: `n_new_entries` = batch vectors (each owes
    *    the index one assignment row); append-only, never
    *    rebuild-due.
    *
    * O(batch × C) shape: the batch assigns against 16 broadcast stored
    * centroids (one map-side pass); stored state read = 16 centroid rows
    * + 16 size rows. The old corpus is never rescanned. */
  private def annRefreshImpactFrame(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.embeddings(s, dir).where(col("vec_id") % 10 === 9)
    val sizes = ivfCellSizesOld90Asset(s, dir)
    val batchCells = Similarity.listAssignments(batch, ivfCentsOld90Asset(s, dir))
      .groupBy("list_id").agg(count(lit(1)).as("n_batch"))
    val cap = sizes.agg(ceil(avg("n_vecs") * 2).cast("long").as("cap"))
    val centsInval = sizes
      .join(batchCells, Seq("list_id"), "full_outer")
      .na.fill(0L, Seq("n_vecs", "n_batch"))
      .withColumn("k", lit(1))
      .join(cap.withColumn("k", lit(1)), "k")
      .where(col("n_vecs") + col("n_batch") > col("cap"))
      .agg(count(lit(1)).as("n_invalidated"))
    val assignNew = batch.agg(count(lit(1)).as("n_new_entries"))
    refreshAuditRow("cell_assignments", assignNew,
        zeroCount(s, "n_invalidated"), dueFromNew = false, dueFromInval = false)
      .unionByName(refreshAuditRow("centroids", zeroCount(s, "n_new_entries"),
        centsInval, dueFromNew = false, dueFromInval = true))
  }

  /** Span-window table `(doc_id, pos, gram)` at n=5 — the intermediate the
    * whole span-dedup family (detect/stats/strip, exact + hashed) marks
    * back against; as an asset the corpus tokenizes + windows ONCE per
    * (session, dir) instead of once per query. */
  private val spanWindowsAsset = frameAsset("span_windows") { (s, dir) =>
    operators.Curation.windowRowsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)), 5)
  }

  /** Verified exact-substring duplicated windows at L=12 — the
    * candidate-verify pipeline's output as a stored corpus asset
    * (doc_id, pos, gram, occ, canon): the spans/strip consumers read it
    * instead of re-running candidate generation + content verify per
    * query, exactly like the n=5 span-window asset. The rank gate keeps
    * only its verify SIDE from here; its suffix-rank construction
    * rebuilds per run by design (algorithm independence is the gate). */
  private val exactSubstrWindowsAsset = frameAsset("exact_substr_windows_l12") { (s, dir) =>
    ExactSubstr.duplicateWindowsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)), 12)
  }

  /** The FULL window-hash index (every position, duplicated or not) —
    * the narrow mergeable sibling the incremental merge consumes: new
    * documents can flip previously-UNIQUE old windows to duplicated, and
    * uniqueness is exactly what the verified index doesn't store. One
    * kernel pass, 24-byte rows. */
  private val exactSubstrHashesAsset = frameAsset("exact_substr_hashes_l12") { (s, dir) =>
    ExactSubstr.windowHashesFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)), 12)
  }

  /** The verified index over the PRE-APPEND corpus slice (doc_id % 10 ≠ 9
    * — the replay's "stored index before the batch arrived"): a
    * deterministic per-dataset derivation like every other index asset,
    * so the registered incremental-merge query is SERVING-shaped (merge +
    * spans), not a rebuild-per-execution. */
  private val exactSubstrOldWindowsAsset = frameAsset("exact_substr_windows_old90") { (s, dir) =>
    ExactSubstr.duplicateWindowsFromTokens(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") % 10 =!= 9), 12)
  }

  /** Cascade-level marked sets (doc_id, pos) at L = 24/48/96 as sub-assets
    * beside the base index: each level derives from the PREVIOUS level's
    * stored parquet by one cascade step (half-mark candidates → content
    * verify — [[graft.operators.ExactSubstr.cascadeStep]]), so the
    * build is a chain of bounded passes with a natural lineage cut at
    * every level (each reads the previous level back from disk), and the
    * depth-profile / match-length consumers are SERVING-only — the r8
    * profile re-ran the whole cascade per execution and compiled a
    * 953-exchange plan. */
  private def exactSubstrLevelAsset(level: Int)(
      prev: (SparkSession, String) => DataFrame): Asset[DataFrame] =
    frameAsset(s"exact_substr_marks_l$level") { (s, dir) =>
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      // store the level hash beside each mark (r9: the probe key
      // incremental cascade maintenance needs — one extra kernel pass
      // over marked docs at build time)
      ExactSubstr.withLevelHashes(toks,
        ExactSubstr.cascadeStep(toks, prev(s, dir), level / 2), level)
    }
  private val exactSubstrL24Asset =
    exactSubstrLevelAsset(24)(exactSubstrWindowsAsset(_, _).select("doc_id", "pos"))
  private val exactSubstrL48Asset = exactSubstrLevelAsset(48)(exactSubstrL24Asset)
  private val exactSubstrL96Asset = exactSubstrLevelAsset(96)(exactSubstrL48Asset)

  /** The l24 cascade level over the PRE-APPEND corpus slice — the stored
    * level the cascade-merge replay updates (the level sibling of
    * `exact_substr_windows_old90`), hashes attached like every stored
    * level. */
  private val exactSubstrOldL24Asset = frameAsset("exact_substr_marks_old90_l24") { (s, dir) =>
    val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      .where(col("doc_id") % 10 =!= 9)
    ExactSubstr.withLevelHashes(toks,
      ExactSubstr.cascadeStep(toks,
        exactSubstrOldWindowsAsset(s, dir).select("doc_id", "pos"), 12), 24)
  }

  /** All four stored cascade levels, base first — the input shape the
    * profile and match-length servers consume. */
  private def exactSubstrLevels(s: SparkSession, dir: String): Seq[(Int, DataFrame)] =
    Seq(12 -> exactSubstrWindowsAsset(s, dir).select("doc_id", "pos"),
      24 -> exactSubstrL24Asset(s, dir),
      48 -> exactSubstrL48Asset(s, dir),
      96 -> exactSubstrL96Asset(s, dir))

  /** Exact per-position longest-match lengths as a stored asset: the
    * band-bounded binary search between adjacent cascade levels is a
    * driver-paced iterative build (≈⌈log₂ L⌉ pinned passes) — per-dataset
    * derivation work, not per-query serving work, exactly like the
    * cascade levels themselves. Length-weighted policies and the
    * registered query read the parquet. */
  private val matchLengthsAsset = frameAsset("exact_substr_match_lengths") { (s, dir) =>
    ExactSubstr.matchLengthsFromLevels(
      operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
      exactSubstrLevels(s, dir))
  }

  /** Duplication-depth profile as a stored 4-row asset: one bounded
    * aggregate over each cascade level at BUILD time; serving reads the
    * tiny parquet (a 100 TB corpus summary must not be recomputed from
    * the full marked sets per query). */
  private val depthProfileAsset = frameAsset("exact_substr_depth_profile") { (s, dir) =>
    ExactSubstr.dupLengthProfileFromLevels(exactSubstrLevels(s, dir))
  }

  /** Bloom over the verified dup-window hashes — the streaming gate's
    * trained model blob, built once per (session, dataset) from the
    * stored index like the other model artifacts (PQ codebooks, BPE
    * rules, decon Blooms). */
  private val dupWindowBloomModel = new Asset[Array[Byte]]("dup_window_bloom", (s, dir) =>
    graft.streaming.Streams.dupWindowBloom(exactSubstrWindowsAsset(s, dir), 12))

  /** External benchmark-embedding table — the eval suite as its OWN
    * parquet source (the shape a real pipeline reads: benchmarks live in
    * their own store, not as a predicate over the corpus). Content is the
    * capped benchmark split the decontamination family gates against, so
    * `decontaminate_semantic_external` shares the split form's oracle. */
  private val benchmarkEmbeddingsAsset = frameAsset("benchmark_embeddings") { (s, dir) =>
    Tables.embeddings(s, dir)
      .where(col("vec_id") % 53 === 0 && col("vec_id") < 5000)
      .select("vec_id", "embedding")
  }

  /** The end-to-end curation manifest (shared by `training_data_manifest`
    * and `manifest_quality_calibration`): per train-split document, audit
    * flags from every curation stage — exact dedup (ONE fingerprint pass
    * feeds both the flag and the window-min keeper), near-dup cluster
    * labels (asset), 3-gram decontamination vs the held-out split, and
    * the per-source bottom-quartile quality cut (ONE qualityScore pass;
    * the rank predicate is qualityRankFilter's exact twin) — plus the
    * `kept` conjunction a pipeline hands to packing/sampling. */
  private def manifestFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val fp = docs.select(col("doc_id"),
        graft.functions.TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .withColumn("keeper",
        min("doc_id").over(Window.partitionBy("fingerprint")))
    val exactDup = fp.select(col("doc_id"),
      (col("doc_id") =!= col("keeper")).cast("long").as("exact_dup"))
    val nearDup = dedupLabelsAsset(s, dir)
      .where(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"), lit(1L).as("near_dup"))
    val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
    val contaminated = Curation.decontaminateFromTokens(
        toks.where(col("doc_id") % 53 =!= 0), toks.where(col("doc_id") % 53 === 0))
      .select(col("doc_id"), col("contaminated").cast("long").as("contaminated"))
    val quality = TextAnalysis.qualityScore(docs).select("doc_id", "quality")
    val lowQuality = docs.select("doc_id", "source").join(quality, "doc_id")
      .withColumn("quality_rank", row_number().over(
        Window.partitionBy("source").orderBy(asc("quality"), asc("doc_id"))).cast("long"))
      .withColumn("n_in_source",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .select(col("doc_id"),
        (col("quality_rank") <= floor(lit(0.25) * col("n_in_source")))
          .cast("long").as("low_quality"))
    val nTok = toks.select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
    docs.where(col("doc_id") % 53 =!= 0)
      .select("doc_id", "source")
      .join(exactDup, "doc_id")
      .join(quality, "doc_id")
      .join(lowQuality, "doc_id")
      .join(nearDup, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(nTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("quality"), col("exact_dup"),
        coalesce(col("near_dup"), lit(0L)).as("near_dup"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"),
        col("low_quality"))
      .withColumn("kept",
        (col("exact_dup") === 0 && col("near_dup") === 0 &&
          col("contaminated") === 0 && col("low_quality") === 0).cast("long"))
      .orderBy("doc_id")
  }

  /** The manifest as a persisted corpus asset: [[manifestFrame]] re-derives
    * exact-dup fingerprints, decontamination, and two per-source quality
    * windows on every execution — the most expensive recompute in the
    * registry (r5: 15.4 s cold, shared by two queries). Built ONCE per
    * (session, dataset) like every other shared intermediate; consumers
    * re-sort after the parquet read (row order is not an asset property). */
  private val manifestAsset = frameAsset("manifest") { (s, dir) => manifestFrame(s, dir) }

  /** One trained ANN index per dataset (build-once/query-many): every
    * PQ/IVF query and recall gate reads the same stored index tables
    * instead of paying the deterministic training again. */
  private val annIndex = storedAsset("ann_index") { (s, dir, path) =>
    operators.ProductQuantization.writeIndex(
      operators.ProductQuantization.buildIndex(Tables.embeddings(s, dir)), path)
  }(operators.ProductQuantization.loadIndex)

  // ---------------------------------------------------------------------------
  // Declared queries. Each (SparkSession, sfDir) => DataFrame, hash-compared
  // against `oracleSql` by the driver (DuckDB on the same parquet).
  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- TF-IDF family (reference parity, portable tokenizer) ---
    // the whole family scores from the term-counts ASSET (one tokenize per
    // dataset, not per query) + the cached corpus count — values identical
    // to the per-query recomputation (deterministic counts, same math)
    "tfidf_full" -> ((s, dir) =>
      Tfidf.pipelineFromCounts(termCountsAsset(s, dir), docsCount(s, dir))
        .select(col("term"), col("doc_id"), col("cnt"), col("doc_total"), col("df"),
          round(col("tf"), 9).as("tf"),
          round(col("idf"), 9).as("idf"),
          round(col("tfidf"), 9).as("tfidf"))
        .orderBy(desc("tfidf"), asc("term"), asc("doc_id"))),
    "tfidf_top100" -> ((s, dir) =>
      Tfidf.topKByValue(
        Tfidf.pipelineFromCounts(termCountsAsset(s, dir), docsCount(s, dir))
          .select(col("term"), col("doc_id"), round(col("tfidf"), 9).as("tfidf")),
        "tfidf", 100, Seq("term", "doc_id"))),
    // the reference output's canonical consumer: rank docs for a term query
    "tfidf_search" -> ((s, dir) =>
      Tfidf.searchByTermsFromCounts(termCountsAsset(s, dir), docsCount(s, dir),
        Seq("table", "query", "spark"), 20)),
    // related-documents: cosine over L2-normalized tf-idf vectors
    "tfidf_more_like_this" -> ((s, dir) =>
      Tfidf.moreLikeThisFromCounts(termCountsAsset(s, dir), docsCount(s, dir),
        queryDocId = 0L, k = 10)),
    // per-doc keyword extraction: top-5 terms of each doc by tf-idf
    "keywords_per_doc" -> ((s, dir) =>
      Tfidf.keywordsPerDocFromCounts(termCountsAsset(s, dir), docsCount(s, dir), 5)),
    // BM25: the modern ranked-retrieval successor over the same dataflow;
    // the score table is the stored-index ASSET all three consumers read
    "bm25_full" -> ((s, dir) =>
      bm25Asset(s, dir)
        .orderBy(desc("score"), asc("term"), asc("doc_id"))),
    "bm25_search" -> ((s, dir) =>
      Tfidf.searchByTermsBm25FromScores(bm25ServedPostings(s, dir),
        Seq("table", "query", "spark"), 20)),
    // intrinsic search-quality eval: each probe doc queries with its own
    // tf-idf keywords and must retrieve ITSELF near rank 1 (rr -> MRR)
    "self_retrieval_ranks" -> ((s, dir) =>
      Tfidf.selfRetrievalEvalFromCounts(termCountsAsset(s, dir), docsCount(s, dir),
        prebuiltScores = Some(bm25ServedPostings(s, dir)))),
    // per-source stratified stable sample (content-keyed, reproducible)
    "documents_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stableSample(Tables.documents(s, dir), "doc_id", 0.2)
        .groupBy("source").agg(count(lit(1)).as("n_sampled"),
          min("doc_id").as("first_doc"))
        .orderBy("source")),
    "tfidf_l2_normalized" -> ((s, dir) => {
      // round tfidf FIRST so both engines square/sum identical doubles;
      // the per-doc sum of squares goes through DECIMAL (exact, order-free)
      val scored = Tfidf.pipelineFromCounts(termCountsAsset(s, dir), docsCount(s, dir))
        .select(col("term"), col("doc_id"), round(col("tfidf"), 9).as("tfidf_r"))
      val norms = scored.groupBy("doc_id")
        .agg(sqrt(sum((col("tfidf_r") * col("tfidf_r")).cast("decimal(28,14)"))
          .cast("double")).as("l2"))
      scored.join(norms, "doc_id")
        .select(col("term"), col("doc_id"), col("tfidf_r"),
          round(col("tfidf_r") / col("l2"), 9).as("unit_weight"))
        .orderBy("doc_id", "term")
    }),
    "tfidf_smooth_top100" -> ((s, dir) =>
      Tfidf.topKByValue(
        Tfidf.pipelineFromCounts(termCountsAsset(s, dir), docsCount(s, dir),
          smoothIdf = true)
          .select(col("term"), col("doc_id"), round(col("tfidf"), 9).as("tfidf")),
        "tfidf", 100, Seq("term", "doc_id"))),
    // same computation through the pure-SQL surface (temp view + the
    // extension-registered graft_normalize native expression)
    "tfidf_sql_top100" -> ((s, dir) => {
      // view over the parallelism-floored frame: the SQL text is the
      // declared surface; the tokenize fan-out is an input property
      documentsFan(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""
        WITH toks AS (
          SELECT doc_id, graft_normalize(raw) AS term
          FROM (SELECT doc_id, explode(split(text, '\\s+')) AS raw FROM documents_v)
          WHERE NOT raw RLIKE '[0-9]'
        ), toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        tc AS (SELECT term, doc_id, count(*) AS cnt FROM toks2 GROUP BY 1, 2),
        dt AS (SELECT doc_id, sum(cnt) AS doc_total FROM tc GROUP BY 1),
        dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents_v)
        SELECT tc.term, tc.doc_id,
          round((CAST(tc.cnt AS DOUBLE) / dt.doc_total)
                * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
        FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
        ORDER BY tfidf DESC, term ASC, doc_id ASC
        LIMIT 100""")
    }),
    "term_counts" -> ((s, dir) =>
      termCountsAsset(s, dir).orderBy("term", "doc_id")),
    // corpus-append rehearsal: split the corpus into base + delta on a
    // content-stable key, maintain the term-counts intermediate
    // incrementally (mergeCounts), score the merged table — must equal the
    // full rebuild bit-for-bit (shares tfidf_full's oracle)
    "tfidf_incremental_merge" -> ((s, dir) => {
      // r16: both splits were RE-TOKENIZED from the raw document scan per
      // execution (two regex passes over the whole corpus); they now
      // recount from the shared token-array asset, split by the
      // stable-sample keep predicate — the md5 hash is total on doc_id,
      // so `!pred` is exactly the old anti-join delta set. Equality with
      // the tokenize-live spelling is spec-pinned in TfidfSpec. Measured
      // (second session, interleaved matched DevJobs legs at sf0.1):
      // bench-state parity (2.41/2.45 vs 2.38/2.40 s — the regex passes
      // were fanned and fully overlapped, so the wall is the merge
      // groupBy chain either way) and a 5/6-leg ~1.6x win (3.4 vs 5.4 s
      // median) in a colder harness; kept for the structural pass
      // removal at zero bench cost. The counts-ASSET split spelling
      // (base from term_counts.where(pred)) and an eager merge populate
      // were also measured and both lost (3.0-3.5 s) — recount-per-side
      // keeps the two subtrees symmetric and overlapping.
      val basePred = TextAnalysis.stableSamplePred("doc_id", 0.7)
      def recount(side: DataFrame) = Tfidf.termCounts(
        operators.Scaling.fanOut(side)
          .select(col("doc_id"), explode(col("tokens")).as("term")))
      val toks = tokenArraysAsset(s, dir)
      val merged = operators.Tfidf.mergeCounts(
        recount(toks.where(basePred)), recount(toks.where(!basePred)))
      Tfidf.pipelineFromCounts(operators.CacheScope.persist(merged), docsCount(s, dir))
        .select(col("term"), col("doc_id"), col("cnt"), col("doc_total"), col("df"),
          round(col("tf"), 9).as("tf"),
          round(col("idf"), 9).as("idf"),
          round(col("tfidf"), 9).as("tfidf"))
        .orderBy(desc("tfidf"), asc("term"), asc("doc_id"))
    }),
    // the reference's WordCount as a stream (batch-executed here; the
    // MemoryStream twin is spec-gated) — shares term_counts' oracle
    "streams_term_counts_batch" -> ((s, dir) =>
      graft.streaming.Streams.termCounts(Tables.documents(s, dir))
        .orderBy("term", "doc_id")),
    "doc_totals" -> ((s, dir) =>
      Tfidf.docTotals(termCountsAsset(s, dir)).orderBy("doc_id")),
    "doc_freq" -> ((s, dir) =>
      Tfidf.docFreq(termCountsAsset(s, dir)).orderBy("term")),
    // --- pivot + array aggregation ---
    "events_pivot_by_type" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),
    "lineitem_math_funcs" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_linenumber") === 1)
        .select(col("l_orderkey"),
          round(sqrt(col("l_quantity")), 9).as("sqrt_qty"),
          abs(col("l_quantity") - lit(25.0)).as("abs_dev"),
          signum(col("l_quantity") - lit(25.0)).as("sign_dev"),
          round(pow(col("l_discount") + lit(1.0), 2), 9).as("disc_sq"),
          round(exp(col("l_tax")), 9).as("exp_tax"))
        .orderBy("l_orderkey")
    }),
    "orders_date_arithmetic" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("age_days"),
          unix_micros(date_add(col("o_orderdate").cast("date"), 30)
            .cast("timestamp")).as("due_us"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .orderBy("o_orderkey")
    }),
    "order_rank_functions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 9).as("prnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderstatus", "rnk", "o_orderkey")
    }),
    "user_first_last_event" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val asc_ = Window.partitionBy("user_id").orderBy(asc("ts_us"), asc("event_id"))
      val desc_ = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val first = ev.withColumn("rn", row_number().over(asc_)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_type"), col("ts_us").as("first_ts_us"))
      val last = ev.withColumn("rn", row_number().over(desc_)).where(col("rn") === 1)
        .select(col("user_id").as("u2"), col("event_type").as("last_type"), col("ts_us").as("last_ts_us"))
      first.join(last, col("user_id") === col("u2")).drop("u2")
        .orderBy("user_id")
    }),
    "orders_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),
    "purchase_minus_error_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "purchase").select("user_id")
        .exceptAll(ev.where(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    }),
    "events_unpivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
          "event_type", "n")
        .orderBy("user_id", "event_type")
    }),
    "purchase_and_error_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "purchase").select("user_id")
        .intersectAll(ev.where(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    }),
    "user_type_string_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types_csv"))
        .orderBy("user_id")
    }),
    "customer_name_regex_swap" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "([A-Za-z]+)#([0-9]+)", "$2-$1").as("swapped"))
        .orderBy("c_custkey")
    }),
    // Array payload serialized with to_json: the driver's pandas compare
    // cannot sort raw array cells, and the JSON text forms are identical
    // between Spark and DuckDB (`["a","b"]`, no spaces).
    "user_event_type_arrays" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(to_json(sort_array(collect_set(col("event_type")))).as("types_json"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")
    }),
    "value_stats_by_type" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
        .groupBy("event_type")
        .agg(
          round(stddev_samp(col("value")), 6).as("sd_value"),
          round(var_samp(col("value")), 6).as("var_value"),
          round(corr(col("value"), col("k")), 6).as("corr_value_k"))
        .orderBy("event_type")
    }),
    "events_trailing_10min" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-600000000L, 0L) // trailing 10 minutes in micros
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("n_last_10min", count(lit(1)).over(w))
        .withColumn("sum_last_10min",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select("user_id", "event_id", "ts_us", "n_last_10min", "sum_last_10min")
        .orderBy("user_id", "ts_us", "event_id")
    }),
    "orders_page_3" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .offset(100).limit(50)
    }),
    "value_histogram" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 20.0) + 1, lit(0)), lit(11)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("bucket")
    }),
    "customer_key_extract" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("digits_num"))
        .where(col("digits") =!= "")
        .orderBy("c_custkey")
    }),
    // --- approximate variants: the 100 TB opt-ins (sketch-based, engine-
    // specific values → rows-only checks) ---
    // rsd 0.05 (the Spark default): one HLL buffer per TERM group means
    // register count is the multiplier on the whole aggregation's memory
    // and time — 1% precision cost 16× the sketch for a check whose gate
    // bar (10%) doesn't need it
    "doc_freq_approx" -> ((s, dir) =>
      termCountsAsset(s, dir)
        .groupBy("term")
        .agg(approx_count_distinct(col("doc_id"), 0.05).as("df_approx"))
        .orderBy("term")),
    // gate: HLL df sketch vs exact df, THROWS (→ driver err) past 10% max
    // relative error — the approx sketches' twin of the ANN recall gates
    "df_approx_gate" -> ((s, dir) =>
      Tfidf.dfApproxGate(Tables.documents(s, dir),
        precomputedCounts = Some(termCountsAsset(s, dir)))),
    // gate: count-min-sketch point-frequency estimates vs the exact top-k
    // term counts, THROWS (→ driver err) past 10% relative error or on any
    // undercount (CMS is overestimate-only — a negative error is corruption)
    "cms_frequency_gate" -> ((s, dir) =>
      Tfidf.cmsFrequencyGate(termCountsAsset(s, dir))),
    // gate: approx_percentile answers must sit inside the EXACT p±0.01
    // band per (event_type, p) — the rank-error guarantee a pipeline
    // leans on when it swaps exact percentiles for the sketch at scale
    "percentile_approx_gate" -> ((s, dir) =>
      Relational.percentileApproxGate(s, dir)),
    "value_percentiles_approx" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
          .as("ps"))
        .select(col("event_type"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p50"),
          element_at(col("ps"), 3).as("p75"))
        .orderBy("event_type")
    }),
    // --- O19 as a generic operator: rank any table by a numeric value desc ---
    "rank_events_by_value" -> ((s, dir) => {
      Tfidf.rankByValue(
        Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"),
        "value", Seq("event_id"))
    }),
    // --- Relational surface: joins, windows, set ops, semi/anti, top-k ---
    "q3_top_revenue" -> ((s, dir) => Relational.q3TopRevenue(s, dir)),
    "q5_region_revenue" -> ((s, dir) => Relational.q5RegionRevenue(s, dir)),
    "top_orders_per_customer" -> ((s, dir) =>
      Relational.topOrdersPerCustomer(s, dir)
        .withColumn("rank_in_cust", col("rank_in_cust").cast("long"))),
    "top_orders_per_customer_agg" -> ((s, dir) => Relational.topOrdersPerCustomerAgg(s, dir)),
    "customers_without_orders" -> ((s, dir) => Relational.customersWithoutOrders(s, dir)),
    "order_priority_counts" -> ((s, dir) => Relational.orderPriorityCounts(s, dir)),
    "event_user_set_ops" -> ((s, dir) => Relational.eventUserSetOps(s, dir)),
    "sessionize_events" -> ((s, dir) => Relational.sessionize(s, dir)),
    // ordered funnel: first view → first later click → first later purchase
    "event_funnel" -> ((s, dir) => Relational.eventFunnel(s, dir)),
    // retention triangle: cohort month × months-since × active users
    "retention_cohorts" -> ((s, dir) => Relational.retentionCohorts(s, dir)),
    "events_asof_orders" -> ((s, dir) => Relational.eventsAsofOrders(s, dir)),
    // --- JSON / hierarchical agg / percentiles / subquery / frames ---
    "json_props_rollup" -> ((s, dir) => Relational.jsonPropsRollup(s, dir)),
    "orders_rollup" -> ((s, dir) => Relational.ordersRollup(s, dir)),
    "value_percentiles" -> ((s, dir) => Relational.valuePercentiles(s, dir)),
    "customers_above_segment_avg" -> ((s, dir) => Relational.customersAboveSegmentAvg(s, dir)),
    "events_moving_sum" -> ((s, dir) => Relational.eventsMovingSum(s, dir)),
    // --- TPC-H shapes q6/q10/q14/q17/q18/q19: scan-aggregate, returned-item
    // top-k, conditional-agg share, decorrelated-avg filter, HAVING-on-fact
    // join-back, disjunctive bracket filter ---
    "q6_forecast_revenue" -> ((s, dir) => Relational.q6ForecastRevenue(s, dir)),
    "q10_returned_items" -> ((s, dir) => Relational.q10ReturnedItems(s, dir)),
    "q14_promo_revenue" -> ((s, dir) => Relational.q14PromoRevenue(s, dir)),
    "q17_small_qty_revenue" -> ((s, dir) => Relational.q17SmallQuantityRevenue(s, dir)),
    "q18_large_orders" -> ((s, dir) => Relational.q18LargeOrders(s, dir)),
    "q19_bracket_revenue" -> ((s, dir) => Relational.q19BracketRevenue(s, dir)),
    // two-role dimension joins: nation under supplier AND customer roles
    "q7_volume_shipping" -> ((s, dir) => Relational.q7VolumeShipping(s, dir)),
    "q8_market_share" -> ((s, dir) => Relational.q8MarketShare(s, dir)),
    // fact aggregate vs its own max (scalar-subquery shape, ties surface)
    "q15_top_supplier" -> ((s, dir) => Relational.q15TopSupplier(s, dir)),
    // --- TPC-H shapes q2/q4/q9/q11/q12/q13/q16/q20/q21/q22: correlated
    // min + decoration, EXISTS semi, star profit, HAVING-vs-scalar,
    // dual sum-CASE, outer-join distribution, NOT-IN distinct counts,
    // nested-IN excess, EXISTS+NOT-EXISTS self-joins, scalar-avg + anti ---
    "q2_min_cost_supplier" -> ((s, dir) => Relational.q2MinCostSupplier(s, dir,
      prebuiltPairs = Some(unitPricePairsAsset(s, dir)))),
    "q4_order_priority" -> ((s, dir) => Relational.q4OrderPriority(s, dir)),
    "q9_product_type_profit" -> ((s, dir) => Relational.q9ProductTypeProfit(s, dir)),
    "q11_important_parts" -> ((s, dir) => Relational.q11ImportantParts(s, dir)),
    "q12_returnflag_priority" -> ((s, dir) => Relational.q12ReturnflagPriority(s, dir)),
    "q13_customer_distribution" -> ((s, dir) => Relational.q13CustomerOrderDistribution(s, dir)),
    "q16_supplier_counts" -> ((s, dir) => Relational.q16SupplierCounts(s, dir)),
    "q20_excess_suppliers" -> ((s, dir) => Relational.q20ExcessSuppliers(s, dir)),
    "q21_suppliers_kept_waiting" -> ((s, dir) => Relational.q21SuppliersKeptWaiting(s, dir)),
    "q22_global_sales_opportunity" -> ((s, dir) => Relational.q22GlobalSalesOpportunity(s, dir)),
    // explicit GROUPING SETS (the general grouping-sets form; one Expand pass)
    "orders_grouping_sets" -> ((s, dir) => Relational.ordersGroupingSets(s, dir)),
    // deterministic arg-min per group (min + join-back + min-key tiebreak)
    "part_min_cost_supplier" -> ((s, dir) => Relational.partMinCostSupplier(s, dir,
      prebuiltPairs = Some(unitPricePairsAsset(s, dir)))),
    // cume_dist / first_value / nth_value window surface
    "order_cume_dist" -> ((s, dir) => Relational.orderCumeDist(s, dir)),
    // --- embedding near-dup (LSH bucket logic → rows-only check) ---
    "embedding_near_dups" -> ((s, dir) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.5)),
    // join-key skew diagnostic: the report read before salting a join
    "events_key_skew" -> ((s, dir) =>
      operators.Scaling.skewReport(
        Tables.events(s, dir).select("user_id"), "user_id", 20)),
    // LSH banding planner: the S-curve table behind every (bands, rows)
    // choice in the MinHash dedup family — corpus-independent math,
    // oracle-exact
    "lsh_plan" -> ((s, _) => Dedup.lshPlan(s, 64, 19)),
    // SemDeDup: md5-seeded portable clusters, keep the most-central member
    // of every within-cluster near-dup neighborhood — fully oracle-checked
    // (assignment, precedence, and drop decisions replay in DuckDB)
    "semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir), nClusters = 16, tau = 0.4)),
    // int8-coded SemDeDup recall gate (THROWS on regression): the pair
    // join shuffles int8 codes (~8× narrower than the float vectors), the
    // survivors re-rank exactly — this gate runs BOTH paths and requires
    // the coded drop set to reproduce ≥95% of the float path's with zero
    // false drops. Engine-internal comparison → rows-only for the driver.
    "semantic_dedup_coded" -> ((s, dir) =>
      Dedup.semanticDedupCodedGate(Tables.embeddings(s, dir),
        nClusters = 16, tau = 0.4, minRecall = 0.95)),
    // --- scalar-function surface: dates, strings, nulls, distinct, having ---
    "orders_by_month" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("month_us", unix_micros(date_trunc("month", col("o_orderdate"))))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .groupBy("o_year", "month_us")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("month_us")
    }),
    "customer_string_funcs" -> ((s, dir) => {
      Tables.customer(s, dir)
        .where(col("c_name").like("%1%"))
        .select(col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).cast("long").as("name_len"),
          substring(col("c_name"), 1, 10).as("name_prefix"),
          concat_ws("/", col("c_mktsegment"), col("c_name")).as("seg_name"))
        .orderBy("c_custkey")
    }),
    "customer_order_totals_nulls" -> ((s, dir) => {
      val totals = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n_orders"))
      Tables.customer(s, dir)
        .join(totals, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("total"), lit(0.0)).as("total_spend"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          when(col("total").isNull, lit("never_ordered")).otherwise(lit("active")).as("status"))
        .orderBy("c_custkey")
    }),
    "lineitem_multi_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    "popular_parts_having" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .where(col("n_lines") >= 30)
        .orderBy("l_partkey")
    }),
    // --- Text analysis ---
    // every portable-tokenizer aggregate below reads the term-counts ASSET
    // (derived once from the token-array asset) instead of re-tokenizing
    "token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStatsFromCounts(termCountsAsset(s, dir))),
    "quality_score" -> ((s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir))),
    // Gopher-style composite rule filter: raw signals + one flag per rule
    // + the pass conjunction — audit columns, not a survivor list
    "gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir))),
    // packing-planner input: doc-length distribution in 32-token bins
    "token_length_histogram" -> ((s, dir) =>
      TextAnalysis.tokenLengthHistogramFromCounts(termCountsAsset(s, dir))),
    // per-doc n-gram novelty vs ingestion order (corpus-first grams) — the
    // memorization/overlap profile; linear mark-back over the span asset
    "novelty_scores" -> ((s, dir) =>
      Curation.noveltyScoresFromWindows(spanWindowsAsset(s, dir))),
    // model-free repetitiveness signal: per-doc term-distribution entropy
    "token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropyFromCounts(termCountsAsset(s, dir))),
    // provenance dashboard: one tiny groupBy(source) over per-doc map work
    "source_quality_rollup" -> ((s, dir) =>
      TextAnalysis.sourceQualityRollup(Tables.documents(s, dir))),
    // vocabSize = 20 of the fixture's ~31 distinct terms so the OOV side is
    // exercised (a vocab covering every term would oracle-check trivially)
    "vocab_oov_rate" -> ((s, dir) =>
      TextAnalysis.vocabCoverageFromCounts(termCountsAsset(s, dir), vocabSize = 20)),
    // engine-internal (JVM deflate — no DuckDB equivalent): rows-only
    "compression_stats" -> ((s, dir) => TextAnalysis.compressionStats(Tables.documents(s, dir))),
    "lang_id" -> ((s, dir) => TextAnalysis.langIdFromCounts(termCountsAsset(s, dir))),
    // classifier eval: ground-truth lang column × langId prediction
    "lang_id_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, dir),
        precomputedCounts = Some(termCountsAsset(s, dir)))),
    "doc_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(Tables.documents(s, dir))),
    // Per-shard packing (shardCol = source): the global-cumsum variant
    // funnels the corpus through one partition; sharded is the 100 TB path.
    "sequence_packing" -> ((s, dir) =>
      TextAnalysis.sequencePacking(Tables.documents(s, dir), shardCol = Some("source"),
        precomputedCounts = Some(termCountsAsset(s, dir)))),
    "token_counts_bpeish" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    // collocations: adjacent-bigram counts + PMI; BOTH sides from shared
    // corpus assets (adjacency slices the token-array asset, unigrams from
    // term-counts) — zero tokenize passes at query time
    "bigram_pmi" -> ((s, dir) =>
      TextAnalysis.bigramPmiFromBigramCounts(
        bigramCountsAsset(s, dir),
        termCountsAsset(s, dir), minCount = 5L, k = 100)),
    // mergeable per-source HLL vocabulary sketches + sketch-union total
    // (DataSketches estimates are engine-internal → rows-only; the spec
    // gates estimate-vs-exact error)
    "source_term_hll" -> ((s, dir) =>
      TextAnalysis.sourceTermHll(Tables.documents(s, dir), termCountsAsset(s, dir))),
    // tokenizer training: BPE merge-rule induction over the vocabulary
    // derived from the term-counts asset. Iterative argmax (one rule per
    // round) has no tractable single-statement SQL twin → rows-only here;
    // the rule sequence itself is golden-tested against the worked example
    // from the BPE paper (TextAnalysisSpec)
    "bpe_merges" -> ((s, dir) =>
      bpeMergesAsset(s, dir).orderBy("merge_rank")),
    // BPE encoding with the trained rules: the merge table collects to the
    // driver (8 rows — a tokenizer model is a broadcast-sized artifact)
    // and the vocabulary segments through the chained greedy folds
    "bpe_vocab_segments" -> ((s, dir) => {
      val rules = bpeMergesAsset(s, dir).orderBy("merge_rank")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeSegmentVocab(
        termCountsAsset(s, dir).select("term").distinct(), rules)
        .select(col("term"), concat_ws(" ", col("subwords")).as("segmentation"),
          col("n_subwords"))
    }),
    // BPE round-trip THROW gate: every segmentation must concatenate back
    // to its term (+marker) and every multi-char subword must be a rule's
    // merged output — the encoder is self-checking, so a fold or rule-table
    // regression surfaces as a driver-visible error, not a silently odd
    // segmentation. Engine-internal property → rows-only summary.
    "bpe_roundtrip_gate" -> ((s, dir) => {
      val rules = bpeMergesAsset(s, dir).orderBy("merge_rank")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeRoundTripGate(
        TextAnalysis.bpeSegmentVocab(
          termCountsAsset(s, dir).select("term").distinct(), rules), rules)
    }),
    // corpus-as-its-own-LM fluency filter: add-one-smoothed bigram
    // transition log-probs, per-doc decimal-routed mean; the MODEL tables
    // (pair counts, vocab size) come from the bigram-counts + term-counts
    // assets — only the per-doc transition stream is sliced at query time
    "lm_doc_scores" -> ((s, dir) =>
      TextAnalysis.lmDocScoresFromModel(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        bigramCountsAsset(s, dir), termCountsAsset(s, dir))),
    // corpus-driven stop list: terms covering >= 50% of documents
    "stopword_candidates" -> ((s, dir) =>
      TextAnalysis.stopwordCandidatesFromCounts(
        termCountsAsset(s, dir), docsCount(s, dir), minDfRatio = 0.5)),
    // data-mixing plan: per-source token inventory + equalizing sample rate
    "source_mixture_plan" -> ((s, dir) =>
      TextAnalysis.sourceMixturePlan(Tables.documents(s, dir), termCountsAsset(s, dir))),
    // the tunable knob between identity and full equalization: α-sampling
    // rates (XLM-R/mT5 temperature rebalancing) per source
    "source_temperature_plan" -> ((s, dir) =>
      TextAnalysis.sourceTemperaturePlan(Tables.documents(s, dir),
        termCountsAsset(s, dir), alpha = 0.7)),
    // per-source bottom-quartile quality drop (rank-exact curation cut)
    "quality_rank_filter" -> ((s, dir) =>
      TextAnalysis.qualityRankFilter(Tables.documents(s, dir), dropFraction = 0.25)),
    "rolling_fingerprints" -> ((s, dir) =>
      TextAnalysis.rollingFingerprints(documentsFan(s, dir))),
    "multimodal_resize" -> ((s, _) =>
      graft.multimodal.Multimodal.resizeImages(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .orderBy("asset_id")),
    "dataset_split" -> ((s, dir) => TextAnalysis.datasetSplit(Tables.documents(s, dir))),
    "pii_redact" -> ((s, dir) => TextAnalysis.piiRedact(documentsFan(s, dir))),
    "documents_stable_sample" -> ((s, dir) =>
      TextAnalysis.stableSample(Tables.documents(s, dir), "doc_id", 0.1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // --- Corpus curation ---
    // the whole gram-based curation family reads the token-array ASSET
    // (one tokenize per dataset); train/bench splits are doc_id filters
    // pushed into the asset scan
    "decontaminate_overlap" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      Curation.decontaminateFromTokens(
        toks.where(col("doc_id") % 53 =!= 0), toks.where(col("doc_id") % 53 === 0))
    }),
    // the 100 TB staging of the same check: Bloom bitset prefilter, exact
    // verify only on bloom-positive grams — no false negatives, so the
    // result is identical (shares decontaminate_overlap's oracle)
    "decontaminate_bloom" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      Curation.decontaminateBloomFromTokens(
        toks.where(col("doc_id") % 53 =!= 0), toks.where(col("doc_id") % 53 === 0))
    }),
    // TOKEN-SPAN decontamination: strip ONLY the token spans that
    // verbatim-overlap a benchmark gram and keep the rest of the document
    // (doc-drop decon throws away the unleaked 99% of a long document);
    // benchmark grams broadcast, the span family's shared re-assembly
    // rebuilds the survivors in the token domain
    // both decon surfaces serve from the token-array ASSET (windows,
    // benchmark grams and re-assembly all skip the per-query regex
    // tokenize — same substitution as the strip family, spec-pinned)
    "decontaminate_strip_spans" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      Curation.decontaminateStripSpansFromTokens(
        toks.where(col("doc_id") % 53 =!= 0),
        toks.where(col("doc_id") % 53 === 0), 3)
    }),
    // contamination severity per source: doc-level flags vs token-level
    // exposure in one pass — the governance read on WHICH sources leak
    // and whether span-strip or doc-drop is the right remediation
    "decontamination_report" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      Curation.contaminationReportFromTokens(
        toks.where(col("doc_id") % 53 =!= 0),
        // source map: a narrow (doc_id, source) scan — no text read
        Tables.documents(s, dir).where(col("doc_id") % 53 =!= 0)
          .select("doc_id", "source"),
        toks.where(col("doc_id") % 53 === 0), 3, 0.05)
    }),
    // IN-FRAME QUALITY CLASSIFIER (rule distillation): a logistic model
    // over the one-pass surface stats, trained DataFrame-side (30
    // fixed decimal-routed GD iterations) against the Gopher-rule
    // conjunction and served from the 9-row weights asset. The model
    // rows themselves:
    "quality_classifier_weights" -> ((s, dir) =>
      qualityClassifierWeightsAsset(s, dir).orderBy("feature")),
    // corpus-wide scoring: ONE codegen map pass, weights inlined as
    // literals (9-row bounded collect, the PQ-codebook pattern)
    "quality_classifier_scores" -> ((s, dir) =>
      operators.QualityClassifier.scoreWith(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir))),
    // distillation fidelity dashboard: confusion of the smooth score
    // against its own rule labels
    "quality_classifier_eval" -> ((s, dir) =>
      operators.QualityClassifier.evalWith(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir))),
    // the curation reviewer's worklist: documents where the smooth model
    // most disagrees with the brittle rules
    "quality_classifier_disagreements" -> ((s, dir) =>
      operators.QualityClassifier.disagreementsWith(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir), 25)),
    // calibration curve vs the rule labels: confusion counts and
    // precision/recall/F1 per candidate score cut (one scoring pass,
    // literal grid explode, partial-agg before the shuffle)
    "classifier_pr_curve" -> ((s, dir) =>
      operators.QualityClassifier.prCurve(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir))),
    // operating-point selection: the grid threshold with the highest
    // recall among those meeting the precision floor — "tolerate ≤ 10%
    // junk" turned into a concrete score cut, one deterministic row
    "classifier_threshold_at_precision" -> ((s, dir) =>
      operators.QualityClassifier.thresholdAtPrecision(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir), targetPrecision = 0.9)),
    // cross-layout determinism gate (THROWs on divergence): classifier
    // training and term counting on a FIXED 512-doc sample must be
    // bit-identical under two different partitionings — pins the
    // md5-portable decimal-routing claim the way recall gates pin recall
    "layout_determinism_gate" -> ((s, dir) =>
      operators.QualityClassifier.layoutDeterminismGate(Tables.documents(s, dir))),
    // CLASSIFIER-SCORE-WEIGHTED CURATION — the step a pipeline takes once
    // it trusts the distilled model. Score-weighted stable sampling: each
    // document survives with probability = its classifier score (md5-coin,
    // content-stable, pure map work — no shuffle, no rank window):
    "classifier_weighted_sample" -> ((s, dir) =>
      operators.QualityClassifier.scoreWeightedSample(Tables.documents(s, dir),
        qualityClassifierWeightsAsset(s, dir))),
    // the manifest re-cut by the model: the per-source bottom-quartile
    // RANK cut (two windows per source at 100 TB) replaced by the model's
    // threshold predicate — a pure map decision; both verdicts reported
    // per document so the switch is auditable
    "manifest_by_classifier" -> ((s, dir) =>
      operators.QualityClassifier.manifestByClassifier(
        manifestAsset(s, dir).orderBy("doc_id"),
        Tables.documents(s, dir), qualityClassifierWeightsAsset(s, dir))),
    // per-source switch-impact 2x2: doc and TOKEN mass by
    // (kept_rule, kept_clf) — what flipping the quality cut changes
    "manifest_classifier_delta" -> ((s, dir) =>
      operators.QualityClassifier.manifestClassifierDelta(
        manifestAsset(s, dir).orderBy("doc_id"),
        Tables.documents(s, dir), qualityClassifierWeightsAsset(s, dir))),
    // domain mixing × quality weighting as ONE coin flip: survive with
    // probability rate(source) × score — the quality-aware refinement
    // of the flat per-source sampler (same md5 coin, single scan,
    // source rides through the scoring pass)
    "classifier_source_mix_sample" -> ((s, dir) => {
      val rates = ((0 to 4).map(i => s"src$i" -> 0.4) ++
        (5 to 9).map(i => s"src$i" -> 0.2) ++
        (10 to 19).map(i => s"src$i" -> 0.05)).toMap
      operators.QualityClassifier.scoreWeightedSourceSample(
        Tables.documents(s, dir), qualityClassifierWeightsAsset(s, dir), rates)
    }),
    // SEMANTIC decontamination: embedding-cosine leakage vs the held-out
    // benchmark split (vec_id % 53, mirroring the gram family's doc_id
    // split) — benchmark broadcast, one map pass over the corpus. The
    // split is CAPPED at vec_id < 5000 so the benchmark stays
    // eval-suite-sized no matter how large the corpus grows (a benchmark
    // that scaled WITH the corpus would make corpus×bench quadratic —
    // the sf1 rehearsal caught exactly that); vacuous at sf0.01, so the
    // oracle rows are unchanged
    "decontaminate_semantic" -> ((s, dir) =>
      Curation.decontaminateSemantic(Tables.embeddings(s, dir),
        col("vec_id") % 53 === 0 && col("vec_id") < 5000, tau = 0.3)),
    // the production API shape: the benchmark is an EXTERNAL parquet
    // table (the benchmark_embeddings asset), not a split predicate —
    // same plan (benchmark broadcast, one corpus map pass), same oracle
    "decontaminate_semantic_external" -> ((s, dir) =>
      Curation.decontaminateSemanticExternal(
        Tables.embeddings(s, dir)
          .where(!(col("vec_id") % 53 === 0 && col("vec_id") < 5000)),
        benchmarkEmbeddingsAsset(s, dir), tau = 0.3)),
    // CCNet head/middle/tail perplexity terciles per source, scored by
    // the corpus-trained bigram LM (asset-fed model joins)
    "perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        bigramCountsAsset(s, dir), termCountsAsset(s, dir))),
    // Kneser–Ney (interpolated absolute-discount) LM scoring + the same
    // tercile cut over it — the smoothing a real CCNet filter ships;
    // corpus-trained serving reads the pre-enriched kn2_model asset
    // (ONE model join per pass, the kn3 serving shape)
    "lm_doc_scores_kn" -> ((s, dir) =>
      TextAnalysis.lmDocScoresKnServed(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn2ModelAsset(s, dir))),
    "perplexity_buckets_kn" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsKnServed(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn2ModelAsset(s, dir))),
    // TRIGRAM interpolated Kneser–Ney (Chen & Goodman interpolated form,
    // continuation counts at every lower order) + its tercile cut — the
    // larger-context model a CCNet-grade filter ships; all statistics
    // aggregate from the one trigram-counts asset
    "lm_doc_scores_kn3" -> ((s, dir) =>
      TextAnalysis.lmDocScoresKn3Served(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn3ModelAsset(s, dir))),
    "perplexity_buckets_kn3" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsKn3Served(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn3ModelAsset(s, dir))),
    // thresholds-broadcast forms of the per-source ranking filters — the
    // 100 TB escape hatch (quantile sketch + broadcast, no per-source
    // sort). Rank-exact siblings stay the oracle queries; these are
    // rows-only with fixture parity pinned in TextAnalysisSpec and the
    // no-sort plan pinned in PlanSpec.
    "quality_rank_filter_sampled" -> ((s, dir) =>
      TextAnalysis.qualityRankFilterSampled(Tables.documents(s, dir),
        dropFraction = 0.25)),
    "perplexity_buckets_sampled_kn" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsSampledKnServed(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn2ModelAsset(s, dir))),
    "perplexity_buckets_sampled_kn3" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsSampledKn3Served(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        kn3ModelAsset(s, dir))),
    // perplexity-CONTRAST (Moore–Lewis cross-entropy difference): every
    // doc scored by an IN-DOMAIN trigram KN model (trained on the same
    // held-out target split the DSIR/decontamination family uses) and the
    // general corpus model; delta ranks "like the target domain". The
    // in-domain model scores held-out text, so the KN3 backoff arms run
    // for real — and the oracle replays them branch-for-branch.
    // scores serve from the contrast_scores asset (the fused two-model
    // pass runs once per dataset in the asset farm); the oracle replays
    // the FULL pipeline, so asset correctness is pinned here
    "perplexity_contrast_kn3" -> ((s, dir) =>
      contrastScoresAsset(s, dir).orderBy("doc_id")),
    // the SELECTION head over the contrast: top-64 most-in-domain raw
    // docs (TakeOrderedAndProject, no full sort)
    "perplexity_contrast_top64" -> ((s, dir) =>
      Tfidf.topKByValue(contrastScoresAsset(s, dir),
        "domain_delta", 64, Seq("doc_id"))),
    // the Moore–Lewis selection RECIPE end-to-end: most-in-domain docs
    // under an absolute token budget (contrast delta drives the budget
    // selector's exact greedy-prefix window); docs too short to score
    // (<3 portable tokens) have no delta and are excluded on both sides
    "token_budget_select_contrast" -> ((s, dir) => {
      val delta = contrastScoresAsset(s, dir)
        .select(col("doc_id"), col("domain_delta").as("score"))
      val nt = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      Curation.tokenBudgetSelect(delta.join(nt, "doc_id"),
        budgetTokens = 6000L)
    }),
    // Moore–Lewis selection × domain mixing as ONE coin flip: survive
    // with probability rate(source) × min–max-normalized contrast delta.
    // Rates are PLANNED — temperatureMixRates' per-source acceptance
    // rates (sqrt-tempered shares against the absolute token target),
    // the same plan token_quota_mix_composed budgets from — instead of a
    // hand-written constant map; the #sources plan rides broadcast
    "contrast_source_mix_sample" -> ((s, dir) =>
      Curation.normalizedScoreSourceSamplePlanned(Tables.documents(s, dir),
        contrastScoresAsset(s, dir)
          .select(col("doc_id"), col("domain_delta").as("score")),
        Curation.temperatureMixRates(Tables.documents(s, dir), 0.5, 15000L))),
    // INCREMENTAL contrast maintenance — the snapshot protocol that
    // completes the incremental family for the one remaining asset:
    // stored scores stay pinned to the model snapshot that produced them
    // (immutable, like served strips), the append batch scores against
    // the STORED old90 snapshot with BOTH backoff ladders live (general
    // side held-out too — unseen batch transitions back off instead of
    // dropping), at O(batch) corpus cost + model-sized stat aggregates.
    // An exact changed-docs-only re-score is impossible for KN (global
    // continuation scalars move under any new type — scaladoc on the
    // operator); the rebuild cadence reads contrast_refresh_impact.
    "perplexity_contrast_incremental" -> ((s, dir) => {
      val toksAll = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      contrastScoresOld90Asset(s, dir)
        .unionByName(TextAnalysis.perplexityContrastKn3HeldoutServed(
          toksAll.where(col("doc_id") % 10 === 9),
          trigramCountsInOld90Asset(s, dir), kn3StatsInOld90(s, dir),
          trigramCountsOld90Asset(s, dir), kn3StatsOld90(s, dir)))
        .orderBy("doc_id")
    }),
    // the MIXING-POLICY gate at the stream head (batch sibling of
    // Streams.contrastMixGateWithRefresh): the append batch scored
    // against the STORED old90 snapshot (both ladders live), weighted by
    // the snapshot's frozen score range (clamped min–max — a doc more
    // in-domain than anything the snapshot saw keeps its full source
    // rate), admitted on the house coin under rate(source) × weight;
    // decisions stay visible (refusals included — the quota family's
    // audit contract)
    "streams_contrast_admit_batch" -> ((s, dir) => {
      val toksAll = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      val scoredBatch = TextAnalysis.perplexityContrastKn3HeldoutServed(
          toksAll.where(col("doc_id") % 10 === 9),
          trigramCountsInOld90Asset(s, dir), kn3StatsInOld90(s, dir),
          trigramCountsOld90Asset(s, dir), kn3StatsOld90(s, dir))
        .select(col("doc_id"), col("domain_delta").as("score"))
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      // the policy-load step: two bounded scalars off the stored snapshot
      // (what the stream's loadPolicy collects per version)
      val mm = contrastScoresOld90Asset(s, dir)
        .agg(min("domain_delta"), max("domain_delta")).head()
      val rates = ((0 to 4).map(i => s"src$i" -> 0.4) ++
        (5 to 9).map(i => s"src$i" -> 0.2) ++
        (10 to 19).map(i => s"src$i" -> 0.05)).toMap
      graft.streaming.Streams.contrastAdmitWithModel(scoredBatch,
        mm.getDouble(0), mm.getDouble(1), rates).orderBy("doc_id")
    }),
    // ...and the rebuild-due audit: how the stored snapshot's global
    // scalars would move under this batch — n_new_types > 0 means a
    // rebuild re-prices every stored score; narrow type-key probes only
    "contrast_refresh_impact" -> ((s, dir) =>
      TextAnalysis.kn3RefreshImpact(trigramCountsOld90Asset(s, dir),
        TextAnalysis.trigramCountsFromTokens(
          operators.Scaling.fanOut(tokenArraysAsset(s, dir))
            .where(col("doc_id") % 10 === 9)))),
    // INCREMENTAL model-count maintenance — the counting half of a
    // snapshot rebuild: the stored n-gram model tables absorb the append
    // batch via broadcast key probes (untouched rows pass through a
    // map-side anti-join, only batch-sized frames shuffle); the enriched
    // serving assets then re-aggregate from the merged counts at
    // model-sized cost, no corpus recount. Both replays must reproduce
    // the full recount over old ∪ new (shared full-recount oracles).
    "trigram_counts_merge" -> ((s, dir) =>
      TextAnalysis.mergeTrigramCounts(trigramCountsOld90Asset(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir))
          .where(col("doc_id") % 10 === 9))
        .orderBy("w1", "w2", "w3")),
    "bigram_counts_merge" -> ((s, dir) =>
      TextAnalysis.mergeBigramCounts(bigramCountsOld90Asset(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir))
          .where(col("doc_id") % 10 === 9))
        .orderBy("w1", "w2")),
    // the ENRICHMENT half of a snapshot rebuild, priced on its own: the
    // served kn3_model re-aggregated from MERGED counts (old slice +
    // append batch) must equal the enrichment over a recount. BOUNDED
    // audit: every input restricts to the doc_id < rebuildAuditMaxDoc
    // shard — the whole fixture today (oracle = the unchanged full
    // recount), a constant-cost shard at production scale. Completes the
    // snapshot-rebuild story: counts merge (trigram_counts_merge, which
    // hashes the STORED assets against the full recount) -> enrichment
    // (this) -> serving swap (withRefreshingModel).
    // Old side reads the STORED audit-shard counts asset (r14): the gate's
    // constant is a model-sized parquet scan + batch count + enrichment,
    // not a shard token recount every run. The stored counts' integrity is
    // separately certified by this very oracle (DuckDB recounts the shard).
    // r15 gate diet: the gate DELTA-MERGES the stored enriched audit
    // model (kn3_model_audit_old) — one model scan + batch-incident
    // arithmetic — instead of re-running the enrichment aggregation over
    // merged counts every run. Equality with the full re-aggregation is
    // spec-pinned (TextAnalysisSpec) and the oracle is UNCHANGED (DuckDB
    // still enriches the full-shard recount from scratch).
    "kn3_model_rebuild" -> ((s, dir) => {
      val batchToks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") < rebuildAuditMaxDoc && col("doc_id") % 10 === 9)
      val auditTc = termCountsAsset(s, dir)
        .where(col("doc_id") < rebuildAuditMaxDoc)
      // NO fanOut on the stored model (measured r16, second session): the
      // per-stat aggregation jobs run single-task because AQE COALESCES
      // the post-shuffle partitions of a tiny model table, not because the
      // scan bins — fanning the stored side added an exchange per
      // reference (8 refs) and regressed 4.70 -> 6.71 s at sf0.1 in a
      // matched DevJobs A/B, so the raw asset scan stays.
      TextAnalysis.kn3EnrichedMerge(kn3ModelAuditOldAsset(s, dir), batchToks,
        auditTc.where(col("doc_id") % 10 =!= 9),
        auditTc.where(col("doc_id") % 10 === 9))
        .orderBy("w1", "w2", "w3")
    }),
    // the bigram twin: the merged kn2_model equals the enrichment over
    // the recount, same audit shard, same delta-merge serving shape
    "kn2_model_rebuild" -> ((s, dir) => {
      val batchToks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
        .where(col("doc_id") < rebuildAuditMaxDoc && col("doc_id") % 10 === 9)
      TextAnalysis.kn2EnrichedMerge(kn2ModelAuditOldAsset(s, dir), batchToks)
        .orderBy("w1", "w2")
    }),
    // topic-rebalancing cap over the SemDeDup cluster assignment: at most
    // `cap` representatives per semantic cluster, rank-exact
    "cluster_balanced_sample" -> ((s, dir) =>
      Dedup.clusterBalancedSample(Tables.embeddings(s, dir),
        nClusters = 16, cap = 16)),
    // DSIR importance resampling (hashed unigram log-ratio vs the SAME
    // held-out target split the decontamination family uses): the "pull
    // raw data TOWARD the eval domain" counterpart of "flag raw data that
    // leaks the eval set". Model side is bucket-bounded and broadcast.
    "dsir_logratio_weights" -> ((s, dir) =>
      Curation.dsirWeights(termCountsAsset(s, dir), col("doc_id") % 53 === 0)
        .orderBy("doc_id")),
    // the deterministic SELECTION step: top-64 raw-pool docs by weight
    // (doc_id tiebreak) — plans as one TakeOrderedAndProject, no full sort
    "dsir_select_top64" -> ((s, dir) =>
      Curation.dsirWeights(termCountsAsset(s, dir), col("doc_id") % 53 === 0)
        .orderBy(desc("dsir_logratio"), asc("doc_id")).limit(64)),
    // THE END-TO-END COMPOSITION: one auditable manifest of the training
    // split, intersecting every curation stage this library provides —
    // exact dedup (fingerprint keeper), near-dup clusters (labels asset),
    // benchmark decontamination (3-gram overlap vs the held-out split),
    // and the per-source bottom-quartile quality drop. Flags are computed
    // over the full corpus exactly as their standalone queries do (audit
    // columns, not a shrinking sequential rerun), and `kept` is their
    // conjunction — the row set a pipeline would hand to packing/sampling.
    "training_data_manifest" -> ((s, dir) =>
      manifestAsset(s, dir).orderBy("doc_id")),
    // INCREMENTAL manifest maintenance — the last rebuild-only composite
    // joins the incremental family: every curation stage's flag for an
    // append batch derives from a SNAPSHOT store at O(batch) corpus cost
    // (fingerprint keepers, the pair-table closure + gram index, the
    // benchmark gram store, the sampled quality thresholds). First-
    // arrived semantics throughout: stored keeperships/labels/thresholds
    // never move; the oracle replays arrival order (old slice before the
    // batch) including the merged gram-df cap and the frozen old closure.
    "manifest_incremental" -> ((s, dir) =>
      manifestIncrementalFrame(s, dir).orderBy("doc_id")),
    // the manifest stores' staleness signal (r13 verdict gap #2): per
    // snapshot store, what an append would add and what it invalidated —
    // the release owner's rebuild-due gate, priced at O(batch)
    "manifest_refresh_impact" -> ((s, dir) =>
      manifestRefreshImpactFrame(s, dir).orderBy("stage")),
    // refresh-impact audits for the remaining store families (r15 — the
    // release-owner staleness story the manifest + contrast audits
    // started): each one row per stored index, n_new/n_invalidated/
    // rebuild-due at O(batch) keyed probes of the same stored assets the
    // incremental maintenance paths serve from
    "paragraph_refresh_impact" -> ((s, dir) =>
      paragraphRefreshImpactFrame(s, dir).orderBy("stage")),
    "exact_substr_refresh_impact" -> ((s, dir) =>
      exactSubstrRefreshImpactFrame(s, dir).orderBy("stage")),
    "bm25_refresh_impact" -> ((s, dir) =>
      bm25RefreshImpactFrame(s, dir).orderBy("stage")),
    "ann_refresh_impact" -> ((s, dir) =>
      annRefreshImpactFrame(s, dir).orderBy("stage")),
    // the streaming admission gate's batch twin in its TRUE ingest shape:
    // arriving rows tokenize live (no token-array asset exists for rows
    // that just arrived) and score against the same frozen stores — must
    // reproduce manifest_incremental exactly (shared oracle verbatim)
    "streams_manifest_admission_batch" -> ((s, dir) =>
      graft.streaming.Streams.manifestAdmission(
        Tables.documents(s, dir).where(manifestArrivalBlock === 9),
        manifestStores(s, dir)).orderBy("doc_id")),
    // the dataset card REFRESHED at O(batch): the stored snapshot
    // manifest (immutable rows, scored against the stores that existed
    // when they were written) unioned with the batch's incremental rows,
    // rolled up per source — the corpus_report a release re-ships after
    // an append without recomputing any old flag. Retroactive effects of
    // a bench/threshold refresh are the refresh-audit family's job
    // (contrast_refresh_impact pattern), not this rollup's.
    "corpus_report_incremental" -> ((s, dir) =>
      manifestOldAsset(s, dir)
        .unionByName(manifestBatchAsset(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("exact_dup").as("n_exact_dup"),
          sum("near_dup").as("n_near_dup"),
          sum("contaminated").as("n_contaminated"),
          sum("low_quality").as("n_low_quality"),
          sum("kept").as("n_kept"),
          sum(when(col("kept") === 1, col("n_tokens")).otherwise(lit(0L)))
            .as("kept_tokens"),
          round(sum(col("quality")
              .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / count(lit(1)), 9).as("mean_quality"))
        .orderBy("source")),
    // the DATASET CARD rollup: per source, every curation stage's doc and
    // token mass plus the decimal-exact mean quality — the one-page
    // summary a corpus release ships. One map-side groupBy over the
    // stored manifest; #sources rows out, nothing corpus-sized moves.
    "corpus_report" -> ((s, dir) =>
      manifestAsset(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("exact_dup").as("n_exact_dup"),
          sum("near_dup").as("n_near_dup"),
          sum("contaminated").as("n_contaminated"),
          sum("low_quality").as("n_low_quality"),
          sum("kept").as("n_kept"),
          sum(when(col("kept") === 1, col("n_tokens")).otherwise(lit(0L)))
            .as("kept_tokens"),
          round(sum(col("quality")
              .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / count(lit(1)), 9).as("mean_quality"))
        .orderBy("source")),
    // classifier × contrast POLICY AGREEMENT matrix: where the quality
    // model and the Moore–Lewis in-domain signal agree/disagree, with
    // doc AND token mass per cell — the table a curation owner reads
    // before stacking the two policies (a big disagree cell means the
    // composed cut removes more than either predicts alone). Degenerate
    // NULL-score docs and unscorable (<3-token) docs drop on both sides.
    "policy_agreement_matrix" -> ((s, dir) => {
      val clf = operators.QualityClassifier.scoreWith(
          Tables.documents(s, dir), qualityClassifierWeightsAsset(s, dir))
        .where(col("score").isNotNull)
        .select(col("doc_id"), col("pred").as("kept_clf"))
      val ctr = contrastScoresAsset(s, dir)
        .select(col("doc_id"),
          (col("domain_delta") > 0).cast("long").as("in_domain"))
      val nt = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      clf.join(ctr, "doc_id").join(nt, "doc_id")
        .groupBy("kept_clf", "in_domain")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("kept_clf", "in_domain")
    }),
    // which sources look IN-DOMAIN: per-source contrast profile off the
    // stored scores (decimal-exact mean delta + the positive-delta mass
    // Moore–Lewis selection would draw from)
    "contrast_source_profile" -> ((s, dir) =>
      contrastScoresAsset(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_scored"),
          round(sum(col("domain_delta")
              .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / count(lit(1)), 9).as("mean_delta"),
          sum((col("domain_delta") > 0).cast("long")).as("n_positive"))
        .orderBy("source")),
    // calibration analytics over the manifest: fixed-width quality
    // buckets (VALUE-bucketed, a map-side groupBy — a global ntile would
    // funnel the corpus through one partition) × per-reason drop counts.
    // The curve an engineer reads to sanity-check that the quality score
    // actually separates the dup/contaminated mass before trusting the cut.
    "manifest_quality_calibration" -> ((s, dir) =>
      manifestAsset(s, dir)
        // 0.02-wide value buckets (floor(q*50), capped): the fixture's
        // quality mass sits in [0.7, 0.84], so 0.1-wide deciles collapse
        // to two bins — same map-side shape, finer curve
        .groupBy(least(floor(col("quality") * 50), lit(49L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("exact_dup").as("n_exact_dup"),
          sum("near_dup").as("n_near_dup"),
          sum("contaminated").as("n_contaminated"),
          sum("low_quality").as("n_low_quality"),
          sum("kept").as("n_kept"))
        .withColumn("kept_rate",
          round(col("n_kept").cast("double") / col("n_docs"), 9))
        .orderBy("bucket")),
    "repetition_stats" -> ((s, dir) =>
      Curation.repetitionStatsFromTokens(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)))),
    // two eval sets screened in one pass (one conditional-distinct agg)
    "decontaminate_multi" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      Curation.decontaminateMultiFromTokens(
        toks.where(col("doc_id") % 53 =!= 0 && col("doc_id") % 47 =!= 0),
        Map("a" -> toks.where(col("doc_id") % 53 === 0),
          "b" -> toks.where(col("doc_id") % 47 === 0)))
    }),
    "boilerplate_grams" -> ((s, dir) =>
      Curation.boilerplateGramsFromTokens(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)))),
    // Lee-et-al-style exact substring dedup: duplicated windows + coverage.
    // The whole family consumes the span-window ASSET (one tokenize+window
    // pass per dataset, not per query — values unchanged, deterministic).
    "duplicate_spans" -> ((s, dir) =>
      Curation.duplicateSpansFromWindows(spanWindowsAsset(s, dir))
        .orderBy("doc_id", "pos")),
    // stats/strip re-assembly reads the token-array ASSET (the `tokens`
    // column routes [[Curation.tokenStream]] to the stored arrays): the
    // raw-document spelling re-ran the regex tokenize per query over the
    // single-row-group scan — a 1-task serial stage in every strip plan
    "span_dup_stats" -> ((s, dir) =>
      Curation.spanDupStatsFromWindows(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        spanWindowsAsset(s, dir), 5)),
    "strip_duplicate_spans" -> ((s, dir) =>
      Curation.stripDuplicateSpansFromWindows(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        spanWindowsAsset(s, dir), 5)),
    // the 100 TB shuffle shape (8-byte gram hashes) — engine hash, rows-only
    "duplicate_spans_hashed" -> ((s, dir) =>
      Curation.duplicateSpansHashedFromWindows(spanWindowsAsset(s, dir))
        .orderBy("doc_id", "pos")),
    // hash-keyed strip: output is the token domain (no engine hash in the
    // result), so unlike duplicate_spans_hashed it oracle-checks exactly
    "strip_duplicate_spans_hashed" -> ((s, dir) =>
      Curation.stripDuplicateSpansHashedFromWindows(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        spanWindowsAsset(s, dir), 5)),
    // gate: the exact and xxhash64-keyed span detectors must mark the SAME
    // positions (a lost window = broken hash path; an extra = collision —
    // both zero at gate scale). Strengthens the rows-only
    // duplicate_spans_hashed with a driver-visible THROW.
    "span_hash_agreement_gate" -> ((s, dir) =>
      Curation.spanHashAgreementGate(spanWindowsAsset(s, dir))),
    // TRUE Lee-et-al exact-substring dedup at a Lee-scale window (L=12):
    // maximal merged duplicated regions and the canonical-keep strip, via
    // the hash-candidate → exact-content-verify pipeline (window strings
    // shuffle only for candidate positions — see ExactSubstr's scaladoc
    // for the proof this equals suffix-array longest-match marking)
    "exact_substr_spans" -> ((s, dir) =>
      ExactSubstr.spansFromVerified(exactSubstrWindowsAsset(s, dir), 12)),
    // strip re-assembly from the token-array asset (same substitution as
    // the n=5 strip family — Curation.tokenStream routes on the column)
    "exact_substr_strip" -> ((s, dir) =>
      ExactSubstr.stripFromVerified(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        exactSubstrWindowsAsset(s, dir), 12)),
    // INCREMENTAL index maintenance: docs with doc_id % 10 == 9 arrive as
    // the append batch against an index over the rest; the merge must
    // reproduce the full rebuild's spans EXACTLY (shares the
    // exact_substr_spans oracle). Old content is read only for candidate
    // documents; the old side otherwise contributes hash-keyed semi-joins
    // against the stored narrow hash index.
    "exact_substr_incremental_merge" -> ((s, dir) => {
      val toks = tokenArraysAsset(s, dir)
      val merged = ExactSubstr.mergeVerifiedIncremental(
        toks.where(col("doc_id") % 10 =!= 9),
        exactSubstrHashesAsset(s, dir).where(col("doc_id") % 10 =!= 9),
        exactSubstrOldWindowsAsset(s, dir),
        // fanOut AFTER the batch filter (r16): the batch's window-hash
        // expansion is the merge's dominant eager cost and the narrow
        // asset scan bins it into 1-2 tasks; the floor shuffle carries
        // only the 10% batch
        operators.Scaling.fanOut(toks.where(col("doc_id") % 10 === 9)), 12)
      ExactSubstr.spansFromVerified(merged, 12)
    }),
    // the stored l24 cascade level's marked rows, occ + corpus-first
    // witness flattened — pins the LEVEL assets (which three strip/profile
    // consumers serve from) against a direct duplicated-24-gram oracle
    "exact_substr_level_marks" -> ((s, dir) =>
      exactSubstrL24Asset(s, dir)
        .select(col("doc_id"), col("pos"), col("occ"),
          col("canon").getField("doc_id").as("canon_doc"),
          col("canon").getField("pos").as("canon_pos"))
        .orderBy("doc_id", "pos")),
    // INCREMENTAL CASCADE maintenance (closes the family the r9 base
    // merge opened): the doc_id % 10 == 9 append batch merged up one
    // stored cascade doubling — level candidates come from
    // changed-half-adjacent closure pairs plus stored-hash probes, so old
    // content is read only for touched documents. SERVING-shaped: the
    // merged base truth is the stored full-corpus index (its equality
    // with the live base merge is what exact_substr_incremental_merge's
    // oracle pins — re-running that merge here would double the
    // registry's top entry for no coverage). The merged l24 level must
    // reproduce the full rebuild's (shares the level-marks oracle); the
    // live-base-merge driver is spec-pinned in ExactSubstrSpec.
    "exact_substr_cascade_merge" -> ((s, dir) => {
      val merged = ExactSubstr.mergeLevelsIncremental(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        exactSubstrWindowsAsset(s, dir),
        exactSubstrOldWindowsAsset(s, dir),
        Seq(24 -> exactSubstrOldL24Asset(s, dir)), 12)
      merged.last._2
        .select(col("doc_id"), col("pos"), col("occ"),
          col("canon").getField("doc_id").as("canon_doc"),
          col("canon").getField("pos").as("canon_pos"))
        .orderBy("doc_id", "pos")
    }),
    // regions with provenance: the canonical occurrence of each region's
    // opening window — "duplicated from where"
    "exact_substr_spans_attributed" -> ((s, dir) =>
      ExactSubstr.spansWithWitness(exactSubstrWindowsAsset(s, dir), 12)),
    // length-THRESHOLD strip (Lee et al. §4 policy variant): only
    // duplicates of >= 48 tokens are stripped — served from the stored
    // L=48 cascade level, whose canon is that length's corpus-first rule
    "exact_substr_strip_minlen" -> ((s, dir) =>
      ExactSubstr.stripThresholdFromLevel(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        exactSubstrL48Asset(s, dir), 48)),
    // KEEP-LONGEST strip (the other §4 keeper variant): each duplicated
    // gram keeps its occurrence in the longest document (ties →
    // corpus-first); keeper election groups by the 16-byte stored canon,
    // never the gram string
    // NOT routed through the token-array asset like its strip siblings:
    // both spellings were measured (r16, DevJobs sf0.1) and the raw-docs
    // assembly wins here — the keeper-election subtree inflates the
    // covered-positions estimate, flipping the re-assembly's anti join to
    // a sort-merge that re-partitions the fanned token stream (2.6-2.8 s
    // vs 1.9 s raw); the shared-frame and split-frame asset variants both
    // regressed, so the empirical loop kept the raw spelling
    "exact_substr_strip_keep_longest" -> ((s, dir) =>
      ExactSubstr.stripKeepLongestFromVerified(Tables.documents(s, dir),
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        exactSubstrWindowsAsset(s, dir), 12)),
    // duplication-depth distribution: corpus mass inside verbatim
    // duplicates of >= 12/24/48/96 tokens (Lee-et-al length profile),
    // SERVED as a stored 4-row asset aggregated once from the cascade
    // levels at build time — the query never rescans the level marks
    // (the r8 live-cascade spelling compiled a 953-exchange plan; the
    // r9-interim level-scan spelling still aggregated the full marked
    // sets per execution, ~5 s warm at sf1 to print 4 numbers)
    "exact_substr_depth_profile" -> ((s, dir) =>
      depthProfileAsset(s, dir).orderBy("min_len")),
    // EXACT per-position longest-match lengths (capped at the top level):
    // band-bounded binary search between adjacent stored cascade levels,
    // derived ONCE per dataset as an asset (the driver-paced iterative
    // build is derivation work, like the levels themselves) and SERVED
    // from parquet — the length-weighted dedup policies' input the band
    // profile can't serve
    "exact_substr_match_lengths" -> ((s, dir) =>
      matchLengthsAsset(s, dir).orderBy("doc_id", "pos")),
    // NOTE — ExactSubstr.matchLengthsIncremental (incremental match-length
    // maintenance, the last rebuild-on-append asset in the family) is
    // deliberately NOT a registered replay: the operator's cost is the
    // iterative bisection's fixed barrier chain plus work proportional to
    // the duplication NEIGHBORHOOD of the change, and the fixture plants
    // verbatim twins so densely (SCALE_r09 density_note) that ANY
    // non-trivial changed sample's neighborhood is the whole corpus — a
    // registry entry would re-price the full rebuild (measured 13.5 s at
    // sf0.01, ~2× the registry's top entry, invariant to sampling the
    // changed set) and measure fixture density, not the operator. Full
    // equality with the rebuilt table is spec-pinned on planted corpora
    // (incl. forced hash collisions and the empty batch) in
    // ExactSubstrSpec, the same treatment as the full-corpus suffix-rank
    // construction; the registered cascade merge exercises the shared
    // changed-marks/neighborhood machinery in-registry.
    // gate: candidate-verify must mark EXACTLY the string-keyed window
    // family's positions at the family's n (zero lost, zero unverified).
    // Runs the LIVE pipeline (not the asset — this gates the pipeline)
    "exact_substr_agreement_gate" -> ((s, dir) =>
      ExactSubstr.windowFamilyAgreementGate(
        operators.Scaling.fanOut(tokenArraysAsset(s, dir)),
        spanWindowsAsset(s, dir), 5)),
    // gate: the prefix-doubling suffix-rank spelling (no shared code, no
    // hash function) must agree position-for-position at L=12 on a
    // FIXED-SIZE deterministic planted+hash document sample — the
    // production verify path runs distributed as shipped; the rank
    // spelling runs single-node over the collected sample (the
    // full-corpus suffix sort is unrunnable at 100 TB, which would
    // silently retire the gate exactly where it matters, and a modulus
    // sample grows with the corpus)
    "exact_substr_rank_gate" -> ((s, dir) =>
      // no fanOut: the gate's work is sample-bounded, and the only
      // full-table pass is the column-pruned id scan inside the sampler
      ExactSubstr.rankAgreementGateSampled(
        tokenArraysAsset(s, dir),
        exactSubstrWindowsAsset(s, dir), 12)),
    // --- Dedup ---
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "ngram_jaccard_pairs" -> ((s, dir) =>
      exactPairsAsset(s, dir).where(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")),
    // threshold-calibration curve off the pair-table asset: how aggressive
    // each candidate Jaccard cut would be, with the corpus count riding in
    // as the drop-rate denominator
    "dedup_threshold_calibration" -> ((s, dir) =>
      Dedup.dedupThresholdCalibration(exactPairsAsset(s, dir), docsCount(s, dir))),
    // packing planner summary: truncation and padding-bound per candidate
    // max_len, from the shared doc-totals rollup
    "packing_efficiency" -> ((s, dir) =>
      TextAnalysis.packingEfficiency(termCountsAsset(s, dir))),
    // WHERE the near-duplication lives: near-dup pair counts per unordered
    // source pair, off the shared pair-table asset (corpus never re-read)
    "dedup_cross_source" -> ((s, dir) =>
      Dedup.crossSourceDupMatrix(exactPairsAsset(s, dir),
        Tables.documents(s, dir).select("doc_id", "source"))),
    // dataset-acquisition audit: one-row containment of the incoming
    // split's 3-gram set in the already-ingested split
    "corpus_containment" -> ((s, dir) =>
      Dedup.corpusContainment(documentsFan(s, dir), col("doc_id") % 2 === 0)),
    // sketch staging of the same number (mergeable per-split HLLs +
    // inclusion-exclusion), THROWs on drift from exact — engine-internal
    // estimates → rows-only driver check
    "corpus_containment_hll" -> ((s, dir) =>
      Dedup.corpusContainmentHllGate(documentsFan(s, dir),
        col("doc_id") % 2 === 0)),
    // what the boilerplate-gram cap removed from the verifier's view
    "gram_cap_coverage" -> ((s, dir) => Dedup.gramCapCoverage(documentsFan(s, dir))),
    // idempotent ingestion: which incoming docs are content-NEW vs the
    // already-ingested half of the corpus
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalNew(docs.where(col("doc_id") % 2 === 0), docs)
    }),
    // pairs → clusters → filtered corpus: the shipped dedup decision (keep
    // the min doc per near-dup cluster); oracle via the same recursive CTE
    "dedup_apply" -> ((s, dir) =>
      Dedup.applyDedupLabels(Tables.documents(s, dir), dedupLabelsAsset(s, dir))
        .select("doc_id", "source").orderBy("doc_id")),
    // quality-weighted keeper: per near-dup cluster keep the HIGHEST
    // quality-score member (ties → min doc_id) instead of the arbitrary
    // min-id copy; keeper election is one narrow agg, text never moves
    "dedup_apply_keep_best" -> ((s, dir) =>
      Dedup.applyDedupLabelsKeepBest(Tables.documents(s, dir),
        dedupLabelsAsset(s, dir),
        TextAnalysis.qualityScore(Tables.documents(s, dir))
          .select("doc_id", "quality"))
        .select("doc_id", "source").orderBy("doc_id")),
    // SOFT dedup: per-doc training weights instead of drops —
    // 1/cluster_size over the near-dup components × the document's
    // paragraph-novelty share (corpus-first paragraph blocks)
    "dedup_soft_weights" -> ((s, dir) =>
      Dedup.softDedupWeights(Tables.documents(s, dir),
        dedupLabelsAsset(s, dir),
        Paragraphs.paragraphDupPerDoc(Tables.documents(s, dir), paraTokens = 16))
        .orderBy("doc_id")),
    // ...and the soft policy APPLIED: survive with probability = soft
    // weight on the content-stable md5 coin (expected cluster mass 1)
    "dedup_soft_sample" -> ((s, dir) =>
      Dedup.softDedupSample(
        Dedup.softDedupWeights(Tables.documents(s, dir),
          dedupLabelsAsset(s, dir),
          Paragraphs.paragraphDupPerDoc(Tables.documents(s, dir),
            paraTokens = 16)))),
    // the CONSERVATIVE recipe composed end to end: within-doc strip
    // (drop only a page's own repeats, zero shuffle) THEN soft weights
    // re-priced on the cleaned text — cross-doc sharing survives with a
    // down-weight instead of a strip; width-2 blocks so both stages
    // genuinely fire on the fixture
    "conservative_soft_weights" -> ((s, dir) =>
      conservativeWeightsAsset(s, dir).orderBy("doc_id")),
    // ...and the recipe APPLIED: survive with p = the composed
    // conservative weight on the house md5 coin (the soft policy's
    // sampler over the stored cleaned-text weights)
    "conservative_soft_sample" -> ((s, dir) =>
      Dedup.softDedupSample(
        conservativeWeightsAsset(s, dir).select("doc_id", "weight"))),
    // CCNet-style paragraph dedup: every paragraph content keeps its
    // first corpus occurrence; later occurrences strip out of their docs
    // (the boilerplate remover document-level dedup can't express) —
    // output fingerprints the cleaned text instead of shipping it
    "paragraph_dedup_strip" -> ((s, dir) =>
      Paragraphs.paragraphDedupStrip(documentsFan(s, dir), paraTokens = 16)
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")),
    // INCREMENTAL paragraph dedup: the stored keeper index (pre-append
    // slice) absorbs an append batch — first-arrived keepers never move,
    // so only the new documents strip; the oracle replays arrival order
    // (old rows rank before new) over the full corpus
    "paragraph_dedup_incremental" -> ((s, dir) =>
      Paragraphs.paragraphDedupIncremental(
        paragraphKeepersOldAsset(s, dir),
        // fanOut AFTER the batch filter (r16, ADVICE): the floor shuffle
        // carries the 10% batch instead of the full corpus
        operators.Scaling.fanOut(
          Tables.documents(s, dir).where(col("doc_id") % 10 === 9)),
        paraTokens = 16)._2
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")),
    // ...and the same incremental maintenance over REAL (delimiter-cut)
    // paragraph boundaries — the cut real corpora use (`\n{2,}`; the
    // fixture's stand-in separator as in the delim batch family); shares
    // the cut-agnostic keeper/strip core with the fixed-width replay
    "paragraph_dedup_incremental_delim" -> ((s, dir) =>
      Paragraphs.paragraphDedupIncrementalByDelimiter(
        paragraphKeepersDelimOldAsset(s, dir),
        Tables.documents(s, dir).where(col("doc_id") % 10 === 9),
        "\\s+table\\s+")._2
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")),
    // per-source paragraph duplication rates (how boilerplate-heavy each
    // source is at paragraph granularity)
    "paragraph_dup_stats" -> ((s, dir) =>
      Paragraphs.paragraphDupStats(Tables.documents(s, dir), paraTokens = 16)),
    // the boilerplate worklist: most-repeated paragraph contents, heap
    // top-k, deterministic ties
    "paragraph_dup_topk" -> ((s, dir) =>
      Paragraphs.boilerplateParagraphs(Tables.documents(s, dir),
        paraTokens = 16, k = 50)),
    // paragraph dedup over REAL (delimiter-cut) paragraph boundaries —
    // the fixture corpus is single-line, so the registry exercises the
    // delimiter machinery with a word separator (every ` table ` run
    // ends a paragraph); a multi-line corpus passes `\n{2,}`. Touched
    // documents re-join with the canonical "\n\n"; untouched pass
    // verbatim
    "paragraph_dedup_strip_delim" -> ((s, dir) =>
      Paragraphs.paragraphDedupStripByDelimiter(
          Tables.documents(s, dir), "\\s+table\\s+")
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")),
    "paragraph_dup_stats_delim" -> ((s, dir) =>
      Paragraphs.paragraphDupStatsByDelimiter(
        Tables.documents(s, dir), "\\s+table\\s+")),
    // WITHIN-document paragraph dedup (intra-page boilerplate): each doc
    // keeps the first occurrence of every distinct paragraph it contains
    // and drops its own later repeats; cross-doc sharing untouched. Pure
    // map work — zero shuffle, exact in-row string equality. Width-2
    // blocks are the cut that genuinely fires on the fixture (181 docs
    // lose 250 blocks at sf0.01 — a real keep/drop mix, not a vacuous
    // pass); the delimiter-cut twin shares the one kept-logic spelling.
    "paragraph_dedup_within_doc" -> ((s, dir) =>
      Paragraphs.paragraphDedupStripWithinDocFixed(
          documentsFan(s, dir), paraTokens = 2)
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")),
    // paragraph-level DECONTAMINATION: the benchmark-leak family's third
    // granularity (doc-drop / token-span / paragraph) — strip every
    // corpus paragraph whose content appears in the benchmark split;
    // benchmark fingerprints broadcast, only contaminated docs rewrite
    "paragraph_decontaminate" -> ((s, dir) => {
      val docs = documentsFan(s, dir)
      Paragraphs.paragraphDecontaminate(
          docs.where(col("doc_id") % 53 =!= 0),
          docs.where(col("doc_id") % 53 === 0), paraTokens = 16)
        .select(col("doc_id"), col("n_paras"), col("n_dropped"),
          md5(col("text_clean").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),
    // greedy token-budget selection: keep the best-scored prefix whose
    // token total fits the budget — exact global-window spelling...
    "token_budget_select" -> ((s, dir) =>
      Curation.tokenBudgetSelect(budgetScoredFrame(s, dir), 20000L)),
    // ...and the scale spelling (bounded score histogram broadcast, the
    // running-sum window runs on ONE boundary bucket, not the corpus);
    // both select the identical doc set and share the oracle
    "token_budget_select_bucketed" -> ((s, dir) =>
      Curation.tokenBudgetSelectBucketed(budgetScoredFrame(s, dir), 20000L)),
    // budget selection composed with the TRAINED classifier: the score
    // column is the model's sigmoid (served from the weights asset, one
    // codegen scan) instead of the rule-based quality; degenerate
    // documents (NULL score — no defined rank) are filtered explicitly.
    // Exact spelling and the bucketed 100 TB path share ONE oracle whose
    // score chain is the unrolled-training CTE stack
    "token_budget_select_classifier" -> ((s, dir) =>
      Curation.tokenBudgetSelect(classifierBudgetFrame(s, dir), 20000L)),
    "token_budget_select_classifier_bucketed" -> ((s, dir) =>
      Curation.tokenBudgetSelectBucketed(classifierBudgetFrame(s, dir), 20000L)),
    // temperature-resampled source mixing (share^alpha rule, alpha=0.5
    // -> IEEE sqrt, engine-exact): the rate table...
    "temperature_mix_rates" -> ((s, dir) =>
      Curation.temperatureMixRates(Tables.documents(s, dir), 0.5, 15000L)),
    // ...and its md5-coin application (map-side flip per document)
    "temperature_mix_sample" -> ((s, dir) =>
      Curation.temperatureMixSample(Tables.documents(s, dir), 0.5, 15000L)),
    // ...and the quota COMPOSITION: per-source ingest budgets = the
    // mixing plan's tempered probability × the absolute token target
    // (replaces the constant-budget quota's hand-picked 800; that query
    // stays registered as the plain-quota form)
    "token_quota_mix_composed" -> ((s, dir) =>
      Curation.tokenQuotaMixComposed(Tables.documents(s, dir), 0.5, 15000L)),
    // overlapping token-window chunking (context-length splitting)
    "chunk_documents" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(documentsFan(s, dir), 64, 16)),
    // domain mixing: per-source stable-sample fractions in one pass
    "documents_weighted_sample" -> ((s, dir) => {
      val weights = ((0 to 4).map(i => s"src$i" -> 0.4) ++
        (5 to 9).map(i => s"src$i" -> 0.2) ++
        (10 to 19).map(i => s"src$i" -> 0.05)).toMap
      TextAnalysis.weightedSourceSample(Tables.documents(s, dir), weights)
        .groupBy("source").agg(count(lit(1)).as("n_sampled"),
          min("doc_id").as("first_doc"))
        .orderBy("source")
    }),
    // reproducible per-epoch corpus shuffle (total order, no global window)
    "documents_epoch_shuffle" -> ((s, dir) =>
      TextAnalysis.epochShuffle(Tables.documents(s, dir), epoch = 1)),
    // near-dup clusters from the exact pair table (keep `cluster`, drop the
    // rest); oracle = DuckDB recursive reachability over the same pairs
    "dedup_clusters" -> ((s, dir) => dedupLabelsAsset(s, dir).orderBy("doc_id")),
    // sketch-based near-dup: not ANSI-SQL-expressible → rows-only checks
    "minhash_pairs" -> ((s, dir) =>
      minhashPairsAsset(s, dir).orderBy("doc_a", "doc_b")),
    "simhash_pairs" -> ((s, dir) =>
      simhashPairsAsset(s, dir).orderBy("doc_a", "doc_b")),
    // sketch-quality gates: THROW (→ driver `err`) if the LSH sketches lose
    // recall against the exact n-gram verifier or emit unrelated pairs —
    // the text-sketch counterpart of the ANN recall gates
    "minhash_precision" -> ((s, dir) =>
      Dedup.sketchQualityGate(Tables.documents(s, dir), "minhash",
        exactPairs = Some(exactPairsAsset(s, dir)),
        // asset holds the 0.5-threshold table; the gate judges the 0.7 slice
        sketchPairs = Some(minhashPairsAsset(s, dir)
          .where(col("jaccard_est") >= 0.7)))),
    // simhash hamming<=3 targets near-identical docs; on the fixture's
    // short documents it reaches ~60% of the >=0.95-jaccard slice (sign
    // bits are fragile at low token counts — an operator property, pinned
    // at the unit level in DedupSpec), so the recall bar detects a CRATER
    // (banding regression → ≈ 0), not a dip. Precision vs the n-gram
    // verifier is REPORTED but not gated: simhash measures weighted
    // unigram-distribution similarity, and distribution-similar short docs
    // legitimately collide without sequence (n-gram) overlap.
    "simhash_precision" -> ((s, dir) =>
      Dedup.sketchQualityGate(Tables.documents(s, dir), "simhash",
        truthMinJaccard = 0.95, minRecall = 0.5, minPrecision = 0.0,
        exactPairs = Some(exactPairsAsset(s, dir)),
        sketchPairs = Some(simhashPairsAsset(s, dir)))),
    // --- Streaming operators, batch-executed (same plan, micro-batch or
    // batch — withWatermark is a no-op in batch mode) ---
    "streams_sessionize_batch" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "ts", "user_id", "event_type", "value")
      graft.streaming.Streams.sessionize(ev, gapMinutes = 30)
        .select(col("user_id"),
          unix_micros(col("t_start")).as("t_start_us"),
          unix_micros(col("t_end")).as("t_end_us"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "t_start_us")
    }),
    // Stream-stream interval join executed in batch (same plan; streaming
    // adds watermark-driven state eviction): each purchase matched to the
    // same user's errors within ±10 minutes.
    "events_interval_join_batch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pur = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val err = ev.where(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      graft.streaming.Streams.intervalJoin(pur, err,
        "user_id", "e_user", "p_ts", "e_ts")
        .select(col("p_id"), col("e_id"), col("user_id"),
          (unix_micros(col("e_ts")) - unix_micros(col("p_ts"))).as("delta_us"))
        .orderBy("p_id", "e_id")
    }),
    // --- Multimodal plumbing (no relational oracle: mapPartitions over
    // binary payloads; rows-only check) ---
    "multimodal_decode" -> ((s, _) =>
      graft.multimodal.Multimodal.decodeMeta(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .orderBy("asset_id")),
    // Exploded to scalar (asset_id, bin, weight) rows: the driver's pandas
    // compare cannot sort array cells.
    "multimodal_features" -> ((s, _) =>
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .select(col("asset_id"), posexplode(col("feature")))
        .select(col("asset_id"), col("pos").cast("long").as("bin"),
          round(col("col"), 9).as("weight"))
        .orderBy("asset_id", "bin")),
    "multimodal_keyframes" -> ((s, _) =>
      graft.multimodal.Multimodal.keyFrames(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(col("diff_energy"), 9).as("diff_energy"))
        .orderBy("asset_id", "frame_idx")),
    // nested container walks: AVI movi index, then per-frame JPEG SOF
    "multimodal_frame_meta" -> ((s, _) =>
      graft.multimodal.Multimodal.frameMeta(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("format"), col("width"), col("height"), col("n_bytes"))
        .orderBy("asset_id", "frame_idx")),
    // real-raster color profile: rows ONLY for honestly decodable images
    "multimodal_channel_stats" -> ((s, _) =>
      graft.multimodal.Multimodal.channelStats(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .select(col("asset_id"), col("channel"), col("n_pixels"),
          round(col("mean"), 9).as("mean"), round(col("std"), 9).as("std"))
        .orderBy("asset_id", "channel")),
    "multimodal_audio_energy" -> ((s, _) =>
      graft.multimodal.Multimodal.audioFrameEnergy(
        graft.multimodal.Multimodal.syntheticAssets(s, 200)).toDF()
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(col("rms"), 9).as("rms"), round(col("peak"), 9).as("peak"))
        .orderBy("asset_id", "frame_idx")),
    // golden digest of the REAL decoded rasters over the deterministic
    // multimodal fixture — THROWS (→ driver `err`) on any drift in the
    // PPM/BMP/JPEG/PNG decode path (r6 VERDICT item 6: the decode outputs
    // were rows-only; this is the sketch-gate pattern applied to pixels).
    // Constants measured from the fixture; MultimodalSpec re-derives them
    // from first principles so a legitimate fixture change is a one-line
    // repin with a failing spec pointing at it.
    "multimodal_digest_gate" -> ((s, _) =>
      graft.multimodal.Multimodal.rasterDigestGate(
        graft.multimodal.Multimodal.syntheticAssets(s, 200),
        expectedCount = MultimodalGolden.nDecoded,
        expectedCrcSum = MultimodalGolden.crcSum,
        expectedCrcXor = MultimodalGolden.crcXor,
        expectedBytes = MultimodalGolden.rasterBytes)),
    // Pure-SQL surface over the custom ShingleHashes GENERATOR (TVF shape:
    // LATERAL VIEW graft_shingle_hashes(...)): distinct 5-byte shingles per
    // doc — oracle = distinct 5-char substrings (ASCII corpus: byte==char;
    // the generator emits per-row distinct hashes, so count(*) suffices).
    "shingle_distinct_counts" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_documents_sql")
      s.sql("""
        SELECT doc_id, count(*) AS n_shingles
        FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ')) AS canon
              FROM graft_documents_sql)
        LATERAL VIEW graft_shingle_hashes(canon, 5) t AS shingle_hash
        WHERE length(canon) >= 5
        GROUP BY doc_id ORDER BY doc_id
      """)
    }),
    // The streaming near-dup store's decisions over a full corpus,
    // registered on the BATCH spelling — capped-bucket election window +
    // narrow bucket join (no whole LSH bucket buffered in one task); the
    // stateful signature store serves the true stream only and is pinned
    // row-identical by the StreamingSpec parity spec. Rows-only:
    // engine-specific sketch.
    "streams_near_dups_batch" -> ((s, dir) =>
      graft.streaming.Streams.nearDupsBatch(
        Tables.documents(s, dir).select("doc_id", "text"), threshold = 0.5)
        // the estimate is band-independent (full-signature agreement);
        // collapse multi-band collisions deterministically
        .groupBy("doc_id", "dup_of")
        .agg(min("band").as("first_band"), round(max("jaccard_est"), 9).as("jaccard_est"))
        .orderBy("doc_id", "dup_of")),
    // stream-stream self-join variant (engine-managed watermark state): in
    // batch the watermarks are no-ops — a bucketed self-join inside a
    // synthetic ±2 h corridor (ts = epoch + doc_id minutes); band hashes /
    // signature agreement are engine-internal → rows-only check
    "streams_near_dup_join_batch" -> ((s, dir) =>
      graft.streaming.Streams.nearDupPairsJoin(
        Tables.documents(s, dir).select(col("doc_id"),
          expr("timestampadd(MINUTE, cast(doc_id AS int), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
          col("text")),
        threshold = 0.5, horizon = "2 hours").toDF()
        .groupBy("doc_a", "doc_b")
        .agg(min("band").as("first_band"),
          round(max("jaccard_est"), 9).as("jaccard_est"))
        .orderBy("doc_a", "doc_b")),
    // the streaming gram store's decisions over a full corpus ("every
    // occurrence except the corpus-first"), registered on the BATCH
    // spelling — min-struct election + mark-back join (no whole gram
    // group buffered in one task); the stateful store serves the true
    // stream only and is pinned row-identical by the StreamingSpec
    // parity spec. Oracle-checked against the relational definition.
    "streams_span_dedup_batch" -> ((s, dir) =>
      graft.streaming.Streams.spanDedupBatch(
        documentsFan(s, dir).select("doc_id", "text"), n = 5)
        .orderBy("doc_id", "pos")),
    // ingest-time per-source token quota: greedy-prefix admission (the
    // batch budget selector's semantics) with refusals kept for audit.
    // Registered on the BATCH spelling — a spillable per-source
    // running-sum window (no whole-source group buffered in one task);
    // the stateful flatMapGroupsWithState twin serves the true stream
    // only and is pinned row-identical by the StreamingSpec parity spec
    "streams_token_quota_batch" -> ((s, dir) =>
      graft.streaming.Streams.tokenQuotaBatch(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        budgetPerSource = 800L)
        .orderBy("doc_id")),
    // stateless at-ingest leakage gate: benchmark Bloom literal + per-row
    // array-domain gram scoring (bloom estimates → rows-only; the spec
    // pins zero false negatives vs the exact batch check)
    // ingest-time exact-substring exposure vs the STORED dup-window index
    // (Bloom over the verified window HASHES — a per-snapshot model
    // artifact, cached like the other trained blobs; stateless per-row)
    "streams_exact_substr_batch" -> ((s, dir) =>
      graft.streaming.Streams.streamingExactSubstrFlagWithModel(
        Tables.documents(s, dir).select("doc_id", "text"),
        dupWindowBloomModel(s, dir), n = 12)
        .orderBy("doc_id")),
    // the REFRESH protocol's batch shape: the same stateless gate stamped
    // with the serving index snapshot's version (content-derived — the
    // stored index's row count), the column a stream consumer audits to
    // see WHICH snapshot scored each row. The stream side (foreachBatch
    // poll + model swap on version change) is MemoryStream-spec'd in
    // StreamingSpec; versions only need to change on rebuild.
    "streams_exact_substr_versioned_batch" -> ((s, dir) => {
      val version = exactSubstrWindowsAsset(s, dir).count()
      graft.streaming.Streams.streamingExactSubstrFlagWithModel(
        Tables.documents(s, dir).select("doc_id", "text"),
        dupWindowBloomModel(s, dir), n = 12)
        .withColumn("index_version", lit(version))
        .orderBy("doc_id")
    }),
    // paragraph-family ingest gate (batch shape, rows-only — Bloom
    // estimates): index = the even-doc half's paragraph hashes, every
    // document scored statelessly with the SHARED cut+hash spelling;
    // refresh protocol MemoryStream-spec'd beside the other gates
    "streams_paragraph_gate_batch" -> ((s, dir) => {
      val docs = documentsFan(s, dir).select("doc_id", "text")
      graft.streaming.Streams.streamingParagraphFlag(
        docs, docs.where(col("doc_id") % 2 === 0),
        paraTokens = 16, flagRatio = 0.5)
        .orderBy("doc_id")
    }),
    "streams_decontaminate_batch" -> ((s, dir) => {
      val toks = operators.Scaling.fanOut(tokenArraysAsset(s, dir))
      graft.streaming.Streams.streamingDecontaminate(
        Tables.documents(s, dir).where(col("doc_id") % 53 =!= 0)
          .select("doc_id", "text"),
        toks.where(col("doc_id") % 53 === 0))
        .orderBy("doc_id")
    }),
    // the classifier refresh protocol's batch shape: stateless model
    // scoring stamped with the weights asset's content-derived version
    // (the stamp a stream consumer audits to see WHICH model scored each
    // row). The stream side — per-micro-batch version poll + model swap
    // on retrain — is MemoryStream-spec'd in StreamingSpec.
    "streams_classifier_scores_batch" -> ((s, dir) => {
      val weights = qualityClassifierWeightsAsset(s, dir)
      graft.streaming.Streams.classifierScoreWithModel(
        Tables.documents(s, dir).select("doc_id", "text"),
        operators.QualityClassifier.modelFromRows(weights))
        .withColumn("index_version",
          lit(operators.QualityClassifier.modelVersion(weights)))
        .orderBy("doc_id")
    }),
    // --- Similarity search ---
    // embedding-table hygiene audit: one-row dim/null/norm report gating
    // any index build over a new embedding drop
    "embedding_stats" -> ((s, dir) =>
      operators.Similarity.embeddingStats(Tables.embeddings(s, dir))),
    // JL ±1 random projection (md5-derived signs, DECIMAL-routed fold):
    // the dimension-cut compression next to int8 (value width) and PQ
    // (codebook) — per-row map work, oracle-exact per component
    "embedding_rp_components" -> ((s, dir) =>
      operators.Similarity.randomProject(Tables.embeddings(s, dir))),
    // JL distortion audit over probe pairs, THROWs on breach —
    // engine-internal distances → rows-only driver check
    "rp_distortion_gate" -> ((s, dir) =>
      operators.Similarity.rpDistortionGate(Tables.embeddings(s, dir))),
    "knn_cosine_top10" -> ((s, dir) =>
      knnExactAsset(s, dir)
        .withColumnRenamed("rank", "rnk")
        .withColumn("rnk", col("rnk").cast("long"))
        .select("q_id", "rnk", "vec_id", "cos")
        .orderBy("q_id", "rnk")),
    // contrastive-training negatives: most-similar vectors of a DIFFERENT label
    "hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), 0L to 9L, 10)),
    // embedding-space quality eval: leave-one-out kNN majority-label vote
    "knn_label_accuracy" -> ((s, dir) =>
      Similarity.knnLabelAccuracy(Tables.embeddings(s, dir), 0L to 9L, 10)),
    "ann_cosine_lsh" -> ((s, dir) =>
      Similarity.annCosineLsh(Tables.embeddings(s, dir), 0L to 9L, 10)),
    // int8 embedding store: per-vector quantization audit (oracle-exact)
    // and a dequantized-kNN recall gate (THROWS under the bar)
    "embedding_int8_stats" -> ((s, dir) =>
      Similarity.int8QuantizeStats(Tables.embeddings(s, dir))),
    "int8_knn_recall" -> ((s, dir) =>
      Similarity.int8KnnRecallGate(Tables.embeddings(s, dir), 0L to 9L, 10,
        prebuiltExact = Some(knnExactAsset(s, dir)))),
    // IVF with zero-iteration md5-seeded centroids: every stage — centroid
    // choice, list assignment, probe selection, in-list ranking — is
    // engine-portable, so the WHOLE inverted-file search hash-checks
    // against DuckDB (the Lloyd-refined path stays exercised and recall-
    // gated via ivf_recall / ann_index_build below)
    "ivf_cosine_top10" -> ((s, dir) =>
      Similarity.ivfSearch(Tables.embeddings(s, dir), 0L to 9L, 10,
        nCentroids = 16, nprobe = 4, lloydIters = 0)
        .withColumn("rank", col("rank").cast("long"))),
    // ONE Lloyd refinement, still hash-checked end to end: the assignment
    // argmax ranks on the 6-rounded cosine and the centroid means route
    // through exact DECIMAL sums, so even the REFINED centroid set — and
    // the search over it — replays row-for-row in DuckDB
    "ivf_lloyd_top10" -> ((s, dir) =>
      Similarity.ivfSearch(Tables.embeddings(s, dir), 0L to 9L, 10,
        nCentroids = 16, nprobe = 4, lloydIters = 1,
        prebuiltCents = Some(lloydCentroidsAsset(s, dir)))
        .withColumn("rank", col("rank").cast("long"))),
    // Recall gates: THROW (→ driver `err`) if ANN recall vs brute force
    // drops under 0.9; rows-only output (q_id, n_matched, k_exact).
    "ann_recall" -> ((s, dir) =>
      Similarity.annRecallGate(Tables.embeddings(s, dir), 0L to 9L, 10, 0.9, "lsh",
        prebuiltExact = Some(knnExactAsset(s, dir)))),
    "ivf_recall" -> ((s, dir) =>
      Similarity.annRecallGate(Tables.embeddings(s, dir), 0L to 9L, 10, 0.9, "ivf",
        index = Some(annIndex(s, dir)),
        prebuiltExact = Some(knnExactAsset(s, dir)))),
    // index build as a first-class operator: train coarse centroids + PQ
    // codebooks once, persist the compressed corpus; the summary row is the
    // driver-visible artifact (rows-only — centroid values are engine-
    // specific, but counts/dims are deterministic)
    "ann_index_build" -> ((s, dir) => {
      val idx = annIndex(s, dir)
      idx.encoded.agg(
        count(lit(1)).as("n_vectors"),
        countDistinct(col("list_id")).as("n_lists"),
        max(size(col("codes"))).as("codes_per_vec"))
        .withColumn("m", lit(idx.m))
        .withColumn("dim", lit(idx.dim))
    }),
    // PQ ENCODING hash-checked end to end (the IVF treatment applied to
    // the codebook side): md5-seeded zero-iteration codebooks + rounded
    // argmin assignment — every (vector, sub-space) code replays in DuckDB
    "pq_codes_portable" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = operators.ProductQuantization.trainCodebooks(
        emb, m = 8, codes = 16, lloydIters = 0)
      operators.ProductQuantization.encode(emb, cb, m = 8)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code").cast("long").as("code"))
        .orderBy("vec_id", "sub")
    }),
    // PQ: 8x32 codebooks (8 bytes/vector), ADC scoring against the prebuilt
    // index, exact re-rank — the memory-bounded ANN path; gate at 0.9
    "pq_cosine_top10" -> ((s, dir) =>
      operators.ProductQuantization.pqSearch(annIndex(s, dir),
        Tables.embeddings(s, dir), 0L to 9L, 10, rerank = 300)),
    "pq_recall" -> ((s, dir) =>
      Similarity.annRecallGate(Tables.embeddings(s, dir), 0L to 9L, 10, 0.9, "pq",
        index = Some(annIndex(s, dir)),
        prebuiltExact = Some(knnExactAsset(s, dir)))),
    // second PQ gate at the PRE-r5 re-rank depth (300): the md5-portable
    // codebook seed measurably cost recall (0.90x → 0.880 at rerank=300 on
    // sf0.1) and the 0.9 gate was re-passed by deepening the re-rank to
    // 500. Pinning the old depth at the measured operating point (floor
    // 0.85) means a FUTURE codebook regression must show up here — it can
    // no longer be absorbed by ever-deeper exact re-ranking.
    "pq_recall_shallow" -> ((s, dir) =>
      Similarity.annRecallGate(Tables.embeddings(s, dir), 0L to 9L, 10, 0.85, "pq",
        pqRerank = 300, index = Some(annIndex(s, dir)),
        prebuiltExact = Some(knnExactAsset(s, dir)))),
    // composed billion-scale layout: IVF prunes lists, PQ codes shrink the
    // scan; rows-only (two stacked sketches)
    "ivfpq_cosine_top10" -> ((s, dir) =>
      operators.ProductQuantization.ivfPqSearch(annIndex(s, dir),
        Tables.embeddings(s, dir), 0L to 9L, 10, nprobe = 12, rerank = 300)),
    // end-to-end retrieval: query embedding → exact cosine top-10 → join
    // the document table back for display columns (vec_id ↔ doc_id)
    "retrieve_docs_for_query" -> ((s, dir) =>
      Similarity.knnBruteForce(Tables.embeddings(s, dir), Seq(0L), 10)
        .withColumnRenamed("rank", "rnk")
        .withColumn("rnk", col("rnk").cast("long"))
        .join(Tables.documents(s, dir).select(
          col("doc_id").as("vec_id"), col("lang"), col("source")), "vec_id")
        .select("q_id", "rnk", "vec_id", "cos", "lang", "source")
        .orderBy("rnk")),
    // streaming index maintenance run in batch: per-row encode of arrivals
    // against a frozen (collected) index — no shuffle of the arrival side
    "stream_encode_batch" -> ((s, dir) => {
      val idx = annIndex(s, dir)
      operators.ProductQuantization.encodeStream(
          Tables.embeddings(s, dir), idx.cents, idx.codebooks)
        .select(col("vec_id"), col("list_id"),
          to_json(col("codes")).as("codes_json"), round(col("norm"), 9).as("norm"))
        .orderBy("vec_id")
    }),
    // the encoder's oracle-able face: the exact norm column (index-ordered
    // double sum in Spark vs DECIMAL-exact sum in DuckDB, both rounded) —
    // pins the streaming encoder's arithmetic to something outside the
    // engine, while codes/list_id stay engine-specific (rows-only above)
    "stream_encode_norms" -> ((s, dir) => {
      val idx = annIndex(s, dir)
      operators.ProductQuantization.encodeStream(
          Tables.embeddings(s, dir), idx.cents, idx.codebooks)
        .select(col("vec_id"), round(col("norm"), 6).as("norm"))
        .orderBy("vec_id")
    }),
    // --- TPC-H-ish pricing summary (agg + decimal-exact sums) ---
    "q1_pricing_summary" -> ((s, dir) => {
      // fanOut: a full-table decimal rollup over the single-row-group
      // fixture scan runs its whole partial-agg phase in ONE task;
      // flooring parallelism is a measured win here (2.5 -> 1.2 s cold at
      // sf0.1) and a no-op at scale. Join-heavy TPC-H queries keep the
      // bare scan — the same floor measured NEUTRAL-TO-WORSE there (the
      // added exchange outweighs the serial decode). Keyed on a column
      // the rollup already reads (high-cardinality price), so the scan's
      // pruned ReadSchema is unchanged (PlanSpec pins it).
      // fanOut AFTER the shipdate filter (r16, ADVICE): the floor shuffle
      // then carries only surviving rows; the leaf-size estimate still
      // sees the scan through the Filter, so the no-op-at-scale property
      // is unchanged
      operators.Scaling.fanOut(Tables.lineitem(s, dir)
          .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")),
        "l_extendedprice")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
            .cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL. Shared portable-tokenizer CTE (FIXTURES.md §4): RE2
  // spelling of Tfidf.tokenizePortable. DuckDB `ln` = natural log (its `log`
  // is base-10); Spark `log` = natural log. Sums cast through DECIMAL exactly
  // like the Spark side; DuckDB integer-sum returns HUGEINT → cast to BIGINT.
  // ---------------------------------------------------------------------------

  private val toksCte =
    """toks AS (
      |  SELECT doc_id, regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '', 'g') AS term
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t FROM documents) u
      |  WHERE NOT regexp_matches(t, '[0-9]')
      |), toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
      |tc AS (SELECT term, doc_id, count(*) AS cnt FROM toks2 GROUP BY 1, 2)""".stripMargin

  /** Shared DSIR CTE chain (hashed feature buckets → per-split bucket
    * counts → totals → +1-smoothed ln-ratio λ per bucket → per-doc
    * DECIMAL-routed weight sum) — the weight query and the top-64 selection
    * differ ONLY in their final ORDER BY/LIMIT, so both interpolate this
    * one definition (a second verbatim copy is a parity-bug hazard). */
  private val dsirDocCte =
    """feat AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 4096 AS bucket,
      |    CAST(sum(cnt) AS BIGINT) AS n
      |  FROM tc GROUP BY 1, 2),
      |byb AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN doc_id % 53 = 0 THEN n ELSE 0 END) AS BIGINT) AS tgt_b,
      |    CAST(sum(CASE WHEN doc_id % 53 <> 0 THEN n ELSE 0 END) AS BIGINT) AS raw_b
      |  FROM feat GROUP BY 1),
      |tot AS (SELECT CAST(sum(tgt_b) AS BIGINT) AS tgt_tot,
      |               CAST(sum(raw_b) AS BIGINT) AS raw_tot FROM byb),
      |lam AS (
      |  SELECT bucket, round(ln(
      |    (CAST(tgt_b + 1 AS DOUBLE) / CAST(tgt_tot + 4096 AS DOUBLE)) /
      |    (CAST(raw_b + 1 AS DOUBLE) / CAST(raw_tot + 4096 AS DOUBLE))), 9) AS lam
      |  FROM byb CROSS JOIN tot),
      |doc AS (
      |  SELECT f.doc_id, CAST(sum(f.n) AS BIGINT) AS n_tokens,
      |    sum(CAST(round(f.n * l.lam, 9) AS DECIMAL(28,9))) AS w_sum
      |  FROM feat f JOIN lam l USING (bucket)
      |  WHERE f.doc_id % 53 <> 0 GROUP BY 1)""".stripMargin

  private val stopList =
    graft.functions.TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
  private val stopRegex =
    "\\b(" + graft.functions.TextFunctions.EnglishStopwords.mkString("|") + ")\\b"

  /** Generated oracle CTE chain for the in-frame quality classifier: the
    * 30 fixed GD iterations UNROLLED (the ivf_lloyd_top10 pattern — an
    * iterative trained model is still ANSI-expressible when the iteration
    * count is a constant), with `MATERIALIZED` on every per-level CTE so
    * DuckDB's inliner cannot go exponential in the chain depth. Every
    * arithmetic step is spelled in the exact fixed order of
    * [[operators.QualityClassifier]]: features and moments rounded to 9,
    * cross-row sums as DECIMAL(28,9), sigmoid rounded to 9, weight update
    * `round(w - lr·g/n, 9)`. */
  private object ClfOracle {
    private val xs = operators.QualityClassifier.FeatureNames
    private val iters = operators.QualityClassifier.DefaultIters
    private val lr = "1.0"
    private val split = "regexp_split_to_array(text, '\\s+')"
    private def meanLen =
      s"round(CAST(list_sum(list_transform($split, w -> length(w))) AS DOUBLE)\n" +
        s"      / len($split), 9)"
    private def alphaFrac =
      s"round(CAST(len(list_filter($split, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)\n" +
        s"      / len($split), 9)"

    // char ratios guarded like the Spark featureFrame: NULL (never a
    // division) on zero-char documents; token ratios need no guard —
    // len(regexp_split_to_array(...)) >= 1 by the keep-empties semantics
    private val featsCte =
      s"""feats AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN length(text) > 0 THEN round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text), 9) END AS x_alpha,
         |    CASE WHEN length(text) > 0 THEN round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 9) END AS x_digit,
         |    CASE WHEN length(text) > 0 THEN round(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text), 9) END AS x_punct,
         |    CASE WHEN length(text) > 0 THEN round(CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS DOUBLE) / length(text), 9) END AS x_ws,
         |    round(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |          / len($split), 9) AS x_stop,
         |    round(CAST(list_sum(list_transform($split, w -> length(w))) AS DOUBLE)
         |      / len($split) / 10.0, 9) AS x_mwl,
         |    $alphaFrac AS x_awf,
         |    round(least(CAST(len($split) AS DOUBLE), 1000.0) / 1000.0, 9) AS x_wc,
         |    CAST(CASE WHEN len($split) >= 50 AND len($split) <= 100000
         |      AND $meanLen >= 3.0
         |      AND $meanLen <= 10.0
         |      AND $alphaFrac >= 0.8
         |      AND len(regexp_extract_all(text, '$stopRegex')) >= 2
         |      THEN 1 ELSE 0 END AS DOUBLE) AS y
         |  FROM documents
         |)""".stripMargin

    private val muCtes = {
      val mu0 = ("CAST(count(*) AS DOUBLE) AS n_docs" +:
        xs.zipWithIndex.flatMap { case (x, i) =>
          Seq(s"CAST(sum(CAST($x AS DECIMAL(28,9))) AS DOUBLE) AS sx${i + 1}",
            s"CAST(sum(CAST(round($x * $x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx${i + 1}")
        }).mkString(",\n    ")
      val mu = ("n_docs" +:
        xs.indices.flatMap { i =>
          Seq(s"round(sx${i + 1} / n_docs, 9) AS m${i + 1}",
            s"round(sqrt(greatest(round(sxx${i + 1} / n_docs, 9)" +
              s" - round(sx${i + 1} / n_docs, 9) * round(sx${i + 1} / n_docs, 9), 0.0)), 9) AS s${i + 1}")
        }).mkString(",\n    ")
      s"mu0 AS MATERIALIZED (\n  SELECT $mu0\n  FROM trainable\n),\n" +
        s"mu AS MATERIALIZED (\n  SELECT $mu\n  FROM mu0\n)"
    }

    // trainable = rows with every feature defined (fit's degenerate-doc
    // filter); zf keeps ALL docs for scoring (degenerate -> NULL z ->
    // NULL score/pred, the Spark scoreRows contract), zft is the
    // training z-frame the gradient iterations fold over
    private val trainableCte =
      "trainable AS MATERIALIZED (\n  SELECT * FROM feats\n  WHERE " +
        xs.map(x => s"$x IS NOT NULL").mkString(" AND ") + "\n)"

    private val zfCtes = {
      val zc = xs.zipWithIndex.map { case (x, i) =>
        s"CASE WHEN s${i + 1} > 0.0 THEN round(($x - m${i + 1}) / s${i + 1}, 9) ELSE 0.0 END AS z${i + 1}"
      }.mkString(",\n    ")
      s"zf AS MATERIALIZED (\n  SELECT doc_id, y,\n    $zc\n  FROM feats CROSS JOIN mu\n),\n" +
        s"zft AS MATERIALIZED (\n  SELECT doc_id, y,\n    $zc\n  FROM trainable CROSS JOIN mu\n)"
    }

    private val zExpr =
      "round(wb + " + xs.indices.map(i => s"w${i + 1} * z${i + 1}").mkString(" + ") + ", 9)"
    private val scoreExpr = s"round(1.0 / (1.0 + exp(-($zExpr))), 9)"

    private def iterCtes(k: Int): String = {
      val zNames = xs.indices.map(i => s"z${i + 1}").mkString(", ")
      val gcols = ("sum(CAST(round((p - y) * 1.0, 9) AS DECIMAL(28,9))) AS gb" +:
        xs.indices.map(i =>
          s"sum(CAST(round((p - y) * z${i + 1}, 9) AS DECIMAL(28,9))) AS g${i + 1}"))
        .mkString(",\n    ")
      val upd = (s"round(wb - $lr * CAST(gb AS DOUBLE) / n_docs, 9) AS wb" +:
        xs.indices.map(i =>
          s"round(w${i + 1} - $lr * CAST(g${i + 1} AS DOUBLE) / n_docs, 9) AS w${i + 1}"))
        .mkString(",\n    ")
      s"g$k AS MATERIALIZED (\n  SELECT $gcols\n" +
        s"  FROM (SELECT y, $zNames, $scoreExpr AS p FROM zft CROSS JOIN w$k) s$k\n),\n" +
        s"w${k + 1} AS MATERIALIZED (\n  SELECT $upd\n  FROM g$k CROSS JOIN w$k CROSS JOIN mu\n)"
    }

    private val w0Cte = "w0 AS MATERIALIZED (SELECT " +
      ("0.0 AS wb" +: xs.indices.map(i => s"0.0 AS w${i + 1}")).mkString(", ") + ")"

    val prefix: String = Seq(featsCte, trainableCte, muCtes, zfCtes, w0Cte)
      .mkString(",\n") + ",\n" +
      (0 until iters).map(iterCtes).mkString(",\n")

    val weightsSql: String = {
      val rows = ("SELECT '_intercept' AS feature, round(wb, 9) AS weight, " +
        "CAST(0.0 AS DOUBLE) AS mu, CAST(1.0 AS DOUBLE) AS sigma FROM wlast") +:
        xs.zipWithIndex.map { case (x, i) =>
          s"SELECT '$x', round(w${i + 1}, 9), m${i + 1}, s${i + 1} FROM wlast CROSS JOIN mu"
        }
      s"WITH $prefix,\nwlast AS (SELECT * FROM w$iters)\n" +
        rows.mkString("\nUNION ALL ") + "\nORDER BY feature"
    }

    val scoresSql: String =
      s"""WITH $prefix
         |SELECT doc_id, CAST(y AS BIGINT) AS label, $scoreExpr AS score,
         |  CAST($scoreExpr >= 0.5 AS BIGINT) AS pred
         |FROM zf CROSS JOIN w$iters ORDER BY doc_id""".stripMargin

    val evalSql: String =
      s"""WITH $prefix,
         |scored AS (
         |  SELECT CAST(y AS BIGINT) AS label,
         |    CAST($scoreExpr >= 0.5 AS BIGINT) AS pred
         |  FROM zf CROSS JOIN w$iters)
         |SELECT label, pred, count(*) AS n FROM scored GROUP BY label, pred
         |ORDER BY label, pred""".stripMargin

    val disagreementsSql: String =
      s"""WITH $prefix
         |SELECT doc_id, CAST(y AS BIGINT) AS label, $scoreExpr AS score
         |FROM zf CROSS JOIN w$iters
         |ORDER BY round(abs($scoreExpr - y), 9) DESC, doc_id ASC LIMIT 25""".stripMargin

    // score-weighted stable sample: survive iff the md5-uniform coin
    // (exact power-of-two division — bit-portable, no rounding needed)
    // lands under the classifier score
    val sampleSql: String =
      s"""WITH $prefix,
         |coins AS (
         |  SELECT doc_id, $scoreExpr AS score,
         |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      / 4294967296.0 AS u
         |  FROM zf CROSS JOIN w$iters)
         |SELECT doc_id, score, u FROM coins WHERE u < score ORDER BY doc_id""".stripMargin

    // domain mixing × quality: survive iff the md5 coin lands under
    // rate(source) × score (one IEEE multiply of bit-portable doubles)
    val sourceMixSql: String =
      s"""WITH $prefix,
         |coins AS (
         |  SELECT zf.doc_id, d.source, $scoreExpr AS score,
         |    CAST(CAST(('0x' || substr(md5(CAST(zf.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      / 4294967296.0 AS u,
         |    CASE WHEN d.source IN ('src0','src1','src2','src3','src4') THEN 0.4
         |         WHEN d.source IN ('src5','src6','src7','src8','src9') THEN 0.2
         |         WHEN d.source IN ('src10','src11','src12','src13','src14',
         |                           'src15','src16','src17','src18','src19') THEN 0.05
         |         ELSE 0.0 END AS rate
         |  FROM zf CROSS JOIN w$iters JOIN documents d ON d.doc_id = zf.doc_id)
         |SELECT doc_id, source, score, u FROM coins WHERE u < rate * score
         |ORDER BY doc_id""".stripMargin

    // classifier × contrast POLICY AGREEMENT: the 2×2 doc + token mass
    // where the quality model and the Moore–Lewis in-domain signal
    // agree/disagree — the fused chain works because the two families'
    // CTE names are disjoint (feats/zf/w· vs toks/toksarr/tg/…/ctr)
    lazy val agreementSql: String =
      s"""WITH $prefix,
         |$pplContrastFrag,
         |clfm AS (
         |  SELECT doc_id, CAST($scoreExpr >= 0.5 AS BIGINT) AS kept_clf
         |  FROM zf CROSS JOIN w$iters WHERE $scoreExpr IS NOT NULL),
         |xm AS (
         |  SELECT c.kept_clf,
         |    CAST(CASE WHEN ctr.domain_delta > 0 THEN 1 ELSE 0 END AS BIGINT)
         |      AS in_domain,
         |    CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT) AS n_tokens
         |  FROM clfm c JOIN ctr ON ctr.doc_id = c.doc_id
         |       JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT kept_clf, in_domain, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM xm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

    // full PR rows (through the f1 column) shared by the curve and the
    // operating-point selection — one definition, two final clauses
    private val prRowsCtes: String = {
      val grid = operators.QualityClassifier.PrThresholds
        .map(t => s"CAST($t AS DOUBLE)").mkString(", ")
      s"""WITH $prefix,
         |scored AS (
         |  SELECT CAST(y AS BIGINT) AS y, $scoreExpr AS score
         |  FROM zf CROSS JOIN w$iters
         |  WHERE $scoreExpr IS NOT NULL),
         |grid AS (SELECT unnest([$grid]) AS threshold),
         |cnt AS (
         |  SELECT g.threshold,
         |    CAST(sum(CASE WHEN s.score >= g.threshold AND s.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN s.score >= g.threshold AND s.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN s.score < g.threshold AND s.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN s.score < g.threshold AND s.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored s CROSS JOIN grid g GROUP BY g.threshold),
         |pr AS (
         |  SELECT threshold, tp, fp, fn, tn,
         |    CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 9) END AS precision,
         |    CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fn), 9) END AS recall
         |  FROM cnt),
         |prf AS (
         |  SELECT threshold, tp, fp, fn, tn, precision, recall,
         |    CASE WHEN precision + recall > 0 THEN
         |      round(2.0 * precision * recall / (precision + recall), 9) END AS f1
         |  FROM pr)""".stripMargin
    }

    val prCurveSql: String =
      s"""$prRowsCtes
         |SELECT threshold, tp, fp, fn, tn, precision, recall, f1
         |FROM prf ORDER BY threshold""".stripMargin

    // max recall subject to the precision floor, smallest-threshold tie
    val thresholdAtPrecisionSql: String =
      s"""$prRowsCtes
         |SELECT threshold, tp, fp, fn, tn, precision, recall, f1
         |FROM prf WHERE precision IS NOT NULL AND precision >= 0.9
         |ORDER BY recall DESC, threshold ASC LIMIT 1""".stripMargin

    // classifier-composed token budget: model score (unrolled training)
    // + raw token counts, NULL scores (degenerate docs) excluded, then
    // the exact global running-sum window — shared by the exact and
    // bucketed registry spellings
    val budgetSql: String =
      s"""WITH $prefix,
         |clfscored AS (
         |  SELECT doc_id, $scoreExpr AS score
         |  FROM zf CROSS JOIN w$iters
         |  WHERE $scoreExpr IS NOT NULL),
         |nt AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT s.doc_id, s.score, nt.n_tokens,
         |    sum(nt.n_tokens) OVER (ORDER BY s.score DESC, s.doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM clfscored s JOIN nt USING (doc_id))
         |SELECT doc_id, score, n_tokens FROM cum
         |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin

    // the per-doc scored verdict pair shared by both manifest-switch
    // oracles: manifest CTE chain + the unrolled training + one join
    private val manifestJoinedCte: String =
      s"""$manifestOracleCtes,
         |${prefix},
         |clf AS (
         |  SELECT doc_id, $scoreExpr AS score,
         |    CAST($scoreExpr >= 0.5 AS BIGINT) AS pred
         |  FROM zf CROSS JOIN w$iters),
         |joined AS (
         |  SELECT m.doc_id, m.source, m.n_tokens, c.score,
         |    m.kept AS kept_rule,
         |    CAST(CASE WHEN m.exact_dup = 0 AND m.near_dup = 0
         |      AND m.contaminated = 0 AND c.pred = 1 THEN 1 ELSE 0 END AS BIGINT)
         |      AS kept_clf
         |  FROM manifest m JOIN clf c ON c.doc_id = m.doc_id)""".stripMargin

    val manifestByClfSql: String =
      s"""$manifestJoinedCte
         |SELECT doc_id, source, n_tokens, score, kept_rule, kept_clf,
         |  CAST(kept_rule <> kept_clf AS BIGINT) AS changed
         |FROM joined ORDER BY doc_id""".stripMargin

    val manifestDeltaSql: String =
      s"""$manifestJoinedCte
         |SELECT source, kept_rule, kept_clf, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM joined GROUP BY 1, 2, 3
         |ORDER BY source, kept_rule, kept_clf""".stripMargin
  }

  /** Portable token-array CTE (positions preserved) for the n-gram oracle —
    * DuckDB list-lambda spelling of Dedup.tokenArray. */
  /** Shared token-budget oracle prefix: the quality score (verbatim
    * `quality_score` spelling) + raw token counts, then the global
    * `(score DESC, doc_id)` running token total. BOTH budget selectors
    * compare against this one SQL — the bucketed spelling must select
    * the identical document set. */
  private lazy val budgetScoredCtes =
    s"""WITH qs AS (
       |  SELECT doc_id,
       |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
       |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
       |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
       |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
       |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS score,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, score, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM qs)""".stripMargin

  private lazy val tokenBudgetSql =
    s"""$budgetScoredCtes
       |SELECT doc_id, score, n_tokens FROM cum
       |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the CONSERVATIVE-recipe oracles: the within-doc
    * strip (width-2 blocks) feeds the cluster-label closure AND the
    * paragraph-novelty profile, both over the CLEANED text; ends at
    * `dw` (per-doc cluster size) + `pd` (per-doc novelty counts). */
  private lazy val conservativeRecipeCtes =
    """WITH RECURSIVE wraw AS (
      |  SELECT doc_id, source, text, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |wps AS (
      |  SELECT doc_id, source, text,
      |    list_transform(range(0, CAST(ceil(len(a) / 2.0) AS BIGINT)),
      |      i -> array_to_string(list_slice(a, i * 2 + 1, i * 2 + 2), ' ')) AS ps
      |  FROM wraw),
      |cleaned AS (
      |  SELECT doc_id, source,
      |    CAST(len(ps) - len(kept) AS BIGINT) AS n_within_dropped,
      |    CASE WHEN len(kept) = len(ps) THEN text
      |         ELSE array_to_string(kept, ' ') END AS text
      |  FROM (SELECT doc_id, source, text, ps,
      |          list_filter(ps, (x, i) -> list_position(ps, x) = i) AS kept
      |        FROM wps) z),
      |toksarr AS (
      |  SELECT doc_id, list_filter(list_transform(
      |    list_filter(regexp_split_to_array(text, '\s+'), t -> NOT regexp_matches(t, '[0-9]')),
      |    t -> regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '', 'g')), t -> t <> '') AS a
      |  FROM cleaned),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
      |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
      |  FROM toksarr WHERE len(a) >= 3
      |), okg AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) <= 64),
      |kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN okg USING (gram)),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY 1),
      |shared AS (
      |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS n_shared
      |  FROM kept ga JOIN kept gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared), 9) >= 0.5),
      |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |        UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
      |),
      |labels AS (
      |  SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster
      |  FROM reach GROUP BY a),
      |cps AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
      |    md5(array_to_string(list_slice(ca, i * 2 + 1, i * 2 + 2), ' ')) AS fp
      |  FROM (SELECT doc_id, ca,
      |          unnest(range(0, CAST(ceil(len(ca) / 2.0) AS BIGINT))) AS i
      |        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ca
      |              FROM cleaned) c0)),
      |pmk AS (
      |  SELECT doc_id, para_idx, fp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
      |  FROM cps),
      |pd AS (
      |  SELECT doc_id, count(*) AS n_paras,
      |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM pmk GROUP BY 1),
      |csize AS (SELECT cluster, count(*) AS cs FROM labels GROUP BY 1),
      |dw AS (
      |  SELECT c.doc_id, c.n_within_dropped,
      |    CAST(coalesce(cs, 1) AS BIGINT) AS cluster_size
      |  FROM cleaned c
      |  LEFT JOIN labels l ON l.doc_id = c.doc_id
      |  LEFT JOIN csize USING (cluster))""".stripMargin

  /** Shared temperature-mixing oracle prefix: per-source token mass,
    * share, sqrt-tempered probability (alpha = 0.5 — IEEE sqrt, engine
    * exact), and the capped per-document acceptance rate; every cross-row
    * sum DECIMAL-routed, every nonterminating step rounded to 9. */
  private val tempMixCtes =
    """WITH ps AS (
      |  SELECT source, CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM ps),
      |sh AS (
      |  SELECT source, n_tokens,
      |    round(CAST(n_tokens AS DOUBLE) / total, 9) AS share,
      |    round(sqrt(round(CAST(n_tokens AS DOUBLE) / total, 9)), 9) AS p_raw
      |  FROM ps CROSS JOIN tt),
      |pz AS (SELECT CAST(sum(CAST(p_raw AS DECIMAL(28,9))) AS DOUBLE) AS psum FROM sh),
      |mix AS (
      |  SELECT source, n_tokens, share,
      |    round(p_raw / psum, 9) AS p,
      |    round(least(CAST(1.0 AS DOUBLE),
      |      round(p_raw / psum, 9) * 15000.0 / n_tokens), 9) AS rate
      |  FROM sh CROSS JOIN pz)""".stripMargin

  /** Shared paragraph-dedup oracle prefix (WITH included): RAW whitespace
    * token arrays, fixed 16-token blocks keyed by the portable md5 of
    * their single-space re-join, and the per-content occurrence rank
    * (`rn = 1` is the corpus-first keeper — min (doc_id, para_idx)). */
  private val paraOracleCtes =
    """WITH rawtoks AS (
      |  SELECT doc_id, source, text, regexp_split_to_array(text, '\s+') AS a
      |  FROM documents),
      |paras AS (
      |  SELECT doc_id, source, CAST(i AS BIGINT) AS para_idx,
      |    md5(array_to_string(list_slice(a, CAST(i * 16 + 1 AS BIGINT),
      |      CAST(least(i * 16 + 16, len(a)) AS BIGINT)), ' ')) AS fp
      |  FROM (SELECT doc_id, source, a,
      |          unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT))) AS i
      |        FROM rawtoks)),
      |pmarked AS (
      |  SELECT doc_id, source, para_idx, fp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
      |  FROM paras)""".stripMargin

  /** Shared DELIMITER-cut paragraph oracle prefix (WITH included): split
    * on the ` table ` word separator (the registry's stand-in for a
    * blank-line delimiter on the single-line fixture), empty paragraphs
    * filtered at cut time, md5 content keys, corpus-first keeper rank. */
  private val delimParaOracleCtes =
    """WITH dps AS (
      |  SELECT doc_id, source, text,
      |    list_filter(regexp_split_to_array(text, '\s+table\s+'), p -> p <> '') AS ps
      |  FROM documents),
      |dparas AS (
      |  SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS para_idx, md5(ps[i]) AS fp
      |  FROM (SELECT doc_id, source, ps,
      |          unnest(range(1, len(ps) + 1)) AS i
      |        FROM dps)),
      |dmarked AS (
      |  SELECT doc_id, source, para_idx, fp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
      |  FROM dparas)""".stripMargin

  private val toksArrCte =
    """toksarr AS (
      |  SELECT doc_id, list_filter(list_transform(
      |    list_filter(regexp_split_to_array(text, '\s+'), t -> NOT regexp_matches(t, '[0-9]')),
      |    t -> regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '', 'g')), t -> t <> '') AS a
      |  FROM documents
      |)""".stripMargin

  /** Shared exact-pair CTE chain (capped distinct 3-grams → shared-gram
    * self-join → `pairsj` with the rounded Jaccard) — the pair list, the
    * cross-source matrix, and any future pair consumer interpolate this
    * one definition. */
  private val gramPairsCte =
    s"""$toksArrCte,
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
       |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
       |  FROM toksarr WHERE len(a) >= 3
       |), okg AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) <= 64),
       |kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN okg USING (gram)),
       |sizes AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY 1),
       |shared AS (
       |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS n_shared
       |  FROM kept ga JOIN kept gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
       |  GROUP BY 1, 2),
       |pairsj AS (
       |  SELECT doc_a, doc_b, n_shared, sa.n_grams AS grams_a, sb.n_grams AS grams_b,
       |    round(CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared), 9) AS jaccard
       |  FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)""".stripMargin

  /** Shared embedding expansion: per-dimension doubles + exact-DECIMAL
    * norms — the base of every cosine oracle. */
  private val embExCte =
    """ex AS (
      |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, range(1, 65) t(i)
      |), norms AS (
      |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
      |  FROM ex GROUP BY 1
      |)""".stripMargin

  /** Shared SemDeDup cluster-assignment CTE chain (md5-seeded centroids →
    * rounded-cosine argmax). `semantic_dedup` and `cluster_balanced_sample`
    * differ only in what they do AFTER assignment, so both interpolate this
    * one definition (the Spark side likewise shares `Dedup.semanticAssigned`
    * — one spelling per engine, no parity-bug hazard). */
  private val semAssignCte =
    s"""$embExCte, cents AS (
       |  SELECT vec_id AS c_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
       |), cx AS (
       |  SELECT c.c_id, e.i, e.x, n.nrm AS cnorm
       |  FROM cents c JOIN ex e ON e.vec_id = c.c_id JOIN norms n ON n.vec_id = c.c_id
       |), sims AS (
       |  SELECT a.vec_id, c.c_id,
       |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
       |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
       |  FROM ex a JOIN cx c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
       |  GROUP BY a.vec_id, c.c_id, an.nrm
       |), assigned AS (
       |  SELECT vec_id, c_id AS list_id, c_sim FROM (
       |    SELECT vec_id, c_id, c_sim,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
       |    FROM sims) t WHERE rn = 1
       |)""".stripMargin

  /** Shared bigram-LM per-doc score CTE (`lm` = doc_id, n_transitions,
    * avg_logprob) — the LM scorer and the CCNet perplexity buckets read the
    * same model, so both interpolate this one definition. */
  private val lmDocCte =
    s"""$toksArrCte,
       |bg AS (
       |  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS g
       |        FROM toksarr WHERE len(a) >= 2) u
       |), pc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
       |cc AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_ctx FROM pc GROUP BY 1),
       |v AS (SELECT count(DISTINCT tkn) AS v_size
       |      FROM (SELECT unnest(a) AS tkn FROM toksarr) z),
       |lm AS (
       |  SELECT doc_id, count(*) AS n_transitions,
       |    round(CAST(sum(CAST(round(ln(CAST(pc.n_ab + 1 AS DOUBLE) / (cc.n_ctx + v.v_size)), 9)
       |      AS DECIMAL(18,9))) AS DOUBLE) / count(*), 9) AS avg_logprob
       |  FROM bg JOIN pc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
       |  GROUP BY doc_id
       |)""".stripMargin

  /** Kneser–Ney LM scoring CTE — same bigram tables as [[lmDocCte]] plus
    * the continuation/type counts; `p_KN` is spelled in the SAME fixed
    * operation order as the Spark column so the double is bit-identical
    * before the 9-rounded `ln`. */
  private def lmKnDocCteSrc(src: String) =
    s"""bg AS (
       |  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS g
       |        FROM $src WHERE len(a) >= 2) u
       |), pc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
       |cc AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_ctx,
       |              count(*) AS n1p_fwd FROM pc GROUP BY 1),
       |rc AS (SELECT w2, count(*) AS n1p_rev FROM pc GROUP BY 1),
       |nt AS (SELECT count(*) AS n_types FROM pc),
       |lmkn AS (
       |  SELECT doc_id, count(*) AS n_transitions,
       |    round(CAST(sum(CAST(round(ln(
       |        (CAST(pc.n_ab AS DOUBLE) - 0.75) / cc.n_ctx
       |        + ((0.75 * cc.n1p_fwd) / cc.n_ctx)
       |          * (CAST(rc.n1p_rev AS DOUBLE) / nt.n_types)
       |      ), 9) AS DECIMAL(18,9))) AS DOUBLE) / count(*), 9) AS avg_logprob
       |  FROM bg JOIN pc USING (w1, w2) JOIN cc USING (w1) JOIN rc USING (w2)
       |  CROSS JOIN nt
       |  GROUP BY doc_id
       |)""".stripMargin

  private val lmKnDocCte = s"$toksArrCte,\n${lmKnDocCteSrc("toksarr")}"

  /** Trigram interpolated Kneser–Ney scoring CTE — every statistic a type
    * count over the trigram table (continuation counts below the top
    * order); the nested `p₃(p₂(p₁))` double is spelled in the SAME fixed
    * operation order as the Spark column, so it is bit-identical before
    * the 9-rounded `ln`. The training corpus has every transition
    * observed, so only the full-formula branch is exercised (the Spark
    * side's backoff CASE arms never fire here). */
  private def lmKn3DocCteSrc(src: String) =
    s"""tg AS (
       |  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
       |         split_part(g, ' ', 3) AS w3
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a) - 1),
       |                i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
       |        FROM $src WHERE len(a) >= 3) u
       |), tc3 AS (SELECT w1, w2, w3, count(*) AS n_abc FROM tg GROUP BY 1, 2, 3),
       |cx3 AS (SELECT w1, w2, CAST(sum(n_abc) AS BIGINT) AS c12,
       |               count(*) AS n1p_fwd12 FROM tc3 GROUP BY 1, 2),
       |ct2 AS (SELECT w2, w3, count(*) AS cont23 FROM tc3 GROUP BY 1, 2),
       |md AS (SELECT w2, CAST(sum(cont23) AS BIGINT) AS mid_ctx,
       |              count(*) AS n1p_mid FROM ct2 GROUP BY 1),
       |ct1 AS (
       |  SELECT w3, count(*) AS cont3,
       |    CAST(sum(count(*)) OVER () AS BIGINT) AS n_ct
       |  FROM ct2 GROUP BY 1
       |),
       |lmkn3 AS (
       |  SELECT doc_id, count(*) AS n_transitions,
       |    round(CAST(sum(CAST(round(ln(
       |        (CAST(tc3.n_abc AS DOUBLE) - 0.75) / cx3.c12
       |        + ((0.75 * cx3.n1p_fwd12) / cx3.c12)
       |          * ((CAST(ct2.cont23 AS DOUBLE) - 0.75) / md.mid_ctx
       |             + ((0.75 * md.n1p_mid) / md.mid_ctx)
       |               * (CAST(ct1.cont3 AS DOUBLE) / ct1.n_ct))
       |      ), 9) AS DECIMAL(18,9))) AS DOUBLE) / count(*), 9) AS avg_logprob
       |  FROM tg JOIN tc3 USING (w1, w2, w3) JOIN cx3 USING (w1, w2)
       |       JOIN ct2 USING (w2, w3) JOIN md USING (w2) JOIN ct1 USING (w3)
       |  GROUP BY doc_id
       |)""".stripMargin

  private val lmKn3DocCte = s"$toksArrCte,\n${lmKn3DocCteSrc("toksarr")}"

  /** The interpolated-KN3 backoff CASE ladder over `x`-suffixed model
    * table aliases (`tc3x cx3x ct2x mdx ct1x nctx vszx`) — ONE generator
    * for every oracle that scores text under a subset-trained model
    * (unseen trigram → bigram continuation → unigram → uniform 1/V),
    * spelled branch-for-branch as the Spark `kn3P3` column. */
  private def kn3LadderSql(x: String): String = {
    val p1 = s"CASE WHEN ct1$x.cont3 IS NOT NULL" +
      s" THEN CAST(ct1$x.cont3 AS DOUBLE) / nct$x.n_ct" +
      s" ELSE CAST(1 AS DOUBLE) / vsz$x.v_size END"
    val lam2 = s"((0.75 * md$x.n1p_mid) / md$x.mid_ctx)"
    val p2 = s"CASE WHEN md$x.mid_ctx IS NOT NULL THEN" +
      s" (CASE WHEN ct2$x.cont23 IS NOT NULL" +
      s" THEN (CAST(ct2$x.cont23 AS DOUBLE) - 0.75) / md$x.mid_ctx + $lam2 * ($p1)" +
      s" ELSE $lam2 * ($p1) END)" +
      s" ELSE ($p1) END"
    val lam3 = s"((0.75 * cx3$x.n1p_fwd12) / cx3$x.c12)"
    s"CASE WHEN cx3$x.c12 IS NOT NULL THEN" +
      s" (CASE WHEN tc3$x.n_abc IS NOT NULL" +
      s" THEN (CAST(tc3$x.n_abc AS DOUBLE) - 0.75) / cx3$x.c12 + $lam3 * ($p2)" +
      s" ELSE $lam3 * ($p2) END)" +
      s" ELSE ($p2) END"
  }

  /** The KN3 per-order model tables (suffix `x`) trained on the `tg`
    * rows matching `pred` (vocab from `tc` rows matching `tcPred`) —
    * the SQL twin of the Spark `kn3ModelTables`. */
  private def kn3ModelCtesSql(x: String, pred: String, tcPred: String): String =
    s"""tg$x AS (SELECT w1, w2, w3 FROM tg WHERE $pred),
       |tc3$x AS (SELECT w1, w2, w3, count(*) AS n_abc FROM tg$x GROUP BY 1, 2, 3),
       |cx3$x AS (SELECT w1, w2, CAST(sum(n_abc) AS BIGINT) AS c12,
       |                count(*) AS n1p_fwd12 FROM tc3$x GROUP BY 1, 2),
       |ct2$x AS (SELECT w2, w3, count(*) AS cont23 FROM tc3$x GROUP BY 1, 2),
       |md$x AS (SELECT w2, CAST(sum(cont23) AS BIGINT) AS mid_ctx,
       |               count(*) AS n1p_mid FROM ct2$x GROUP BY 1),
       |ct1$x AS (SELECT w3, count(*) AS cont3 FROM ct2$x GROUP BY 1),
       |nct$x AS (SELECT count(*) AS n_ct FROM ct2$x),
       |vsz$x AS (SELECT count(DISTINCT term) AS v_size FROM tc WHERE $tcPred)""".stripMargin

  /** The `x`-suffixed model's five LEFT stat joins against the scored
    * transition stream alias `s`. */
  private def kn3LadderJoinsSql(x: String): String =
    s"""LEFT JOIN tc3$x USING (w1, w2, w3)
       |  LEFT JOIN cx3$x USING (w1, w2)
       |  LEFT JOIN ct2$x USING (w2, w3)
       |  LEFT JOIN md$x USING (w2)
       |  LEFT JOIN ct1$x USING (w3)""".stripMargin

  /** Perplexity-CONTRAST CTE chain: the general lmkn3 chain plus an
    * IN-DOMAIN model over the `doc_id % 53 = 0` target split, scored with
    * the FULL backoff CASE ladder (unseen trigram → bigram continuation →
    * unigram → uniform 1/V), spelled branch-for-branch as the Spark
    * `lmDocScoresKn3FromModel` column — the one oracle where the backoff
    * arms genuinely fire (held-out text under a subset-trained model). */
  /** The contrast chain as a WITH-less fragment so other oracle families
    * (the classifier × contrast agreement matrix) can fuse it into their
    * own CTE chains — the CTE names (toks/toksarr/tg/…/ctr) are disjoint
    * from the classifier chain's (feats/zf/w·). */
  private lazy val pplContrastFrag: String =
    s"""$toksCte,
       |$lmKn3DocCte,
       |${kn3ModelCtesSql("i", "doc_id % 53 = 0", "doc_id % 53 = 0")},
       |lmkni AS (
       |  SELECT s.doc_id, count(*) AS n_transitions,
       |    round(CAST(sum(CAST(round(ln(${kn3LadderSql("i")}), 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / count(*), 9) AS avg_logprob
       |  FROM tg s
       |  ${kn3LadderJoinsSql("i")}
       |  CROSS JOIN ncti CROSS JOIN vszi
       |  GROUP BY s.doc_id),
       |ctr AS (
       |  SELECT g.doc_id, g.n_transitions,
       |    i.avg_logprob AS logprob_in, g.avg_logprob AS logprob_gen,
       |    round(i.avg_logprob - g.avg_logprob, 9) AS domain_delta
       |  FROM lmkn3 g JOIN lmkni i USING (doc_id))""".stripMargin

  private lazy val pplContrastCtes: String = s"WITH $pplContrastFrag"

  /** The raw trigram transition stream (`tg`) standalone — for oracles
    * that need it without the full-corpus lmkn3 chain. */
  private lazy val tgCte: String =
    s"""$toksArrCte,
       |tg AS (
       |  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
       |         split_part(g, ' ', 3) AS w3
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a) - 1),
       |                i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
       |        FROM toksarr WHERE len(a) >= 3) u)""".stripMargin

  /** Incremental-contrast CTE chain: BOTH models trained on the
    * pre-append slice (in-domain = old90 ∩ %53, general = old90), every
    * document scored through both full backoff ladders — the snapshot
    * protocol's definition replayed over old and batch rows alike. */
  /** Everything-scored-against-the-old90-snapshot CTE chain (`ctri`) —
    * shared by the incremental replay and the streaming-admission batch
    * sibling: both backoff ladders live, both model sides old90-trained. */
  private lazy val pplContrastHeldoutCtes: String =
    s"""WITH $toksCte,
       |$tgCte,
       |${kn3ModelCtesSql("i", "doc_id % 53 = 0 AND doc_id % 10 <> 9",
          "doc_id % 53 = 0 AND doc_id % 10 <> 9")},
       |${kn3ModelCtesSql("g", "doc_id % 10 <> 9", "doc_id % 10 <> 9")},
       |ctri AS (
       |  SELECT s.doc_id, count(*) AS n_transitions,
       |    round(CAST(sum(CAST(round(ln(${kn3LadderSql("i")}), 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / count(*), 9) AS logprob_in,
       |    round(CAST(sum(CAST(round(ln(${kn3LadderSql("g")}), 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / count(*), 9) AS logprob_gen
       |  FROM tg s
       |  ${kn3LadderJoinsSql("i")}
       |  ${kn3LadderJoinsSql("g")}
       |  CROSS JOIN ncti CROSS JOIN vszi CROSS JOIN nctg CROSS JOIN vszg
       |  GROUP BY s.doc_id)""".stripMargin

  private lazy val pplContrastIncrementalSql: String =
    s"""$pplContrastHeldoutCtes
       |SELECT doc_id, n_transitions, logprob_in, logprob_gen,
       |  round(logprob_in - logprob_gen, 9) AS domain_delta
       |FROM ctri ORDER BY doc_id""".stripMargin

  /** Streaming contrast-admission batch sibling: the append batch's rows
    * scored against the stored snapshot, weighted by the SNAPSHOT's
    * score range (clamped min–max), admitted on the house coin under
    * rate(source) × weight — decisions visible, refusals included. */
  private lazy val contrastAdmitSql: String =
    s"""$pplContrastHeldoutCtes,
       |deltas AS (
       |  SELECT doc_id, round(logprob_in - logprob_gen, 9) AS domain_delta
       |  FROM ctri),
       |mm AS (SELECT min(domain_delta) AS dmin, max(domain_delta) AS dmax
       |       FROM deltas WHERE doc_id % 10 <> 9),
       |coins AS (
       |  SELECT t.doc_id, d.source, t.domain_delta AS score,
       |    CASE WHEN mm.dmax > mm.dmin
       |         THEN least(1.0, greatest(0.0,
       |           (t.domain_delta - mm.dmin) / (mm.dmax - mm.dmin)))
       |         ELSE 1.0 END AS wgt,
       |    CAST(CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
       |      / 4294967296.0 AS u,
       |    CASE WHEN d.source IN ('src0','src1','src2','src3','src4') THEN 0.4
       |         WHEN d.source IN ('src5','src6','src7','src8','src9') THEN 0.2
       |         WHEN d.source IN ('src10','src11','src12','src13','src14',
       |                           'src15','src16','src17','src18','src19') THEN 0.05
       |         ELSE 0.0 END AS rate
       |  FROM deltas t CROSS JOIN mm JOIN documents d ON d.doc_id = t.doc_id
       |  WHERE t.doc_id % 10 = 9)
       |SELECT doc_id, source, score, wgt, u,
       |  CAST(CASE WHEN u < rate * wgt THEN 1 ELSE 0 END AS BIGINT) AS admitted
       |FROM coins ORDER BY doc_id""".stripMargin

  // near-dup cluster labels via recursive reachability over the capped
  // exact-verifier pairs — shared by the cluster and apply-dedup oracles
  private lazy val clusterLabelsCte =
    s"""WITH RECURSIVE $toksArrCte,
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
       |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
       |  FROM toksarr WHERE len(a) >= 3
       |), okg AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) <= 64),
       |kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN okg USING (gram)),
       |sizes AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY 1),
       |shared AS (
       |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS n_shared
       |  FROM kept ga JOIN kept gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared), 9) >= 0.5),
       |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
       |),
       |labels AS (
       |  SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster
       |  FROM reach GROUP BY a)""".stripMargin

  /** Shared CTE chain for the end-to-end manifest oracles: every curation
    * stage's flags as SQL (the same shared `clusterLabelsCte` the dedup
    * oracles use), ending in a `manifest` CTE with the `kept`
    * conjunction — `training_data_manifest` selects its rows,
    * `manifest_quality_calibration` aggregates its buckets. */
  private lazy val manifestOracleCtes =
    s"""$clusterLabelsCte,
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0),
       |tr AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlap
       |  FROM grams WHERE doc_id % 53 <> 0 GROUP BY 1),
       |ct AS (
       |  SELECT doc_id,
       |    CASE WHEN round(CAST(n_overlap AS DOUBLE) / n_grams, 9) >= 0.05 THEN 1 ELSE 0 END
       |      AS contaminated
       |  FROM tr),
       |fpk AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM documents),
       |keepers AS (SELECT f, min(doc_id) AS keeper FROM fpk GROUP BY 1),
       |nd AS (SELECT doc_id, 1 AS near_dup FROM labels WHERE doc_id <> cluster),
       |q AS (
       |  SELECT doc_id,
       |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
       |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
       |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
       |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
       |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
       |  FROM documents),
       |r AS (
       |  SELECT d.doc_id, q.quality,
       |    CAST(row_number() OVER (PARTITION BY d.source ORDER BY q.quality ASC, d.doc_id ASC) AS BIGINT)
       |      AS quality_rank,
       |    count(*) OVER (PARTITION BY d.source) AS n_in_source
       |  FROM documents d JOIN q USING (doc_id)),
       |lq AS (
       |  SELECT doc_id,
       |    CASE WHEN quality_rank > floor(0.25 * n_in_source) THEN 0 ELSE 1 END AS low_quality
       |  FROM r),
       |ntok AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM toksarr),
       |base AS (
       |  SELECT d.doc_id, d.source,
       |    coalesce(nt.n_tokens, 0) AS n_tokens, q.quality,
       |    CAST(CASE WHEN d.doc_id <> kk.keeper THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
       |    CAST(coalesce(nd.near_dup, 0) AS BIGINT) AS near_dup,
       |    CAST(coalesce(ct.contaminated, 0) AS BIGINT) AS contaminated,
       |    CAST(coalesce(lq.low_quality, 1) AS BIGINT) AS low_quality
       |  FROM documents d
       |  JOIN fpk ON fpk.doc_id = d.doc_id
       |  JOIN keepers kk ON kk.f = fpk.f
       |  JOIN q ON q.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN ct ON ct.doc_id = d.doc_id
       |  LEFT JOIN lq ON lq.doc_id = d.doc_id
       |  LEFT JOIN ntok nt ON nt.doc_id = d.doc_id
       |  WHERE d.doc_id % 53 <> 0),
       |manifest AS (
       |  SELECT *,
       |    CAST(CASE WHEN exact_dup = 0 AND near_dup = 0 AND contaminated = 0
       |      AND low_quality = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |  FROM base)""".stripMargin

  /** CTE chain for the INCREMENTAL manifest oracle — arrival-order replay
    * of every snapshot store: the full-corpus gram/pair chain (merged-df
    * cap) for batch-incident pairs, an old-slice-only chain + closure for
    * the FROZEN stored labels, first-arrived fingerprint election
    * (old slice ranks before the batch), the merged benchmark gram set,
    * and the old-slice value-at-rank quality thresholds with the sampled
    * cut's boundary rule. */
  private lazy val manifestIncOracleCtes =
    s"""$clusterLabelsCte,
       |gramso AS (SELECT doc_id, gram FROM grams WHERE (doc_id // 20) % 10 <> 9),
       |okgo AS (SELECT gram FROM gramso GROUP BY 1 HAVING count(*) <= 64),
       |kepto AS (SELECT g.doc_id, g.gram FROM gramso g JOIN okgo USING (gram)),
       |sizeso AS (SELECT doc_id, count(*) AS n_grams FROM kepto GROUP BY 1),
       |sharedo AS (
       |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS n_shared
       |  FROM kepto ga JOIN kepto gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
       |  GROUP BY 1, 2),
       |pairso AS (
       |  SELECT doc_a, doc_b
       |  FROM sharedo JOIN sizeso sa ON sa.doc_id = doc_a JOIN sizeso sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared), 9) >= 0.5),
       |undo_ AS (SELECT doc_a AS a, doc_b AS b FROM pairso
       |          UNION SELECT doc_b, doc_a FROM pairso),
       |reacho(a, b) AS (
       |  SELECT a, b FROM undo_
       |  UNION
       |  SELECT r.a, u.b FROM reacho r JOIN undo_ u ON u.a = r.b),
       |labelso AS (
       |  SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster
       |  FROM reacho GROUP BY a),
       |eni AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |    WHERE (doc_a // 20) % 10 = 9 AND (doc_b // 20) % 10 = 9
       |  UNION SELECT p.doc_a, coalesce(l.cluster, p.doc_b) FROM pairs p
       |    LEFT JOIN labelso l ON l.doc_id = p.doc_b
       |    WHERE (p.doc_a // 20) % 10 = 9 AND (p.doc_b // 20) % 10 <> 9
       |  UNION SELECT p.doc_b, coalesce(l.cluster, p.doc_a) FROM pairs p
       |    LEFT JOIN labelso l ON l.doc_id = p.doc_a
       |    WHERE (p.doc_b // 20) % 10 = 9 AND (p.doc_a // 20) % 10 <> 9),
       |undn AS (SELECT a, b FROM eni UNION SELECT b, a FROM eni),
       |reachn(a, b) AS (
       |  SELECT a, b FROM undn
       |  UNION
       |  SELECT r.a, u.b FROM reachn r JOIN undn u ON u.a = r.b),
       |ndn AS (
       |  SELECT a AS doc_id, 1 AS near_dup FROM reachn
       |  WHERE (a // 20) % 10 = 9 AND ((b // 20) % 10 <> 9 OR b < a) GROUP BY a),
       |fpk AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM documents),
       |afp AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY f
       |    ORDER BY ((doc_id // 20) % 10 = 9), doc_id) AS rn
       |  FROM fpk),
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0),
       |tr AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlap
       |  FROM grams WHERE doc_id % 53 <> 0 AND (doc_id // 20) % 10 = 9 GROUP BY 1),
       |ct AS (
       |  SELECT doc_id,
       |    CASE WHEN round(CAST(n_overlap AS DOUBLE) / n_grams, 9) >= 0.05 THEN 1 ELSE 0 END
       |      AS contaminated
       |  FROM tr),
       |q AS (
       |  SELECT doc_id,
       |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
       |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
       |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
       |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
       |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
       |  FROM documents),
       |thrq AS (
       |  SELECT source, t, n_old FROM (
       |    SELECT d.source, q.quality AS t,
       |      row_number() OVER (PARTITION BY d.source ORDER BY q.quality, d.doc_id) AS rn,
       |      count(*) OVER (PARTITION BY d.source) AS n_old
       |    FROM documents d JOIN q USING (doc_id) WHERE (d.doc_id // 20) % 10 <> 9) s
       |  WHERE rn = CAST(ceil(0.25 * n_old) AS BIGINT)),
       |lqn AS (
       |  SELECT d.doc_id,
       |    CASE WHEN thrq.source IS NULL THEN 1
       |      WHEN floor(0.25 * thrq.n_old) = 0.25 * thrq.n_old
       |        THEN CASE WHEN q.quality <= thrq.t THEN 1 ELSE 0 END
       |      ELSE CASE WHEN q.quality < thrq.t THEN 1 ELSE 0 END END AS low_quality
       |  FROM documents d JOIN q USING (doc_id) LEFT JOIN thrq ON thrq.source = d.source
       |  WHERE (d.doc_id // 20) % 10 = 9),
       |ntok AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM toksarr),
       |basei AS (
       |  SELECT d.doc_id, d.source,
       |    coalesce(nt.n_tokens, 0) AS n_tokens, q.quality,
       |    CAST(CASE WHEN afp.rn > 1 THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
       |    CAST(coalesce(ndn.near_dup, 0) AS BIGINT) AS near_dup,
       |    CAST(coalesce(ct.contaminated, 0) AS BIGINT) AS contaminated,
       |    CAST(lqn.low_quality AS BIGINT) AS low_quality
       |  FROM documents d
       |  JOIN afp ON afp.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN lqn ON lqn.doc_id = d.doc_id
       |  LEFT JOIN ndn ON ndn.doc_id = d.doc_id
       |  LEFT JOIN ct ON ct.doc_id = d.doc_id
       |  LEFT JOIN ntok nt ON nt.doc_id = d.doc_id
       |  WHERE d.doc_id % 53 <> 0 AND (d.doc_id // 20) % 10 = 9),
       |manifesti AS (
       |  SELECT *,
       |    CAST(CASE WHEN exact_dup = 0 AND near_dup = 0 AND contaminated = 0
       |      AND low_quality = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |  FROM basei),
       |bencho AS (SELECT DISTINCT gram FROM gramso WHERE doc_id % 53 = 0),
       |tro AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM bencho) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlap
       |  FROM gramso WHERE doc_id % 53 <> 0 GROUP BY 1),
       |cto AS (
       |  SELECT doc_id,
       |    CASE WHEN round(CAST(n_overlap AS DOUBLE) / n_grams, 9) >= 0.05 THEN 1 ELSE 0 END
       |      AS contaminated
       |  FROM tro),
       |lqo AS (
       |  SELECT d.doc_id,
       |    CASE WHEN floor(0.25 * thrq.n_old) = 0.25 * thrq.n_old
       |        THEN CASE WHEN q.quality <= thrq.t THEN 1 ELSE 0 END
       |      ELSE CASE WHEN q.quality < thrq.t THEN 1 ELSE 0 END END AS low_quality
       |  FROM documents d JOIN q USING (doc_id) JOIN thrq ON thrq.source = d.source
       |  WHERE (d.doc_id // 20) % 10 <> 9),
       |ndo AS (SELECT doc_id, 1 AS near_dup FROM labelso WHERE doc_id <> cluster),
       |baseo AS (
       |  SELECT d.doc_id, d.source,
       |    coalesce(nt.n_tokens, 0) AS n_tokens, q.quality,
       |    CAST(CASE WHEN afp.rn > 1 THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
       |    CAST(coalesce(ndo.near_dup, 0) AS BIGINT) AS near_dup,
       |    CAST(coalesce(cto.contaminated, 0) AS BIGINT) AS contaminated,
       |    CAST(lqo.low_quality AS BIGINT) AS low_quality
       |  FROM documents d
       |  JOIN afp ON afp.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN lqo ON lqo.doc_id = d.doc_id
       |  LEFT JOIN ndo ON ndo.doc_id = d.doc_id
       |  LEFT JOIN cto ON cto.doc_id = d.doc_id
       |  LEFT JOIN ntok nt ON nt.doc_id = d.doc_id
       |  WHERE d.doc_id % 53 <> 0 AND (d.doc_id // 20) % 10 <> 9),
       |manifesto AS (
       |  SELECT *,
       |    CAST(CASE WHEN exact_dup = 0 AND near_dup = 0 AND contaminated = 0
       |      AND low_quality = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
       |  FROM baseo)""".stripMargin

  def oracleSql: Map[String, String] = {
    val m = baseOracleSql
    // hash-keyed shuffle variants emit token-domain results identical to
    // their exact siblings (absent a 2⁻⁶⁴ gram-hash collision), so they
    // share the sibling's DuckDB oracle verbatim
    m + ("strip_duplicate_spans_hashed" -> m("strip_duplicate_spans")) +
      // incremental maintenance must reproduce the full rebuild, and the
      // streaming WordCount twin must reproduce the batch counts — each
      // shares its sibling's oracle verbatim
      ("tfidf_incremental_merge" -> m("tfidf_full")) +
      ("exact_substr_incremental_merge" -> m("exact_substr_spans")) +
      // the cascade merge must reproduce the full rebuild's l24 level
      ("exact_substr_cascade_merge" -> m("exact_substr_level_marks")) +
      ("streams_term_counts_batch" -> m("term_counts")) +
      // the at-ingest admission twin tokenizes live but must reproduce
      // the asset-fed incremental manifest row-for-row
      ("streams_manifest_admission_batch" -> m("manifest_incremental")) +
      // Bloom prefilter has no false negatives → identical final output
      ("decontaminate_bloom" -> m("decontaminate_overlap")) +
      // the external benchmark TABLE is materialized from the same capped
      // split, so the external-API form reproduces the split form exactly
      ("decontaminate_semantic_external" -> m("decontaminate_semantic"))
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT n_lines, promo_revenue, total_revenue,
        |  round(100.0 * promo_revenue / total_revenue, 9) AS promo_share
        |FROM (
        |  SELECT count(*) AS n_lines,
        |    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |      AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01') t""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pa_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON l_partkey = pa_partkey
        |WHERE p_brand = 'Brand#4' AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS order_ts_us,
        |  o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin,
    "q19_bracket_revenue" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 35)""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year, nation_revenue, total_revenue,
        |  round(nation_revenue / total_revenue, 9) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(sum(CAST(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |      AS nation_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY 1) t
        |ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH pp AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_price
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS bp_partkey, min(unit_price) AS best_price
        |         FROM pp GROUP BY 1),
        |winner AS (
        |  SELECT l_partkey, min(l_suppkey) AS best_suppkey,
        |    round(min(best_price), 9) AS best_price
        |  FROM pp JOIN best ON l_partkey = bp_partkey AND unit_price = best_price
        |  GROUP BY l_partkey)
        |SELECT s_acctbal, s_name, n_name, r_name, p_partkey, p_name, best_price
        |FROM winner
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON best_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_type = 'STANDARD' AND p_size <= 25
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 100""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q9_product_type_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation ASC, o_year DESC""".stripMargin,
    "q11_important_parts" ->
      """WITH li AS (
        |  SELECT l_partkey, l_extendedprice FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_1'))
        |SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        |FROM li
        |GROUP BY 1
        |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) >
        |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.001 FROM li)
        |ORDER BY value DESC, l_partkey ASC""".stripMargin,
    "q12_returnflag_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size <= 8
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin,
    "q20_excess_suppliers" ->
      """SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 40.0)
        |ORDER BY s_name""".stripMargin,
    "q21_suppliers_kept_waiting" ->
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin,
    "q22_global_sales_opportunity" ->
      """WITH cust AS (
        |  SELECT * FROM customer WHERE c_nationkey IN (0, 1, 2, 3, 4)),
        |avg_bal AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0.0)
        |SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |  count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cust, avg_bal
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1
        |ORDER BY cntrycode""".stripMargin,
    "orders_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus""".stripMargin,
    "part_min_cost_supplier" ->
      """WITH pp AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avg_unit_price
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS bp_partkey, min(avg_unit_price) AS best_price
        |         FROM pp GROUP BY 1)
        |SELECT l_partkey, min(l_suppkey) AS best_suppkey,
        |  round(min(best_price), 9) AS best_price
        |FROM pp JOIN best ON l_partkey = bp_partkey AND avg_unit_price = best_price
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin,
    "order_cume_dist" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  round(cume_dist() OVER w, 9) AS cdist,
        |  first_value(o_totalprice) OVER w AS top_price,
        |  nth_value(o_totalprice, 3) OVER w AS third_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderstatus, cdist, o_orderkey""".stripMargin,
    "top_orders_per_customer" ->
      """SELECT o_custkey, rank_in_cust, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
        |  FROM orders) t
        |WHERE rank_in_cust <= 3
        |ORDER BY o_custkey, rank_in_cust""".stripMargin,
    "top_orders_per_customer_agg" ->
      """SELECT o_custkey, rank_in_cust, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
        |  FROM orders) t
        |WHERE rank_in_cust <= 3
        |ORDER BY o_custkey, rank_in_cust""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "order_priority_counts" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "event_user_set_ops" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        |SELECT 'purchase_minus_error' AS set_op, user_id FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e) a
        |UNION ALL
        |SELECT 'purchase_and_error' AS set_op, user_id FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e) b
        |ORDER BY set_op, user_id""".stripMargin,
    "retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        |SELECT epoch_us(cohort) AS cohort_us,
        |  CAST(date_diff('day', cohort, d) AS BIGINT) AS days_since,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY cohort, d
        |ORDER BY cohort_us, days_since""".stripMargin,
    "event_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us
        |       FROM ev e JOIN s1 ON e.user_id = s1.user_id AND e.ts_us > s1.t1_us
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us
        |       FROM ev e JOIN s2 ON e.user_id = s2.user_id AND e.ts_us > s2.t2_us
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s1.user_id, t1_us, t2_us, t3_us,
        |  CAST(1 + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "sessionize_events" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, value, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sess AS (
        |  SELECT user_id, event_id, value, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
        |  min(ts_us) AS t_start_us, max(ts_us) AS t_end_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "value_stats_by_type" ->
      """SELECT event_type,
        |  round(stddev_samp(value), 6) AS sd_value,
        |  round(var_samp(value), 6) AS var_value,
        |  round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS corr_value_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_trailing_10min" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT user_id, event_id, ts_us,
        |  count(*) OVER w AS n_last_10min,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_10min
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "orders_page_3" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 50 OFFSET 100""".stripMargin,
    "value_histogram" ->
      """SELECT CAST(least(greatest(floor(value / 20.0) + 1, 0), 11) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "customer_key_extract" ->
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS digits_num
        |FROM customer WHERE regexp_extract(c_name, '([0-9]+)', 1) <> ''
        |ORDER BY c_custkey""".stripMargin,
    "events_asof_orders" ->
      """WITH rdedup AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |    arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  r.o_orderkey AS m_orderkey, r.o_totalprice AS m_totalprice,
        |  epoch_us(r.o_orderdate) AS order_ts_us
        |FROM events e ASOF JOIN rdedup r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "events_pivot_by_type" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "lineitem_math_funcs" ->
      """SELECT l_orderkey,
        |  round(sqrt(l_quantity), 9) AS sqrt_qty,
        |  abs(l_quantity - 25.0) AS abs_dev,
        |  CAST(sign(l_quantity - 25.0) AS DOUBLE) AS sign_dev,
        |  round(pow(l_discount + 1.0, 2), 9) AS disc_sq,
        |  round(exp(l_tax), 9) AS exp_tax
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_orderkey""".stripMargin,
    "orders_date_arithmetic" ->
      """SELECT o_orderkey,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS age_days,
        |  epoch_us(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)) AS due_us,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "order_rank_functions" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 9) AS prnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderstatus, rnk, o_orderkey""".stripMargin,
    "user_first_last_event" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id, event_type AS first_type, ts_us AS first_ts_us,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS rn FROM ev),
        |l AS (SELECT user_id, event_type AS last_type, ts_us AS last_ts_us,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
        |SELECT f.user_id, f.first_type, f.first_ts_us, l.last_type, l.last_ts_us
        |FROM f JOIN l ON f.user_id = l.user_id AND f.rn = 1 AND l.rn = 1
        |WHERE f.rn = 1 AND l.rn = 1
        |ORDER BY f.user_id""".stripMargin,
    "orders_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "purchase_minus_error_all" ->
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |) t ORDER BY user_id""".stripMargin,
    "events_unpivot" ->
      """WITH p AS (
        |  SELECT user_id,
        |    count(*) FILTER (WHERE event_type = 'click') AS click,
        |    count(*) FILTER (WHERE event_type = 'error') AS error,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |    count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |    count(*) FILTER (WHERE event_type = 'view') AS view
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, event_type, n FROM (
        |  SELECT user_id, 'click' AS event_type, click AS n FROM p
        |  UNION ALL SELECT user_id, 'error', error FROM p
        |  UNION ALL SELECT user_id, 'purchase', purchase FROM p
        |  UNION ALL SELECT user_id, 'signup', signup FROM p
        |  UNION ALL SELECT user_id, 'view', view FROM p
        |) u ORDER BY user_id, event_type""".stripMargin,
    "purchase_and_error_all" ->
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |) t ORDER BY user_id""".stripMargin,
    "user_type_string_agg" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "customer_name_regex_swap" ->
      """SELECT c_custkey, regexp_replace(c_name, '([A-Za-z]+)#([0-9]+)', '\2-\1', 'g') AS swapped
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "user_event_type_arrays" ->
      """SELECT user_id, CAST(to_json(list_sort(list(DISTINCT event_type))) AS VARCHAR) AS types_json,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "orders_by_month" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY month_us""".stripMargin,
    "customer_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  substr(c_name, 1, 10) AS name_prefix,
        |  c_mktsegment || '/' || c_name AS seg_name
        |FROM customer WHERE c_name LIKE '%1%'
        |ORDER BY c_custkey""".stripMargin,
    "customer_order_totals_nulls" ->
      """WITH totals AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT c_custkey, coalesce(total, 0.0) AS total_spend,
        |  coalesce(n_orders, 0) AS n_orders,
        |  CASE WHEN total IS NULL THEN 'never_ordered' ELSE 'active' END AS status
        |FROM customer LEFT JOIN totals ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "lineitem_multi_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "popular_parts_having" ->
      """SELECT l_partkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 30
        |ORDER BY l_partkey""".stripMargin,
    "json_props_rollup" ->
      """SELECT event_type, count(*) AS n,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "orders_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.50), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "customers_above_segment_avg" ->
      """WITH seg AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS seg_avg
        |  FROM customer GROUP BY c_mktsegment
        |)
        |SELECT c_custkey, c_mktsegment, c_acctbal, round(seg_avg, 6) AS seg_avg
        |FROM customer JOIN seg ON c_mktsegment = seg
        |WHERE c_acctbal > seg_avg
        |ORDER BY c_custkey""".stripMargin,
    "events_moving_sum" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
        |)
        |SELECT user_id, event_id, ts_us, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
        |FROM ev ORDER BY user_id, ts_us, event_id""".stripMargin,
    "streams_sessionize_batch" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, value, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sess AS (
        |  SELECT user_id, event_id, value, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, min(ts_us) AS t_start_us, max(ts_us) + 1800000000 AS t_end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, t_start_us""".stripMargin,
    "token_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_distinct,
         |  round(CAST(count(DISTINCT term) AS DOUBLE) / count(*), 9) AS ttr,
         |  round(CAST(sum(length(term)) AS DOUBLE) / count(*), 9) AS avg_token_len
         |FROM toks2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      s"""SELECT doc_id,
         |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text), 9) AS alpha_ratio,
         |  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 9) AS digit_ratio,
         |  round(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text), 9) AS punct_ratio,
         |  round(CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS DOUBLE) / length(text), 9) AS ws_ratio,
         |  round(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |        / len(regexp_split_to_array(text, '\\s+')), 9) AS stopword_density,
         |  round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
         |    + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
         |    + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
         |    + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |            / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "gopher_rules" ->
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words,
         |    round(CAST(list_sum(list_transform(regexp_split_to_array(text, '\\s+'), w -> length(w))) AS DOUBLE)
         |      / len(regexp_split_to_array(text, '\\s+')), 9) AS mean_word_len,
         |    round(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
         |      / len(regexp_split_to_array(text, '\\s+')), 9) AS alpha_word_frac,
         |    CAST(len(regexp_extract_all(text, '$stopRegex')) AS BIGINT) AS n_stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_stop_hits,
         |  CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_words,
         |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT) AS r_word_len,
         |  CAST(alpha_word_frac >= 0.8 AS BIGINT) AS r_alpha,
         |  CAST(n_stop_hits >= 2 AS BIGINT) AS r_stop,
         |  CAST(n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
         |    AND mean_word_len <= 10.0 AND alpha_word_frac >= 0.8
         |    AND n_stop_hits >= 2 AS BIGINT) AS pass
         |FROM sig ORDER BY doc_id""".stripMargin,
    "quality_classifier_weights" -> ClfOracle.weightsSql,
    "quality_classifier_scores" -> ClfOracle.scoresSql,
    "quality_classifier_eval" -> ClfOracle.evalSql,
    "quality_classifier_disagreements" -> ClfOracle.disagreementsSql,
    "classifier_pr_curve" -> ClfOracle.prCurveSql,
    "classifier_threshold_at_precision" -> ClfOracle.thresholdAtPrecisionSql,
    "classifier_weighted_sample" -> ClfOracle.sampleSql,
    "classifier_source_mix_sample" -> ClfOracle.sourceMixSql,
    "policy_agreement_matrix" -> ClfOracle.agreementSql,
    "manifest_by_classifier" -> ClfOracle.manifestByClfSql,
    "manifest_classifier_delta" -> ClfOracle.manifestDeltaSql,
    "token_length_histogram" ->
      s"""WITH $toksCte,
         |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tc GROUP BY 1)
         |SELECT CAST(floor(n_tokens / 32) * 32 AS BIGINT) AS bucket_lo,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 9) AS avg_tokens
         |FROM tot GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "novelty_scores" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS pos
         |  FROM toksarr WHERE len(a) >= 5
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] AS gram
         |  FROM w0
         |),
         |firsts AS (SELECT gram, min(doc_id) AS first_doc FROM wins GROUP BY 1)
         |SELECT w.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen_before,
         |  round(1.0 - CAST(sum(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 9) AS novelty
         |FROM wins w JOIN firsts f USING (gram)
         |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,
    "source_quality_rollup" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
         |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
         |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
         |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
         |  FROM documents
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_split_to_array(trim(d.text), '\\s+'))) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(CAST(q.quality AS DECIMAL(18,9))) AS DOUBLE) / count(*), 9) AS avg_quality,
         |  round(CAST(sum(d.n_chars) AS DOUBLE) / count(*), 9) AS avg_chars
         |FROM documents d JOIN q USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "vocab_oov_rate" ->
      s"""WITH $toksCte,
         |freq AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS freq FROM tc GROUP BY 1),
         |vocab AS (SELECT term FROM freq ORDER BY freq DESC, term LIMIT 20)
         |SELECT tc.doc_id, CAST(sum(tc.cnt) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.term IS NOT NULL THEN tc.cnt ELSE 0 END) AS BIGINT) AS n_in_vocab,
         |  round(1.0 - CAST(sum(CASE WHEN v.term IS NOT NULL THEN tc.cnt ELSE 0 END) AS DOUBLE)
         |        / sum(tc.cnt), 9) AS oov_rate
         |FROM tc LEFT JOIN vocab v ON tc.term = v.term
         |GROUP BY tc.doc_id ORDER BY tc.doc_id""".stripMargin,
    "lang_id" ->
      s"""WITH $toksCte
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
         |  round(CAST(sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9) AS en_density,
         |  CASE WHEN CAST(sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.05
         |       THEN 'en' ELSE 'unknown' END AS lang_pred
         |FROM toks2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "lang_id_confusion" ->
      s"""WITH $toksCte,
         |p AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(sum(CASE WHEN term IN ($stopList) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.05
         |         THEN 'en' ELSE 'unknown' END AS lang_pred
         |  FROM toks2 GROUP BY doc_id)
         |SELECT d.lang, p.lang_pred, count(*) AS n_docs
         |FROM documents d JOIN p USING (doc_id)
         |GROUP BY 1, 2
         |ORDER BY lang, lang_pred""".stripMargin,
    "doc_fingerprints" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sequence_packing" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, count(*) AS n_tokens FROM toks2 GROUP BY 1),
         |c AS (SELECT d.source, t.doc_id, t.n_tokens,
         |  CAST(sum(t.n_tokens) OVER (PARTITION BY d.source ORDER BY t.doc_id
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t JOIN documents d ON d.doc_id = t.doc_id)
         |SELECT source, doc_id, n_tokens, cum_tokens,
         |  CAST(floor((cum_tokens - n_tokens) / 256.0) AS BIGINT) AS bin_id
         |FROM c ORDER BY source, doc_id""".stripMargin,
    "token_counts_bpeish" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dataset_split" ->
      """WITH h AS (
        |  SELECT doc_id, substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 32, 1) AS hx
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN hx <= '9' OR (hx >= 'a' AND hx <= 'b') THEN 'train'
        |       WHEN hx = 'c' OR hx = 'd' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    "documents_stable_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < 429496730
        |ORDER BY doc_id""".stripMargin,
    "pii_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |                   'https?://[^ ]+', '<URL>', 'g') AS red
        |  FROM documents
        |)
        |SELECT doc_id, md5(trim(regexp_replace(lower(red), '\s+', ' ', 'g'))) AS redacted_fp,
        |  CAST(length(text) - length(red) AS BIGINT) AS chars_removed
        |FROM r ORDER BY doc_id""".stripMargin,
    "decontaminate_overlap" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3
         |), bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0),
         |tr AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_overlap
         |  FROM grams WHERE doc_id % 53 <> 0 GROUP BY 1)
         |SELECT doc_id, n_overlap, n_grams,
         |  round(CAST(n_overlap AS DOUBLE) / n_grams, 9) AS contamination,
         |  CASE WHEN round(CAST(n_overlap AS DOUBLE) / n_grams, 9) >= 0.05 THEN 1 ELSE 0 END
         |    AS contaminated
         |FROM tr ORDER BY doc_id""".stripMargin,
    "decontaminate_strip_spans" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS pos
         |  FROM toksarr WHERE len(a) >= 3 AND doc_id % 53 <> 0
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] AS gram
         |  FROM w0
         |),
         |bgrams AS (
         |  SELECT DISTINCT a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS gram
         |  FROM (SELECT a, unnest(range(1, len(a) - 1)) AS i
         |        FROM toksarr WHERE len(a) >= 3 AND doc_id % 53 = 0)
         |),
         |rem AS (SELECT doc_id, pos FROM wins WHERE gram IN (SELECT gram FROM bgrams)),
         |cov AS (
         |  SELECT DISTINCT doc_id, tpos
         |  FROM (SELECT doc_id, unnest(range(pos, pos + 3)) AS tpos FROM rem)
         |),
         |toks AS (
         |  SELECT doc_id, tpos, a[tpos] AS term
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS tpos
         |        FROM toksarr WHERE doc_id % 53 <> 0)
         |),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.term
         |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(term, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |WHERE d.doc_id % 53 <> 0
         |ORDER BY doc_id""".stripMargin,
    "decontamination_report" ->
      s"""WITH $toksArrCte,
         |tr AS (SELECT doc_id, a FROM toksarr WHERE doc_id % 53 <> 0),
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS pos
         |  FROM tr WHERE len(a) >= 3
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] AS gram
         |  FROM w0
         |),
         |bgrams AS (
         |  SELECT DISTINCT a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS gram
         |  FROM (SELECT a, unnest(range(1, len(a) - 1)) AS i
         |        FROM toksarr WHERE len(a) >= 3 AND doc_id % 53 = 0)
         |),
         |dg AS (SELECT DISTINCT doc_id, gram FROM wins),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM bgrams) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_overlap
         |  FROM dg GROUP BY 1
         |),
         |cov AS (
         |  SELECT doc_id, count(*) AS n_cov FROM (
         |    SELECT DISTINCT doc_id, tpos FROM (
         |      SELECT doc_id, unnest(range(pos, pos + 3)) AS tpos
         |      FROM wins WHERE gram IN (SELECT gram FROM bgrams)))
         |  GROUP BY 1
         |),
         |perdoc AS (
         |  SELECT t.doc_id, d.source,
         |    coalesce(len(t.a), 0) AS n_toks,
         |    coalesce(h.n_overlap, 0) AS n_overlap,
         |    coalesce(h.n_grams, 0) AS n_grams,
         |    coalesce(c.n_cov, 0) AS n_cov
         |  FROM tr t JOIN documents d USING (doc_id)
         |  LEFT JOIN hits h ON t.doc_id = h.doc_id
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_overlap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
         |  CAST(sum(CASE WHEN n_grams > 0
         |       AND CAST(n_overlap AS DOUBLE) >= CAST(n_grams AS DOUBLE) * 0.05
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_cov) AS BIGINT) AS n_tokens_covered,
         |  round(CAST(sum(n_cov) AS DOUBLE) /
         |        greatest(CAST(sum(n_toks) AS DOUBLE), 1.0), 9) AS covered_frac
         |FROM perdoc GROUP BY 1 ORDER BY source""".stripMargin,
    "decontaminate_multi" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3
         |), ba AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 53 = 0),
         |bb AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 47 = 0)
         |SELECT doc_id, count(DISTINCT gram) AS n_grams,
         |  count(DISTINCT CASE WHEN gram IN (SELECT gram FROM ba) THEN gram END) AS overlap_a,
         |  count(DISTINCT CASE WHEN gram IN (SELECT gram FROM bb) THEN gram END) AS overlap_b
         |FROM grams WHERE doc_id % 53 <> 0 AND doc_id % 47 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DSIR hashed importance weights: md5-prefix feature buckets, +1
    // smoothing, per-bucket ln ratio rounded 9, per-doc sum routed
    // through DECIMAL — the exact arithmetic the Spark side performs
    "dsir_logratio_weights" ->
      s"""WITH $toksCte,
         |$dsirDocCte
         |SELECT doc_id, n_tokens,
         |  round(CAST(w_sum AS DOUBLE), 9) AS dsir_logratio,
         |  CAST(w_sum AS DOUBLE) / n_tokens AS per_token
         |FROM doc ORDER BY doc_id""".stripMargin,
    "dsir_select_top64" ->
      s"""WITH $toksCte,
         |$dsirDocCte
         |SELECT doc_id, n_tokens,
         |  round(CAST(w_sum AS DOUBLE), 9) AS dsir_logratio,
         |  CAST(w_sum AS DOUBLE) / n_tokens AS per_token
         |FROM doc ORDER BY dsir_logratio DESC, doc_id LIMIT 64""".stripMargin,
    // windows = 5-grams with 1-based start positions; `a` rides along the
    // unnest CTE because DuckDB range() is not lateral-correlatable
    "duplicate_spans" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS pos
         |  FROM toksarr WHERE len(a) >= 5
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] AS gram
         |  FROM w0
         |),
         |occ AS (SELECT gram, count(*) AS occ FROM wins GROUP BY 1 HAVING count(*) >= 2)
         |SELECT w.doc_id, w.pos, w.gram, o.occ
         |FROM wins w JOIN occ o USING (gram)
         |ORDER BY doc_id, pos""".stripMargin,
    "span_dup_stats" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS pos
         |  FROM toksarr WHERE len(a) >= 5
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] AS gram
         |  FROM w0
         |),
         |occ AS (SELECT gram, count(*) AS occ FROM wins GROUP BY 1 HAVING count(*) >= 2),
         |dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN occ USING (gram)),
         |toks AS (SELECT doc_id, pos, unnest(range(pos, pos + 5)) AS tok FROM dup),
         |cov AS (
         |  SELECT doc_id, count(DISTINCT pos) AS n_dup_windows,
         |    count(DISTINCT tok) AS n_dup_tokens
         |  FROM toks GROUP BY 1
         |),
         |totals AS (
         |  SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens,
         |    CAST(greatest(len(a) - 4, 0) AS BIGINT) AS n_windows
         |  FROM toksarr
         |)
         |SELECT t.doc_id, t.n_tokens, t.n_windows,
         |  CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |  CASE WHEN t.n_tokens > 0
         |    THEN round(CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / t.n_tokens, 9)
         |    ELSE 0.0 END AS dup_token_frac
         |FROM totals t LEFT JOIN cov c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "strip_duplicate_spans" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS pos
         |  FROM toksarr WHERE len(a) >= 5
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] AS gram
         |  FROM w0
         |),
         |marked AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |  FROM wins
         |),
         |rem AS (
         |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1
         |),
         |cov AS (
         |  SELECT DISTINCT doc_id, tpos
         |  FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS tpos FROM rem)
         |),
         |toks AS (
         |  SELECT doc_id, tpos, a[tpos] AS term
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS tpos FROM toksarr)
         |),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.term
         |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(term, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // L=12 windows → duplicated positions → gaps-and-islands region merge
    // (two marked starts share a region iff the later is within L of the
    // earlier — coverage [p, p+11] stays contiguous)
    "exact_substr_spans" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |  FROM toksarr WHERE len(a) >= 12
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM w0
         |),
         |occ AS (SELECT gram FROM wins GROUP BY 1 HAVING count(*) >= 2),
         |dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN occ USING (gram)),
         |g AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 12
         |         THEN 0 ELSE 1 END AS brk
         |  FROM dup
         |),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(coalesce(brk, 1)) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM g)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 11 AS span_end,
         |  max(pos) + 11 - min(pos) + 1 AS span_len
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    // depth profile: one UNION ALL branch per window length; covered
    // positions via range-unnest + row-value DISTINCT
    "exact_substr_depth_profile" -> {
      val branches = Seq(12, 24, 48, 96).map { l =>
        s"""SELECT CAST($l AS BIGINT) AS min_len,
           |  CAST((SELECT count(*) FROM dup$l) AS BIGINT) AS n_dup_windows,
           |  CAST((SELECT count(DISTINCT (doc_id, tok))
           |        FROM (SELECT doc_id, unnest(range(pos, pos + $l)) AS tok
           |              FROM dup$l)) AS BIGINT) AS n_dup_positions,
           |  CAST((SELECT count(DISTINCT doc_id) FROM dup$l) AS BIGINT) AS n_docs""".stripMargin
      }
      val ctes = Seq(12, 24, 48, 96).map { l =>
        s"""wins$l AS (
           |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           |    array_to_string(a[pos:pos+${l - 1}], ' ') AS gram
           |  FROM (SELECT doc_id, a, unnest(range(1, len(a) - ${l - 2})) AS pos
           |        FROM toksarr WHERE len(a) >= $l) u
           |),
           |occ$l AS (SELECT gram FROM wins$l GROUP BY 1 HAVING count(*) >= 2),
           |dup$l AS (SELECT w.doc_id, w.pos FROM wins$l w JOIN occ$l USING (gram))""".stripMargin
      }
      s"""WITH $toksArrCte,
         |${ctes.mkString(",\n")}
         |${branches.mkString("\nUNION ALL\n")}
         |ORDER BY min_len""".stripMargin
    },
    // exact per-position longest-match lengths, capped at 96: for every
    // duplicated-12-window start, the max m in [12, 96] whose m-gram at
    // that position occurs >= 2 times. Counting m-grams only over
    // extensions of duplicated-12 positions is CLOSED (every occurrence
    // of a duplicated m-gram has a duplicated 12-prefix), so the counts
    // equal full-corpus counts — the same closure argument as the Spark
    // side's cascade candidates.
    "exact_substr_match_lengths" ->
      s"""WITH $toksArrCte,
         |w12 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |  FROM toksarr WHERE len(a) >= 12
         |),
         |g12 AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, a,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM w12
         |),
         |occ12 AS (SELECT gram FROM g12 GROUP BY 1 HAVING count(*) >= 2),
         |d12 AS (SELECT g.doc_id, g.pos, g.a FROM g12 g JOIN occ12 USING (gram)),
         |ext AS (
         |  SELECT doc_id, pos, m, array_to_string(a[pos:pos+m-1], ' ') AS gram
         |  FROM (SELECT doc_id, pos, a, unnest(range(12, 97)) AS m FROM d12)
         |  WHERE pos + m - 1 <= len(a)
         |),
         |dupm AS (SELECT m, gram FROM ext GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT e.doc_id, e.pos, CAST(max(e.m) AS BIGINT) AS match_len
         |FROM ext e JOIN dupm USING (m, gram)
         |GROUP BY 1, 2
         |ORDER BY doc_id, pos""".stripMargin,
    // stored l24 level marks (and, shared, the cascade-merge replay):
    // duplicated 24-gram start positions with occ + corpus-first witness
    "exact_substr_level_marks" ->
      s"""WITH $toksArrCte,
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+23], ' ') AS gram
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 22)) AS pos
         |        FROM toksarr WHERE len(a) >= 24) u
         |),
         |wc AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_pos
         |  FROM wins
         |)
         |SELECT doc_id, pos, CAST(occ AS BIGINT) AS occ, canon_doc, canon_pos
         |FROM wc WHERE occ >= 2
         |ORDER BY doc_id, pos""".stripMargin,
    // spans + provenance: canonical occurrence (corpus-first by
    // (doc_id, pos)) of each region's opening window
    "exact_substr_spans_attributed" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |  FROM toksarr WHERE len(a) >= 12
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM w0
         |),
         |wc AS (
         |  SELECT doc_id, pos, gram,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c_pos
         |  FROM wins
         |),
         |dup AS (SELECT doc_id, pos, c_doc, c_pos FROM wc WHERE occ >= 2),
         |g AS (
         |  SELECT doc_id, pos, c_doc, c_pos,
         |    CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 12
         |         THEN 0 ELSE 1 END AS brk
         |  FROM dup
         |),
         |isl AS (
         |  SELECT doc_id, pos, c_doc, c_pos,
         |    sum(coalesce(brk, 1)) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM g)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 11 AS span_end,
         |  max(pos) + 11 - min(pos) + 1 AS span_len,
         |  min_by(c_doc, pos) AS witness_doc, min_by(c_pos, pos) AS witness_pos
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    // the strip_duplicate_spans spelling at L=12 (canonical-keep rule)
    "exact_substr_strip" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |  FROM toksarr WHERE len(a) >= 12
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM w0
         |),
         |marked AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |  FROM wins
         |),
         |rem AS (
         |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1
         |),
         |cov AS (
         |  SELECT DISTINCT doc_id, tpos
         |  FROM (SELECT doc_id, unnest(range(pos, pos + 12)) AS tpos FROM rem)
         |),
         |toks AS (
         |  SELECT doc_id, tpos, a[tpos] AS term
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS tpos FROM toksarr)
         |),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.term
         |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(term, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the same strip spelling with the marking length at the L=48 cascade
    // level: only duplicates >= 48 tokens are removed
    "exact_substr_strip_minlen" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 46)) AS pos
         |  FROM toksarr WHERE len(a) >= 48
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+47], ' ') AS gram
         |  FROM w0
         |),
         |marked AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |  FROM wins
         |),
         |rem AS (
         |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1
         |),
         |cov AS (
         |  SELECT DISTINCT doc_id, tpos
         |  FROM (SELECT doc_id, unnest(range(pos, pos + 48)) AS tpos FROM rem)
         |),
         |toks AS (
         |  SELECT doc_id, tpos, a[tpos] AS term
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS tpos FROM toksarr)
         |),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.term
         |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(term, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the same strip spelling at L=12 with the KEEP-LONGEST keeper: each
    // gram's surviving occurrence is the one in the longest document
    // (token count DESC, ties -> corpus-first (doc_id, pos))
    "exact_substr_strip_keep_longest" ->
      s"""WITH $toksArrCte,
         |dl AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS doc_len FROM toksarr),
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |  FROM toksarr WHERE len(a) >= 12
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM w0
         |),
         |marked AS (
         |  SELECT w.doc_id, w.pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    row_number() OVER (PARTITION BY gram
         |      ORDER BY d.doc_len DESC, w.doc_id ASC, w.pos ASC) AS rn
         |  FROM wins w JOIN dl d USING (doc_id)
         |),
         |rem AS (
         |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1
         |),
         |cov AS (
         |  SELECT DISTINCT doc_id, tpos
         |  FROM (SELECT doc_id, unnest(range(pos, pos + 12)) AS tpos FROM rem)
         |),
         |toks AS (
         |  SELECT doc_id, tpos, a[tpos] AS term
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS tpos FROM toksarr)
         |),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.term
         |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(term, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "streams_span_dedup_batch" ->
      s"""WITH $toksArrCte,
         |w0 AS (
         |  SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS pos
         |  FROM toksarr WHERE len(a) >= 5
         |),
         |wins AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    a[pos] || ' ' || a[pos+1] || ' ' || a[pos+2] || ' ' || a[pos+3] || ' ' || a[pos+4] AS gram
         |  FROM w0
         |),
         |marked AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos) AS first_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos) AS first_pos
         |  FROM wins
         |)
         |SELECT doc_id, pos, first_doc, first_pos
         |FROM marked WHERE occ >= 2 AND rn > 1
         |ORDER BY doc_id, pos""".stripMargin,
    "streams_token_quota_batch" ->
      """WITH nt AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS running_tokens
        |  FROM nt)
        |SELECT doc_id, source, n_tokens, running_tokens,
        |  CAST(running_tokens <= 800 AS BIGINT) AS admitted
        |FROM cum ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      s"""WITH $toksCte,
         |$toksArrCte,
         |tf AS (SELECT doc_id, term, count(*) AS c FROM toks2 GROUP BY 1, 2),
         |bydoc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    round(CAST(max(c) AS DOUBLE) / sum(c), 9) AS top_word_ratio
         |  FROM tf GROUP BY 1),
         |arrstats AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(range(2, len(a) + 1), i -> a[i] = a[i-1])) AS BIGINT)
         |      AS adj_dup_pairs,
         |    greatest(len(a) - 2, 0) AS grams_total,
         |    CASE WHEN len(a) >= 3 THEN len(list_distinct(
         |      list_transform(range(1, greatest(len(a) - 1, 1)),
         |                     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) ELSE 0 END
         |      AS grams_distinct
         |  FROM toksarr WHERE len(a) >= 1)
         |SELECT b.doc_id, b.n_tokens, b.top_word_ratio, s.adj_dup_pairs,
         |  CASE WHEN s.grams_total > 0
         |       THEN round(1.0 - CAST(s.grams_distinct AS DOUBLE) / s.grams_total, 9)
         |       ELSE 0.0 END AS rep_3gram_frac
         |FROM bydoc b JOIN arrstats s ON s.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "boilerplate_grams" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3)
         |SELECT gram, count(*) AS n_docs FROM grams GROUP BY 1
         |HAVING count(*) >= 5
         |ORDER BY n_docs DESC, gram LIMIT 100""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH $gramPairsCte
         |SELECT doc_a, doc_b, n_shared, grams_a, grams_b, jaccard
         |FROM pairsj WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_threshold_calibration" ->
      s"""WITH $gramPairsCte,
         |taus AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS tau),
         |hits AS (
         |  SELECT t.tau, p.doc_a, p.doc_b
         |  FROM pairsj p CROSS JOIN taus t WHERE p.jaccard >= t.tau),
         |pstats AS (
         |  SELECT tau, count(*) AS n_pairs,
         |    count(DISTINCT doc_b) AS n_drop_candidates
         |  FROM hits GROUP BY 1),
         |dstats AS (
         |  SELECT tau, count(DISTINCT doc) AS n_docs_in_pairs
         |  FROM (SELECT tau, doc_a AS doc FROM hits
         |        UNION ALL SELECT tau, doc_b FROM hits) u GROUP BY 1),
         |n AS (SELECT count(*) AS n_corpus FROM documents)
         |SELECT t.tau,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_docs_in_pairs, 0) AS BIGINT) AS n_docs_in_pairs,
         |  CAST(coalesce(n_drop_candidates, 0) AS BIGINT) AS n_drop_candidates,
         |  round(CAST(coalesce(n_drop_candidates, 0) AS DOUBLE) / n_corpus, 9)
         |    AS drop_rate
         |FROM taus t LEFT JOIN pstats USING (tau) LEFT JOIN dstats USING (tau)
         |CROSS JOIN n
         |ORDER BY tau""".stripMargin,
    "packing_efficiency" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tc GROUP BY 1),
         |grid AS (SELECT unnest([64, 128, 256, 512, 1024]) AS max_len),
         |j AS (
         |  SELECT CAST(g.max_len AS BIGINT) AS max_len, dt.n_tokens,
         |    least(dt.n_tokens, CAST(g.max_len AS BIGINT)) AS kept
         |  FROM dt CROSS JOIN grid g)
         |SELECT max_len, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_tokens > max_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(kept) AS BIGINT) AS kept_tokens,
         |  round(CAST(sum(n_tokens) - sum(kept) AS DOUBLE) / sum(n_tokens), 9)
         |    AS trunc_frac,
         |  round(CAST(count(*) * max_len - sum(kept) AS DOUBLE)
         |    / (count(*) * max_len), 9) AS pad_frac_bound
         |FROM j GROUP BY max_len
         |ORDER BY max_len""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH $gramPairsCte,
         |lab AS (SELECT doc_id, source FROM documents)
         |SELECT least(la.source, lb.source) AS source_a,
         |  greatest(la.source, lb.source) AS source_b,
         |  count(*) AS n_pairs,
         |  round(CAST(sum(CAST(jaccard AS DECIMAL(18,9))) AS DOUBLE) / count(*), 9)
         |    AS avg_jaccard,
         |  max(jaccard) AS max_jaccard
         |FROM pairsj
         |JOIN lab la ON la.doc_id = doc_a
         |JOIN lab lb ON lb.doc_id = doc_b
         |WHERE jaccard >= 0.5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "corpus_containment" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3
         |), fl AS (
         |  SELECT gram,
         |    max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS in_b
         |  FROM grams GROUP BY 1)
         |SELECT CAST(sum(in_a) AS BIGINT) AS n_grams_ingested,
         |  CAST(sum(in_b) AS BIGINT) AS n_grams_incoming,
         |  CAST(sum(in_a * in_b) AS BIGINT) AS n_shared,
         |  CASE WHEN sum(in_b) > 0
         |       THEN round(CAST(sum(in_a * in_b) AS DOUBLE) / sum(in_b), 9)
         |       ELSE 0.0 END AS containment,
         |  CASE WHEN sum(in_a) + sum(in_b) > sum(in_a * in_b)
         |       THEN round(CAST(sum(in_a * in_b) AS DOUBLE)
         |         / (sum(in_a) + sum(in_b) - sum(in_a * in_b)), 9)
         |       ELSE 0.0 END AS jaccard
         |FROM fl""".stripMargin,
    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents
        |), seen AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id % 2 = 0),
        |keeper AS (SELECT fingerprint, min(doc_id) AS doc_id FROM f GROUP BY 1)
        |SELECT doc_id, fingerprint FROM keeper
        |WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
        |ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""$clusterLabelsCte
         |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin,
    "gram_cap_coverage" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3
         |), dfs AS (SELECT gram, count(*) AS gram_df FROM grams GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(coalesce(sum(CASE WHEN gram_df > 64 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped_grams,
         |  CAST(coalesce(sum(gram_df), 0) AS BIGINT) AS n_doc_gram_rows,
         |  CAST(coalesce(sum(CASE WHEN gram_df > 64 THEN gram_df ELSE 0 END), 0) AS BIGINT) AS n_dropped_rows
         |FROM dfs""".stripMargin,
    "dedup_apply" ->
      s"""$clusterLabelsCte
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster)
         |ORDER BY d.doc_id""".stripMargin,
    // soft dedup: weight = (1/cluster_size) * paragraph-novelty share —
    // the near-dup components and the fixed-width paragraph keeper rank
    // composed into one per-doc training weight
    "dedup_soft_weights" ->
      s"""$clusterLabelsCte,
         |${paraOracleCtes.stripPrefix("WITH ")},
         |pd AS (
         |  SELECT doc_id, count(*) AS n_paras,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM pmarked GROUP BY 1),
         |csize AS (SELECT cluster, count(*) AS cs FROM labels GROUP BY 1),
         |dw AS (
         |  SELECT d.doc_id, CAST(coalesce(cs, 1) AS BIGINT) AS cluster_size
         |  FROM documents d
         |  LEFT JOIN labels l ON l.doc_id = d.doc_id
         |  LEFT JOIN csize USING (cluster))
         |SELECT dw.doc_id, cluster_size, n_paras, n_dup,
         |  round((CAST(1 AS DOUBLE) / cluster_size)
         |    * (1 - CAST(n_dup AS DOUBLE) / n_paras), 9) AS weight
         |FROM dw JOIN pd USING (doc_id)
         |ORDER BY dw.doc_id""".stripMargin,
    // the soft policy applied: md5-coin survival with p = the soft weight
    "dedup_soft_sample" ->
      s"""$clusterLabelsCte,
         |${paraOracleCtes.stripPrefix("WITH ")},
         |pd AS (
         |  SELECT doc_id, count(*) AS n_paras,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM pmarked GROUP BY 1),
         |csize AS (SELECT cluster, count(*) AS cs FROM labels GROUP BY 1),
         |dw AS (
         |  SELECT d.doc_id, CAST(coalesce(cs, 1) AS BIGINT) AS cluster_size
         |  FROM documents d
         |  LEFT JOIN labels l ON l.doc_id = d.doc_id
         |  LEFT JOIN csize USING (cluster)),
         |sw AS (
         |  SELECT dw.doc_id,
         |    round((CAST(1 AS DOUBLE) / cluster_size)
         |      * (1 - CAST(n_dup AS DOUBLE) / n_paras), 9) AS weight
         |  FROM dw JOIN pd USING (doc_id)),
         |coin AS (
         |  SELECT doc_id, weight,
         |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      / 4294967296.0 AS u
         |  FROM sw)
         |SELECT doc_id, weight, u FROM coin
         |WHERE u < weight ORDER BY doc_id""".stripMargin,
    // the conservative recipe: the within-doc strip's CTE chain feeds the
    // soft-weight chain — cluster labels AND the paragraph-novelty profile
    // both recompute over the CLEANED text
    "conservative_soft_weights" ->
      s"""$conservativeRecipeCtes
         |SELECT dw.doc_id, dw.n_within_dropped, cluster_size, n_paras, n_dup,
         |  round((CAST(1 AS DOUBLE) / cluster_size)
         |    * (1 - CAST(n_dup AS DOUBLE) / n_paras), 9) AS weight
         |FROM dw JOIN pd USING (doc_id)
         |ORDER BY dw.doc_id""".stripMargin,
    // ...and the recipe APPLIED: md5-coin survival with p = the composed
    // conservative weight (expected cluster mass 1 over the cleaned text)
    "conservative_soft_sample" ->
      s"""$conservativeRecipeCtes,
         |sw AS (
         |  SELECT dw.doc_id,
         |    round((CAST(1 AS DOUBLE) / cluster_size)
         |      * (1 - CAST(n_dup AS DOUBLE) / n_paras), 9) AS weight
         |  FROM dw JOIN pd USING (doc_id)),
         |coin AS (
         |  SELECT doc_id, weight,
         |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      / 4294967296.0 AS u
         |  FROM sw)
         |SELECT doc_id, weight, u FROM coin
         |WHERE u < weight ORDER BY doc_id""".stripMargin,
    // keeper = the highest-quality cluster member (ties -> min doc_id;
    // unscored members rank below every real score via the explicit
    // null-last flag, any sign of score); the quality expression is the
    // quality_score oracle's, verbatim
    "dedup_apply_keep_best" ->
      s"""$clusterLabelsCte,
         |q AS (
         |  SELECT doc_id,
         |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
         |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
         |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
         |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
         |  FROM documents),
         |k AS (
         |  SELECT l.doc_id,
         |    row_number() OVER (PARTITION BY l.cluster
         |      ORDER BY CASE WHEN q.quality IS NULL THEN 1 ELSE 0 END ASC,
         |        coalesce(-q.quality, 0.0) ASC, l.doc_id ASC) AS rn
         |  FROM labels l LEFT JOIN q USING (doc_id))
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM k WHERE rn > 1)
         |ORDER BY d.doc_id""".stripMargin,
    // paragraph dedup family: RAW whitespace tokens (verbatim round-trip,
    // not the normalized tf-idf stream), 16-token blocks, md5 content
    // keys (portable across engines), keeper = min (doc_id, para_idx)
    "paragraph_dedup_strip" ->
      s"""$paraOracleCtes,
         |dr AS (
         |  SELECT doc_id, list(para_idx) AS dropped
         |  FROM pmarked WHERE rn > 1 GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(ceil(len(t.a) / 16.0) AS BIGINT) AS n_paras,
         |  CAST(coalesce(len(dr.dropped), 0) AS BIGINT) AS n_dropped,
         |  md5(CASE WHEN dr.doc_id IS NULL THEN t.text
         |    -- coalesce: duckdb's array_to_string([]) is NULL, spark's
         |    -- array_join([]) is '' (the fully-stripped-document row)
         |    ELSE coalesce(array_to_string(list_filter(t.a, (x, i) ->
         |      NOT list_contains(dr.dropped, CAST(floor((i - 1) / 16) AS BIGINT))), ' '), '')
         |    END) AS clean_fp
         |FROM rawtoks t LEFT JOIN dr USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "paragraph_dup_stats" ->
      s"""$paraOracleCtes
         |SELECT source, count(*) AS n_paras,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 9) AS dup_rate
         |FROM pmarked GROUP BY source ORDER BY source""".stripMargin,
    // arrival-order keepers (old slice ranks before the append batch),
    // strip replayed for the NEW documents only
    "paragraph_dedup_incremental" ->
      s"""$paraOracleCtes,
         |amarked AS (
         |  SELECT doc_id, para_idx, fp,
         |    row_number() OVER (PARTITION BY fp
         |      ORDER BY (doc_id % 10 = 9), doc_id, para_idx) AS rn
         |  FROM paras),
         |dri AS (
         |  SELECT doc_id, list(para_idx) AS dropped
         |  FROM amarked WHERE rn > 1 AND doc_id % 10 = 9 GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(ceil(len(t.a) / 16.0) AS BIGINT) AS n_paras,
         |  CAST(coalesce(len(dri.dropped), 0) AS BIGINT) AS n_dropped,
         |  md5(CASE WHEN dri.doc_id IS NULL THEN t.text
         |    ELSE coalesce(array_to_string(list_filter(t.a, (x, i) ->
         |      NOT list_contains(dri.dropped, CAST(floor((i - 1) / 16) AS BIGINT))), ' '), '')
         |    END) AS clean_fp
         |FROM rawtoks t LEFT JOIN dri USING (doc_id)
         |WHERE t.doc_id % 10 = 9
         |ORDER BY t.doc_id""".stripMargin,
    // arrival-order keepers over the DELIMITER cut (old slice ranks
    // before the append batch), strip replayed for the NEW documents only
    "paragraph_dedup_incremental_delim" ->
      s"""$delimParaOracleCtes,
         |admarked AS (
         |  SELECT doc_id, para_idx, fp,
         |    row_number() OVER (PARTITION BY fp
         |      ORDER BY (doc_id % 10 = 9), doc_id, para_idx) AS rn
         |  FROM dparas),
         |drid AS (
         |  SELECT doc_id, list(para_idx) AS dropped
         |  FROM admarked WHERE rn > 1 AND doc_id % 10 = 9 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.ps) AS BIGINT) AS n_paras,
         |  CAST(coalesce(len(drid.dropped), 0) AS BIGINT) AS n_dropped,
         |  md5(CASE WHEN drid.doc_id IS NULL THEN d.text
         |    ELSE coalesce(array_to_string(list_filter(d.ps, (x, i) ->
         |      NOT list_contains(drid.dropped, CAST(i - 1 AS BIGINT))),
         |      chr(10) || chr(10)), '')
         |    END) AS clean_fp
         |FROM dps d LEFT JOIN drid USING (doc_id)
         |WHERE d.doc_id % 10 = 9
         |ORDER BY d.doc_id""".stripMargin,
    // both budget selectors compare against the ONE exact spelling —
    // the bucketed scale path must pick the identical document set
    "token_budget_select" -> tokenBudgetSql,
    "token_budget_select_bucketed" -> tokenBudgetSql,
    "token_budget_select_classifier" -> ClfOracle.budgetSql,
    "token_budget_select_classifier_bucketed" -> ClfOracle.budgetSql,
    "temperature_mix_rates" ->
      s"""$tempMixCtes
         |SELECT source, n_tokens, share, p, rate FROM mix
         |ORDER BY source""".stripMargin,
    "temperature_mix_sample" ->
      s"""$tempMixCtes
         |SELECT d.doc_id, d.source FROM documents d JOIN mix USING (source)
         |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |    / 4294967296.0 < mix.rate
         |ORDER BY d.doc_id""".stripMargin,
    "token_quota_mix_composed" ->
      s"""$tempMixCtes,
         |ntq AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |runq AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |      AS BIGINT) AS running_tokens
         |  FROM ntq)
         |SELECT r.doc_id, r.source, r.n_tokens, r.running_tokens,
         |  mix.p * 15000.0 AS budget_tokens,
         |  CAST(CAST(r.running_tokens AS DOUBLE) <= mix.p * 15000.0 AS BIGINT)
         |    AS admitted
         |FROM runq r JOIN mix USING (source)
         |ORDER BY r.doc_id""".stripMargin,
    "paragraph_dedup_strip_delim" ->
      s"""$delimParaOracleCtes,
         |dr AS (
         |  SELECT doc_id, list(para_idx) AS dropped
         |  FROM dmarked WHERE rn > 1 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.ps) AS BIGINT) AS n_paras,
         |  CAST(coalesce(len(dr.dropped), 0) AS BIGINT) AS n_dropped,
         |  md5(CASE WHEN dr.doc_id IS NULL THEN d.text
         |    ELSE coalesce(array_to_string(list_filter(d.ps, (x, i) ->
         |      NOT list_contains(dr.dropped, CAST(i - 1 AS BIGINT))),
         |      chr(10) || chr(10)), '')
         |    END) AS clean_fp
         |FROM dps d LEFT JOIN dr USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "paragraph_dedup_within_doc" ->
      s"""WITH fps AS (
         |  SELECT doc_id, text,
         |    list_transform(range(0, CAST(ceil(len(regexp_split_to_array(text, '\\s+')) / 2.0) AS BIGINT)),
         |      i -> array_to_string(list_slice(regexp_split_to_array(text, '\\s+'),
         |             i * 2 + 1, i * 2 + 2), ' ')) AS ps
         |  FROM documents)
         |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_paras,
         |  CAST(len(ps) - len(kept) AS BIGINT) AS n_dropped,
         |  md5(CASE WHEN len(kept) = len(ps) THEN text
         |      ELSE array_to_string(kept, ' ') END) AS clean_fp
         |FROM (SELECT doc_id, text, ps,
         |        list_filter(ps, (x, i) -> list_position(ps, x) = i) AS kept
         |      FROM fps) z
         |ORDER BY doc_id""".stripMargin,
    "paragraph_dup_stats_delim" ->
      s"""$delimParaOracleCtes
         |SELECT source, count(*) AS n_paras,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 9) AS dup_rate
         |FROM dmarked GROUP BY source ORDER BY source""".stripMargin,
    "paragraph_decontaminate" ->
      """WITH crt AS (
        |  SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS a
        |  FROM documents WHERE doc_id % 53 <> 0),
        |brt AS (
        |  SELECT regexp_split_to_array(text, '\s+') AS a
        |  FROM documents WHERE doc_id % 53 = 0),
        |bfp AS (
        |  SELECT DISTINCT md5(array_to_string(list_slice(a,
        |    CAST(i * 16 + 1 AS BIGINT),
        |    CAST(least(i * 16 + 16, len(a)) AS BIGINT)), ' ')) AS fp
        |  FROM (SELECT a, unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT))) AS i
        |        FROM brt)),
        |cp AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
        |    md5(array_to_string(list_slice(a, CAST(i * 16 + 1 AS BIGINT),
        |      CAST(least(i * 16 + 16, len(a)) AS BIGINT)), ' ')) AS fp
        |  FROM (SELECT doc_id, a, unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT))) AS i
        |        FROM crt)),
        |dr AS (
        |  SELECT doc_id, list(para_idx) AS dropped
        |  FROM cp JOIN bfp USING (fp) GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(ceil(len(c.a) / 16.0) AS BIGINT) AS n_paras,
        |  CAST(coalesce(len(dr.dropped), 0) AS BIGINT) AS n_dropped,
        |  md5(CASE WHEN dr.doc_id IS NULL THEN c.text
        |    ELSE coalesce(array_to_string(list_filter(c.a, (x, i) ->
        |      NOT list_contains(dr.dropped, CAST(floor((i - 1) / 16) AS BIGINT))), ' '), '')
        |    END) AS clean_fp
        |FROM crt c LEFT JOIN dr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "paragraph_dup_topk" ->
      s"""$paraOracleCtes,
         |occ AS (
         |  SELECT fp, doc_id, para_idx, rn,
         |    count(*) OVER (PARTITION BY fp) AS n
         |  FROM pmarked)
         |SELECT fp, CAST(n AS BIGINT) AS n_occurrences,
         |  doc_id AS first_doc, para_idx AS first_para_idx
         |FROM occ WHERE rn = 1 AND n > 1
         |ORDER BY n_occurrences DESC, fp ASC LIMIT 50""".stripMargin,
    "training_data_manifest" ->
      s"""$manifestOracleCtes
         |SELECT doc_id, source, n_tokens, quality, exact_dup, near_dup,
         |  contaminated, low_quality, kept
         |FROM manifest ORDER BY doc_id""".stripMargin,
    "manifest_incremental" ->
      s"""$manifestIncOracleCtes
         |SELECT doc_id, source, n_tokens, quality, exact_dup, near_dup,
         |  contaminated, low_quality, kept
         |FROM manifesti ORDER BY doc_id""".stripMargin,
    "corpus_report_incremental" ->
      s"""$manifestIncOracleCtes
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(exact_dup) AS BIGINT) AS n_exact_dup,
         |  CAST(sum(near_dup) AS BIGINT) AS n_near_dup,
         |  CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
         |  CAST(sum(low_quality) AS BIGINT) AS n_low_quality,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  round(CAST(sum(CAST(quality AS DECIMAL(28,9))) AS DOUBLE)
         |    / count(*), 9) AS mean_quality
         |FROM (SELECT * FROM manifesto UNION ALL SELECT * FROM manifesti) u
         |GROUP BY source ORDER BY source""".stripMargin,
    "manifest_refresh_impact" ->
      s"""WITH $toksArrCte,
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
         |                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
         |  FROM toksarr WHERE len(a) >= 3),
         |gramso AS (SELECT doc_id, gram FROM grams WHERE (doc_id // 20) % 10 <> 9),
         |gramsb AS (SELECT doc_id, gram FROM grams WHERE (doc_id // 20) % 10 = 9),
         |dfo AS (SELECT gram, count(*) AS old_df FROM gramso GROUP BY 1),
         |dfb AS (SELECT gram, count(*) AS batch_df FROM gramsb GROUP BY 1),
         |nearnew AS (SELECT count(*) AS n FROM dfb LEFT JOIN dfo USING (gram)
         |            WHERE dfo.gram IS NULL),
         |overcap AS (SELECT dfb.gram FROM dfb JOIN dfo USING (gram)
         |            WHERE dfo.old_df <= 64 AND dfo.old_df + dfb.batch_df > 64),
         |nearinv AS (SELECT count(DISTINCT g.doc_id) AS n
         |            FROM gramso g JOIN overcap o ON o.gram = g.gram),
         |fpo AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
         |        FROM documents WHERE (doc_id // 20) % 10 <> 9),
         |fpb AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
         |        FROM documents WHERE (doc_id // 20) % 10 = 9),
         |fpnew AS (SELECT count(*) AS n FROM fpb LEFT JOIN fpo USING (f)
         |          WHERE fpo.f IS NULL),
         |bencho AS (SELECT DISTINCT gram FROM gramso WHERE doc_id % 53 = 0),
         |benchb AS (SELECT DISTINCT gram FROM gramsb WHERE doc_id % 53 = 0),
         |benchnew AS (SELECT count(*) AS n FROM benchb LEFT JOIN bencho USING (gram)
         |             WHERE bencho.gram IS NULL),
         |srco AS (SELECT DISTINCT source FROM documents WHERE (doc_id // 20) % 10 <> 9),
         |srcb AS (SELECT DISTINCT source FROM documents WHERE (doc_id // 20) % 10 = 9),
         |srcnew AS (SELECT count(*) AS n FROM srcb LEFT JOIN srco USING (source)
         |           WHERE srco.source IS NULL)
         |SELECT * FROM (
         |  SELECT 'exact_fps' AS stage, (SELECT n FROM fpnew) AS n_new_entries,
         |    CAST(0 AS BIGINT) AS n_invalidated, CAST(0 AS BIGINT) AS rebuild_due
         |  UNION ALL
         |  SELECT 'near_dup_index', (SELECT n FROM nearnew), (SELECT n FROM nearinv),
         |    CAST(CASE WHEN (SELECT n FROM nearinv) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |  UNION ALL
         |  SELECT 'benchmark_grams', (SELECT n FROM benchnew), CAST(0 AS BIGINT),
         |    CAST(CASE WHEN (SELECT n FROM benchnew) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |  UNION ALL
         |  SELECT 'quality_thresholds', (SELECT n FROM srcnew), CAST(0 AS BIGINT),
         |    CAST(CASE WHEN (SELECT n FROM srcnew) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |) ORDER BY stage""".stripMargin,
    "paragraph_refresh_impact" ->
      """WITH rawtoks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a FROM documents),
        |paras AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
        |    md5(array_to_string(list_slice(a, CAST(i * 16 + 1 AS BIGINT),
        |      CAST(least(i * 16 + 16, len(a)) AS BIGINT)), ' ')) AS fp
        |  FROM (SELECT doc_id, a,
        |          unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT))) AS i
        |        FROM rawtoks)),
        |dps AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+table\s+'), p -> p <> '') AS ps
        |  FROM documents),
        |dparas AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS para_idx, md5(ps[i]) AS fp
        |  FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i FROM dps)),
        |ko AS (SELECT fp, doc_id, para_idx FROM (
        |    SELECT fp, doc_id, para_idx,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
        |    FROM paras WHERE doc_id % 10 <> 9) t WHERE rn = 1),
        |kb AS (SELECT fp, doc_id, para_idx FROM (
        |    SELECT fp, doc_id, para_idx,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
        |    FROM paras WHERE doc_id % 10 = 9) t WHERE rn = 1),
        |fnew AS (SELECT count(*) AS n FROM kb LEFT JOIN ko USING (fp)
        |         WHERE ko.doc_id IS NULL),
        |finv AS (SELECT count(*) AS n FROM ko JOIN kb USING (fp)
        |         WHERE (kb.doc_id, kb.para_idx) < (ko.doc_id, ko.para_idx)),
        |kdo AS (SELECT fp, doc_id, para_idx FROM (
        |    SELECT fp, doc_id, para_idx,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
        |    FROM dparas WHERE doc_id % 10 <> 9) t WHERE rn = 1),
        |kdb AS (SELECT fp, doc_id, para_idx FROM (
        |    SELECT fp, doc_id, para_idx,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) AS rn
        |    FROM dparas WHERE doc_id % 10 = 9) t WHERE rn = 1),
        |dnew AS (SELECT count(*) AS n FROM kdb LEFT JOIN kdo USING (fp)
        |         WHERE kdo.doc_id IS NULL),
        |dinv AS (SELECT count(*) AS n FROM kdo JOIN kdb USING (fp)
        |         WHERE (kdb.doc_id, kdb.para_idx) < (kdo.doc_id, kdo.para_idx))
        |SELECT * FROM (
        |  SELECT 'keepers_delim' AS stage, (SELECT n FROM dnew) AS n_new_entries,
        |    (SELECT n FROM dinv) AS n_invalidated, CAST(0 AS BIGINT) AS rebuild_due
        |  UNION ALL
        |  SELECT 'keepers_fixed', (SELECT n FROM fnew), (SELECT n FROM finv),
        |    CAST(0 AS BIGINT)
        |) ORDER BY stage""".stripMargin,
    "exact_substr_refresh_impact" ->
      s"""WITH $toksArrCte,
         |w12 AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+11], ' ') AS gram
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 10)) AS pos
         |        FROM toksarr WHERE len(a) >= 12) u),
         |m12 AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_pos
         |  FROM w12),
         |a12 AS (SELECT * FROM m12 WHERE occ >= 2),
         |om12 AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_pos
         |  FROM w12 WHERE doc_id % 10 <> 9),
         |o12 AS (SELECT * FROM om12 WHERE occ >= 2),
         |n12 AS (SELECT count(*) AS n FROM a12 LEFT JOIN o12 USING (doc_id, pos)
         |        WHERE o12.occ IS NULL),
         |i12 AS (SELECT count(*) AS n FROM o12 JOIN a12 USING (doc_id, pos)
         |        WHERE a12.occ <> o12.occ OR a12.canon_doc <> o12.canon_doc
         |           OR a12.canon_pos <> o12.canon_pos),
         |w24 AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(a[pos:pos+23], ' ') AS gram
         |  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 22)) AS pos
         |        FROM toksarr WHERE len(a) >= 24) u),
         |m24 AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_pos
         |  FROM w24),
         |a24 AS (SELECT * FROM m24 WHERE occ >= 2),
         |om24 AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS occ,
         |    first_value(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_doc,
         |    first_value(pos) OVER (PARTITION BY gram ORDER BY doc_id, pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canon_pos
         |  FROM w24 WHERE doc_id % 10 <> 9),
         |o24 AS (SELECT * FROM om24 WHERE occ >= 2),
         |n24 AS (SELECT count(*) AS n FROM a24 LEFT JOIN o24 USING (doc_id, pos)
         |        WHERE o24.occ IS NULL),
         |i24 AS (SELECT count(*) AS n FROM o24 JOIN a24 USING (doc_id, pos)
         |        WHERE a24.occ <> o24.occ OR a24.canon_doc <> o24.canon_doc
         |           OR a24.canon_pos <> o24.canon_pos)
         |SELECT * FROM (
         |  SELECT 'base_index' AS stage, (SELECT n FROM n12) AS n_new_entries,
         |    (SELECT n FROM i12) AS n_invalidated, CAST(0 AS BIGINT) AS rebuild_due
         |  UNION ALL
         |  SELECT 'cascade_l24', (SELECT n FROM n24), (SELECT n FROM i24),
         |    CAST(0 AS BIGINT)
         |) ORDER BY stage""".stripMargin,
    "bm25_refresh_impact" ->
      s"""WITH $toksArrCte,
         |tc AS (SELECT doc_id, t AS term, count(*) AS cnt
         |       FROM (SELECT doc_id, unnest(a) AS t FROM toksarr) u
         |       GROUP BY 1, 2),
         |pnew AS (SELECT count(*) AS n FROM tc WHERE doc_id % 10 = 9),
         |bterms AS (SELECT DISTINCT term FROM tc WHERE doc_id % 10 = 9),
         |pinv AS (SELECT count(*) AS n FROM tc JOIN bterms USING (term)
         |         WHERE tc.doc_id % 10 <> 9),
         |bdocs AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 = 9)
         |SELECT * FROM (
         |  SELECT 'collection_stats' AS stage,
         |    (SELECT n FROM bdocs) AS n_new_entries,
         |    CAST(CASE WHEN (SELECT n FROM bdocs) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |      AS n_invalidated,
         |    CAST(CASE WHEN (SELECT n FROM bdocs) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |      AS rebuild_due
         |  UNION ALL
         |  SELECT 'served_postings', (SELECT n FROM pnew), (SELECT n FROM pinv),
         |    CAST(CASE WHEN (SELECT n FROM pinv) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |) ORDER BY stage""".stripMargin,
    "ann_refresh_impact" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)),
        |norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1),
        |exo AS (SELECT * FROM ex WHERE vec_id % 10 <> 9),
        |cents AS (
        |  SELECT vec_id AS c_id FROM embeddings WHERE vec_id % 10 <> 9
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |cx0 AS (
        |  SELECT c.c_id, e.i, e.x, n.nrm AS cnorm
        |  FROM cents c JOIN exo e ON e.vec_id = c.c_id JOIN norms n ON n.vec_id = c.c_id),
        |sims0 AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM exo a JOIN cx0 c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm),
        |assign0 AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims0) t WHERE rn = 1),
        |means AS (
        |  SELECT a0.c_id, e.i,
        |    round(CAST(sum(CAST(e.x AS DECIMAL(38,20))) AS DOUBLE) / count(*), 9) AS m
        |  FROM assign0 a0 JOIN exo e ON e.vec_id = a0.vec_id
        |  GROUP BY a0.c_id, e.i),
        |cnorms AS (
        |  SELECT c_id, sqrt(CAST(sum(CAST(m * m AS DECIMAL(38,20))) AS DOUBLE)) AS cnorm
        |  FROM means GROUP BY c_id),
        |cx AS (SELECT means.c_id, i, m AS x, cnorm FROM means JOIN cnorms USING (c_id)),
        |simso AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM exo a JOIN cx c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm),
        |assignedo AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM simso) t WHERE rn = 1),
        |sizes AS (SELECT c_id, count(*) AS n_vecs FROM assignedo GROUP BY 1),
        |cap AS (SELECT CAST(ceil(avg(n_vecs) * 2) AS BIGINT) AS cap FROM sizes),
        |exb AS (SELECT * FROM ex WHERE vec_id % 10 = 9),
        |simsb AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM exb a JOIN cx c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm),
        |assignedb AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM simsb) t WHERE rn = 1),
        |bsizes AS (SELECT c_id, count(*) AS n_b FROM assignedb GROUP BY 1),
        |ninv AS (SELECT count(*) AS n FROM (
        |    SELECT coalesce(s.n_vecs, 0) + coalesce(b.n_b, 0) AS tot
        |    FROM sizes s FULL JOIN bsizes b ON b.c_id = s.c_id) m
        |  WHERE tot > (SELECT cap FROM cap)),
        |nbatch AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 10 = 9)
        |SELECT * FROM (
        |  SELECT 'cell_assignments' AS stage, (SELECT n FROM nbatch) AS n_new_entries,
        |    CAST(0 AS BIGINT) AS n_invalidated, CAST(0 AS BIGINT) AS rebuild_due
        |  UNION ALL
        |  SELECT 'centroids', CAST(0 AS BIGINT), (SELECT n FROM ninv),
        |    CAST(CASE WHEN (SELECT n FROM ninv) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |) ORDER BY stage""".stripMargin,
    "corpus_report" ->
      s"""$manifestOracleCtes
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(exact_dup) AS BIGINT) AS n_exact_dup,
         |  CAST(sum(near_dup) AS BIGINT) AS n_near_dup,
         |  CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
         |  CAST(sum(low_quality) AS BIGINT) AS n_low_quality,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  round(CAST(sum(CAST(quality AS DECIMAL(28,9))) AS DOUBLE)
         |    / count(*), 9) AS mean_quality
         |FROM manifest GROUP BY source ORDER BY source""".stripMargin,
    "contrast_source_profile" ->
      s"""$pplContrastCtes
         |SELECT d.source, count(*) AS n_scored,
         |  round(CAST(sum(CAST(ctr.domain_delta AS DECIMAL(28,9))) AS DOUBLE)
         |    / count(*), 9) AS mean_delta,
         |  CAST(sum(CASE WHEN ctr.domain_delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_positive
         |FROM ctr JOIN documents d ON d.doc_id = ctr.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "manifest_quality_calibration" ->
      s"""$manifestOracleCtes
         |SELECT CAST(least(floor(quality * 50), 49) AS BIGINT) AS bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(exact_dup) AS BIGINT) AS n_exact_dup,
         |  CAST(sum(near_dup) AS BIGINT) AS n_near_dup,
         |  CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
         |  CAST(sum(low_quality) AS BIGINT) AS n_low_quality,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  round(CAST(sum(kept) AS DOUBLE) / count(*), 9) AS kept_rate
         |FROM manifest GROUP BY 1 ORDER BY bucket""".stripMargin,
    "events_interval_join_batch" ->
      """SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id,
        |  epoch_us(e.ts) - epoch_us(p.ts) AS delta_us
        |FROM events p JOIN events e ON e.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND e.event_type = 'error'
        |  AND e.ts >= p.ts - INTERVAL 10 MINUTE
        |  AND e.ts <= p.ts + INTERVAL 10 MINUTE
        |ORDER BY p_id, e_id""".stripMargin,
    "shingle_distinct_counts" ->
      """WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS canon
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(list_distinct(
        |  list_transform(range(1, greatest(len(canon) - 3, 1)),
        |                 i -> substr(canon, CAST(i AS INTEGER), 5)))) AS BIGINT) AS n_shingles
        |FROM c WHERE len(canon) >= 5
        |ORDER BY doc_id""".stripMargin,
    "hard_negatives" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |dots AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
        |    CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |  GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, la.label AS q_label, dots.vec_id AS vec_id, lb.label AS label,
        |    round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots
        |  JOIN norms na ON na.vec_id = q_id
        |  JOIN norms nb ON nb.vec_id = dots.vec_id
        |  JOIN lab la ON la.vec_id = q_id
        |  JOIN lab lb ON lb.vec_id = dots.vec_id
        |  WHERE la.label <> lb.label
        |), ranked AS (
        |  SELECT q_id, q_label,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
        |    vec_id, label, cos
        |  FROM cosd
        |)
        |SELECT q_id, q_label, rnk, vec_id, label, cos FROM ranked WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,
    "knn_label_accuracy" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |dots AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
        |    CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |  GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, dots.vec_id AS vec_id, round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = dots.vec_id
        |), ranked AS (
        |  SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
        |    vec_id
        |  FROM cosd
        |), votes AS (
        |  SELECT q_id, l.label AS n_label, count(*) AS n_votes
        |  FROM ranked JOIN lab l ON l.vec_id = ranked.vec_id
        |  WHERE rnk <= 10 GROUP BY 1, 2
        |), pred AS (
        |  SELECT q_id, n_label AS pred_label, n_votes,
        |    row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label ASC) AS vr
        |  FROM votes
        |)
        |SELECT p.q_id, lq.label AS true_label, pred_label, n_votes,
        |  CAST(pred_label = lq.label AS INT) AS correct
        |FROM pred p JOIN lab lq ON lq.vec_id = p.q_id
        |WHERE vr = 1
        |ORDER BY q_id""".stripMargin,
    "knn_cosine_top10" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
        |    CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |  GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, dots.vec_id AS vec_id, round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = dots.vec_id
        |), ranked AS (
        |  SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
        |    vec_id, cos
        |  FROM cosd
        |)
        |SELECT q_id, rnk, vec_id, cos FROM ranked WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,
    // the full inverted-file search, engine-portably seeded: md5-ordered
    // centroid sample → rounded-cosine argmax assignment → top-nprobe
    // probes → exact cosine rank within probed lists. Every ranking
    // compares round(·,6) values with explicit id tiebreaks, so the chain
    // is deterministic in both engines.
    "ivf_cosine_top10" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), cents AS (
        |  SELECT vec_id AS c_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
        |), cx AS (
        |  SELECT c.c_id, e.i, e.x, n.nrm AS cnorm
        |  FROM cents c JOIN ex e ON e.vec_id = c.c_id JOIN norms n ON n.vec_id = c.c_id
        |), sims AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM ex a JOIN cx c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm
        |), assigned AS (
        |  SELECT vec_id, c_id AS list_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims) t WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS q_id, c_id AS list_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)) t WHERE rn <= 4
        |), cand AS (
        |  SELECT DISTINCT p.q_id, a.vec_id
        |  FROM probes p JOIN assigned a ON a.list_id = p.list_id
        |  WHERE a.vec_id <> p.q_id
        |), dots AS (
        |  SELECT c.q_id, c.vec_id,
        |    CAST(sum(CAST(qa.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM cand c
        |  JOIN ex qa ON qa.vec_id = c.q_id
        |  JOIN ex b ON b.vec_id = c.vec_id AND b.i = qa.i
        |  GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, dots.vec_id AS vec_id, round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = dots.vec_id
        |), ranked AS (
        |  SELECT q_id,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank,
        |    vec_id, cos
        |  FROM cosd
        |)
        |SELECT q_id, "rank", vec_id, cos FROM ranked WHERE "rank" <= 10
        |ORDER BY q_id, "rank"""".stripMargin,
    "pq_codes_portable" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), sv AS (
        |  SELECT vec_id, CAST((i - 1) // 8 AS BIGINT) AS sub,
        |    (i - 1) % 8 AS j, x
        |  FROM ex
        |), init AS (
        |  SELECT sub, vec_id,
        |    row_number() OVER (PARTITION BY sub
        |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' || CAST(sub AS VARCHAR)), vec_id)
        |      AS rn
        |  FROM (SELECT DISTINCT vec_id, sub FROM sv) u
        |), cbsel AS (
        |  SELECT sub, vec_id AS cb_vec, CAST(rn - 1 AS BIGINT) AS code
        |  FROM init WHERE rn <= 16
        |), cb AS (
        |  SELECT c.sub, c.code, s.j, s.x AS cx
        |  FROM cbsel c JOIN sv s ON s.vec_id = c.cb_vec AND s.sub = c.sub
        |), d2 AS (
        |  SELECT v.vec_id, v.sub, c.code,
        |    round(CAST(sum(CAST((v.x - c.cx) * (v.x - c.cx) AS DECIMAL(38,20))) AS DOUBLE), 6)
        |      AS dd
        |  FROM sv v JOIN cb c ON c.sub = v.sub AND c.j = v.j
        |  GROUP BY v.vec_id, v.sub, c.code
        |)
        |SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd ASC, code ASC) AS rn
        |  FROM d2) t
        |WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin,
    "ivf_lloyd_top10" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), cents AS (
        |  SELECT vec_id AS c_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
        |), cx0 AS (
        |  SELECT c.c_id, e.i, e.x, n.nrm AS cnorm
        |  FROM cents c JOIN ex e ON e.vec_id = c.c_id JOIN norms n ON n.vec_id = c.c_id
        |), sims0 AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM ex a JOIN cx0 c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm
        |), assign0 AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims0) t WHERE rn = 1
        |), means AS (
        |  SELECT a0.c_id, e.i,
        |    round(CAST(sum(CAST(e.x AS DECIMAL(38,20))) AS DOUBLE) / count(*), 9) AS m
        |  FROM assign0 a0 JOIN ex e ON e.vec_id = a0.vec_id
        |  GROUP BY a0.c_id, e.i
        |), cnorms AS (
        |  SELECT c_id, sqrt(CAST(sum(CAST(m * m AS DECIMAL(38,20))) AS DOUBLE)) AS cnorm
        |  FROM means GROUP BY c_id
        |), cx AS (
        |  SELECT means.c_id, i, m AS x, cnorm FROM means JOIN cnorms USING (c_id)
        |), sims AS (
        |  SELECT a.vec_id, c.c_id,
        |    round(CAST(sum(CAST(a.x * c.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (an.nrm * any_value(c.cnorm)), 6) AS c_sim
        |  FROM ex a JOIN cx c ON a.i = c.i JOIN norms an ON an.vec_id = a.vec_id
        |  GROUP BY a.vec_id, c.c_id, an.nrm
        |), assigned AS (
        |  SELECT vec_id, c_id AS list_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims) t WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS q_id, c_id AS list_id FROM (
        |    SELECT vec_id, c_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn
        |    FROM sims WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)) t WHERE rn <= 4
        |), cand AS (
        |  SELECT DISTINCT p.q_id, a.vec_id
        |  FROM probes p JOIN assigned a ON a.list_id = p.list_id
        |  WHERE a.vec_id <> p.q_id
        |), dots AS (
        |  SELECT c.q_id, c.vec_id,
        |    CAST(sum(CAST(qa.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM cand c
        |  JOIN ex qa ON qa.vec_id = c.q_id
        |  JOIN ex b ON b.vec_id = c.vec_id AND b.i = qa.i
        |  GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, dots.vec_id AS vec_id, round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = dots.vec_id
        |), ranked AS (
        |  SELECT q_id,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank,
        |    vec_id, cos
        |  FROM cosd
        |)
        |SELECT q_id, "rank", vec_id, cos FROM ranked WHERE "rank" <= 10
        |ORDER BY q_id, "rank"""".stripMargin,
    "events_key_skew" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows, count(*) AS n_keys,
        |             max(n_rows) AS max_rows FROM c)
        |SELECT key, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / total_rows, 9) AS share,
        |  round(CAST(max_rows AS DOUBLE) / (CAST(total_rows AS DOUBLE) / n_keys), 9)
        |    AS skew_ratio
        |FROM c CROSS JOIN t
        |ORDER BY n_rows DESC, key ASC
        |LIMIT 20""".stripMargin,
    "lsh_plan" ->
      """WITH b AS (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS bands),
        |bd AS (SELECT bands, CAST(64 // bands AS BIGINT) AS rows_per_band
        |       FROM b WHERE 64 % bands = 0),
        |g AS (SELECT CAST(unnest(range(1, 20)) AS DOUBLE) / 20 AS jaccard)
        |SELECT bands, rows_per_band, round(jaccard, 9) AS jaccard,
        |  round(1.0 - pow(1.0 - pow(jaccard, rows_per_band), bands), 9) AS p_collide,
        |  round(pow(1.0 / bands, 1.0 / rows_per_band), 9) AS threshold
        |FROM bd CROSS JOIN g
        |ORDER BY bands, jaccard""".stripMargin,
    "semantic_dedup" ->
      s"""WITH $semAssignCte, pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM assigned a JOIN assigned b ON a.list_id = b.list_id
        |  WHERE a.c_sim > b.c_sim OR (a.c_sim = b.c_sim AND a.vec_id < b.vec_id)
        |), pc AS (
        |  SELECT p.a_id, p.b_id,
        |    round(CAST(sum(CAST(xa.x * xb.x AS DECIMAL(38,20))) AS DOUBLE)
        |      / (na.nrm * nb.nrm), 6) AS cos
        |  FROM pairs p
        |  JOIN ex xa ON xa.vec_id = p.a_id
        |  JOIN ex xb ON xb.vec_id = p.b_id AND xb.i = xa.i
        |  JOIN norms na ON na.vec_id = p.a_id
        |  JOIN norms nb ON nb.vec_id = p.b_id
        |  GROUP BY p.a_id, p.b_id, na.nrm, nb.nrm
        |), dropped AS (SELECT DISTINCT b_id AS vec_id FROM pc WHERE cos >= 0.4)
        |SELECT a.vec_id, a.list_id, a.c_sim,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM assigned a LEFT JOIN dropped d USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    "embedding_stats" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms0 AS (
        |  SELECT vec_id,
        |    round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)), 9) AS norm
        |  FROM ex GROUP BY 1
        |), base AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |    CAST(len(list_filter(embedding, x -> x IS NULL)) AS BIGINT) AS n_nulls
        |  FROM embeddings)
        |SELECT count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN norm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unscorable,
        |  min(dim) AS dim_min, max(dim) AS dim_max,
        |  CAST(coalesce(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_zero_norm,
        |  CAST(coalesce(sum(n_nulls), 0) AS BIGINT) AS n_null_entries,
        |  round(min(norm), 9) AS norm_min,
        |  round(max(norm), 9) AS norm_max,
        |  CASE WHEN count(norm) > 0
        |    THEN round(CAST(sum(CAST(norm AS DECIMAL(28,9))) AS DOUBLE) / count(norm), 9)
        |    END AS norm_avg
        |FROM base LEFT JOIN norms0 USING (vec_id)""".stripMargin,
    "embedding_rp_components" ->
      """WITH signs AS (
        |  SELECT k, j,
        |    CASE WHEN CAST(('0x' || substr(md5(j || ',' || k), 1, 8)) AS BIGINT) % 2 = 0
        |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
        |  FROM range(32) t(k), range(64) u(j)
        |)
        |SELECT e.vec_id, k,
        |  round(CAST(sum(CAST(round(CAST(e.embedding[s.j + 1] AS DOUBLE) * s.s, 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) / sqrt(CAST(32 AS DOUBLE)), 9) AS comp
        |FROM embeddings e, signs s
        |GROUP BY e.vec_id, k
        |ORDER BY vec_id, k""".stripMargin,
    "cluster_balanced_sample" ->
      s"""WITH $semAssignCte
         |SELECT vec_id, list_id, c_sim,
         |  CAST(row_number() OVER (PARTITION BY list_id
         |    ORDER BY c_sim DESC, vec_id ASC) AS BIGINT) AS cluster_rank,
         |  CAST(CASE WHEN row_number() OVER (PARTITION BY list_id
         |    ORDER BY c_sim DESC, vec_id ASC) <= 16 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM assigned
         |ORDER BY vec_id""".stripMargin,
    "decontaminate_semantic" ->
      s"""WITH $embExCte, sims AS (
         |  SELECT a.vec_id, b.vec_id AS b_id,
         |    round(CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE)
         |      / (na.nrm * nb.nrm), 6) AS cos
         |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id % 53 = 0 AND b.vec_id < 5000
         |    AND (a.vec_id % 53 <> 0 OR a.vec_id >= 5000)
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  JOIN norms nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
         |), best AS (
         |  SELECT vec_id, b_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, b_id ASC) AS rn,
         |    max(cos) OVER (PARTITION BY vec_id) AS max_cos
         |  FROM sims
         |)
         |SELECT vec_id, b_id AS nearest_bench, max_cos,
         |  CAST(CASE WHEN max_cos >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM best WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "self_retrieval_ranks" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT CAST(CAST(sum(doc_total) AS BIGINT) AS DOUBLE) FROM dt) /
         |    (SELECT count(*) FROM documents) AS avgdl),
         |tfidf_scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n),
         |probes AS (
         |  SELECT DISTINCT doc_id AS q_doc FROM tc WHERE doc_id % 10 = 0
         |  ORDER BY q_doc LIMIT 500),
         |kws AS (
         |  SELECT doc_id AS q_doc, term FROM (
         |    SELECT doc_id, term,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
         |    FROM tfidf_scored) r
         |  WHERE rnk <= 3 AND doc_id IN (SELECT q_doc FROM probes)),
         |bm AS (
         |  SELECT tc.term, tc.doc_id,
         |    round(round(ln((CAST(n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 9)
         |      * (tc.cnt * (1.2 + 1.0))
         |      / (tc.cnt + 1.2 * (1.0 - 0.75 + 0.75 * dt.doc_total / avgdl)), 9) AS score
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN consts),
         |cand AS (
         |  SELECT kws.q_doc, bm.doc_id,
         |    round(CAST(sum(CAST(bm.score AS DECIMAL(28,14))) AS DOUBLE), 9) AS score
         |  FROM kws JOIN bm USING (term)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q_doc, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY q_doc ORDER BY score DESC, doc_id ASC) AS BIGINT)
         |      AS self_rank
         |  FROM cand)
         |SELECT q_doc, self_rank, round(1.0 / self_rank, 9) AS rr, score AS self_score
         |FROM ranked WHERE q_doc = doc_id
         |ORDER BY q_doc""".stripMargin,
    "token_entropy" ->
      s"""WITH $toksCte,
         |ent AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
         |    sum(CAST(round(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)), 9)
         |      AS DECIMAL(28,9))) AS clnc
         |  FROM tc GROUP BY 1),
         |e2 AS (
         |  SELECT doc_id, n_tokens, n_distinct,
         |    round(ln(CAST(n_tokens AS DOUBLE))
         |      - CAST(clnc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS entropy
         |  FROM ent)
         |SELECT doc_id, n_tokens, n_distinct, entropy,
         |  CASE WHEN n_distinct > 1
         |    THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 9)
         |    ELSE 0.0 END AS norm_entropy
         |FROM e2 ORDER BY doc_id""".stripMargin,
    "embedding_int8_stats" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), sc AS (SELECT vec_id, max(abs(x)) AS scale FROM ex GROUP BY 1),
        |qq AS (
        |  SELECT e.vec_id, x, scale,
        |    CAST(CASE WHEN scale > 0 THEN floor(x * 127.0 / scale + 0.5)
        |      ELSE 0.0 END AS BIGINT) AS q
        |  FROM ex e JOIN sc ON sc.vec_id = e.vec_id),
        |er AS (
        |  SELECT vec_id, scale, q,
        |    abs(x - CASE WHEN scale > 0 THEN q * scale / 127.0 ELSE 0.0 END) AS err
        |  FROM qq)
        |SELECT vec_id, round(max(scale), 9) AS scale,
        |  min(q) AS q_min, max(q) AS q_max,
        |  round(max(err), 9) AS max_abs_err,
        |  round(CAST(sum(CAST(round(err * err, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 9) AS mse
        |FROM er GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // the streaming encoder's SQL-expressible column: exact vector norms.
    // Spark sums squares index-ordered in the JVM loop; the oracle sums
    // exactly via DECIMAL — both round(·, 6), per the float-parity rules.
    "stream_encode_norms" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
        |)
        |SELECT vec_id, round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)), 6) AS norm
        |FROM ex GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "retrieve_docs_for_query" ->
      """WITH ex AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), norms AS (
        |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
        |  FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
        |    CAST(sum(CAST(a.x * b.x AS DECIMAL(38,20))) AS DOUBLE) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id = 0 GROUP BY 1, 2
        |), cosd AS (
        |  SELECT q_id, dots.vec_id AS vec_id, round(d / (na.nrm * nb.nrm), 6) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = dots.vec_id
        |), ranked AS (
        |  SELECT q_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
        |    vec_id, cos FROM cosd
        |)
        |SELECT r.q_id, r.rnk, r.vec_id, r.cos, d.lang, d.source
        |FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
        |WHERE r.rnk <= 10 ORDER BY r.rnk""".stripMargin,
    "tfidf_search" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9)
         |      AS tfidf_r
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n)
         |SELECT doc_id, count(*) AS n_hits,
         |  round(CAST(sum(CAST(tfidf_r AS DECIMAL(28,14))) AS DOUBLE), 9) AS score
         |FROM scored WHERE term IN ('table', 'query', 'spark')
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "documents_stratified_sample" ->
      """SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < 858993459
        |GROUP BY source ORDER BY source""".stripMargin,
    // thresholds = round(fraction * 2^32): 0.4 → 1717986918, 0.2 → 858993459,
    // 0.05 → 214748365 — same rounding as the Scala side
    "documents_weighted_sample" ->
      """SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1717986918
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 858993459
        |       ELSE 214748365 END
        |GROUP BY source ORDER BY source""".stripMargin,
    "chunk_documents" ->
      s"""WITH $toksArrCte,
         |c AS (SELECT doc_id, a, len(a) AS n FROM toksarr WHERE len(a) > 0),
         |ch0 AS (
         |  SELECT doc_id, a, n,
         |    unnest(range(0, greatest(1, CAST(ceil((n - 16) / 48.0) AS BIGINT)))) AS i
         |  FROM c),
         |ch AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(n AS BIGINT) AS doc_tokens,
         |    list_slice(a, CAST(i * 48 + 1 AS BIGINT), CAST(least(i * 48 + 64, n) AS BIGINT)) AS chunk
         |  FROM ch0)
         |SELECT doc_id, chunk_idx, doc_tokens,
         |  CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "documents_epoch_shuffle" ->
      """SELECT doc_id, md5(doc_id || ':1') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    "tfidf_full" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tc.term, tc.doc_id, tc.cnt, dt.doc_total, dfq.df,
         |  round(CAST(tc.cnt AS DOUBLE) / dt.doc_total, 9) AS tf,
         |  round(ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS idf,
         |  round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
         |FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |ORDER BY tfidf DESC, term ASC, doc_id ASC""".stripMargin,
    "keywords_per_doc" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, rnk, term, tfidf FROM ranked WHERE rnk <= 5
         |ORDER BY doc_id, rnk""".stripMargin,
    "tfidf_more_like_this" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf_r
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |),
         |norms AS (
         |  SELECT doc_id, sqrt(CAST(sum(CAST(tfidf_r * tfidf_r AS DECIMAL(28,14))) AS DOUBLE)) AS l2
         |  FROM scored GROUP BY doc_id
         |),
         |unit AS (
         |  SELECT s.term, s.doc_id, round(s.tfidf_r / nm.l2, 9) AS w
         |  FROM scored s JOIN norms nm USING (doc_id)
         |)
         |SELECT u.doc_id, count(*) AS n_shared_terms,
         |  round(CAST(sum(CAST(u.w * q.w AS DECIMAL(28,14))) AS DOUBLE), 9) AS cos
         |FROM unit u JOIN (SELECT term, w FROM unit WHERE doc_id = 0) q USING (term)
         |WHERE u.doc_id <> 0
         |GROUP BY u.doc_id ORDER BY cos DESC, u.doc_id LIMIT 10""".stripMargin,
    // constants (1.2, 0.75) and parenthesization mirror the Scala side
    // exactly so both engines run the same IEEE operation sequence
    "bm25_full" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT CAST(CAST(sum(doc_total) AS BIGINT) AS DOUBLE) FROM dt) /
         |    (SELECT count(*) FROM documents) AS avgdl)
         |SELECT tc.term, tc.doc_id, tc.cnt, dt.doc_total, dfq.df,
         |  round(ln((CAST(n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 9) AS idf_bm25,
         |  round(round(ln((CAST(n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 9)
         |    * (tc.cnt * (1.2 + 1.0))
         |    / (tc.cnt + 1.2 * (1.0 - 0.75 + 0.75 * dt.doc_total / avgdl)), 9) AS score
         |FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN consts
         |ORDER BY score DESC, term ASC, doc_id ASC""".stripMargin,
    "bm25_search" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT CAST(CAST(sum(doc_total) AS BIGINT) AS DOUBLE) FROM dt) /
         |    (SELECT count(*) FROM documents) AS avgdl),
         |scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round(round(ln((CAST(n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 9)
         |      * (tc.cnt * (1.2 + 1.0))
         |      / (tc.cnt + 1.2 * (1.0 - 0.75 + 0.75 * dt.doc_total / avgdl)), 9) AS score
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN consts)
         |SELECT doc_id, count(*) AS n_hits,
         |  round(CAST(sum(CAST(score AS DECIMAL(28,14))) AS DOUBLE), 9) AS score
         |FROM scored WHERE term IN ('table', 'query', 'spark')
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "tfidf_l2_normalized" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tc.term, tc.doc_id,
         |    round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf_r
         |  FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |),
         |norms AS (
         |  SELECT doc_id, sqrt(CAST(sum(CAST(tfidf_r * tfidf_r AS DECIMAL(28,14))) AS DOUBLE)) AS l2
         |  FROM scored GROUP BY doc_id
         |)
         |SELECT s.term, s.doc_id, s.tfidf_r, round(s.tfidf_r / nm.l2, 9) AS unit_weight
         |FROM scored s JOIN norms nm USING (doc_id)
         |ORDER BY s.doc_id, s.term""".stripMargin,
    "tfidf_smooth_top100" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tc.term, tc.doc_id,
         |  round((CAST(tc.cnt AS DOUBLE) / dt.doc_total)
         |        * (ln((1.0 + n.n_docs) / (dfq.df + 1.0)) + 1.0), 9) AS tfidf
         |FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |ORDER BY tfidf DESC, term ASC, doc_id ASC
         |LIMIT 100""".stripMargin,
    "tfidf_sql_top100" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tc.term, tc.doc_id,
         |  round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
         |FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |ORDER BY tfidf DESC, term ASC, doc_id ASC
         |LIMIT 100""".stripMargin,
    "tfidf_top100" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc GROUP BY 1),
         |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tc.term, tc.doc_id,
         |  round((CAST(tc.cnt AS DOUBLE) / dt.doc_total) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
         |FROM tc JOIN dt USING (doc_id) JOIN dfq USING (term) CROSS JOIN n
         |ORDER BY tfidf DESC, term ASC, doc_id ASC
         |LIMIT 100""".stripMargin,
    "term_counts" ->
      s"WITH $toksCte\nSELECT term, doc_id, cnt FROM tc ORDER BY term, doc_id",
    "bigram_pmi" ->
      s"""WITH $toksArrCte,
         |bg AS (
         |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
         |  FROM (SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS g
         |        FROM toksarr WHERE len(a) >= 2) u
         |), bgc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |uni AS (SELECT t AS term, count(*) AS n_t
         |        FROM (SELECT unnest(a) AS t FROM toksarr) v GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_t) AS DOUBLE) AS t_total FROM uni),
         |bt AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS b_total FROM bgc)
         |SELECT w1, w2, n_ab, ua.n_t AS n_a, ub.n_t AS n_b,
         |  round(ln((CAST(n_ab AS DOUBLE) / b_total)
         |        / ((CAST(ua.n_t AS DOUBLE) / t_total) * (CAST(ub.n_t AS DOUBLE) / t_total))), 9) AS pmi
         |FROM bgc
         |JOIN uni ua ON ua.term = w1
         |JOIN uni ub ON ub.term = w2
         |CROSS JOIN tt CROSS JOIN bt
         |WHERE n_ab >= 5
         |ORDER BY n_ab DESC, w1 ASC, w2 ASC
         |LIMIT 100""".stripMargin,
    "lm_doc_scores" ->
      s"""WITH $lmDocCte
         |SELECT doc_id, n_transitions, avg_logprob FROM lm
         |ORDER BY doc_id""".stripMargin,
    "lm_doc_scores_kn" ->
      s"""WITH $lmKnDocCte
         |SELECT doc_id, n_transitions, avg_logprob FROM lmkn
         |ORDER BY doc_id""".stripMargin,
    "lm_doc_scores_kn3" ->
      s"""WITH $lmKn3DocCte
         |SELECT doc_id, n_transitions, avg_logprob FROM lmkn3
         |ORDER BY doc_id""".stripMargin,
    "perplexity_contrast_kn3" ->
      s"""$pplContrastCtes
         |SELECT doc_id, n_transitions, logprob_in, logprob_gen, domain_delta
         |FROM ctr ORDER BY doc_id""".stripMargin,
    "perplexity_contrast_top64" ->
      s"""$pplContrastCtes
         |SELECT doc_id, n_transitions, logprob_in, logprob_gen, domain_delta
         |FROM ctr ORDER BY domain_delta DESC, doc_id ASC LIMIT 64""".stripMargin,
    "perplexity_contrast_incremental" -> pplContrastIncrementalSql,
    "streams_contrast_admit_batch" -> contrastAdmitSql,
    // count merges reproduce the full recount over old ∪ new
    "trigram_counts_merge" ->
      s"""WITH $tgCte
         |SELECT w1, w2, w3, count(*) AS n_abc FROM tg
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "bigram_counts_merge" ->
      s"""WITH $toksArrCte,
         |bgm AS (
         |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(a)),
         |                i -> a[i] || ' ' || a[i+1])) AS g
         |        FROM toksarr WHERE len(a) >= 2) u)
         |SELECT w1, w2, count(*) AS n_ab FROM bgm
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // enrichment over merged counts == enrichment over the full recount:
    // one row per trigram type with every serving statistic inline
    // audit-shard bound pinned IN the oracle (not implied by fixture
    // size): both sides restrict to doc_id < rebuildAuditMaxDoc, so the
    // gate stays meaningful on fixtures larger than the shard
    "kn3_model_rebuild" ->
      s"""WITH $toksArrCte,
         |toksaud AS (SELECT * FROM toksarr WHERE doc_id < $rebuildAuditMaxDoc),
         |${lmKn3DocCteSrc("toksaud")},
         |vq AS (SELECT count(DISTINCT tkn) AS v_size
         |       FROM (SELECT unnest(a) AS tkn FROM toksaud) z)
         |SELECT tc3.w1, tc3.w2, tc3.w3, tc3.n_abc, cx3.c12, cx3.n1p_fwd12,
         |  ct2.cont23, md.mid_ctx, md.n1p_mid, ct1.cont3, ct1.n_ct, vq.v_size
         |FROM tc3 JOIN cx3 USING (w1, w2) JOIN ct2 USING (w2, w3)
         |  JOIN md USING (w2) JOIN ct1 USING (w3) CROSS JOIN vq
         |ORDER BY w1, w2, w3""".stripMargin,
    "kn2_model_rebuild" ->
      s"""WITH $toksArrCte,
         |toksaud AS (SELECT * FROM toksarr WHERE doc_id < $rebuildAuditMaxDoc),
         |${lmKnDocCteSrc("toksaud")}
         |SELECT pc.w1, pc.w2, pc.n_ab, cc.n_ctx, cc.n1p_fwd, rc.n1p_rev,
         |  nt.n_types
         |FROM pc JOIN cc USING (w1) JOIN rc USING (w2) CROSS JOIN nt
         |ORDER BY w1, w2""".stripMargin,
    "contrast_refresh_impact" ->
      s"""WITH $tgCte,
         |told AS (SELECT DISTINCT w1, w2, w3 FROM tg WHERE doc_id % 10 <> 9),
         |tbat AS (SELECT DISTINCT w1, w2, w3 FROM tg WHERE doc_id % 10 = 9)
         |SELECT
         |  count(CASE WHEN o.w1 IS NULL THEN 1 END) AS n_new_types,
         |  count(CASE WHEN o.w1 IS NOT NULL THEN 1 END) AS n_grown_types
         |FROM tbat b LEFT JOIN told o
         |  ON b.w1 = o.w1 AND b.w2 = o.w2 AND b.w3 = o.w3""".stripMargin,
    "token_budget_select_contrast" ->
      s"""$pplContrastCtes,
         |ntq AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |scq AS (
         |  SELECT ctr.doc_id, ctr.domain_delta AS score, ntq.n_tokens
         |  FROM ctr JOIN ntq USING (doc_id)),
         |cumq AS (
         |  SELECT doc_id, score, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM scq)
         |SELECT doc_id, score, n_tokens FROM cumq
         |WHERE cum_tokens <= 6000 ORDER BY doc_id""".stripMargin,
    "contrast_source_mix_sample" ->
      s"""$pplContrastCtes,
         |${tempMixCtes.stripPrefix("WITH ")},
         |mm AS (SELECT min(domain_delta) AS dmin, max(domain_delta) AS dmax
         |       FROM ctr),
         |coins AS (
         |  SELECT ctr.doc_id, d.source, ctr.domain_delta AS score,
         |    CASE WHEN mm.dmax > mm.dmin
         |         THEN (ctr.domain_delta - mm.dmin) / (mm.dmax - mm.dmin)
         |         ELSE 1.0 END AS wgt,
         |    CAST(CAST(('0x' || substr(md5(CAST(ctr.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
         |      / 4294967296.0 AS u,
         |    mix.rate AS rate
         |  FROM ctr CROSS JOIN mm JOIN documents d ON d.doc_id = ctr.doc_id
         |       JOIN mix ON mix.source = d.source)
         |SELECT doc_id, source, score, wgt, u FROM coins
         |WHERE u < rate * wgt ORDER BY doc_id""".stripMargin,
    "perplexity_buckets_kn3" ->
      s"""WITH $lmKn3DocCte,
         |j AS (
         |  SELECT d.doc_id, d.source, lmkn3.avg_logprob,
         |    CAST(row_number() OVER (PARTITION BY d.source
         |      ORDER BY lmkn3.avg_logprob DESC, d.doc_id ASC) AS BIGINT) AS ppl_rank,
         |    count(*) OVER (PARTITION BY d.source) AS n_in_source
         |  FROM documents d JOIN lmkn3 ON lmkn3.doc_id = d.doc_id
         |)
         |SELECT doc_id, source, avg_logprob, ppl_rank,
         |  CASE WHEN ppl_rank * 3 <= n_in_source THEN 'head'
         |       WHEN ppl_rank * 3 <= n_in_source * 2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM j ORDER BY doc_id""".stripMargin,
    "perplexity_buckets_kn" ->
      s"""WITH $lmKnDocCte,
         |j AS (
         |  SELECT d.doc_id, d.source, lmkn.avg_logprob,
         |    CAST(row_number() OVER (PARTITION BY d.source
         |      ORDER BY lmkn.avg_logprob DESC, d.doc_id ASC) AS BIGINT) AS ppl_rank,
         |    count(*) OVER (PARTITION BY d.source) AS n_in_source
         |  FROM documents d JOIN lmkn ON lmkn.doc_id = d.doc_id
         |)
         |SELECT doc_id, source, avg_logprob, ppl_rank,
         |  CASE WHEN ppl_rank * 3 <= n_in_source THEN 'head'
         |       WHEN ppl_rank * 3 <= n_in_source * 2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM j ORDER BY doc_id""".stripMargin,
    "perplexity_buckets" ->
      s"""WITH $lmDocCte,
         |j AS (
         |  SELECT d.doc_id, d.source, lm.avg_logprob,
         |    CAST(row_number() OVER (PARTITION BY d.source
         |      ORDER BY lm.avg_logprob DESC, d.doc_id ASC) AS BIGINT) AS ppl_rank,
         |    count(*) OVER (PARTITION BY d.source) AS n_in_source
         |  FROM documents d JOIN lm ON lm.doc_id = d.doc_id
         |)
         |SELECT doc_id, source, avg_logprob, ppl_rank,
         |  CASE WHEN ppl_rank * 3 <= n_in_source THEN 'head'
         |       WHEN ppl_rank * 3 <= n_in_source * 2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM j ORDER BY doc_id""".stripMargin,
    "stopword_candidates" ->
      s"""WITH $toksCte,
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT term, count(*) AS df, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
         |  round(CAST(count(*) AS DOUBLE) / n_docs, 9) AS df_ratio
         |FROM tc CROSS JOIN n
         |GROUP BY term, n_docs
         |HAVING CAST(count(*) AS DOUBLE) / n_docs >= 0.5
         |ORDER BY df DESC, term ASC""".stripMargin,
    "source_mixture_plan" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tc GROUP BY 1),
         |ps AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS total_tokens
         |  FROM documents d LEFT JOIN dt USING (doc_id) GROUP BY 1),
         |m AS (SELECT min(total_tokens) AS min_tokens FROM ps)
         |SELECT source, n_docs, total_tokens,
         |  CASE WHEN total_tokens > 0
         |    THEN round(CAST(min_tokens AS DOUBLE) / total_tokens, 9) ELSE 0.0 END
         |    AS sample_rate,
         |  CASE WHEN total_tokens > 0
         |    THEN CAST(floor((CAST(min_tokens AS DOUBLE) / total_tokens) * total_tokens) AS BIGINT)
         |    ELSE 0 END AS expected_tokens
         |FROM ps CROSS JOIN m
         |ORDER BY source""".stripMargin,
    "source_temperature_plan" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tc GROUP BY 1),
         |ps AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS total_tokens
         |  FROM documents d LEFT JOIN dt USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens FROM ps),
         |w AS (
         |  SELECT source, n_docs, total_tokens,
         |    CAST(total_tokens AS DOUBLE) / corpus_tokens AS p,
         |    CASE WHEN total_tokens > 0
         |      THEN round(pow(CAST(total_tokens AS DOUBLE) / corpus_tokens, ${0.7 - 1.0}), 9)
         |      ELSE 0.0 END AS w
         |  FROM ps CROSS JOIN tot),
         |mx AS (SELECT max(w) AS w_max FROM w),
         |r AS (
         |  SELECT source, n_docs, total_tokens, p,
         |    CASE WHEN w_max > 0 THEN round(w / w_max, 9) ELSE 0.0 END AS rate
         |  FROM w CROSS JOIN mx)
         |SELECT source, n_docs, total_tokens, round(p, 9) AS p, rate,
         |  CAST(round(total_tokens * rate, 0) AS BIGINT) AS expected_tokens
         |FROM r ORDER BY source""".stripMargin,
    "quality_rank_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
         |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)) * 0.2
         |      + (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.1
         |      + least(CAST(len(regexp_extract_all(text, '$stopRegex')) AS DOUBLE)
         |              / len(regexp_split_to_array(text, '\\s+')), 0.5) * 2.0 * 0.2, 9) AS quality
         |  FROM documents
         |), r AS (
         |  SELECT d.doc_id, d.source, q.quality,
         |    CAST(row_number() OVER (PARTITION BY d.source ORDER BY q.quality ASC, d.doc_id ASC) AS BIGINT)
         |      AS quality_rank,
         |    count(*) OVER (PARTITION BY d.source) AS n_in_source
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, source, quality, quality_rank
         |FROM r WHERE quality_rank > floor(0.25 * n_in_source)
         |ORDER BY doc_id""".stripMargin,
    "doc_totals" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS doc_total FROM tc
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_freq" ->
      s"""WITH $toksCte
         |SELECT term, count(*) AS df FROM tc
         |GROUP BY term ORDER BY term""".stripMargin,
    "rank_events_by_value" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY value DESC, event_id ASC""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )
}
