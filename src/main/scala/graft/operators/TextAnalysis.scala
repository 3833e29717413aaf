package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text-analysis operators for a training-data pipeline: per-document token
  * statistics, quality scoring, n-gram-heuristic language ID, and content
  * fingerprinting. All pure built-in expression chains (codegen'd, no UDFs),
  * all embarrassingly parallel — per-document map work plus one aggregation,
  * no cross-document shuffle except the final grouping where present.
  *
  * Float parity with the DuckDB oracle: every ratio is an int/int double
  * division (IEEE-exact in both engines); weighted scores are rounded. */
object TextAnalysis {

  /** Per-document token statistics over the portable tokenizer:
    * token count, distinct terms, type-token ratio, mean token length. */
  def tokenStats(docs: DataFrame): DataFrame =
    tokenStatsFromCounts(Tfidf.termCounts(Tfidf.tokenizePortable(docs)))

  /** [[tokenStats]] from a prebuilt term-counts table `(term, doc_id, cnt)`
    * — the shared corpus asset; the stream aggregates are recovered exactly
    * (occurrences = sum(cnt), distinct = row count, length sum weighted by
    * cnt), so no tokenize pass at query time. */
  def tokenStatsFromCounts(tc: DataFrame): DataFrame =
    tc.groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(length(col("term")).cast("long") * col("cnt")).as("sum_len"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 9).as("ttr"),
        round(col("sum_len").cast("double") / col("n_tokens"), 9).as("avg_token_len"))
      .orderBy("doc_id")

  /** Heuristic quality score from surface statistics of the RAW text:
    * alpha/punct/digit/whitespace character ratios and a stopword-density
    * term, combined into a [0,1]-ish score. The weights are arbitrary but
    * fixed; the operator's value is the shape (cheap per-doc scoring that
    * filters a 100 TB corpus in one codegen'd map stage). */
  def qualityScore(docs: DataFrame): DataFrame = {
    // one-pass native scan (TextSurfaceStats) replacing four regexp_replace
    // passes + split + a 20-way \b alternation — value-identical by the
    // TextSurfaceStatsSpec parity property, so the oracle rows are unchanged
    val st = TextFunctions.surfaceStats(col("text"))
    val n = st.getField("n_chars").cast("double")
    val alpha = st.getField("n_alpha").cast("double")
    val digit = st.getField("n_digit").cast("double")
    val punct = st.getField("n_punct").cast("double")
    val ws = st.getField("n_ws").cast("double")
    val nTokens = st.getField("n_tokens").cast("double")
    val stopHits = st.getField("n_stop_hits").cast("double")
    docs.select(
      col("doc_id"),
      round(alpha / n, 9).as("alpha_ratio"),
      round(digit / n, 9).as("digit_ratio"),
      round(punct / n, 9).as("punct_ratio"),
      round(ws / n, 9).as("ws_ratio"),
      round(stopHits / nTokens, 9).as("stopword_density"),
      round(
        (alpha / n) * 0.5
          + (lit(1.0) - digit / n) * 0.2
          + (lit(1.0) - punct / n) * 0.1
          + least(stopHits / nTokens, lit(0.5)) * lit(2.0) * 0.2, 9).as("quality"))
      .orderBy("doc_id")
  }

  /** Gopher-style COMPOSITE quality rules (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 heuristics, adapted to the portable subset):
    * per document, the raw signals and one 1/0 flag per rule —
    * word-count bounds, mean-word-length band, minimum fraction of words
    * containing an alphabetic character, minimum stop-word hits — plus
    * their conjunction `pass`. Audit columns, not a filtered survivor
    * list (the [[graft.SparkEntry]] manifest pattern): a pipeline reads
    * WHY a document failed. Pure per-row expression work, no shuffle
    * beyond the final sort; every signal is spelled identically in the
    * DuckDB oracle (integer length sums, one double division, round 9). */
  def gopherRules(docs: DataFrame,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Long = 2L): DataFrame = {
    // same one-pass scan as qualityScore (parity-tested vs the original
    // split/aggregate/alternation spelling — TextSurfaceStatsSpec)
    val st = TextFunctions.surfaceStats(col("text"))
    val nWords = st.getField("n_tokens")
    val sumLen = st.getField("sum_word_len")
    val meanLen = round(sumLen.cast("double") / nWords, 9)
    val alphaWords = st.getField("n_alpha_words")
    val alphaFrac = round(alphaWords.cast("double") / nWords, 9)
    val stopHits = st.getField("n_stop_hits")
    docs.select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_word_frac"), stopHits.as("n_stop_hits"))
      .withColumn("r_words",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("long"))
      .withColumn("r_word_len",
        (col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen).cast("long"))
      .withColumn("r_alpha", (col("alpha_word_frac") >= minAlphaFrac).cast("long"))
      .withColumn("r_stop", (col("n_stop_hits") >= minStopHits).cast("long"))
      .withColumn("pass",
        (col("r_words") === 1 && col("r_word_len") === 1 &&
          col("r_alpha") === 1 && col("r_stop") === 1).cast("long"))
      .orderBy("doc_id")
  }

  /** Token-length histogram over the term-counts asset — the input a
    * packing planner reads before choosing `maxLen` (what fraction of
    * documents truncate, how much padding a bucket costs). Two narrow
    * aggregations: per-doc totals (the shared doc_totals shuffle), then a
    * handful of `bucketWidth`-wide bins. */
  def tokenLengthHistogramFromCounts(tc: DataFrame,
      bucketWidth: Int = 32): DataFrame =
    tc.groupBy("doc_id").agg(sum("cnt").as("n_tokens"))
      .groupBy((floor(col("n_tokens") / bucketWidth) * bucketWidth)
        .cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .select(col("bucket_lo"), col("n_docs"), col("sum_tokens"),
        round(col("sum_tokens").cast("double") / col("n_docs"), 9).as("avg_tokens"))
      .orderBy("bucket_lo")

  /** Stopword-profile language ID: density of a fixed English function-word
    * list over the tokens. A real system compares n-gram profiles per
    * language; the operator shape (per-doc classify in one map + agg stage,
    * no shuffle beyond the per-doc grouping) is what scales. */
  /** Compression-ratio quality signal (Gopher-style): DEFLATE length over
    * raw UTF-8 length per document. Low ratio → repetitive boilerplate;
    * ratio near (or above) 1 → high-entropy noise (minified code, base64);
    * natural prose sits in a stable mid band, so curation pipelines cut
    * both tails. Pure per-row map work via the native [[graft.functions.DeflateLen]]
    * expression — no shuffle at all, scan-speed at any corpus size.
    * Engine-internal output (rows-only): DuckDB has no SQL deflate. */
  def compressionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        TextFunctions.deflateLen(col("text")).as("deflate_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("deflate_bytes"),
        when(col("n_bytes") > 0,
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 9))
          .otherwise(lit(0.0)).as("compress_ratio"))
      .orderBy("doc_id")

  def langId(docs: DataFrame, threshold: Double = 0.05): DataFrame =
    langIdFromCounts(Tfidf.termCounts(Tfidf.tokenizePortable(docs)), threshold)

  /** [[langId]] from a prebuilt term-counts table: stop-word hits weight
    * each term row by its count — identical totals, no tokenize pass. */
  def langIdFromCounts(tc: DataFrame, threshold: Double = 0.05): DataFrame = {
    val stopSet = TextFunctions.EnglishStopwords
    tc.groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        sum(when(col("term").isInCollection(stopSet), col("cnt")).otherwise(0L))
          .as("en_hits"))
      .select(col("doc_id"), col("n_tokens"), col("en_hits"),
        round(col("en_hits").cast("double") / col("n_tokens"), 9).as("en_density"),
        when(col("en_hits").cast("double") / col("n_tokens") >= threshold, "en")
          .otherwise("unknown").as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Classifier-eval confusion matrix for [[langId]] against the corpus'
    * ground-truth `lang` column — (true lang, predicted lang, doc count),
    * the quality dashboard a curation pipeline reads before trusting a
    * cheap classifier to route documents. Token-less documents have no
    * prediction and drop out via the inner join (they are unroutable
    * either way). One tiny |langs|·|preds| aggregate after the per-doc
    * classify pass. */
  def langIdConfusion(docs: DataFrame, threshold: Double = 0.05,
      precomputedCounts: Option[DataFrame] = None): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(precomputedCounts.map(langIdFromCounts(_, threshold))
        .getOrElse(langId(docs, threshold)).select("doc_id", "lang_pred"), "doc_id")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * segmentation (word runs / digit runs / punctuation runs, each with an
    * optional leading space — the RE2-safe core of GPT-style pre-
    * tokenizers, minus the lookahead clauses). Both are single codegen'd
    * map expressions; counts drive packing and cost estimation. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val bpeIsh = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeIsh), lit(0))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Rolling content fingerprint: fold `acc = xxhash64(acc, hash(token))`
    * over the token sequence — order-sensitive unlike the md5 canonical
    * fingerprint, so reordered content fingerprints differently. (A
    * chained hash rather than the classic `acc·B + h` polynomial: ANSI
    * mode rejects wrapping 64-bit multiplication.) Engine-specific hash →
    * rows-only check. */
  def rollingFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(
      "aggregate(" +
        "  filter(transform(filter(split(text, '\\\\s+'), t -> NOT t RLIKE '[0-9]'), " +
        "         t -> regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '')), t -> t <> ''), " +
        "  cast(1469598103934665603 as bigint), " +
        "  (acc, t) -> xxhash64(acc, xxhash64(t)))").as("rolling_fp"))
      .orderBy("doc_id")

  /** Sequence packing: assign documents (ordered by doc_id) to training
    * bins of `targetTokens` by running token count — the "concat then
    * chunk" boundary bookkeeping of an LLM data pipeline. A document
    * starting before a boundary belongs to the bin its first token falls
    * in.
    *
    * SCALE NOTE: a global cumulative sum is inherently sequential, so the
    * un-partitioned window funnels all rows through ONE partition — fine
    * for a corpus shard, wrong for 100 TB. Pass `shardCol` (e.g.
    * `"source"`) to pack independently per shard, which is how packing is
    * actually run at scale (bins never span shards anyway). */
  def sequencePacking(docs: DataFrame, targetTokens: Int = 256,
      shardCol: Option[String] = None,
      precomputedCounts: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts0 = precomputedCounts
      .map(_.groupBy("doc_id").agg(sum("cnt").as("n_tokens")))
      .getOrElse(Tfidf.tokenizePortable(docs)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")))
    val counts = shardCol match {
      case Some(c) => counts0.join(docs.select(col("doc_id"), col(c).as("_shard")), "doc_id")
      case None    => counts0.withColumn("_shard", lit(0))
    }
    val w = Window.partitionBy("_shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val packed = counts
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("bin_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(targetTokens.toDouble)).cast("long"))
    shardCol match {
      case Some(c) =>
        packed.select(col("_shard").as(c), col("doc_id"), col("n_tokens"),
          col("cum_tokens"), col("bin_id")).orderBy(c, "doc_id")
      case None =>
        packed.select("doc_id", "n_tokens", "cum_tokens", "bin_id").orderBy("doc_id")
    }
  }

  /** Packing-efficiency planner: for each candidate `max_len`, what a
    * one-document-per-sequence layout would cost — documents truncated,
    * tokens lost to truncation, and the padding-waste UPPER BOUND
    * (`Σ (L − min(n, L)) / (n_docs · L)`; greedy packing
    * ([[sequencePacking]]) only improves on it). The table a pipeline
    * reads BEFORE choosing sequence length — the histogram's actionable
    * summary.
    *
    * Scale shape: per-doc totals (the shared doc-totals shuffle) cross a
    * BROADCAST handful-row length grid, then a |grid|-row aggregate —
    * map-side partials, nothing corpus-wide beyond the rollup it already
    * shares with TF-IDF. */
  def packingEfficiency(tc: DataFrame,
      maxLens: Seq[Int] = Seq(64, 128, 256, 512, 1024)): DataFrame = {
    val totals = tc.groupBy("doc_id").agg(sum("cnt").as("n_tokens"))
    val grid = tc.sparkSession.createDataFrame(
      java.util.Arrays.asList(maxLens.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("max_len",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    totals.crossJoin(broadcast(grid))
      .withColumn("kept", least(col("n_tokens"), col("max_len").cast("long")))
      .groupBy(col("max_len").cast("long").as("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_tokens") > col("max_len")).cast("long")).as("n_truncated"),
        sum("n_tokens").as("total_tokens"),
        sum("kept").as("kept_tokens"))
      .select(col("max_len"), col("n_docs"), col("n_truncated"),
        col("total_tokens"), col("kept_tokens"),
        round((col("total_tokens") - col("kept_tokens")).cast("double")
          / col("total_tokens"), 9).as("trunc_frac"),
        round((col("n_docs") * col("max_len") - col("kept_tokens")).cast("double")
          / (col("n_docs") * col("max_len")), 9).as("pad_frac_bound"))
      .orderBy("max_len")
  }

  /** Deterministic train/val/test split on the content fingerprint's last
    * hex digit (content-stable: dedup-safe, engine-portable, no RNG):
    * 0-b → train (75%), c-d → val, e-f → test. */
  def datasetSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      substring(TextFunctions.contentFingerprint(col("text")), 32, 1).as("h"))
      .select(col("doc_id"),
        when(col("h") <= "9" || (col("h") >= "a" && col("h") <= "b"), "train")
          .when(col("h") === "c" || col("h") === "d", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** Deterministic stable sample: keep a row iff the md5 of its key's
    * first 8 hex digits falls under `fraction` of the 32-bit space —
    * content-stable (same rows survive on every engine and every run,
    * unlike seeded `sample()`), portable to the SQL oracle, and the
    * standard way to cut a reproducible eval slice from a training corpus. */
  def stableSample(docs: DataFrame, keyCol: String, fraction: Double): DataFrame =
    docs.where(stableSamplePred(keyCol, fraction))

  /** The keep predicate behind [[stableSample]], exposed so a caller can
    * split ONE frame into sample and complement without an anti join (the
    * complement is `!pred` exactly — the hash is total on the key). */
  private[graft] def stableSamplePred(keyCol: String, fraction: Double): Column = {
    // math.round, matching the oracle's hard-coded threshold derivation —
    // truncation here would keep/drop differently on the 1-in-2^32 boundary key.
    val threshold = math.round(fraction * 4294967296.0)
    conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") < threshold
  }

  /** PII scrubbing: redact emails and URLs with RE2-safe patterns (no
    * lookbehind — the oracle engine's regex dialect must agree). Emits the
    * fingerprint of the redacted text so parity is verifiable without
    * shipping full text. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col("text"), "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
      "https?://[^ ]+", "<URL>")
    docs.select(col("doc_id"),
      TextFunctions.contentFingerprint(redacted).as("redacted_fp"),
      (length(col("text")) - length(redacted)).cast("long").as("chars_removed"))
      .orderBy("doc_id")
  }

  /** Content fingerprint per document (md5 over collapsed-whitespace
    * lowercased text) — the dedup key for [[Dedup.exact]] and a stable
    * doc identity for incremental pipelines. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Overlapping token-window chunking — the "context-length packing"
    * counterpart that SPLITS long documents instead of concatenating short
    * ones: each document's (portable-tokenized) token array becomes
    * ⌈(n−overlap)/stride⌉ windows of `chunkTokens` tokens advancing by
    * stride = chunkTokens − overlap. Pure per-row map work (tokenize +
    * in-array slicing, no shuffle, no window function) — the shape that
    * holds at any corpus size. Token-less documents produce no chunks.
    * Output carries the chunk fingerprint, not the text — parity is
    * verifiable without shipping chunk bodies. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens=$chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = expr(
      "filter(transform(filter(split(text, '\\\\s+'), t -> NOT t RLIKE '[0-9]'), " +
        "t -> regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '')), t -> t <> '')")
    docs.select(col("doc_id"), toks.as("a"))
      .where(size(col("a")) > 0)
      .withColumn("n", size(col("a")))
      .withColumn("nchunks", greatest(lit(1L),
        ceil((col("n") - lit(overlap)) / lit(stride.toDouble)).cast("long")))
      .select(col("doc_id"), col("n"),
        posexplode(expr(
          s"transform(sequence(0, nchunks - 1), i -> slice(a, i * $stride + 1, $chunkTokens))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n").cast("long").as("doc_tokens"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Source-weighted stable sampling — domain mixing for a training corpus:
    * each source keeps its own [[stableSample]] fraction (content-keyed,
    * reproducible, engine-portable); sources absent from `weights` keep
    * nothing. One scan, no shuffle before the sample decision. */
  def weightedSourceSample(
      docs: DataFrame,
      weights: Map[String, Double],
      keyCol: String = "doc_id"): DataFrame = {
    // same rounding as stableSample so each source's boundary key behaves
    // identically to a single-fraction sample at that rate
    val thresholdCol = weights.foldLeft(lit(0L)) { case (acc, (source, f)) =>
      when(col("source") === source, lit(math.round(f * 4294967296.0))).otherwise(acc)
    }
    docs.where(
      conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") < thresholdCol)
  }

  /** Deterministic epoch shuffle: a content-independent, engine-portable
    * total order per epoch (md5 of id:epoch), the reproducible "shuffle the
    * corpus each epoch" a training loader consumes in key order. No global
    * window/row_number — the ORDER BY is a range-partitioned sort, so
    * positions are implicit in the total order and the plan scales. */
  def epochShuffle(docs: DataFrame, epoch: Int = 0): DataFrame =
    docs.select(col("doc_id"),
      md5(concat(col("doc_id").cast("string"), lit(s":$epoch")).cast("binary"))
        .as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")

  /** Per-source (provenance) quality rollup — the dashboard a curation
    * pipeline drives source-level keep/boost/drop decisions from: document
    * count, total whitespace tokens, mean quality score, mean length.
    *
    * Scale shape: per-doc stats are codegen'd map work; the only exchange
    * groups by `source` — cardinality tens-to-thousands, so the aggregate
    * is map-side-partial then tiny. The per-doc quality is cast to
    * DECIMAL(18,9) before summing so the mean is exact and deterministic
    * regardless of partition summation order (double addition is not
    * associative; a double `avg` could flip the 9th digit between runs). */
  def sourceQualityRollup(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs).select("doc_id", "quality")
    docs.select(col("doc_id"), col("source"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"))
      .join(q, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_ws_tokens").as("total_tokens"),
        sum(col("quality").cast("decimal(18,9)")).as("q_sum"),
        sum("n_chars").as("chars_sum"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("q_sum").cast("double") / col("n_docs"), 9).as("avg_quality"),
        round(col("chars_sum").cast("double") / col("n_docs"), 9).as("avg_chars"))
      .orderBy("source")
  }

  /** Adjacent-bigram collocation mining with pointwise mutual information —
    * the classic "new york"/"machine learning" phrase detector a tokenizer
    * or vocab pipeline runs before merging multi-word units.
    *
    * {{{ pmi(a,b) = ln( P(ab) / (P(a)·P(b)) ) }}}
    * with P(ab) over the bigram total and P(·) over the unigram total.
    *
    * Scale shape: bigram extraction is per-document map work (token-array
    * slicing, no window function, no self-join); both count tables shuffle
    * narrow (term, count) rows with map-side partials; the two corpus
    * totals ride along as broadcast one-row frames (no driver action); the
    * final top-k plans as TakeOrderedAndProject. The min-count filter runs
    * BEFORE the unigram joins, so the joined side is the interesting tail,
    * not the full bigram vocabulary.
    *
    * Float parity: every P is an int/int double division and the product/
    * quotient chain is spelled identically in the oracle, so `ln` sees the
    * same IEEE double in both engines; output rounds to 9. */
  def bigramPmi(docs: DataFrame, minCount: Long = 5L, k: Int = 100): DataFrame =
    bigramPmiFromCounts(docs, Tfidf.termCounts(Tfidf.tokenizePortable(docs)),
      minCount, k)

  /** [[bigramPmi]] with the unigram side supplied as a prebuilt term-counts
    * table `(term, doc_id, cnt)` — the shared corpus asset every TF-IDF-
    * family query already aggregates from, saving one full tokenize pass
    * (the unigram totals are `sum(cnt)` per term, identical to counting
    * the token stream directly). */
  def bigramPmiFromCounts(docs: DataFrame, tc: DataFrame,
      minCount: Long = 5L, k: Int = 100): DataFrame =
    // the shared portable token-array expression — the unigram side joins
    // against termCounts output, so the two tokenizations MUST stay one
    bigramPmiFromArrays(docs.select(Curation.tokenArray.as("a")), tc, minCount, k)

  /** Adjacent-pair extraction from a token-array column: one row per
    * (w1, w2) transition, `carry` columns preserved — per-row array
    * slicing, no window, no self-join. THE single spelling of the bigram
    * contract (shared by PMI and the LM scorer; mirrors the oracle's
    * `toksArrCte` adjacency). */
  private def adjacentPairs(arrays: DataFrame, arrCol: String,
      carry: Seq[String]): DataFrame =
    arrays.where(size(col(arrCol)) >= 2)
      .select(carry.map(col) :+ explode(expr(
        s"transform(sequence(1, size($arrCol) - 1), " +
          s"i -> struct(element_at($arrCol, i) AS w1, element_at($arrCol, i + 1) AS w2))"))
        .as("bg"): _*)
      .select(carry.map(col) :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)

  /** Corpus adjacent-bigram count table `(w1, w2, n_ab)` — the shared model
    * intermediate BOTH collocation mining ([[bigramPmiFromBigramCounts]])
    * and the bigram-LM scorer ([[lmDocScoresFromModel]]) aggregate from.
    * Built once per dataset as a corpus asset: adjacency is per-row array
    * slicing over the stored token arrays (no window, no self-join) and the
    * groupBy shuffles narrow (pair, count) rows with map-side partials, so
    * the asset build is one cheap pass and every consumer afterwards reads
    * a vocabulary-sized parquet instead of re-expanding the corpus. */
  def bigramCountsFromTokens(toks: DataFrame): DataFrame =
    adjacentPairs(toks.select(col("tokens").as("a")), "a", Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))

  /** Adjacent-triple extraction — the trigram twin of [[adjacentPairs]]:
    * one row per (w1, w2, w3) transition, per-row array slicing. */
  private def adjacentTriples(arrays: DataFrame, arrCol: String,
      carry: Seq[String]): DataFrame =
    arrays.where(size(col(arrCol)) >= 3)
      .select(carry.map(col) :+ explode(expr(
        s"transform(sequence(1, size($arrCol) - 2), " +
          s"i -> struct(element_at($arrCol, i) AS w1, " +
          s"element_at($arrCol, i + 1) AS w2, " +
          s"element_at($arrCol, i + 2) AS w3))"))
        .as("tg"): _*)
      .select(carry.map(col) :+ col("tg.w1").as("w1") :+
        col("tg.w2").as("w2") :+ col("tg.w3").as("w3"): _*)

  /** Corpus adjacent-trigram count table `(w1, w2, w3, n_abc)` — the model
    * table the trigram Kneser–Ney scorer aggregates every statistic from;
    * built once per dataset as a corpus asset exactly like
    * [[bigramCountsFromTokens]] (one narrow pass with map-side partials). */
  def trigramCountsFromTokens(toks: DataFrame): DataFrame =
    adjacentTriples(toks.select(col("tokens").as("a")), "a", Seq.empty)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("n_abc"))

  private def bigramPmiFromArrays(arrays: DataFrame, tc: DataFrame,
      minCount: Long, k: Int): DataFrame =
    bigramPmiFromBigramCounts(
      adjacentPairs(arrays, "a", Seq.empty)
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")),
      tc, minCount, k)

  /** [[bigramPmi]] with BOTH model sides prebuilt: `bigrams` is the
    * `(w1, w2, n_ab)` corpus asset ([[bigramCountsFromTokens]]), `tc` the
    * term-counts asset — the query-time plan aggregates two narrow
    * vocabulary-sized tables and never touches the corpus. */
  def bigramPmiFromBigramCounts(bigrams: DataFrame, tc: DataFrame,
      minCount: Long = 5L, k: Int = 100): DataFrame = {
    val uni = tc.groupBy("term").agg(sum("cnt").as("n_t"))
    val uniTotal = uni.agg(sum("n_t").cast("double").as("t_total"))
    val bgTotal = bigrams.agg(sum("n_ab").cast("double").as("b_total"))
    Tfidf.topKByValue(
      bigrams.where(col("n_ab") >= minCount)
        .join(uni.select(col("term").as("w1"), col("n_t").as("n_a")), "w1")
        .join(uni.select(col("term").as("w2"), col("n_t").as("n_b")), "w2")
        .crossJoin(broadcast(uniTotal))
        .crossJoin(broadcast(bgTotal))
        .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
          round(log(
            (col("n_ab").cast("double") / col("b_total")) /
              ((col("n_a").cast("double") / col("t_total")) *
                (col("n_b").cast("double") / col("t_total")))), 9).as("pmi")),
      "n_ab", k, Seq("w1", "w2"))
  }

  /** Bigram language-model document scoring — the CCNet/KenLM-style fluency
    * signal: train add-one-smoothed bigram conditional probabilities on the
    * corpus itself, then score every document by its mean per-transition
    * log-probability. Fluent, corpus-typical text scores high; garbled,
    * boilerplate-shuffled, or off-domain text scores low — the standard
    * "perplexity filter" of a pretraining pipeline, with the corpus as its
    * own reference model (no external LM download).
    *
    * {{{ score(d) = mean over adjacent (w1,w2) in d of
    *                ln( (C(w1,w2) + 1) / (ctx(w1) + V) ) }}}
    * where `C` is the corpus bigram count, `ctx(w1) = Σ_w C(w1,w)` the
    * bigram-context count, and `V` the corpus vocabulary size (add-one
    * denominator). Documents with fewer than two tokens have no
    * transitions and are excluded (no score is the honest answer, not 0).
    *
    * Scale shape: transitions are per-row array slicing over the shared
    * token-array asset (no re-tokenize, no window function); the model
    * tables are narrow (term-pair, count) aggregates with map-side
    * partials; scoring joins the transition stream to them keyed by pair
    * then head — both plain shuffle joins whose skew (stop-word heads) is
    * AQE-splittable; `V` rides along as a broadcast one-row frame. No
    * driver-side collect.
    *
    * Float parity: the smoothed probability is a BIGINT/BIGINT double
    * division spelled identically in the oracle, `ln` rounds to 9, and the
    * per-doc mean routes through DECIMAL(18,9) so partition summation
    * order can't flip the 9th digit. */
  def lmDocScoresFromTokens(toks: DataFrame): DataFrame = {
    val transitions = adjacentPairs(toks, "tokens", Seq("doc_id"))
      .scopedPersist()
    lmDocScoresImpl(transitions,
      transitions.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")),
      toks.select(explode(col("tokens")).as("t"))
        .agg(count_distinct(col("t")).as("v_size")))
  }

  /** [[lmDocScoresFromTokens]] with the MODEL prebuilt: `bigrams` is the
    * `(w1, w2, n_ab)` corpus asset and the vocabulary size comes from the
    * term-counts asset (distinct terms — the same token stream, so the same
    * V). Only the per-doc transition stream is derived at query time
    * (per-row array slicing over the token-array asset, used exactly once —
    * no persist needed); the counting passes the single-argument form pays
    * per execution are already on disk. */
  def lmDocScoresFromModel(toks: DataFrame, bigrams: DataFrame,
      tc: DataFrame): DataFrame =
    lmDocScoresImpl(adjacentPairs(toks, "tokens", Seq("doc_id")), bigrams,
      tc.agg(count_distinct(col("term")).as("v_size")))

  private def lmDocScoresImpl(transitions: DataFrame, pairCounts: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ctxCounts = pairCounts.groupBy("w1").agg(sum("n_ab").as("n_ctx"))
    transitions
      .join(pairCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp", round(log(
        (col("n_ab") + lit(1L)).cast("double") / (col("n_ctx") + col("v_size"))), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp").cast("decimal(18,9)")).as("lp_sum"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lp_sum").cast("double") / col("n_transitions"), 9).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Kneser–Ney-smoothed bigram document scoring — the same fluency
    * signal as [[lmDocScoresFromModel]] with interpolated absolute
    * discounting (Kneser & Ney 1995; Chen & Goodman 1999's interpolated
    * form), which fixes add-one's saturation on rare-token documents:
    * instead of flattening every unseen/rare continuation toward `1/V`,
    * mass discounted from observed bigrams is spread by CONTINUATION
    * probability (how many distinct contexts a word follows), so "fluent
    * but rare" transitions stop scoring like noise.
    *
    * {{{ p_KN(w2|w1) = (C(w1,w2) − D)/ctx(w1)
    *                   + (D·N1+(w1,·)/ctx(w1)) · (N1+(·,w2)/N1+(·,·)) }}}
    * with discount `D` (default 0.75, the standard fixed discount),
    * `N1+(w1,·)` = distinct continuations of `w1`, `N1+(·,w2)` = distinct
    * contexts preceding `w2`, `N1+(·,·)` = distinct bigram types. Scoring
    * the training corpus itself means every transition is observed, so the
    * `max(·,0)` clamp of the unseen case never binds (and D < 1 keeps the
    * discounted term positive); the interpolation weight still shifts
    * scores exactly as in a held-out setting. Per-`w1` probabilities sum
    * to 1 over the vocabulary ([[graft.TextAnalysisSpec]] property-tests
    * both that and monotonicity in the bigram count).
    *
    * Scale/parity shape: identical to the add-one scorer — the three
    * model tables are narrow aggregates of the bigram-counts asset, the
    * type count broadcasts as a one-row frame, `p_KN` is a fixed-order
    * double expression over exact integers (bit-identical across
    * engines), `ln` rounds to 9, the per-doc mean routes through
    * DECIMAL(18,9). */
  def lmDocScoresKnFromModel(toks: DataFrame, bigrams: DataFrame,
      d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    val (ctxCounts, contCounts, types) = kn2ModelTables(bigrams)
    kn2Aggregate(adjacentPairs(toks, "tokens", Seq("doc_id"))
      .join(bigrams, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .join(contCounts, Seq("w2"))
      .crossJoin(broadcast(types)), d)
  }

  /** The bigram-KN model's three statistic aggregates — ONE spelling for
    * the per-query joins ([[lmDocScoresKnFromModel]]) and the pre-enriched
    * asset ([[kn2EnrichedModel]]), so the two serving paths can never
    * disagree on a statistic's definition. */
  private def kn2ModelTables(bigrams: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    bigrams.groupBy("w1")
      .agg(sum("n_ab").as("n_ctx"), count(lit(1)).as("n1p_fwd")),
    bigrams.groupBy("w2").agg(count(lit(1)).as("n1p_rev")),
    bigrams.agg(count(lit(1)).as("n_types")))

  /** THE interpolated-KN2 scoring tail — the `p_KN` double (fixed
    * operation order, bit-identical across engines), the 9-rounded `ln`,
    * and the DECIMAL-routed per-doc mean; shared by the stat-join and
    * enriched-asset paths. */
  private def kn2Aggregate(joined: DataFrame, d: Double): DataFrame =
    joined
      .withColumn("pkn",
        (col("n_ab").cast("double") - d) / col("n_ctx")
          + ((lit(d) * col("n1p_fwd")) / col("n_ctx"))
          * (col("n1p_rev").cast("double") / col("n_types")))
      .withColumn("logp", round(log(col("pkn")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp").cast("decimal(18,9)")).as("lp_sum"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lp_sum").cast("double") / col("n_transitions"), 9).as("avg_logprob"))
      .orderBy("doc_id")

  /** PRE-ENRICHED bigram-KN model table — one row per bigram TYPE
    * carrying every scoring statistic (`n_ab, n_ctx, n1p_fwd, n1p_rev`)
    * plus the type-count scalar as a constant column (parquet RLE makes
    * it free): the bigram twin of [[kn3EnrichedModel]]. Built ONCE per
    * dataset as an asset, so corpus-trained KN2 serving collapses from
    * three stat joins per scoring pass to ONE `(w1, w2)` join. Only
    * valid for corpus-trained self-scoring (seen transitions — the same
    * contract as the trigram asset, [[kn3ServedUnseenTransitions]] is the
    * audit); held-out scoring keeps the stat-join path. */
  def kn2EnrichedModel(bigrams: DataFrame): DataFrame = {
    val (ctxCounts, contCounts, types) = kn2ModelTables(bigrams)
    bigrams.join(ctxCounts, Seq("w1"))
      .join(contCounts, Seq("w2"))
      .crossJoin(broadcast(types))
  }

  /** Corpus-trained KN2 scoring served from [[kn2EnrichedModel]] — one
    * model join, values identical to [[lmDocScoresKnFromModel]] on the
    * same counts (same shared scoring tail; spec-pinned). */
  def lmDocScoresKnServed(toks: DataFrame, enriched: DataFrame,
      d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    kn2Aggregate(adjacentPairs(toks, "tokens", Seq("doc_id"))
      .join(enriched, Seq("w1", "w2")), d)
  }

  /** [[perplexityBucketsKn]] served from the enriched bigram model. */
  def perplexityBucketsKnServed(docs: DataFrame, toks: DataFrame,
      enriched: DataFrame, d: Double = 0.75): DataFrame =
    bucketByFluency(docs, lmDocScoresKnServed(toks, enriched, d))

  /** [[perplexityBucketsSampledKn]] served from the enriched bigram
    * model — same sketch-threshold cut, one model join. */
  def perplexityBucketsSampledKnServed(docs: DataFrame, toks: DataFrame,
      enriched: DataFrame, d: Double = 0.75, accuracy: Int = 100000): DataFrame =
    bucketByFluencyThresholds(docs, lmDocScoresKnServed(toks, enriched, d),
      accuracy)

  /** TRIGRAM interpolated Kneser–Ney document scoring — the larger-context
    * model a CCNet-grade fluency filter actually ships (Chen & Goodman
    * 1999 §4.1.6, interpolated form with one fixed discount `D` per
    * order). The full chain, every statistic a TYPE count over the
    * trigram table (lower orders use CONTINUATION counts, never raw
    * counts — the Kneser–Ney insight the bigram scorer already carries):
    *
    * {{{ p₃(w3|w1w2) = (C(w1w2w3) − D)/C(w1w2·)
    *                   + (D·N1+(w1w2·)/C(w1w2·)) · p₂(w3|w2)
    *     p₂(w3|w2)   = (N1+(·w2w3) − D)/N1+(·w2·)
    *                   + (D·N1+mid(w2·)/N1+(·w2·)) · p₁(w3)
    *     p₁(w3)      = N1+(·w3) / N1+(··) }}}
    * with `N1+(·w2w3)` = distinct w1 preceding the (w2,w3) continuation,
    * `N1+(·w2·)` its sum over w3, `N1+mid(w2·)` = distinct such w3,
    * `N1+(·w3)` = distinct w2 in the continuation types, `N1+(··)` =
    * total continuation types — all aggregated from the ONE trigram-count
    * asset, so the model is self-consistent by construction. Per-context
    * probability mass sums to exactly 1 at every level
    * ([[graft.TextAnalysisSpec]] property-tests all three).
    *
    * UNSEEN transitions (held-out scoring) back off level by level
    * instead of saturating toward add-one's 1/V: an unseen trigram over a
    * seen context keeps its interpolation weight `D·N1+(w1w2·)/C(w1w2·)`
    * on the bigram continuation; an unseen context falls through to
    * p₂; an unseen (w2,w3) continuation to `λ₂·p₁`; an unseen w2 to
    * p₁; only a never-seen w3 bottoms out at uniform 1/V (`tc` supplies
    * V). On the training corpus every transition is observed, so the
    * registered oracle query exercises the full-formula branch only —
    * spelled in the same fixed operation order as the DuckDB oracle
    * (exact integer inputs → bit-identical doubles), ln rounded to 9,
    * per-doc mean through DECIMAL(18,9).
    *
    * Scale/parity shape: identical to the bigram KN scorer — five narrow
    * model aggregates of the trigram asset joined to the per-row
    * transition stream, one-row type/vocab frames broadcast. */
  def lmDocScoresKn3FromModel(toks: DataFrame, trigrams: DataFrame,
      tc: DataFrame, d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    kn3Join(adjacentTriples(toks, "tokens", Seq("doc_id")),
        kn3ModelTables(trigrams, tc, ""))
      .withColumn("logp", round(log(kn3P3(d, "")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp").cast("decimal(18,9)")).as("lp_sum"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lp_sum").cast("double") / col("n_transitions"), 9).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** PRE-ENRICHED KN3 model table — one row per trigram TYPE carrying
    * every statistic its scoring needs (`n_abc, c12, n1p_fwd12, cont23,
    * mid_ctx, n1p_mid, cont3`) plus the type/vocab scalars as constant
    * columns (parquet RLE makes them free). Built ONCE per dataset as an
    * asset, so corpus-trained serving collapses from five stat joins per
    * scoring pass to ONE `(w1, w2, w3)` join — the 100 TB serving shape:
    * model-building cost lives in the asset farm, not in every query.
    * Only valid for scoring text whose transitions the model has seen
    * (corpus-trained self-scoring); held-out scoring needs the per-order
    * backoff tables and stays on [[lmDocScoresKn3FromModel]]. */
  def kn3EnrichedModel(trigrams: DataFrame, tc: DataFrame): DataFrame = {
    val m = kn3ModelTables(trigrams, tc, "")
    m.tri.join(m.ctx, Seq("w1", "w2"))
      .join(m.cont2, Seq("w2", "w3"))
      .join(m.mid, Seq("w2"))
      .join(m.cont1, Seq("w3"))
      .crossJoin(broadcast(m.types))
      .crossJoin(broadcast(m.vocab))
  }

  /** Corpus-trained KN3 scoring served from [[kn3EnrichedModel]] — one
    * model join, values identical to [[lmDocScoresKn3FromModel]] on the
    * same counts (spec-pinned; the inner join is complete because every
    * scored transition is a model row by the corpus-trained contract). */
  def lmDocScoresKn3Served(toks: DataFrame, enriched: DataFrame,
      d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    adjacentTriples(toks, "tokens", Seq("doc_id"))
      .join(enriched, Seq("w1", "w2", "w3"))
      .withColumn("logp", round(log(kn3P3(d, "")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp").cast("decimal(18,9)")).as("lp_sum"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lp_sum").cast("double") / col("n_transitions"), 9).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Contract probe for the corpus-trained served scorers: the
    * transitions in `toks` the enriched model has NEVER seen, with their
    * owning documents. [[lmDocScoresKn3Served]] and
    * [[perplexityContrastKn3]] inner-join the enriched model, so a caller
    * violating the corpus-trained contract (scoring text whose
    * transitions the model wasn't trained on) silently drops those
    * transitions — `avg_logprob`/`n_transitions` shift instead of
    * failing. This frame is the cheap audit: EMPTY under the contract
    * (spec-pinned against the registry assets), and the assertion point
    * for callers who need the contract enforced
    * (`require(kn3ServedUnseenTransitions(...).isEmpty)`) — held-out
    * scoring belongs on [[lmDocScoresKn3FromModel]]'s backoff ladder
    * instead. One anti-join of the transition stream against the model
    * keys; no stats move. */
  def kn3ServedUnseenTransitions(toks: DataFrame, enriched: DataFrame): DataFrame =
    adjacentTriples(toks, "tokens", Seq("doc_id"))
      .join(enriched.select("w1", "w2", "w3"), Seq("w1", "w2", "w3"), "left_anti")

  /** [[perplexityBucketsKn3]] served from the enriched model asset. */
  def perplexityBucketsKn3Served(docs: DataFrame, toks: DataFrame,
      enriched: DataFrame, d: Double = 0.75): DataFrame =
    bucketByFluency(docs, lmDocScoresKn3Served(toks, enriched, d))

  /** [[perplexityBucketsSampledKn3]] served from the enriched model. */
  def perplexityBucketsSampledKn3Served(docs: DataFrame, toks: DataFrame,
      enriched: DataFrame, d: Double = 0.75, accuracy: Int = 100000): DataFrame =
    bucketByFluencyThresholds(docs, lmDocScoresKn3Served(toks, enriched, d),
      accuracy)

  /** The KN3 model as frames: the trigram table plus its five statistic
    * aggregates and the vocab scalar, stat columns suffixed `suf` so two
    * models can ride ONE join cascade (the fused contrast scorer). */
  private case class Kn3Model(tri: DataFrame, ctx: DataFrame, cont2: DataFrame,
      mid: DataFrame, cont1: DataFrame, types: DataFrame, vocab: DataFrame)

  /** The KN3 statistic aggregates in their STORABLE (unsuffixed) form —
    * what a snapshot asset persists so held-out batch scoring pays only
    * the ladder joins, never the model-sized stat re-aggregation (and
    * never the corpus-sized `v_size` distinct). Columns: ctx `(w1, w2,
    * c12, n1p_fwd12)`, cont2 `(w2, w3, cont23)`, mid `(w2, mid_ctx,
    * n1p_mid)`, cont1 `(w3, cont3)`, types `(n_ct)`, vocab `(v_size)`.
    * All values are exact integrals (sums/counts of longs), so a parquet
    * round-trip is bit-identical to the live aggregation — the equality
    * [[perplexityContrastKn3HeldoutServed]]'s spec pins. */
  case class Kn3Stats(ctx: DataFrame, cont2: DataFrame, mid: DataFrame,
      cont1: DataFrame, types: DataFrame, vocab: DataFrame)

  /** Build [[Kn3Stats]] live from a trigram-count model table and the
    * term-count table its vocabulary derives from — ONE spelling shared
    * by the per-query model joins and the stored-stats asset builders, so
    * the two serving paths can never disagree on a statistic. */
  def kn3Stats(trigrams: DataFrame, tc: DataFrame): Kn3Stats = {
    val ctx = trigrams.groupBy("w1", "w2")
      .agg(sum("n_abc").as("c12"), count(lit(1)).as("n1p_fwd12"))
    val cont2 = trigrams.groupBy("w2", "w3").agg(count(lit(1)).as("cont23"))
    val mid = cont2.groupBy("w2")
      .agg(sum("cont23").as("mid_ctx"), count(lit(1)).as("n1p_mid"))
    val cont1 = cont2.groupBy("w3").agg(count(lit(1)).as("cont3"))
    val types = cont2.agg(count(lit(1)).as("n_ct"))
    val vocab = tc.agg(count_distinct(col("term")).as("v_size"))
    Kn3Stats(ctx, cont2, mid, cont1, types, vocab)
  }

  /** Suffix a [[Kn3Stats]] (live or asset-loaded) into the join-cascade
    * model form. */
  private def kn3ModelFromStats(trigrams: DataFrame, st: Kn3Stats,
      suf: String): Kn3Model = {
    def r(df: DataFrame, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suf))
    Kn3Model(trigrams.withColumnRenamed("n_abc", s"n_abc$suf"),
      r(st.ctx, "c12", "n1p_fwd12"), r(st.cont2, "cont23"),
      r(st.mid, "mid_ctx", "n1p_mid"), r(st.cont1, "cont3"),
      r(st.types, "n_ct"), r(st.vocab, "v_size"))
  }

  private def kn3ModelTables(trigrams: DataFrame, tc: DataFrame,
      suf: String): Kn3Model =
    kn3ModelFromStats(trigrams, kn3Stats(trigrams, tc), suf)

  /** One model-join cascade over a transition stream — five left key
    * joins plus the broadcast one-row type/vocab frames. */
  private def kn3Join(stream: DataFrame, m: Kn3Model): DataFrame =
    stream.join(m.tri, Seq("w1", "w2", "w3"), "left")
      .join(m.ctx, Seq("w1", "w2"), "left")
      .join(m.cont2, Seq("w2", "w3"), "left")
      .join(m.mid, Seq("w2"), "left")
      .join(m.cont1, Seq("w3"), "left")
      .crossJoin(broadcast(m.types))
      .crossJoin(broadcast(m.vocab))

  /** THE interpolated-KN3 probability column — the single spelling of the
    * p₃(p₂(p₁)) formula with its backoff CASE ladder, over `suf`-suffixed
    * statistic columns; both the single-model scorer and the fused
    * contrast scorer build their probabilities from this one definition
    * (and the DuckDB oracle replays it branch-for-branch). */
  private def kn3P3(d: Double, suf: String): Column = {
    def c(n: String) = col(n + suf)
    val p1 = when(c("cont3").isNotNull,
        c("cont3").cast("double") / c("n_ct"))
      .otherwise(lit(1.0) / c("v_size"))
    val p2 = when(c("mid_ctx").isNotNull,
        when(c("cont23").isNotNull,
          (c("cont23").cast("double") - d) / c("mid_ctx")
            + ((lit(d) * c("n1p_mid")) / c("mid_ctx")) * p1)
          .otherwise(((lit(d) * c("n1p_mid")) / c("mid_ctx")) * p1))
      .otherwise(p1)
    when(c("c12").isNotNull,
        when(c("n_abc").isNotNull,
          (c("n_abc").cast("double") - d) / c("c12")
            + ((lit(d) * c("n1p_fwd12")) / c("c12")) * p2)
          .otherwise(((lit(d) * c("n1p_fwd12")) / c("c12")) * p2))
      .otherwise(p2)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting high quality monolingual datasets from web crawl data"):
    * per SOURCE, split documents into `head` / `middle` / `tail` terciles
    * by language-model fluency — CCNet's selection signal, with the
    * corpus-trained bigram LM of [[lmDocScoresFromTokens]] standing in
    * for its external KenLM (higher avg log-prob = lower perplexity =
    * `head`). Rank-exact terciles (`3·rank ≤ n`, `3·rank ≤ 2n`) with a
    * doc_id tiebreak, so the cut replays identically in the oracle;
    * documents with <2 tokens have no LM score and drop out (the honest
    * answer, as in the LM scorer itself).
    *
    * Scale shape: scoring inherits the LM scorer's shape (asset-fed
    * narrow model joins); the bucketing shuffle is BY SOURCE for the
    * ranking window — the CCNet per-shard sort. A pathologically large
    * single source would switch to sampled tercile THRESHOLDS broadcast
    * back (the same model-broadcast idiom as DSIR); rank-exact is kept
    * here because it is oracle-replayable. */
  def perplexityBuckets(docs: DataFrame, toks: DataFrame, bigrams: DataFrame,
      tc: DataFrame): DataFrame =
    bucketByFluency(docs, lmDocScoresFromModel(toks, bigrams, tc))

  /** [[perplexityBuckets]] scored by the Kneser–Ney LM instead of
    * add-one — the variant a CCNet-style filter would actually run (rare
    * vocabulary stops dragging whole documents into `tail`); same
    * rank-exact tercile cut. */
  def perplexityBucketsKn(docs: DataFrame, toks: DataFrame, bigrams: DataFrame,
      d: Double = 0.75): DataFrame =
    bucketByFluency(docs, lmDocScoresKnFromModel(toks, bigrams, d))

  /** [[perplexityBucketsKn]] scored by the TRIGRAM interpolated KN model —
    * same rank-exact tercile cut; documents with <3 tokens have no score
    * and drop out (the honest answer, as in the scorer itself). */
  def perplexityBucketsKn3(docs: DataFrame, toks: DataFrame,
      trigrams: DataFrame, tc: DataFrame, d: Double = 0.75): DataFrame =
    bucketByFluency(docs, lmDocScoresKn3FromModel(toks, trigrams, tc, d))

  /** Perplexity-CONTRAST scoring — the CCNet/importance-sampling selection
    * signal in its LM form (Wenzek et al. 2020 score against an in-domain
    * KenLM; the cross-entropy-DIFFERENCE ranking is the Moore–Lewis 2010
    * "Intelligent selection of language model training data" criterion):
    * every document is scored by TWO trigram interpolated Kneser–Ney
    * models — one trained on an IN-DOMAIN target corpus, one on the
    * general corpus — and ranked by `domain_delta = avg_logprob_in −
    * avg_logprob_gen`. A positive delta reads "more like the target domain
    * than the general web", robust to the document-length and topic-
    * frequency effects that make a single-model perplexity cut favor
    * generic text.
    *
    * Unlike the corpus-trained registry queries, the in-domain model here
    * genuinely scores HELD-OUT text, so the [[lmDocScoresKn3FromModel]]
    * backoff arms (unseen trigram → bigram continuation → unigram →
    * uniform 1/V) are exercised for real — and replayed branch-for-branch
    * by the DuckDB oracle's CASE chain.
    *
    * Scale shape: FUSED single pass — ONE transition stream carries the
    * in-domain backoff ladder (suffixed stat columns) plus ONE complete
    * join against the pre-enriched general model
    * ([[kn3EnrichedModel]] asset), and one per-doc aggregate computes
    * both means; the corpus-sized stream is scanned and shuffled once.
    * Values are bit-identical to composing two
    * [[lmDocScoresKn3FromModel]] passes (same column formula, same
    * rounding — spec-pinned). The in-domain model aggregates over the
    * target split only; at 100 TB that split is a fixed curated corpus,
    * so the in-domain model tables are constant-sized. */
  def perplexityContrastKn3(toks: DataFrame, trigramsIn: DataFrame,
      tcIn: DataFrame, enrichedGen: DataFrame, d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    val mi = kn3ModelTables(trigramsIn, tcIn, "_i")
    // the general model is corpus-trained — served from the pre-enriched
    // asset as ONE complete join; only the held-out in-domain side needs
    // the per-order backoff ladder
    val statCols = Seq("n_abc", "c12", "n1p_fwd12", "cont23", "mid_ctx",
      "n1p_mid", "cont3", "n_ct", "v_size")
    val gen = enrichedGen.select(
      Seq("w1", "w2", "w3").map(col) ++
        statCols.map(n => col(n).as(n + "_g")): _*)
    kn3Join(adjacentTriples(toks, "tokens", Seq("doc_id")), mi)
      .join(gen, Seq("w1", "w2", "w3"))
      .withColumn("logp_i", round(log(kn3P3(d, "_i")), 9))
      .withColumn("logp_g", round(log(kn3P3(d, "_g")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp_i").cast("decimal(18,9)")).as("lpi"),
        sum(col("logp_g").cast("decimal(18,9)")).as("lpg"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lpi").cast("double") / col("n_transitions"), 9).as("logprob_in"),
        round(col("lpg").cast("double") / col("n_transitions"), 9).as("logprob_gen"))
      .withColumn("domain_delta",
        round(col("logprob_in") - col("logprob_gen"), 9))
  }

  /** [[perplexityContrastKn3]] with BOTH models scoring held-out text —
    * the snapshot-serving form incremental maintenance needs: the general
    * model is a stored pre-append SNAPSHOT (its trigram-count asset), so
    * an append batch's transitions may be unseen by EITHER side and both
    * ladders run the full backoff CASE chain (no inner-join drops —
    * `n_transitions` counts every transition of the scored text). One
    * fused transition pass, one per-doc aggregate, exactly as the
    * corpus-trained fused scorer.
    *
    * Why snapshot scoring IS the incremental contract here (and
    * "re-score only moved documents" is not): interpolated KN's unigram
    * level divides by GLOBAL continuation-type scalars (`N1+(··)`,
    * `V`) — ANY append that introduces one new continuation type or
    * vocabulary term moves every transition's probability, so an
    * exact "changed documents only" re-score degenerates to the full
    * corpus on real appends. The honest incremental protocol is the
    * index family's refresh protocol: stored scores stay pinned to the
    * model snapshot that produced them (immutable, like served strips),
    * arriving batches score against the CURRENT snapshot at O(batch)
    * corpus cost, and a snapshot rebuild re-scores wholesale on its own
    * cadence ([[graft.streaming.Streams.withRefreshingModel]] is the
    * serving-side swap). [[kn3RefreshImpact]] is the audit that says
    * when a rebuild is due. */
  def perplexityContrastKn3Heldout(toks: DataFrame, trigramsIn: DataFrame,
      tcIn: DataFrame, trigramsGen: DataFrame, tcGen: DataFrame,
      d: Double = 0.75): DataFrame =
    contrastHeldoutCore(toks, kn3ModelTables(trigramsIn, tcIn, "_i"),
      kn3ModelTables(trigramsGen, tcGen, "_g"), d)

  /** [[perplexityContrastKn3Heldout]] with BOTH models' statistic tables
    * pre-aggregated ([[Kn3Stats]], typically loaded from snapshot
    * assets): each batch pays only the two backoff-ladder join cascades —
    * the per-execution model-sized stat aggregations, the in-domain
    * split's re-tokenize, and the corpus-sized vocabulary distinct all
    * move to the asset farm, once per snapshot (both models are frozen
    * with the snapshot: the general side is the old90 counts, the
    * in-domain side the fixed curated split). Values are bit-identical
    * to the live-stats spelling (same shared scoring tail, exact-integral
    * stats — spec-pinned). */
  def perplexityContrastKn3HeldoutServed(toks: DataFrame,
      trigramsIn: DataFrame, inStats: Kn3Stats, trigramsGen: DataFrame,
      genStats: Kn3Stats, d: Double = 0.75): DataFrame =
    contrastHeldoutCore(toks, kn3ModelFromStats(trigramsIn, inStats, "_i"),
      kn3ModelFromStats(trigramsGen, genStats, "_g"), d)

  /** The one spelling of the fused two-ladder contrast pass — both
    * held-out entry points above feed it, so live-stats and stored-stats
    * serving can never diverge on the scoring math. */
  private def contrastHeldoutCore(toks: DataFrame, mi: Kn3Model,
      mg: Kn3Model, d: Double): DataFrame = {
    require(d > 0.0 && d < 1.0, s"discount d=$d must be in (0, 1)")
    kn3Join(kn3Join(adjacentTriples(toks, "tokens", Seq("doc_id")), mi), mg)
      .withColumn("logp_i", round(log(kn3P3(d, "_i")), 9))
      .withColumn("logp_g", round(log(kn3P3(d, "_g")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("logp_i").cast("decimal(18,9)")).as("lpi"),
        sum(col("logp_g").cast("decimal(18,9)")).as("lpg"))
      .select(col("doc_id"), col("n_transitions"),
        round(col("lpi").cast("double") / col("n_transitions"), 9).as("logprob_in"),
        round(col("lpg").cast("double") / col("n_transitions"), 9).as("logprob_gen"))
      .withColumn("domain_delta",
        round(col("logprob_in") - col("logprob_gen"), 9))
  }

  /** INCREMENTAL n-gram model-count maintenance — the merge that makes a
    * snapshot rebuild O(batch) on the COUNTING side: stored `(keys…,
    * cnt)` model rows absorb an append batch's counts without a corpus
    * recount. The stored side never shuffles: the batch's distinct keys
    * broadcast (an append batch is bounded), untouched stored rows pass
    * through a map-side anti-join, touched rows are probed map-side into
    * a batch-sized frame and bumped by one batch-sized join; compute is
    * O(batch) probes over the stored scan. Equal to the full recount
    * over old ∪ new by construction (counts are additive per key) —
    * spec-pinned, and the registered replays share the full-recount
    * oracle. */
  private def mergeCounts(stored: DataFrame, batch: DataFrame,
      keys: Seq[String], cnt: String): DataFrame = {
    val bKeys = broadcast(batch.select(keys.map(col): _*))
    val untouched = stored.join(bKeys, keys, "left_anti")
    val storedHit = stored.join(bKeys, keys, "left_semi")
      .withColumnRenamed(cnt, "n_old")
    val bumped = batch.join(storedHit, keys, "left")
      .select(keys.map(col) :+
        (col(cnt) + coalesce(col("n_old"), lit(0L))).as(cnt): _*)
    untouched.unionByName(bumped)
  }

  /** [[mergeCounts]] for the trigram model table (`w1 w2 w3 n_abc`) —
    * the count-side half of a KN3 snapshot rebuild (the enriched
    * serving asset then re-aggregates from the merged counts:
    * model-sized work, no corpus rescan). */
  def mergeTrigramCounts(stored: DataFrame, batchToks: DataFrame): DataFrame =
    mergeCounts(stored, trigramCountsFromTokens(batchToks),
      Seq("w1", "w2", "w3"), "n_abc")

  /** [[mergeCounts]] for the bigram model table (`w1 w2 n_ab`). */
  def mergeBigramCounts(stored: DataFrame, batchToks: DataFrame): DataFrame =
    mergeCounts(stored, bigramCountsFromTokens(batchToks),
      Seq("w1", "w2"), "n_ab")

  /** INCREMENTAL maintenance of the ENRICHED bigram-KN model — absorb an
    * append batch into a stored [[kn2EnrichedModel]] asset WITHOUT
    * re-running the enrichment aggregation (the r15 gate diet: the old
    * path merged counts and re-aggregated the whole model; this one is a
    * single map-side pass over the stored enriched scan).
    *
    * Why a delta suffices: every enriched row CARRIES its own group
    * statistics (`n_ctx`/`n1p_fwd` for its w1, `n1p_rev` for its w2,
    * `n_types` as a constant column), and each statistic moves by a
    * batch-computable amount — `n_ctx` by the batch's count mass in that
    * context, `n1p_fwd`/`n1p_rev`/`n_types` by NEW-TYPE counts only. So
    * stored rows update by broadcast-probed arithmetic on their own
    * columns; brand-new type rows harvest their groups' stored stats
    * through batch-incident semi-joins (absent group → 0). Equal to
    * [[kn2EnrichedModel]] over [[mergeBigramCounts]] by construction —
    * spec-pinned, and the registered gate shares the full-recount
    * oracle.
    *
    * Scale shape: ONE scan of the stored model with broadcast delta
    * probes (no model-sized groupBy, no model-sized join), plus
    * new-type-sized aggregates. O(model scan + batch). */
  def kn2EnrichedMerge(stored: DataFrame, batchToks: DataFrame): DataFrame = {
    val delta = bigramCountsFromTokens(batchToks)
      .withColumnRenamed("n_ab", "d_ab").lazyPinned()
    val newTypes = delta
      .join(stored.select("w1", "w2"), Seq("w1", "w2"), "left_anti")
      .lazyPinned()
    val perW1 = delta.groupBy("w1").agg(sum("d_ab").as("d_ctx"))
      .join(newTypes.groupBy("w1").agg(count(lit(1)).as("d_fwd")),
        Seq("w1"), "left")
      .na.fill(0L, Seq("d_fwd"))
    val perW2 = newTypes.groupBy("w2").agg(count(lit(1)).as("d_rev"))
    val typesMerged = stored.agg(coalesce(max("n_types"), lit(0L)).as("s_t"))
      .crossJoin(newTypes.agg(count(lit(1)).as("d_t")))
      .select((col("s_t") + col("d_t")).as("n_types"))
    val mergedStored = stored.drop("n_types")
      .join(broadcast(delta), Seq("w1", "w2"), "left")
      .join(broadcast(perW1), Seq("w1"), "left")
      .join(broadcast(perW2), Seq("w2"), "left")
      .select(col("w1"), col("w2"),
        (col("n_ab") + coalesce(col("d_ab"), lit(0L))).as("n_ab"),
        (col("n_ctx") + coalesce(col("d_ctx"), lit(0L))).as("n_ctx"),
        (col("n1p_fwd") + coalesce(col("d_fwd"), lit(0L))).as("n1p_fwd"),
        (col("n1p_rev") + coalesce(col("d_rev"), lit(0L))).as("n1p_rev"))
    val w1Stats = stored
      .join(broadcast(newTypes.select("w1").distinct()), Seq("w1"), "left_semi")
      .groupBy("w1").agg(max("n_ctx").as("s_ctx"), max("n1p_fwd").as("s_fwd"))
    val w2Stats = stored
      .join(broadcast(newTypes.select("w2").distinct()), Seq("w2"), "left_semi")
      .groupBy("w2").agg(max("n1p_rev").as("s_rev"))
    val newRows = newTypes
      .join(w1Stats, Seq("w1"), "left")
      .join(w2Stats, Seq("w2"), "left")
      .join(broadcast(perW1), Seq("w1"), "left")
      .join(broadcast(perW2), Seq("w2"), "left")
      .select(col("w1"), col("w2"),
        col("d_ab").as("n_ab"),
        (coalesce(col("s_ctx"), lit(0L)) + col("d_ctx")).as("n_ctx"),
        (coalesce(col("s_fwd"), lit(0L)) + col("d_fwd")).as("n1p_fwd"),
        (coalesce(col("s_rev"), lit(0L)) + col("d_rev")).as("n1p_rev"))
    mergedStored.unionByName(newRows).crossJoin(broadcast(typesMerged))
  }

  /** [[kn2EnrichedMerge]]'s trigram twin — incremental maintenance of a
    * stored [[kn3EnrichedModel]] asset. Same argument, five statistic
    * families instead of two:
    *
    *  - `c12`/`n1p_fwd12` (w1,w2): + batch count mass / + new types in
    *    the context;
    *  - `cont23` (w2,w3): distinct-w1 count — each NEW TYPE adds exactly
    *    one;
    *  - `mid_ctx`/`n1p_mid` (w2): + new types with that w2 / + NEW
    *    (w2,w3) PAIRS with that w2;
    *  - `cont3` (w3): + new pairs with that w3;
    *  - `n_ct` (global): + total new pairs; `v_size` (global): + batch
    *    terms absent from the stored vocabulary (`storedTerms` /
    *    `batchTerms` supply the two term sets).
    *
    * Grown types (batch occurrences of stored trigrams) move only count
    * mass (`n_abc`, `c12`); every type-count statistic moves on new
    * types alone — the same decomposition [[kn3RefreshImpact]] prices.
    * Equal to [[kn3EnrichedModel]] over [[mergeTrigramCounts]]
    * (spec-pinned; the registered gate shares the full-recount oracle). */
  def kn3EnrichedMerge(stored: DataFrame, batchToks: DataFrame,
      storedTerms: DataFrame, batchTerms: DataFrame): DataFrame = {
    val delta = trigramCountsFromTokens(batchToks)
      .withColumnRenamed("n_abc", "d_abc").lazyPinned()
    val newTypes = delta
      .join(stored.select("w1", "w2", "w3"), Seq("w1", "w2", "w3"), "left_anti")
      .lazyPinned()
    val newPairs = newTypes.select("w2", "w3").distinct()
      .join(stored.select("w2", "w3").distinct(), Seq("w2", "w3"), "left_anti")
      .lazyPinned()
    val perCtx = delta.groupBy("w1", "w2").agg(sum("d_abc").as("d_c12"))
      .join(newTypes.groupBy("w1", "w2").agg(count(lit(1)).as("d_fwd12")),
        Seq("w1", "w2"), "left")
      .na.fill(0L, Seq("d_fwd12"))
    val perCont2 = newTypes.groupBy("w2", "w3")
      .agg(count(lit(1)).as("d_cont23"))
    val perMid = newTypes.groupBy("w2").agg(count(lit(1)).as("d_mid"))
      .join(newPairs.groupBy("w2").agg(count(lit(1)).as("d_n1pmid")),
        Seq("w2"), "left")
      .na.fill(0L, Seq("d_n1pmid"))
    val perCont1 = newPairs.groupBy("w3").agg(count(lit(1)).as("d_cont3"))
    val newTermCount = batchTerms.select("term").distinct()
      .join(storedTerms.select("term").distinct(), Seq("term"), "left_anti")
      .agg(count(lit(1)).as("d_v"))
    val scalarsMerged = stored
      .agg(coalesce(max("n_ct"), lit(0L)).as("s_ct"),
        coalesce(max("v_size"), lit(0L)).as("s_v"))
      .crossJoin(newPairs.agg(count(lit(1)).as("d_ct")))
      .crossJoin(newTermCount)
      .select((col("s_ct") + col("d_ct")).as("n_ct"),
        (col("s_v") + col("d_v")).as("v_size"))
    val mergedStored = stored.drop("n_ct", "v_size")
      .join(broadcast(delta), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(perCtx), Seq("w1", "w2"), "left")
      .join(broadcast(perCont2), Seq("w2", "w3"), "left")
      .join(broadcast(perMid), Seq("w2"), "left")
      .join(broadcast(perCont1), Seq("w3"), "left")
      .select(col("w1"), col("w2"), col("w3"),
        (col("n_abc") + coalesce(col("d_abc"), lit(0L))).as("n_abc"),
        (col("c12") + coalesce(col("d_c12"), lit(0L))).as("c12"),
        (col("n1p_fwd12") + coalesce(col("d_fwd12"), lit(0L))).as("n1p_fwd12"),
        (col("cont23") + coalesce(col("d_cont23"), lit(0L))).as("cont23"),
        (col("mid_ctx") + coalesce(col("d_mid"), lit(0L))).as("mid_ctx"),
        (col("n1p_mid") + coalesce(col("d_n1pmid"), lit(0L))).as("n1p_mid"),
        (col("cont3") + coalesce(col("d_cont3"), lit(0L))).as("cont3"))
    val ctxStats = stored
      .join(broadcast(newTypes.select("w1", "w2").distinct()),
        Seq("w1", "w2"), "left_semi")
      .groupBy("w1", "w2")
      .agg(max("c12").as("s_c12"), max("n1p_fwd12").as("s_fwd12"))
    val cont2Stats = stored
      .join(broadcast(newTypes.select("w2", "w3").distinct()),
        Seq("w2", "w3"), "left_semi")
      .groupBy("w2", "w3").agg(max("cont23").as("s_cont23"))
    val midStats = stored
      .join(broadcast(newTypes.select("w2").distinct()), Seq("w2"), "left_semi")
      .groupBy("w2").agg(max("mid_ctx").as("s_mid"), max("n1p_mid").as("s_n1pmid"))
    val cont1Stats = stored
      .join(broadcast(newTypes.select("w3").distinct()), Seq("w3"), "left_semi")
      .groupBy("w3").agg(max("cont3").as("s_cont3"))
    val newRows = newTypes
      .join(ctxStats, Seq("w1", "w2"), "left")
      .join(cont2Stats, Seq("w2", "w3"), "left")
      .join(midStats, Seq("w2"), "left")
      .join(cont1Stats, Seq("w3"), "left")
      .join(broadcast(perCtx), Seq("w1", "w2"), "left")
      .join(broadcast(perCont2), Seq("w2", "w3"), "left")
      .join(broadcast(perMid), Seq("w2"), "left")
      .join(broadcast(perCont1), Seq("w3"), "left")
      .select(col("w1"), col("w2"), col("w3"),
        col("d_abc").as("n_abc"),
        (coalesce(col("s_c12"), lit(0L)) + col("d_c12")).as("c12"),
        (coalesce(col("s_fwd12"), lit(0L)) + col("d_fwd12")).as("n1p_fwd12"),
        (coalesce(col("s_cont23"), lit(0L)) + coalesce(col("d_cont23"), lit(0L)))
          .as("cont23"),
        (coalesce(col("s_mid"), lit(0L)) + coalesce(col("d_mid"), lit(0L)))
          .as("mid_ctx"),
        (coalesce(col("s_n1pmid"), lit(0L)) + coalesce(col("d_n1pmid"), lit(0L)))
          .as("n1p_mid"),
        (coalesce(col("s_cont3"), lit(0L)) + coalesce(col("d_cont3"), lit(0L)))
          .as("cont3"))
    mergedStored.unionByName(newRows).crossJoin(broadcast(scalarsMerged))
  }

  /** Refresh-impact audit for a snapshot-scored KN3 model: given the
    * STORED trigram types and an append batch's trigram counts, one row
    * reporting how the model's global scalars would move under a rebuild —
    * `n_new_types` (continuation types the batch introduces: these shift
    * `N1+(··)` and with it EVERY stored score) and `n_grown_types`
    * (existing trigram types whose counts grow: these move only documents
    * whose transitions touch them). `n_new_types = 0` is the one case
    * where a changed-keys-only re-score would be exact; otherwise a
    * rebuild re-prices the whole corpus and this report is the trigger a
    * refresh cadence reads. Both numbers are narrow type-key joins of the
    * batch against the stored model — O(batch) probes, no corpus scan. */
  def kn3RefreshImpact(storedTrigrams: DataFrame,
      batchTrigrams: DataFrame): DataFrame = {
    val stored = storedTrigrams
      .select(col("w1"), col("w2"), col("w3"), lit(1L).as("seen"))
    batchTrigrams.select("w1", "w2", "w3")
      .join(stored, Seq("w1", "w2", "w3"), "left")
      .agg(count(when(col("seen").isNull, lit(1))).as("n_new_types"),
        count(when(col("seen").isNotNull, lit(1))).as("n_grown_types"))
  }

  private def bucketByFluency(docs: DataFrame, lmScores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lm = lmScores.select("doc_id", "avg_logprob")
    docs.select(col("doc_id"), col("source")).join(lm, "doc_id")
      .withColumn("ppl_rank", row_number().over(
        Window.partitionBy("source").orderBy(desc("avg_logprob"), asc("doc_id")))
        .cast("long"))
      .withColumn("n_in_source",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .select(col("doc_id"), col("source"), col("avg_logprob"), col("ppl_rank"),
        when(col("ppl_rank") * 3 <= col("n_in_source"), "head")
          .when(col("ppl_rank") * 3 <= col("n_in_source") * 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** BPE merge-rule induction — the tokenizer-TRAINING step of an LLM
    * pipeline (Sennrich et al. 2016, "Neural machine translation of rare
    * words with subword units"): start from characters (plus an `</w>`
    * end-of-word marker), repeatedly count adjacent symbol pairs across
    * the frequency-weighted word vocabulary and merge the most frequent
    * pair, leftmost-greedy. Output: the learned merge table
    * `(merge_rank, left, right, merged, pair_freq)` — the artifact a
    * tokenizer ships.
    *
    * Determinism: argmax ties break on (left, right) ascending, so the
    * rule sequence is unique; merge application is a left-to-right
    * `aggregate` fold, which IS the standard greedy non-overlapping
    * semantics (`aaa` under merge (a,a) → `[aa, a]`).
    *
    * Scale shape: the working set is the WORD VOCABULARY (term, freq,
    * symbol array) — vocabulary-sized, not corpus-sized; each round is a
    * narrow pair-count aggregate (map-side partials) plus a map-only fold
    * applying one rule. The driver loop iterates over MERGE RULES (a real
    * tokenizer run is tens of thousands of rounds — each O(vocab) work
    * regardless of corpus size), and the only collect is the single
    * winning pair per round. Lineage is cut per round so the plan stays
    * flat instead of nesting `nMerges` deep. */
  def bpeTrainMergesFromCounts(tc: DataFrame, nMerges: Int = 12): DataFrame =
    bpeTrainMerges(tc.groupBy("term").agg(sum("cnt").as("freq")), nMerges)

  /** THE leftmost-greedy merge fold — the one spelling both the trainer
    * and the encoder apply, so they can never disagree on merge
    * semantics. Rules enter as `lit()` columns, never string-spliced SQL
    * (symbols may contain quotes); `try_element_at` is ANSI-safe on the
    * empty initial accumulator (null compares to false in the `when`),
    * where `element_at` would throw. */
  private def applyMergeRule(symsCol: Column, l: String, r: String): Column =
    aggregate(symsCol, array().cast("array<string>"),
      (acc, s) => when(
        try_element_at(acc, lit(-1)) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - lit(1)), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** [[bpeTrainMergesFromCounts]] over a prebuilt `(term, freq)` vocabulary. */
  def bpeTrainMerges(termFreqs: DataFrame, nMerges: Int = 12): DataFrame = {
    val spark = termFreqs.sparkSession
    // `cached` owns the round's persisted blocks; `words` is a flat-plan
    // wrapper over its RDD (reads the cache, carries no nested SQL plan)
    var cached = termFreqs
      .select(col("freq").cast("long").as("freq"),
        concat(split(col("term"), ""), array(lit("</w>"))).as("syms"))
      .scopedPersist()
    cached.count()
    var words = cached
    val rules = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val top = words.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pair_freq"))
        .orderBy(desc("pair_freq"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, pf) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        rules += ((r, l, rr, l + rr, pf))
        val applied = words
          .withColumn("syms", applyMergeRule(col("syms"), l, rr))
          .scopedPersist()
        applied.count() // materialize before releasing the parent round
        cached.unpersist(false)
        cached = applied
        // cut lineage: nMerges chained folds would otherwise nest the whole
        // history into every subsequent round's plan
        words = spark.createDataFrame(applied.rdd, applied.schema)
      }
    }
    import spark.implicits._
    rules.result()
      .toDF("merge_rank", "left", "right", "merged", "pair_freq")
      .orderBy("merge_rank")
  }

  /** BPE ENCODING — apply a learned merge table to segment every
    * vocabulary word into subword units: the rules (a tokenizer model is
    * a small driver-side artifact, like a PQ codebook) chain as
    * `merges.length` leftmost-greedy folds in merge_rank order, which is
    * exactly the standard BPE encoder. Segmenting the VOCABULARY (not the
    * token stream) is the production shape: each distinct word encodes
    * once, and a stream joins against the result. Output:
    * (term, subwords, n_subwords). */
  def bpeSegmentVocab(terms: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val base = terms.select(col("term"),
      concat(split(col("term"), ""), array(lit("</w>"))).as("syms"))
    val applied = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("syms", applyMergeRule(col("syms"), l, r))
    }
    applied.select(col("term"), col("syms").as("subwords"),
      size(col("syms")).cast("long").as("n_subwords"))
      .orderBy("term")
  }

  /** Driver-visible BPE ROUND-TRIP gate (THROW contract, like the ANN
    * recall gates): the segmentation is self-checking — (a) concatenating
    * each term's subwords must reproduce the term plus the `</w>` marker
    * exactly (the fold never loses or duplicates a character), and (b)
    * every multi-character subword other than the marker must literally be
    * some rule's `merged` output (a segment can only exist because a rule
    * built it — anything else means the greedy fold and the rule table
    * disagree). OOV terms therefore segment into single characters +
    * marker only. Violations throw with counts; the summary row is the
    * driver-visible artifact. */
  def bpeRoundTripGate(segments: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val mergedSet = merges.map { case (l, r) => l + r }
    val isClosed = (s: Column) =>
      length(s) === 1 || s === lit("</w>") ||
        (if (mergedSet.isEmpty) lit(false) else s.isin(mergedSet: _*))
    val row = segments.select(
        (concat_ws("", col("subwords")) === concat(col("term"), lit("</w>")))
          .as("roundtrip_ok"),
        size(filter(col("subwords"), s => !isClosed(s))).as("n_unclosed"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(!col("roundtrip_ok"), 1L).otherwise(0L)).as("n_roundtrip_fail"),
        sum(when(col("n_unclosed") > 0, 1L).otherwise(0L)).as("n_unclosed_terms"))
      .head()
    val (n, rtFail, unclosed) =
      (row.getAs[Long]("n_terms"), row.getAs[Long]("n_roundtrip_fail"),
        row.getAs[Long]("n_unclosed_terms"))
    require(n > 0, "BPE round-trip gate is vacuous: no segmented terms")
    require(rtFail == 0L,
      s"$rtFail/$n BPE segmentations do not concatenate back to their term")
    require(unclosed == 0L,
      s"$unclosed/$n terms carry a multi-char subword no merge rule built")
    val s = segments.sparkSession
    import s.implicits._
    Seq((n, merges.size.toLong, rtFail, unclosed))
      .toDF("n_terms", "n_rules", "n_roundtrip_fail", "n_unclosed_terms")
  }

  /** Mergeable-sketch vocabulary inventory — the architecture that
    * replaces re-scans at 100 TB: each source (shard / day / provenance
    * bucket) aggregates ONE compact HLL sketch of its distinct term set
    * (Spark's built-in DataSketches `hll_sketch_agg`), and the corpus-wide
    * distinct estimate comes from UNIONING the sketches
    * (`hll_union_agg`), never from re-scanning the union of the data.
    * Any slice's cardinality is a merge of per-shard sketches — the
    * pattern a production pipeline stores alongside its partitions.
    *
    * Output: one row per source plus an `__all__` union row, each with
    * the sketch estimate AND the exact distinct count (the honest check:
    * at small cardinalities HLL answers exactly; at scale the exact side
    * is what you stop being able to afford). Estimates are
    * engine-internal (DataSketches) → rows-only driver check; the spec
    * gates estimate-vs-exact error. */
  def sourceTermHll(docs: DataFrame, tc: DataFrame, lgK: Int = 12): DataFrame = {
    val bySource = tc.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(hll_sketch_agg(col("term"), lit(lgK)).as("sketch"),
        count_distinct(col("term")).as("exact_distinct"))
      .scopedPersist()
    val all = bySource.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("approx_distinct"))
    val allExact = tc.agg(count_distinct(col("term")).as("exact_distinct"))
    bySource.select(col("source"),
        hll_sketch_estimate(col("sketch")).as("approx_distinct"),
        col("exact_distinct"))
      .unionByName(all.crossJoin(allExact).select(
        lit("__all__").as("source"), col("approx_distinct"), col("exact_distinct")))
      .orderBy("source")
  }

  /** Corpus-driven stopword candidates: terms whose document frequency
    * covers at least `minDfRatio` of the corpus — what a pipeline derives
    * its language-specific stop list from instead of shipping a fixed one.
    * One narrow (term, df) aggregate over the term-counts table; N is the
    * caller's corpus cardinality (ALL documents, O2 semantics, consistent
    * with every idf in [[Tfidf]]). */
  def stopwordCandidatesFromCounts(tc: DataFrame, totalDocs: Long,
      minDfRatio: Double = 0.5): DataFrame =
    tc.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("cnt").as("n_occurrences"))
      .where(col("df").cast("double") / lit(totalDocs.toDouble) >= minDfRatio)
      .select(col("term"), col("df"), col("n_occurrences"),
        round(col("df").cast("double") / lit(totalDocs.toDouble), 9).as("df_ratio"))
      .orderBy(desc("df"), asc("term"))

  /** Source-mixture equalization plan — the "data mixing" step of a
    * training pipeline: per source, its document/token inventory and the
    * deterministic sampling rate that levels every source down to the
    * smallest source's token budget (rate = min_tokens / source_tokens).
    * The output is the PLAN a pipeline feeds into
    * [[weightedSourceSample]]; planning and applying are separate so the
    * plan is inspectable and auditable.
    *
    * Scale shape: one narrow per-doc token rollup (shared shuffle with
    * TF-IDF's doc totals), one tiny groupBy(source), and the corpus-wide
    * minimum rides along as a broadcast one-row frame — no driver action,
    * no window over the full corpus. */
  /** Temperature-based source mixture plan (α-sampling — the multilingual
    * rebalancing rule of XLM-R / mT5: effective distribution ∝ p^α): per
    * source, the deterministic DOWN-sampling rate `rate_s =
    * p_s^(α−1) / max_t p_t^(α−1)` — the smallest source keeps rate 1,
    * larger sources shrink toward (not all the way to) it. α = 1 is the
    * identity plan; α → 0 degenerates to [[sourceMixturePlan]]'s full
    * equalization — this is the knob BETWEEN those endpoints a pipeline
    * actually tunes.
    *
    * Same scale shape as the equalization plan: one per-doc token rollup,
    * one tiny groupBy(source), corpus total and max weight riding along
    * as broadcast one-row frames. `pow` is rounded to 9 before any
    * downstream arithmetic (the ln precedent: spelled identically in the
    * oracle). */
  def sourceTemperaturePlan(docs: DataFrame, tc: DataFrame,
      alpha: Double = 0.7): DataFrame = {
    val perDoc = tc.groupBy("doc_id").agg(sum("cnt").as("n_tok"))
    val perSource = docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tok"), lit(0L)).as("total_tokens"))
    val tot = perSource.agg(sum("total_tokens").as("corpus_tokens"))
    val withW = perSource.crossJoin(broadcast(tot))
      .withColumn("p", col("total_tokens").cast("double") / col("corpus_tokens"))
      .withColumn("w",
        when(col("total_tokens") > 0, round(pow(col("p"), lit(alpha - 1.0)), 9))
          .otherwise(lit(0.0)))
    val mx = withW.agg(max("w").as("w_max"))
    withW.crossJoin(broadcast(mx))
      .withColumn("rate",
        when(col("w_max") > 0, round(col("w") / col("w_max"), 9))
          .otherwise(lit(0.0)))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("p"), 9).as("p"), col("rate"),
        round(col("total_tokens") * col("rate"), 0).cast("long")
          .as("expected_tokens"))
      .orderBy("source")
  }

  def sourceMixturePlan(docs: DataFrame, tc: DataFrame): DataFrame = {
    val perDoc = tc.groupBy("doc_id").agg(sum("cnt").as("n_tok"))
    val perSource = docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tok"), lit(0L)).as("total_tokens"))
    val minTok = perSource.agg(min("total_tokens").as("min_tokens"))
    // a token-less source would make its own rate 0/0 = NaN (and drag the
    // corpus minimum to zero, which is the right equalization answer for
    // every OTHER source) — define its rate as 0, spelled as the same CASE
    // in the oracle
    val rate = col("min_tokens").cast("double") / col("total_tokens")
    perSource.crossJoin(broadcast(minTok))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        when(col("total_tokens") > 0, round(rate, 9)).otherwise(lit(0.0))
          .as("sample_rate"),
        when(col("total_tokens") > 0, floor(rate * col("total_tokens")).cast("long"))
          .otherwise(lit(0L)).as("expected_tokens"))
      .orderBy("source")
  }

  /** Per-source bottom-quantile quality drop: rank each source's documents
    * by [[qualityScore]] (ascending, doc_id tiebreak) and drop the lowest
    * `dropFraction` — the rank-exact curation cut applied per provenance
    * shard. Integer rank comparisons only (no quantile interpolation), so
    * keep/drop decisions are bit-identical across engines.
    *
    * SCALE NOTE: `row_number` over `partitionBy(source)` funnels each
    * source through one partition — exact ranking is inherently a
    * per-shard sort. Right for bounded shards (a source's eval slice, a
    * crawl snapshot); for sources of unbounded size compose
    * [[stableSample]] or an `approx_percentile` threshold + join-back
    * instead, trading rank exactness for a fully parallel plan. */
  def qualityRankFilter(docs: DataFrame, dropFraction: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dropFraction >= 0.0 && dropFraction < 1.0,
      s"dropFraction $dropFraction must be in [0, 1)")
    val q = qualityScore(docs).select("doc_id", "quality")
    val w = Window.partitionBy("source").orderBy(asc("quality"), asc("doc_id"))
    docs.select(col("doc_id"), col("source")).join(q, "doc_id")
      .withColumn("quality_rank", row_number().over(w).cast("long"))
      .withColumn("n_in_source",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .where(col("quality_rank") > floor(lit(dropFraction) * col("n_in_source")))
      .select("doc_id", "source", "quality", "quality_rank")
      .orderBy("doc_id")
  }

  /** [[qualityRankFilter]]'s 100 TB escape hatch — per-source quantile
    * THRESHOLDS instead of per-source ranks: one mergeable
    * `percentile_approx` sketch per source (map-side partials, bounded
    * memory, no per-source single-partition sort), thresholds BROADCAST
    * back, keep decided by comparison. The trade: rank-exact breaks
    * boundary ties by doc_id; a threshold cannot see doc_ids, so a
    * quality value tied exactly AT the cut keeps or drops as a whole
    * group. On tie-free boundaries the two spellings keep IDENTICAL sets
    * ([[graft.TextAnalysisSpec]] pins that on the fixture), which is why
    * rank-exact stays the oracle query and this is the scale path.
    *
    * Boundary arithmetic: `percentile_approx(q, f)` at full accuracy
    * returns the value at ascending rank `ceil(f·n)`; rank-exact drops
    * the `floor(f·n)` lowest. When `f·n` is an integer the two ranks
    * coincide and the dropped set is `q ≤ t`; otherwise `t` is the first
    * KEPT value and the dropped set is `q < t`. */
  def qualityRankFilterSampled(docs: DataFrame, dropFraction: Double = 0.25,
      accuracy: Int = 100000): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction < 1.0,
      s"dropFraction $dropFraction must be in [0, 1)")
    val q = qualityScore(docs).select("doc_id", "quality")
    val scored = docs.select(col("doc_id"), col("source")).join(q, "doc_id")
    // same 4-column schema as the thresholded path (null threshold = "no
    // cut applied"), so callers can union/compare across parameterizations
    if (dropFraction == 0.0)
      return scored
        .select(col("doc_id"), col("source"), col("quality"),
          lit(null).cast("double").as("q_threshold"))
        .orderBy("doc_id")
    val thresholds = thresholdsFromScored(scored, dropFraction, accuracy)
    val cut = lit(dropFraction) * col("n_in_source")
    scored.join(broadcast(thresholds), "source")
      .where(when(floor(cut) === cut, col("quality") > col("q_threshold"))
        .otherwise(col("quality") >= col("q_threshold")))
      .select("doc_id", "source", "quality", "q_threshold")
      .orderBy("doc_id")
  }

  /** The per-source quality-threshold table [[qualityRankFilterSampled]]
    * cuts against, exposed as its own builder so a snapshot can STORE it:
    * `(source, n_in_source, q_threshold)` with the threshold from one
    * mergeable `percentile_approx` sketch per source (at full accuracy:
    * the quality value at ascending rank `ceil(dropFraction·n)`). The
    * stored form is what [[lowQualityByStoredThresholds]] scores append
    * batches against. */
  def qualityThresholds(docs: DataFrame, dropFraction: Double = 0.25,
      accuracy: Int = 100000): DataFrame = {
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction $dropFraction must be in (0, 1)")
    val q = qualityScore(docs).select("doc_id", "quality")
    thresholdsFromScored(
      docs.select(col("doc_id"), col("source")).join(q, "doc_id"),
      dropFraction, accuracy)
  }

  private def thresholdsFromScored(scored: DataFrame, dropFraction: Double,
      accuracy: Int): DataFrame =
    scored.groupBy("source").agg(
      count(lit(1)).as("n_in_source"),
      expr(s"percentile_approx(quality, $dropFraction, $accuracy)").as("q_threshold"))

  /** Low-quality FLAGS for an append batch against a STORED threshold
    * table ([[qualityThresholds]] built at snapshot time) — the
    * manifest's quality stage at O(batch): the honest incremental form
    * of the per-source rank cut, whose ranks shift on every append. The
    * boundary rule replays [[qualityRankFilterSampled]]'s complement
    * exactly — when `dropFraction·n_in_source` was an integer at snapshot
    * time the dropped set is `quality <= t`, otherwise `quality < t` —
    * so a batch scored here equals the sampled cut's verdict on the
    * snapshot corpus' boundary. A source with NO stored threshold flags
    * `low_quality = 1`: a visible refusal (the quota family's unplanned-
    * source posture) rather than silently admitting an uncalibrated
    * source. Output: (doc_id, source, quality, low_quality). */
  def lowQualityByStoredThresholds(newDocs: DataFrame,
      storedThresholds: DataFrame, dropFraction: Double = 0.25): DataFrame = {
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction $dropFraction must be in (0, 1)")
    val q = qualityScore(newDocs).select("doc_id", "quality")
    val cut = lit(dropFraction) * col("n_in_source")
    newDocs.select(col("doc_id"), col("source")).join(q, "doc_id")
      .join(broadcast(storedThresholds), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("quality"),
        when(col("q_threshold").isNull, lit(1L))
          .otherwise(when(floor(cut) === cut, col("quality") <= col("q_threshold"))
            .otherwise(col("quality") < col("q_threshold")).cast("long"))
          .as("low_quality"))
  }

  /** [[perplexityBuckets]]' thresholds-broadcast form, same trade as
    * [[qualityRankFilterSampled]]: the two tercile boundaries come from
    * one two-quantile sketch per source (`ceil(n/3)` and `ceil(2n/3)` are
    * exactly the ascending boundary ranks of the rank-exact cut, so
    * tie-free boundaries bucket identically), broadcast back — no
    * per-source sort anywhere in the plan. */
  def perplexityBucketsSampledKn(docs: DataFrame, toks: DataFrame,
      bigrams: DataFrame, d: Double = 0.75, accuracy: Int = 100000): DataFrame =
    bucketByFluencyThresholds(docs, lmDocScoresKnFromModel(toks, bigrams, d), accuracy)

  /** [[perplexityBucketsKn3]]' thresholds-broadcast form — the trigram
    * scorer behind the same sketch-threshold cut as
    * [[perplexityBucketsSampledKn]]: identical scale trade (no per-source
    * sort anywhere in the plan) with the larger-context model. */
  def perplexityBucketsSampledKn3(docs: DataFrame, toks: DataFrame,
      trigrams: DataFrame, tc: DataFrame, d: Double = 0.75,
      accuracy: Int = 100000): DataFrame =
    bucketByFluencyThresholds(docs,
      lmDocScoresKn3FromModel(toks, trigrams, tc, d), accuracy)

  private def bucketByFluencyThresholds(docs: DataFrame, lmScores: DataFrame,
      accuracy: Int): DataFrame = {
    val lm = lmScores.select("doc_id", "avg_logprob")
    val scored = docs.select(col("doc_id"), col("source")).join(lm, "doc_id")
    val thresholds = scored.groupBy("source").agg(
      expr(s"percentile_approx(avg_logprob, array(${1.0 / 3}D, ${2.0 / 3}D), $accuracy)")
        .as("ts"))
      .select(col("source"),
        element_at(col("ts"), 1).as("t_tail"), element_at(col("ts"), 2).as("t_head"))
    scored.join(broadcast(thresholds), "source")
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        when(col("avg_logprob") > col("t_head"), "head")
          .when(col("avg_logprob") > col("t_tail"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage: build the top-`vocabSize` term vocabulary by
    * corpus occurrence count (ties broken by term — deterministic cutoff),
    * then report per document how many token occurrences fall outside it
    * (the OOV rate a tokenizer/vocab design iterates on).
    *
    * Scale shape: the vocabulary is a top-k over the (term, freq)
    * aggregate — TakeOrderedAndProject, no global sort — and is small by
    * construction, so it BROADCASTS to the token stream; the per-doc count
    * partial-aggregates map-side. The corpus is never shuffled by term
    * beyond the narrow (term, doc_id, cnt) aggregation it already shares
    * with TF-IDF. */
  /** Per-document token-distribution entropy — the repetitiveness signal a
    * perplexity-style quality filter approximates without a model: low
    * entropy = few terms dominate (boilerplate, stutter, generated spam),
    * high = diverse vocabulary. `entropy` is Shannon H over the document's
    * term distribution in nats, via H = ln(n) − (Σ c·ln c)/n;
    * `norm_entropy` divides by the document's maximum possible H
    * (ln n_distinct) into [0, 1].
    *
    * Float parity: each per-term c·ln(c) rounds to 9 then sums through
    * DECIMAL (order-independent — a raw double Σ would differ across
    * partition merge orders and engines); ln is per-row, never summed raw.
    * Scale shape: one narrow aggregate over the shared term-counts asset —
    * no tokenize, no shuffle beyond the (doc) rollup. */
  def tokenEntropyFromCounts(tc: DataFrame): DataFrame =
    tc.groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(round(col("cnt").cast("double") * log(col("cnt").cast("double")), 9)
          .cast("decimal(28,9)")).as("_clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens").cast("double")) -
          col("_clnc").cast("double") / col("n_tokens").cast("double"), 9).as("entropy"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("entropy"),
        when(col("n_distinct") > 1,
          round(col("entropy") / log(col("n_distinct").cast("double")), 9))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy("doc_id")

  def vocabCoverage(docs: DataFrame, vocabSize: Int = 1000): DataFrame =
    vocabCoverageFromCounts(Tfidf.termCounts(Tfidf.tokenizePortable(docs)), vocabSize)

  /** [[vocabCoverage]] from a prebuilt term-counts table (shared asset). */
  def vocabCoverageFromCounts(tc: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val vocab = tc.groupBy("term").agg(sum("cnt").as("freq"))
      .orderBy(desc("freq"), asc("term")).limit(vocabSize)
      .select(col("term"), lit(1L).as("_v"))
    tc.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        sum(when(col("_v").isNotNull, col("cnt")).otherwise(0L)).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        round(lit(1.0) - col("n_in_vocab").cast("double") / col("n_tokens"), 9)
          .as("oov_rate"))
      .orderBy("doc_id")
  }
}
