package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TRUE exact-substring deduplication — the Lee et al. 2021
  * ("Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr) guarantee, distributed: report every maximal region of
  * every document that lies inside some substring of `minLen`+ tokens
  * occurring more than once in the corpus, comparing EXACT token content
  * (never just a hash), and strip the non-canonical occurrences.
  *
  * == Why window equality IS the suffix-array longest-match semantics ==
  *
  * Let `M` = the union of token positions covered by some duplicated
  * substring of length ≥ L (what a suffix automaton / suffix array over
  * the concatenated corpus marks), and `W` = the union of positions
  * covered by some duplicated L-token window. These SETS ARE EQUAL:
  *
  *  - `W ⊆ M`: a duplicated L-window is itself a duplicated substring of
  *    length L ≥ L.
  *  - `M ⊆ W`: if a substring S with |S| ≥ L occurs at two places, every
  *    L-window of S occurs at the corresponding offset of both places, so
  *    every position of S (each inside some L-window of S) is covered by
  *    a duplicated window.
  *
  * Maximal merged runs of `W` therefore EQUAL the maximal duplicated
  * regions a suffix-array pass reports — [[graft.ExactSubstrSpec]]
  * property-tests exactly this against a literal single-node suffix-array
  * implementation of the Lee et al. algorithm, and against brute force on
  * randomized planted-duplicate corpora.
  *
  * == Why candidate-then-verify instead of a distributed suffix sort ==
  *
  * A prefix-doubling suffix sort is ⌈log₂ L⌉ full-corpus shuffle rounds;
  * the hash-candidate → exact-verify pipeline is ONE narrow full-corpus
  * exchange (16-byte (pos, hash) rows from the O(1)-per-position rolling
  * kernel [[graft.functions.WindowHashes]]) plus content traffic
  * proportional to the DUPLICATED fraction only — at 100 TB the decisive
  * difference. Exactness is preserved because hashing only generates
  * CANDIDATES: all occurrences of a gram share its hash, so grouping the
  * candidates by exact token content sees every occurrence of every truly
  * duplicated gram, and collisions die in the content groupBy (they cost
  * one extra verified row, never a wrong answer). The prefix-doubling
  * spelling still exists here ([[duplicateWindowsViaRanks]]) as an
  * algorithm-independent cross-check, THROW-gated to agree position-for-
  * position with the candidate-verify path.
  *
  * Reference scope note: the reference engine (NZJ-Jimmy/TF-IDF_MapReduce)
  * has no dedup at all; this extends the engine's token-array machinery
  * (`Curation.tokenArray` chain) to the exact-substring step of an LLM
  * data pipeline. */
object ExactSubstr {

  /** Persist + materialize + LINEAGE-CUT an iteration frame: without the
    * `createDataFrame(rdd, schema)` cut, an iterative operator whose level
    * k+1 references level k twice doubles ANALYSIS cost per round even
    * with every level persisted (the bpeTrainMerges lesson — 70 s in the
    * optimizer on 27k rows), and the plan TEXT grows exponentially. The
    * materializing count also pins any non-deterministic ids
    * (`monotonically_increasing_id`) against recomputation under a
    * different partition layout. */
  private def pin(df: DataFrame): DataFrame = {
    val p = df.scopedPersist()
    p.count()
    df.sparkSession.createDataFrame(p.rdd, p.schema)
  }

  /** Verified duplicated `n`-token windows over the shared token-array
    * asset `(doc_id, tokens)`: (doc_id, pos, gram, occ, canon) with `pos`
    * 1-based, `occ` the gram's corpus-wide occurrence count (≥ 2) and
    * `canon` the gram's canonical occurrence (corpus-first:
    * min (doc_id, pos) — the same keeper rule as the hashed span family).
    *
    * Scale shape, stage by stage:
    *  1. candidate hashes: per-row rolling kernel → (doc_id, pos, wh)
    *     rows, ONE narrow groupBy(wh) with map-side partials;
    *  2. candidate positions: equi-join on the 8-byte hash (AQE
    *     broadcasts the duplicated-hash side when it is small — the
    *     common case);
    *  3. content verify: candidate positions regroup per doc (bounded by
    *     ONE document's window count), join the token arrays by doc_id
    *     (shuffle bounded by the documents that HAVE candidates), slice
    *     the `n`-token gram locally, and groupBy exact gram content —
    *     only candidate windows ever materialize or shuffle a gram
    *     string, so content traffic scales with the duplicated fraction,
    *     not the corpus. */
  def duplicateWindowsFromTokens(toks: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"window length n=$n must be >= 1")
    val winHashes = windowHashesFromTokens(toks, n).scopedPersist()
    val dupHash = winHashes.groupBy("wh").agg(count(lit(1)).as("h_occ"))
      .where(col("h_occ") >= 2).select("wh")
    verifyCandidates(toks,
      winHashes.join(dupHash, "wh").select("doc_id", "pos"), n)
  }

  /** The FULL rolling-hash window index (doc_id, pos, wh) — every
    * position, duplicated or not: the narrow (24-byte-row) mergeable
    * sibling of the verified index that incremental maintenance needs
    * (a new document can flip a previously-UNIQUE old window to
    * duplicated, and uniqueness is exactly what the verified index does
    * not store). One kernel pass, no shuffle. */
  def windowHashesFromTokens(toks: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"window length n=$n must be >= 1")
    toks
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(tokens, $n)")).as(Seq("p0", "wh")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("wh"))
  }

  /** INCREMENTAL index maintenance — corpus append without a full
    * rebuild: merge NEW documents into the stored exact-substring index,
    * producing exactly what [[duplicateWindowsFromTokens]] would build
    * over old ∪ new (spec-pinned equality, and the registered query
    * shares the full-rebuild spans oracle).
    *
    * Candidates, from hashes alone: the old positions whose stored hash
    * matches ANY new window hash (the only old windows a new occurrence
    * can flip or grow — a hash mismatch proves content mismatch), plus
    * the new positions whose hash collides within the batch or appears
    * in the old index. EXACTNESS: equal grams have equal hashes, so for
    * every gram with ≥ 1 new occurrence the candidate set contains ALL
    * its union occurrences — the content verify then computes true
    * corpus-wide occ and canon for those grams (the same closure
    * argument as [[verifyCandidates]]); grams with no new occurrence
    * keep their stored rows untouched via the (doc_id, pos) anti-join
    * (a hash collision only promotes such a gram's positions into the
    * verify, which recomputes rows identical to the stored ones).
    *
    * Scale shape: the old CONTENT is read only for documents owning a
    * candidate (token arrays join the candidate doc set — bounded by the
    * cross-batch match fraction, never the old corpus); the old side
    * otherwise contributes only hash-keyed semi-joins against the
    * narrow stored index, which an index bucketed/partitioned by hash
    * range prunes. Gram strings shuffle for candidates only, as
    * everywhere in the family. */
  def mergeVerifiedIncremental(oldToks: DataFrame, oldHashes: DataFrame,
      oldVerified: DataFrame, newToks: DataFrame, n: Int): DataFrame = {
    // each multiply-referenced frame is pin()ned: a lazy reuse EMBEDS its
    // whole upstream per reference and the merge references newH twice
    // and the candidates twice — unpinned this compiled a 200-exchange
    // plan (the depth-profile lesson, again)
    val newH = pin(windowHashesFromTokens(newToks, n))
    // the batch's distinct hashes are broadcast-sized (8 bytes each — an
    // append batch is bounded, unlike the corpus), so the stored index is
    // probed map-side and never shuffles; pinned frames carry no stats,
    // so the hints are explicit. A batch too large to broadcast would
    // instead bucket/partition both hash tables by hash range and
    // equi-join co-located — drop the hints, keep the shape.
    val newWh = broadcast(newH.select("wh").distinct())
    val oldHit = oldHashes.join(newWh, "wh").select("wh", "doc_id", "pos")
    // candidates in ONE grouped filter (the r10 merge diet — this used to
    // be two broadcast unions plus a pinned oldHit): over newH ∪ oldHit,
    // a window is a candidate iff its hash group has ≥ 2 union
    // occurrences. Equivalent to the old oldCand/newCand spelling: every
    // oldHit position has ≥ 1 new hash-mate (≥ 2 total, all emitted), a
    // new position qualifies iff it collides in-batch or hits the old
    // index, and a unique new window (count 1) drops — the same set,
    // with oldHit now referenced ONCE (no pin barrier, no second
    // broadcast build). Collisions only ADD candidates; the content
    // verify rejects them.
    // persisted (no count barrier — both references materialize inside
    // the one candPos job), mirroring the base build's winHashes cache
    val u = newH.select("wh", "doc_id", "pos").unionByName(oldHit).scopedPersist()
    val dupWh = u.groupBy("wh").agg(count(lit(1)).as("c")).where(col("c") >= 2)
    // distinct: a caller whose old/new doc sets overlap must not count a
    // position's gram twice in the verify
    // lazyPinned (the r11 barrier diet): lineage still cut, but the cache is
    // populated by the first downstream job instead of a dedicated count
    // barrier — the merge path is deterministic, so compute-once needs
    // only the persist
    val candPos = u.join(dupWh.select("wh"), "wh")
      .select("doc_id", "pos").distinct().lazyPinned()
    val candDocs = broadcast(candPos.select("doc_id").distinct())
    // ONE semi-join over the union frame (the r12 merge diet — this was
    // two per-side semi-joins, i.e. two broadcast probe operators and a
    // second exchange reuse to plan): semi-join distributes over union,
    // so the candidate-doc filter runs once on the concatenated scan
    val toksCand = oldToks.select("doc_id", "tokens")
      .unionByName(newToks.select("doc_id", "tokens"))
      .join(candDocs, Seq("doc_id"), "left_semi")
    val verifiedCand = verifyCandidates(toksCand, candPos, n).lazyPinned()
    oldVerified
      .join(verifiedCand.select("doc_id", "pos"), Seq("doc_id", "pos"), "left_anti")
      .unionByName(verifiedCand)
  }

  /** Attach the `level`-window rolling hash to a marked set — the narrow
    * probe key incremental CASCADE maintenance needs (an append can touch
    * a stored level gram only through a hash-equal window, so stored
    * levels carry their hashes the way the base index stores
    * `exact_substr_hashes_l12`). One kernel pass restricted to documents
    * owning marks; no broadcast hint — the marked-doc set scales with the
    * duplicated fraction, not the batch. */
  def withLevelHashes(toks: DataFrame, marks: DataFrame, level: Int): DataFrame = {
    val markedDocs = marks.select("doc_id").distinct()
    val h = windowHashesFromTokens(
      toks.join(markedDocs, Seq("doc_id"), "left_semi"), level)
    marks.join(h, Seq("doc_id", "pos"))
  }

  /** One LEVEL of incremental cascade maintenance — the stored marked set
    * at `level` updated for an append, given the already-MERGED half-level
    * truth. Produces exactly what [[cascadeStep]] over the union corpus
    * would (spec-pinned), touching old content only for candidate
    * documents.
    *
    * Candidates, and why they are CLOSED over every touched gram (a gram
    * whose (occ, canon) row set changes): append-only corpora only ADD
    * occurrences, and any added occurrence of a `level`-gram lives in a
    * new document — so a touched gram has (a) new-document occurrences,
    * whose half-marks are new rows (⇒ `changedHalf`) and which pass the
    * half-closure over `mergedHalf`, and (b) old occurrences. An old
    * occurrence of a touched gram either was already duplicated
    * pre-append — then it sits in `storedLevel` with the SAME hash as the
    * new occurrence and the hash probe finds it — or was UNIQUE
    * pre-append and flips only through a new content-equal twin: the twin
    * shares its half-grams, so those half-grams gain occurrences and the
    * old position's half rows CHANGE (new rows, or occ bumps — `occ`
    * inequality is what `changed` detection compares), putting the old
    * position in the changed-adjacent closure. Grams with no new
    * occurrence keep their stored rows via the anti-join; a hash
    * collision only promotes untouched rows into the verify, which
    * recomputes them identically (all their occurrences are stored, and
    * the probe pulls every stored row of the colliding hash).
    *
    * Scale shape: closure + changed-adjacency are narrow (doc_id, pos)
    * joins over the merged half marks; level hashes are computed only for
    * enabled-candidate documents; the probe hash set is bounded by the
    * append's touched fraction (broadcast, like the base merge — a batch
    * too large to broadcast would bucket both hash tables instead); the
    * content verify reads token arrays only for candidate documents. */
  def mergeLevelIncremental(unionToks: DataFrame, storedLevel: DataFrame,
      mergedHalf: DataFrame, changedHalf: DataFrame, level: Int): DataFrame = {
    require(level % 2 == 0, s"level $level must be even (a cascade doubling)")
    val half = level / 2
    val mh = mergedHalf.select("doc_id", "pos")
    // half-closure over the merged truth: marks at p AND p + half
    val closure = mh.join(
      mh.select(col("doc_id"), (col("pos") - half).as("pos")),
      Seq("doc_id", "pos"))
    // ...restricted to pairs involving a changed half mark (at p or p+half)
    val ch = changedHalf.select("doc_id", "pos")
    val changedAdj = ch.unionByName(
      ch.select(col("doc_id"), (col("pos") - half).as("pos"))).distinct()
    // referenced once (straight into the hash pass) — no pin needed
    val enabled = closure.join(changedAdj, Seq("doc_id", "pos"), "left_semi")
    // level hashes for enabled positions only (content read: enabled docs).
    // lazyPinned (the r11 barrier diet, like the base merge): every frame
    // below is referenced 2-3 times but deterministic, so the persist
    // alone guarantees compute-once — the count barriers were ~40% of the
    // level's wall time — while the lineage cut keeps plan text flat (the
    // first un-cut attempt OOMed the spec heap rendering the plan string).
    val enabledH = withLevelHashes(unionToks, enabled, level).lazyPinned()
    // stored occurrences of touched (or hash-colliding) grams
    val storedHit = storedLevel.join(
      broadcast(enabledH.select("wh").distinct()), "wh").lazyPinned()
    val candPos = enabledH.select("doc_id", "pos")
      .unionByName(storedHit.select("doc_id", "pos")).distinct().lazyPinned()
    val candDocs = broadcast(candPos.select("doc_id").distinct())
    val verified = verifyCandidates(
      unionToks.join(candDocs, Seq("doc_id"), "left_semi"), candPos, level)
    // re-attach hashes (every candidate's hash is already known: enabled
    // side computed it, stored side stored it) and splice over the index
    val whMap = enabledH.select("doc_id", "pos", "wh")
      .unionByName(storedHit.select("doc_id", "pos", "wh"))
      .dropDuplicates("doc_id", "pos")
    val verifiedWh = verified.join(whMap, Seq("doc_id", "pos"))
      .select("doc_id", "pos", "occ", "canon", "wh")
    storedLevel.join(candPos, Seq("doc_id", "pos"), "left_anti")
      .select("doc_id", "pos", "occ", "canon", "wh")
      .unionByName(verifiedWh)
  }

  /** Incremental maintenance of the WHOLE cascade family — base verified
    * index plus every stored level — for one append batch: the base merges
    * via [[mergeVerifiedIncremental]], then each level merges bottom-up
    * via [[mergeLevelIncremental]] with the previous level's merged truth
    * and its changed-row set (`occ`-sensitive anti-join — occ can only
    * grow under append, and an unchanged occ implies an unchanged
    * occurrence set, hence unchanged canon). Returns (length, merged)
    * base-first, each pinned (the iterative-operator frame discipline).
    *
    * `storedLevels` must be the stored PRE-append levels with their `wh`
    * column ([[withLevelHashes]]), ascending, each exactly doubling. */
  def mergeCascadeIncremental(oldToks: DataFrame, oldHashes: DataFrame,
      oldVerified: DataFrame, storedLevels: Seq[(Int, DataFrame)],
      newToks: DataFrame, baseLen: Int): Seq[(Int, DataFrame)] = {
    val unionToks = oldToks.select("doc_id", "tokens")
      .unionByName(newToks.select("doc_id", "tokens"))
    val mergedBase =
      mergeVerifiedIncremental(oldToks, oldHashes, oldVerified, newToks, baseLen).lazyPinned()
    (baseLen, mergedBase) +:
      mergeLevelsIncremental(unionToks, mergedBase, oldVerified, storedLevels,
        baseLen)
  }

  /** The LEVEL half of [[mergeCascadeIncremental]], for callers that
    * already hold the merged base truth (the serving-shaped replay reads
    * the stored full-corpus index, whose equality with the live base
    * merge the base replay's oracle pins — re-running the base merge
    * inside the level replay would double the registry's most expensive
    * entry for no added coverage). `mergedBase` must be the POST-append
    * base index; `oldVerified` the pre-append one; changed rows are
    * derived `occ`-sensitively here. */
  def mergeLevelsIncremental(unionToks: DataFrame, mergedBase: DataFrame,
      oldVerified: DataFrame, storedLevels: Seq[(Int, DataFrame)],
      baseLen: Int): Seq[(Int, DataFrame)] = {
    // changed sets lazyPinned (referenced twice inside the next level's
    // adjacency union — deterministic, persist + lineage cut is enough)
    def changedVs(merged: DataFrame, stored: DataFrame): DataFrame =
      changedMarks(merged, stored).lazyPinned()
    val out = Seq.newBuilder[(Int, DataFrame)]
    var mergedHalf = mergedBase.select("doc_id", "pos")
    var changedHalf = changedVs(mergedBase, oldVerified)
    var halfLen = baseLen
    for ((level, stored) <- storedLevels) {
      require(level == 2 * halfLen,
        s"stored levels must double: got $level after $halfLen")
      // every level lazyPinned: the NEXT level's half-closure self-joins
      // this frame (lineage cut mandatory), but the materialize barrier
      // is not — the next level's first job (or the caller's action)
      // populates the cache
      val merged =
        mergeLevelIncremental(unionToks, stored, mergedHalf, changedHalf, level).lazyPinned()
      // the changed set only feeds the NEXT doubling — skip it on the last
      if (storedLevels.last._1 != level) changedHalf = changedVs(merged, stored)
      mergedHalf = merged.select("doc_id", "pos")
      halfLen = level
      out += ((level, merged))
    }
    out.result()
  }

  /** Shared verify tail: slice the exact `n`-token gram for every
    * candidate position (per-doc regroup, local slicing — only candidate
    * windows materialize a string) and keep the content groups occurring
    * ≥ 2 times. EXACT for any candidate superset that is closed over true
    * duplicates (all occurrences of a duplicated gram must be candidates
    * — both the hash prefilter and the half-window cascade guarantee it). */
  private def verifyCandidates(toks: DataFrame, candPos: DataFrame,
      n: Int): DataFrame = {
    val candPerDoc = candPos.groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
    val cand = toks.select(col("doc_id"), col("tokens")).join(candPerDoc, "doc_id")
      .select(col("doc_id"), explode(col("ps")).as("pos"), col("tokens"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("tokens"), col("pos").cast("int"), lit(n))).as("gram"))
    val occ = cand.groupBy("gram")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("canon"))
      .where(col("occ") >= 2)
    cand.join(occ, "gram")
      .select(col("doc_id"), col("pos"), col("gram"), col("occ"), col("canon"))
  }

  /** Maximal duplicated regions per document: (doc_id, span_start,
    * span_end, span_len), 1-based inclusive — every token position inside
    * some duplicated substring of ≥ `minLen` tokens, merged into maximal
    * runs (the Lee-et-al output shape; see the object doc for why this
    * equals the suffix-array marking). The merge folds each document's
    * sorted duplicated-window starts in the array domain — bounded by one
    * document's length, like every re-assembly in the span family. */
  def spansFromTokens(toks: DataFrame, minLen: Int): DataFrame =
    spansFromVerified(duplicateWindowsFromTokens(toks, minLen), minLen)

  /** [[spansFromTokens]] over a PREBUILT verified-windows table — the
    * stored-asset serving path (the verify pipeline runs once per
    * dataset; every consumer reads its parquet). */
  def spansFromVerified(verified: DataFrame, minLen: Int): DataFrame =
    mergedSpans(verified.select("doc_id", "pos"), minLen)

  /** [[spansFromVerified]] with PROVENANCE: each region also reports the
    * canonical (corpus-first) occurrence of its opening window —
    * (witness_doc, witness_pos) — the "duplicated from WHERE" answer a
    * curation review needs. A region whose own document IS the canonical
    * copy witnesses itself (the honest answer for the keeper). One
    * equi-join back on (doc_id, span_start): a region's start is by
    * construction a verified window position, and the verified table
    * already carries each gram's canon. */
  def spansWithWitness(verified: DataFrame, n: Int): DataFrame =
    spansFromVerified(verified, n)
      .join(verified.select(col("doc_id"),
          col("pos").as("span_start"),
          col("canon.doc_id").as("witness_doc"),
          col("canon.pos").as("witness_pos")),
        Seq("doc_id", "span_start"))
      .select("doc_id", "span_start", "span_end", "span_len",
        "witness_doc", "witness_pos")
      .orderBy("doc_id", "span_start")

  /** Region merge over marked window starts (doc_id, pos): consecutive
    * coverage `[p, p+n-1]` runs become one (span_start, span_end) row.
    * Since starts are sorted ascending, a window extends the open region
    * iff `p ≤ end + 1`; its covered end `p + n - 1` is then the new
    * maximum. */
  private[operators] def mergedSpans(marked: DataFrame, n: Int): DataFrame =
    marked
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), explode(expr(
        s"""aggregate(ps, CAST(array() AS array<struct<s: bigint, e: bigint>>),
           |  (acc, p) -> CASE
           |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1 THEN
           |      concat(slice(acc, 1, size(acc) - 1),
           |        array(named_struct('s', element_at(acc, -1).s,
           |                           'e', CAST(p + ${n - 1} AS BIGINT))))
           |    ELSE concat(acc, array(named_struct(
           |      's', CAST(p AS BIGINT), 'e', CAST(p + ${n - 1} AS BIGINT))))
           |  END)""".stripMargin)).as("r"))
      .select(col("doc_id"), col("r.s").as("span_start"), col("r.e").as("span_end"),
        (col("r.e") - col("r.s") + 1).as("span_len"))
      .orderBy("doc_id", "span_start")

  /** Exact-substring STRIP — rebuild each document with verified
    * duplicated windows removed, keeping each gram's canonical
    * (corpus-first) occurrence: identical keeper rule, token domain, and
    * output shape as [[Curation.stripDuplicateSpans]], with the verify
    * pipeline above replacing the full-corpus gram-string shuffle. At the
    * same `n` the two produce identical rows (the candidate-verify path
    * finds exactly the string-keyed dup set — the agreement gate's
    * claim); the win is running at Lee-et-al window lengths (tens of
    * tokens) where shipping every window's string is `n`× corpus bytes. */
  def stripFromTokens(docs: DataFrame, toks: DataFrame, n: Int): DataFrame =
    stripFromVerified(docs, duplicateWindowsFromTokens(toks, n), n)

  /** [[stripFromTokens]] over the prebuilt verified-windows table. */
  def stripFromVerified(docs: DataFrame, verified: DataFrame, n: Int): DataFrame = {
    val rem = verified
      .where(struct(col("doc_id"), col("pos")) =!= col("canon"))
      .select("doc_id", "pos")
    Curation.assembleStripped(docs, rem, n)
  }

  /** Length-weighted exact-substring strip (the Lee et al. §4
    * threshold-by-length policy): remove only duplicated content that
    * sits inside a verbatim duplicate of ≥ `minLen` tokens, where
    * `minLen` is a CASCADE level above the base index — short boilerplate
    * (headers, license lines) survives for the gram families to judge,
    * long verbatim clones are stripped down to their canonical
    * (corpus-first) occurrence. This is [[stripFromVerified]] pointed at
    * a stored cascade-level marked set instead of the base index — the
    * level's `canon` IS the corpus-first occurrence of that level-length
    * gram, so the keeper rule, token domain, and output shape are
    * unchanged; only the marking length moves. Serving cost: one read of
    * the (shrinking) level parquet + the same anti-coverage re-assembly,
    * bounded per document. */
  def stripThresholdFromLevel(docs: DataFrame, levelMarks: DataFrame,
      level: Int): DataFrame =
    stripFromVerified(docs, levelMarks, level)

  /** KEEP-LONGEST exact-substring strip (the other Lee et al. §4 keeper
    * variant): for each duplicated `n`-gram keep the occurrence living in
    * the LONGEST document (token count; ties → corpus-first (doc_id,
    * pos)) instead of the corpus-first occurrence — the policy that
    * preserves the most-complete context of a duplicated passage (the
    * canonical copy of a quote should be the full article, not the
    * tweet-length fragment that happened to have the smallest id).
    *
    * The keeper election never touches gram STRINGS: at fixed `n` a
    * gram's occurrence group is uniquely identified by its stored `canon`
    * (the corpus-first (doc_id, pos) of that gram), so the re-election
    * groups the verified table by the 16-byte canon key, joins doc
    * lengths from the token-array side, and takes
    * `min(struct(−doc_len, doc_id, pos))` per group — one narrow agg, no
    * window, no content shuffle. Removed positions then re-assemble
    * through the shared anti-coverage strip. */
  def stripKeepLongestFromVerified(docs: DataFrame, toks: DataFrame,
      verified: DataFrame, n: Int): DataFrame = {
    val docLen = toks.select(col("doc_id"),
      size(col("tokens")).cast("long").as("doc_len"))
    val keeper = verified.select("doc_id", "pos", "canon")
      .join(docLen, "doc_id")
      .groupBy(col("canon"))
      .agg(min(struct((-col("doc_len")).as("neg_len"),
        col("doc_id").as("kd"), col("pos").as("kp"))).as("k"))
      .select(col("canon"), col("k.kd").as("keep_doc"), col("k.kp").as("keep_pos"))
    val rem = verified.join(keeper, "canon")
      .where(col("doc_id") =!= col("keep_doc") || col("pos") =!= col("keep_pos"))
      .select("doc_id", "pos")
    Curation.assembleStripped(docs, rem, n)
  }

  /** Corpus duplication-DEPTH profile (the Lee et al. duplication-length
    * distribution): for each window length ℓ in `lengths` (conventionally
    * L, 2L, 4L, …), how much of the corpus sits inside a verbatim
    * duplicate of ≥ ℓ tokens — duplicated-window count, distinct covered
    * token positions, and documents touched. A corpus whose mass stays
    * flat as ℓ doubles is dominated by LONG verbatim clones (one strip
    * pass pays off); mass collapsing at small ℓ means short boilerplate
    * (the gram families handle it). Lengths with no duplicates report a
    * zero row, not an absent one.
    *
    * Scale shape: one candidate-verify pass per length (each linear with
    * candidate-bounded content traffic — see
    * [[duplicateWindowsFromTokens]]), coverage as an explode + distinct
    * over MARKED positions only. Lengths are a handful of constants, so
    * the union is a fixed fan of linear passes. */
  def dupLengthProfile(toks: DataFrame,
      lengths: Seq[Int] = Seq(12, 24, 48, 96)): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1), s"bad lengths $lengths")
    // a global agg over an empty marked set still yields its one zero row
    lengths.sorted.map { l =>
      depthRow(duplicateWindowsFromTokens(toks, l).select("doc_id", "pos"), l)
    }.reduce(_ unionByName _).orderBy("min_len")
  }

  private def depthRow(marked: DataFrame, l: Int): DataFrame =
    marked
      .select(col("doc_id"), col("pos"),
        explode(expr(s"sequence(pos, pos + ${l - 1})")).as("tok"))
      .agg(
        countDistinct(col("doc_id"), col("pos")).as("n_dup_windows"),
        countDistinct(col("doc_id"), col("tok")).as("n_dup_positions"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(lit(l.toLong).as("min_len"), col("n_dup_windows"),
        col("n_dup_positions"), col("n_docs"))

  /** [[dupLengthProfile]] served from the STORED verified-windows asset,
    * doubling upward by CASCADE PRUNING: a duplicated 2ℓ-window's two
    * ℓ-halves are themselves duplicated, so level 2ℓ's candidates are
    * exactly the positions whose ℓ-marks exist at both `p` and `p + ℓ` —
    * one narrow self-equi-join on the previous (shrinking) marked set
    * plus the shared content verify over those candidates. Closure
    * argument for exactness: every true occurrence of a duplicated
    * 2ℓ-gram passes the half-mark test, so the verify's content groups
    * are complete. The corpus is rescanned ZERO times past the base
    * level (candidates regroup per doc and slice locally); each level's
    * cost tracks the surviving duplicated mass, which the profile itself
    * shows shrinking. */
  def dupLengthProfileFromVerified(toks: DataFrame, verified: DataFrame,
      baseLen: Int, doublings: Int = 3): DataFrame =
    dupLengthProfileFromLevels(
      cascadeLevels(toks, verified.select("doc_id", "pos"), baseLen, doublings))

  /** One cascade doubling: the marked set at `2·half` from the marked set
    * at `half` — candidates are positions whose `half`-marks exist at both
    * `p` and `p + half` (closure: every occurrence of a duplicated
    * 2·half-gram passes the half-mark test), then the shared content
    * verify. The level-to-level derivation the level sub-assets persist.
    * Output keeps the verify's `occ` and `canon` columns (the gram string
    * itself is dropped — at 24/48/96 tokens it would dominate the stored
    * level), so every stored level can serve canonical-keep policies like
    * [[stripFromVerified]] at ITS length, not just profile counting. */
  def cascadeStep(toks: DataFrame, markedHalf: DataFrame, half: Int): DataFrame = {
    val marked = markedHalf.select("doc_id", "pos")
    val tail = marked.select(col("doc_id"), (col("pos") - half).as("pos"))
    verifyCandidates(toks, marked.join(tail, Seq("doc_id", "pos")), 2 * half)
      .select("doc_id", "pos", "occ", "canon")
  }

  /** The cascade's per-level marked sets, base first: (ℓ, marked_ℓ) for
    * ℓ = baseLen, 2·baseLen, …. Each level is [[pin]]ned — the r8 profile
    * `scopedPersist`ed each level but did NOT lineage-cut, and since every
    * doubling embeds the previous level's plan twice (marked + shifted
    * tail join sides) the registered profile compiled a 953-exchange plan
    * text even though runtime was saved by the persists. */
  def cascadeLevels(toks: DataFrame, baseMarked: DataFrame, baseLen: Int,
      doublings: Int): Seq[(Int, DataFrame)] = {
    require(doublings >= 0, s"doublings $doublings must be >= 0")
    val levels = Seq.newBuilder[(Int, DataFrame)]
    var marked = pin(baseMarked.select("doc_id", "pos"))
    var l = baseLen
    levels += ((l, marked))
    for (_ <- 1 to doublings) {
      marked = pin(cascadeStep(toks, marked, l))
      l = 2 * l
      levels += ((l, marked))
    }
    levels.result()
  }

  /** [[dupLengthProfile]] over PREBUILT per-level marked sets — the
    * serving path when the cascade levels are stored as sub-assets beside
    * the base index: one bounded aggregate per stored level, no verify
    * pass, no iteration, a fixed-fan plan. */
  def dupLengthProfileFromLevels(levels: Seq[(Int, DataFrame)]): DataFrame = {
    require(levels.nonEmpty, "dupLengthProfileFromLevels: no levels")
    levels.map { case (l, marked) => depthRow(marked.select("doc_id", "pos"), l) }
      .reduce(_ unionByName _).orderBy("min_len")
  }

  /** EXACT per-position longest-match lengths — `dupLen(p)` for every
    * base-marked window start: the largest `m` (capped at the top cascade
    * level) such that the `m`-token window at `p` is verbatim duplicated
    * somewhere in the corpus. This is the per-position quantity the
    * length-weighted Lee-et-al dedup policies (keep-longest,
    * threshold-by-length) need, which the power-of-two band profile alone
    * cannot serve. Output: (doc_id, pos, match_len), one row per
    * base-level marked position, `match_len = min(dupLen, cap)` with
    * `cap` = the last level's length (documented cap — a policy
    * thresholding above the cap has the whole band at `cap`).
    *
    * Algorithm — band-bounded distributed BINARY SEARCH between adjacent
    * cascade levels: a position marked at ℓ but not 2ℓ has
    * dupLen ∈ [ℓ, 2ℓ); bisect that interval, verifying each probed
    * length `m` over the CLOSURE candidate set
    * {p : p ∈ marked_ℓ ∧ p+m−ℓ ∈ marked_ℓ} (every occurrence of a truly
    * duplicated m-gram passes both half-mark tests, so the content
    * groupBy sees complete groups — the same exactness argument as the
    * cascade). The predicate "duplicated at m" is monotone in m (a prefix
    * of a duplicated window is duplicated), so bisection is exact.
    *
    * Scale shape: ⌈log₂ ℓ⌉ passes, but the per-pass probes shuffle
    * 8-byte ROLLING HASHES (the same `graft_window_hashes` kernel as the
    * base index, evaluated once per document per probe length and
    * indexed per candidate), never gram strings — a probe "accepts" when
    * its (m, hash) bucket holds ≥ 2 candidates. Hashes have no false
    * negatives (equal grams ⇒ equal hashes over the closure pool), so a
    * reject is exact and the search never undershoots; a hash COLLISION
    * can only overshoot, and every probed accept is therefore
    * exact-string-CONFIRMED once at its final claimed length against its
    * recorded bucket mates (grams materialize for that single pass
    * only). The rare confirm failure (a real 64-bit collision, or any
    * masked width via `probeHashBits` — the spec's forcing knob) falls
    * back to the literal string-probe bisection for just those
    * positions, so the result is EXACT at every hash width. Content
    * traffic: one string pass over claimed buckets instead of one per
    * bisection round; candidates and hash traffic are bounded by the
    * band's marked sets — the corpus is never rescanned (token arrays
    * restrict once to documents owning base marks). Each pass's search
    * state is [[pin]]ned, so the plan stays flat. */
  def matchLengthsFromLevels(toks: DataFrame,
      levels: Seq[(Int, DataFrame)], probeHashBits: Int = 64): DataFrame =
    matchLengthsCore(toks, levels, probeHashBits, restrictTo = None)

  /** [[matchLengthsFromLevels]] with the bisection STATE optionally
    * restricted to a (doc_id, pos) subset — the incremental-maintenance
    * hook: candidate POOLS stay closure-complete over whatever levels the
    * caller passes (restricting them is the caller's responsibility and
    * must preserve every true bucket mate), while `done` membership and
    * the band search run only for the restricted positions. */
  private def matchLengthsCore(toks: DataFrame,
      levels: Seq[(Int, DataFrame)], probeHashBits: Int,
      restrictTo: Option[DataFrame]): DataFrame = {
    require(levels.nonEmpty, "matchLengthsFromLevels: no levels")
    require(probeHashBits >= 1 && probeHashBits <= 64,
      s"probeHashBits must be in [1, 64], got $probeHashBits")
    val lens = levels.map(_._1)
    require(lens == lens.sorted && lens.distinct == lens,
      s"levels must be ascending, got $lens")
    require(lens.sliding(2).forall {
      case Seq(a, b) => b == 2 * a
      case _ => true
    }, s"levels must double, got $lens")
    // each level's marked set feeds the candidate pool TWICE per probe
    // round (head + tail half-mark tests) across ~log₂ ℓ rounds — cache
    // the narrow (doc_id, pos) projection once instead of re-scanning
    // the level parquet per use
    val markedByLevel = levels.map { case (l, m) =>
      (l, m.select("doc_id", "pos").lazyPinned()) }.toMap
    val base = markedByLevel(lens.head)
    val cap = lens.last
    // candidates only ever live in documents owning a base mark — restrict
    // the token-array side ONCE instead of rescanning the corpus per pass.
    // Every frame in this build is content-derived (deterministic), so the
    // whole chain runs on lazyPinned — persist + lineage cut WITHOUT the
    // dedicated count barrier (the r11 merge diet): each round's one real
    // action (the mids collect) materializes that round's probe + state
    // caches as a side effect, halving the per-round job count.
    val toksDup = toks.select(col("doc_id"), col("tokens"))
      .join(base.select("doc_id").distinct(), "doc_id").lazyPinned()
    // combinable-hash diet (r12): ONE prefix-hash kernel pass per
    // candidate-owning document, pinned for the whole build — every
    // probe round afterwards derives its window hashes per CANDIDATE in
    // O(1) (graft_prefix_window_hash), instead of re-running a rolling
    // kernel pass over the duplicated docs' token arrays per round ×
    // probe length. Values are bit-identical to the rolling kernel
    // (same polynomial, same 2⁶⁴ wrap — spec-pinned), so collision
    // behavior and the masked-bits forcing knob are unchanged.
    // Pool-pinning diet (r13): the SAME pinned frame also carries each
    // band level's sorted per-doc mark array, so every round's closure
    // candidate pool derives IN-ROW (an array intersection against the
    // shifted self) instead of re-running a marked×marked equi-join per
    // level per round — the only per-round shuffle left is the (m, wh)
    // bucket test itself. The top level never hosts a probe (every mid
    // lies strictly inside a band), so only lens.init arrays ride along.
    val toksPool = lens.init.foldLeft(
      toksDup.select(col("doc_id"),
        expr("graft_prefix_hashes(tokens)").as("pre"))) { (acc, l) =>
      acc.join(
        markedByLevel(l).groupBy("doc_id")
          .agg(sort_array(collect_list(col("pos"))).as(s"arr_$l")),
        Seq("doc_id"), "left")
    }.lazyPinned()
    // top-level members are exactly the cap (their true length is >= cap);
    // every other position bisects its band [l, 2l)
    def restrict(df: DataFrame): DataFrame = restrictTo match {
      case Some(r) =>
        df.join(r.select("doc_id", "pos"), Seq("doc_id", "pos"), "left_semi")
      case None => df
    }
    val done = restrict(markedByLevel(cap))
      .select(col("doc_id"), col("pos"), lit(cap.toLong).as("match_len"))
    val bands = lens.sliding(2).collect { case Seq(l, l2) =>
      restrict(markedByLevel(l))
        .join(markedByLevel(l2), Seq("doc_id", "pos"), "left_anti")
        .select(col("doc_id"), col("pos"),
          lit(l.toLong).as("lo"), lit(l2.toLong).as("hi"))
    }.toSeq
    // a single-level cascade has no bands: every mark IS the cap
    val bands0 =
      if (bands.isEmpty)
        base.limit(0).select(col("doc_id"), col("pos"),
          lit(0L).as("lo"), lit(0L).as("hi"))
      else bands.reduce(_ unionByName _).lazyPinned()
    var state = bands0
    // ONE action per round: the distinct-mids collect both drives the
    // probe lengths and IS the termination test (no mids = every band is
    // down to width 1) — the separate isEmpty job the first version ran
    // per round was a second full pass over the same cached state
    def distinctMids(st: DataFrame): Array[Long] = st
      .where(col("hi") - col("lo") > 1)
      .select(floor((col("lo") + col("hi")) / 2).as("m"))
      .distinct().collect().map(_.getLong(0)).sorted
    var mids = distinctMids(state)
    // accepted probe buckets (doc_id, pos, m, wh), one lazy-pinned frame
    // per round — kept so the final exact confirm can re-find each
    // claim's bucket mates without a per-length corpus pass (unioned
    // lazily at the end; each round's cache was populated when the next
    // round's mids collect computed the state that reads it, so the
    // union never re-executes a probe)
    val hitRounds = scala.collection.mutable.ListBuffer[DataFrame]()
    while (mids.nonEmpty) {
      val accepted =
        probeHashAcceptsPinned(toksPool, lens, mids, probeHashBits).lazyPinned()
      hitRounds += accepted
      val verified = accepted.select("doc_id", "pos", "m")
        .withColumn("dup", lit(1L))
      state = state
        .withColumn("m",
          when(col("hi") - col("lo") > 1, floor((col("lo") + col("hi")) / 2)))
        .join(verified, Seq("doc_id", "pos", "m"), "left")
        .select(col("doc_id"), col("pos"),
          when(col("m").isNotNull && col("dup").isNotNull, col("m"))
            .otherwise(col("lo")).as("lo"),
          when(col("m").isNotNull && col("dup").isNull, col("m"))
            .otherwise(col("hi")).as("hi")).lazyPinned()
      mids = distinctMids(state)
    }
    // exact-string confirm: lo stayed at the band base ⇒ the level asset
    // already verified it exactly; lo above the base ⇒ the claim rests on
    // a hash accept at m* = lo and must survive a gram-equality check
    // against its bucket mates
    // fold ascending so the LARGEST level <= lo ends up outermost
    val bandBase = lens.foldLeft(lit(0L)) { (acc, l) =>
      when(col("lo") >= l, lit(l.toLong)).otherwise(acc)
    }
    val resolved =
      if (hitRounds.isEmpty) state
      else {
        val hits = hitRounds.reduce(_ unionByName _)
        val claims = state.where(col("lo") > bandBase)
          .select(col("doc_id"), col("pos"), col("lo").as("m"))
        val claimBuckets = claims.join(hits, Seq("doc_id", "pos", "m"))
        val mates = hits
          .join(claimBuckets.select("m", "wh").distinct(), Seq("m", "wh"))
          .select("doc_id", "pos", "m")
        val exactOk = verifyCandidatesVarLen(toksDup, mates)
        // lazyPinned: the isEmpty right below is the materializing action
        // (the confirm's one string pass runs inside it), and the rare
        // redo path reads the populated cache
        val failed = claims
          .join(exactOk, Seq("doc_id", "pos", "m"), "left_anti")
          .select("doc_id", "pos").lazyPinned()
        if (failed.isEmpty) state
        else {
          // collision victims: redo the whole band with literal string
          // probes (exact at any hash width); everyone else keeps the
          // confirmed hash-search result
          val redo = exactLengthSearch(toksDup, markedByLevel, lens,
            bands0.join(failed, Seq("doc_id", "pos")).lazyPinned())
          state.join(failed, Seq("doc_id", "pos"), "left_anti")
            .unionByName(redo)
        }
      }
    resolved.select(col("doc_id"), col("pos"), col("lo").as("match_len"))
      .unionByName(done)
      .orderBy("doc_id", "pos")
  }

  /** Closure candidate pool for the probe lengths `mids`: positions
    * marked at the band base ℓ (largest level ≤ m) whose tail position
    * p+m−ℓ is also marked at ℓ — every occurrence of a truly duplicated
    * m-gram passes both half-mark tests, so bucket/gram groups are
    * complete (the cascade's exactness argument). */
  private def probeCandidatePool(markedByLevel: Map[Int, DataFrame],
      lens: Seq[Int], mids: Array[Long]): DataFrame = {
    val byLevel = mids.groupBy(m => lens.filter(_ <= m).max)
    byLevel.toSeq.sortBy(_._1).map { case (l, ms) =>
      val marked = markedByLevel(l)
      marked
        .withColumn("m", explode(array(ms.toIndexedSeq.map(lit(_)): _*)))
        .withColumn("tail_pos", col("pos") + col("m") - l)
        .join(marked.select(col("doc_id"), col("pos").as("tail_pos")),
          Seq("doc_id", "tail_pos"))
        .select("doc_id", "pos", "m")
    }.reduce(_ unionByName _)
  }

  /** Hash probe over the build's pinned candidate-pool frame — one row
    * per candidate document carrying the prefix-hash array and each band
    * level's sorted per-doc mark array. The round's CLOSURE pool derives
    * IN-ROW: candidates for probe length `m` over band level ℓ are
    * `array_intersect(arr_ℓ, arr_ℓ − (m − ℓ))` — exactly the
    * {p : p ∈ marked_ℓ ∧ p+m−ℓ ∈ marked_ℓ} set the join-based pool
    * produced, without a marked×marked equi-join shuffle per level per
    * round (the r13 pool-pinning diet; the only per-round shuffle left
    * is the (m, wh) bucket test itself). Window hashes derive in O(1)
    * per candidate via `graft_prefix_window_hash` (bit-identical to the
    * rolling kernel — the r12 combinable-hash diet), masked to `bits`,
    * bucketed by (m, wh); buckets of ≥ 2 accept. No false negatives;
    * collisions over-accept and die in the caller's exact confirm. */
  private def probeHashAcceptsPinned(toksPool: DataFrame, lens: Seq[Int],
      ms: Array[Long], bits: Int): DataFrame = {
    require(ms.nonEmpty, "probeHashAcceptsPinned: no probe lengths")
    val mask = if (bits >= 64) -1L else (1L << bits) - 1
    val perLevel = ms.groupBy(m => lens.filter(_ <= m).max).toSeq.sortBy(_._1)
      .map { case (l, lms) =>
        val mlist = lms.sorted.mkString("L, ") + "L"
        s"""transform(array($mlist), m ->
           |  transform(
           |    array_intersect(coalesce(arr_$l, array()),
           |      transform(coalesce(arr_$l, array()), p -> p - (m - ${l}L))),
           |    p -> struct(p AS pos, m AS m,
           |      graft_prefix_window_hash(pre, p, m) & ${mask}L AS wh)))""".stripMargin
      }
    val all = perLevel.map(e => s"flatten($e)")
      .mkString("concat(", ", ", ")")
    val hashed = toksPool
      .select(col("doc_id"), explode(expr(all)).as("r"))
      .select(col("doc_id"), col("r.pos").as("pos"), col("r.m").as("m"),
        col("r.wh").as("wh"))
    val dupBuckets = hashed.groupBy("m", "wh").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2).select("m", "wh")
    hashed.join(dupBuckets, Seq("m", "wh"))
      .select("doc_id", "pos", "m", "wh")
  }

  /** Literal string-probe bisection — the collision fallback (and the
    * pre-r9 spelling): every probe slices and groups exact grams, so the
    * result is exact with no hash assumption at all. Operates on an
    * explicit (doc_id, pos, lo, hi) state frame and returns it resolved. */
  private def exactLengthSearch(toksDup: DataFrame,
      markedByLevel: Map[Int, DataFrame], lens: Seq[Int],
      state0: DataFrame): DataFrame = {
    var state = state0
    var searching = state.where(col("hi") - col("lo") > 1)
    while (!searching.isEmpty) {
      val mids = searching
        .select(floor((col("lo") + col("hi")) / 2).as("m"))
        .distinct().collect().map(_.getLong(0)).sorted
      val cands = probeCandidatePool(markedByLevel, lens, mids)
      val verified = verifyCandidatesVarLen(toksDup, cands)
        .withColumn("dup", lit(1L))
      state = pin(state
        .withColumn("m",
          when(col("hi") - col("lo") > 1, floor((col("lo") + col("hi")) / 2)))
        .join(verified, Seq("doc_id", "pos", "m"), "left")
        .select(col("doc_id"), col("pos"),
          when(col("m").isNotNull && col("dup").isNotNull, col("m"))
            .otherwise(col("lo")).as("lo"),
          when(col("m").isNotNull && col("dup").isNull, col("m"))
            .otherwise(col("hi")).as("hi")))
      searching = state.where(col("hi") - col("lo") > 1)
    }
    state
  }

  /** Variable-length verify: like [[verifyCandidates]] but each candidate
    * carries its OWN probe length `m` — grams group by (m, gram), so
    * different lengths never collide. Exact under the same closure
    * precondition, per length. */
  private def verifyCandidatesVarLen(toks: DataFrame, cands: DataFrame): DataFrame = {
    val perDoc = cands.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("m"))).as("ps"))
    val grams = toks.join(perDoc, "doc_id")
      .select(col("doc_id"), explode(col("ps")).as("pm"), col("tokens"))
      .select(col("doc_id"), col("pm.pos").as("pos"), col("pm.m").as("m"),
        concat_ws(" ",
          slice(col("tokens"), col("pos").cast("int"), col("m").cast("int"))).as("gram"))
    val dup = grams.groupBy("m", "gram").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2).select("m", "gram")
    grams.join(dup, Seq("m", "gram")).select("doc_id", "pos", "m")
  }

  /** New-or-changed rows of a merged marked set vs its stored pre-append
    * form — `occ`-sensitive: under append occ only grows, and an
    * unchanged occ implies an unchanged occurrence set (hence unchanged
    * canon), so the (doc_id, pos, occ) anti-join is exactly the touched
    * positions. Shared by the cascade and match-length maintenance. */
  def changedMarks(merged: DataFrame, stored: DataFrame): DataFrame =
    merged.join(stored.select("doc_id", "pos", "occ"),
      Seq("doc_id", "pos", "occ"), "left_anti").select("doc_id", "pos")

  /** INCREMENTAL match-length maintenance — the stored `dupLen` table
    * updated for an append without re-searching the whole duplicated
    * fraction. Exactness: dupLen can only GROW under append, and any
    * growth at position p implies a new occurrence of a longer gram
    * whose 12-token prefix therefore gains an occurrence — so p's BASE
    * row changes occ, and [[changedMarks]] of the base index is exactly
    * the set of positions whose length can have moved (plus every
    * new-document mark, whose base rows are new). Untouched rows pass
    * through from the stored table.
    *
    * Work shape: the bisection STATE shrinks to the changed positions,
    * and the probe pools / token side shrink to the duplication
    * NEIGHBORHOOD of the change — documents owning a base row whose
    * gram group (identified by the stored 16-byte `canon`, never the
    * gram string) is shared with a changed row. Every true bucket mate
    * of a changed position's m-probe shares its m-gram, hence its
    * 12-prefix, hence its canon group — so the restriction keeps
    * accepts complete while the corpus and the untouched duplicated
    * mass are never rescanned. Collision victims fall back to literal
    * bisection inside the same neighborhood, so the result is exact at
    * any hash width (same contract as the full build). */
  def matchLengthsIncremental(unionToks: DataFrame,
      mergedLevels: Seq[(Int, DataFrame)], storedML: DataFrame,
      changedBase: DataFrame, probeHashBits: Int = 64): DataFrame = {
    require(mergedLevels.nonEmpty, "matchLengthsIncremental: no levels")
    val base = mergedLevels.head._2
    val changedKeys = pin(changedBase.select("doc_id", "pos"))
    val changedCanon = base
      .join(changedKeys, Seq("doc_id", "pos"), "left_semi")
      .select("canon").distinct()
    val nbrDocs = pin(base.join(changedCanon, Seq("canon"), "left_semi")
      .select("doc_id").distinct())
    // pin each restricted level: referenced by several band anti-joins and
    // probe pools below, and the lineage cut strips the CACHED level
    // plan's preserved partitioning claim — an InMemoryTableScan behind a
    // broadcast semi-join still advertises its cached hash partitioning,
    // and two levels cached at different actual partition counts would
    // zip unaligned in the band anti-join (the sf0.01 List(32, 64)
    // failure this replaced)
    val rLevels = mergedLevels.map { case (l, m) =>
      (l, pin(m.join(nbrDocs, Seq("doc_id"), "left_semi")
        .select("doc_id", "pos"))) }
    val rToks = unionToks.select("doc_id", "tokens")
      .join(nbrDocs, Seq("doc_id"), "left_semi")
    val recomputed = matchLengthsCore(rToks, rLevels, probeHashBits,
      restrictTo = Some(changedKeys))
    storedML.select("doc_id", "pos", "match_len")
      .join(changedKeys, Seq("doc_id", "pos"), "left_anti")
      .unionByName(recomputed.select("doc_id", "pos", "match_len"))
      .orderBy("doc_id", "pos")
  }

  /** [[matchLengthsFromLevels]] building its own cascade from the base
    * verified table — the live (asset-free) spelling. */
  def matchLengthsFromVerified(toks: DataFrame, verified: DataFrame,
      baseLen: Int, doublings: Int = 3, probeHashBits: Int = 64): DataFrame =
    matchLengthsFromLevels(toks,
      cascadeLevels(toks, verified.select("doc_id", "pos"), baseLen, doublings),
      probeHashBits)

  /** Driver-visible THROW gate: the candidate-verify path must mark
    * EXACTLY the positions the string-keyed window family marks at the
    * same `n` (a position only the window family finds = the candidate
    * hash LOST a true duplicate — impossible unless the kernel is broken;
    * one only this path finds = the content verify failed to kill a
    * collision — also a bug, since verification compares exact grams).
    * One summary row for the driver, zero required both ways. */
  def windowFamilyAgreementGate(toks: DataFrame, wins: DataFrame, n: Int): DataFrame = {
    val family = Curation.duplicateSpansFromWindows(wins)
    val exact = duplicateWindowsFromTokens(toks, n)
    val (n_pos, onlyFam, onlyEx) = agreementCounts(family, exact)
    require(onlyFam == 0L,
      s"candidate-verify path LOST $onlyFam/$n_pos true duplicated windows")
    require(onlyEx == 0L,
      s"candidate-verify path kept $onlyEx unverified (collision) positions")
    val s = toks.sparkSession
    import s.implicits._
    // n_pos == 0 reports `vacuous = 1` instead of throwing: a legitimately
    // duplicate-free corpus must not fail the registry (the agreement
    // claim holds trivially; dev fixtures assert non-vacuousness in specs)
    Seq((n_pos, onlyFam, onlyEx, if (n_pos == 0L) 1L else 0L))
      .toDF("n_positions", "n_only_family", "n_only_exact", "vacuous")
  }

  /** Marked-set symmetric difference, the compare both agreement gates
    * share: (total positions, left-only, right-only) over (doc_id, pos). */
  private[graft] def agreementCounts(left: DataFrame, right: DataFrame): (Long, Long, Long) = {
    val l = left.select(col("doc_id"), col("pos"), lit(1L).as("in_l"))
    val r = right.select(col("doc_id"), col("pos"), lit(1L).as("in_r"))
    val row = l.join(r, Seq("doc_id", "pos"), "full_outer")
      .agg(count(lit(1)).as("n_positions"),
        // coalesce: a vacuous (empty both sides) compare sums to NULL,
        // and the vacuous row must report 0s, not NPE
        coalesce(sum(when(col("in_r").isNull, 1L).otherwise(0L)), lit(0L)).as("n_only_l"),
        coalesce(sum(when(col("in_l").isNull, 1L).otherwise(0L)), lit(0L)).as("n_only_r"))
      .head()
    (row.getAs[Long]("n_positions"),
      row.getAs[Long]("n_only_l"), row.getAs[Long]("n_only_r"))
  }

  /** Duplicated-window detection via distributed PREFIX-DOUBLING suffix
    * ranks — the suffix-sort spelling of the same question, kept as an
    * algorithm-independent cross-check of the candidate-verify path
    * (they share NO code and no hash function; see [[rankAgreementGate]]).
    *
    * Construction (Manber–Myers doubling in the DataFrame domain): level-0
    * labels are ids over distinct TOKENS; level-(k+1) labels are ids over
    * distinct pairs `(r_k(p), r_k(p + 2^k))`, formed by a flat self-join
    * on (doc_id, pos + 2^k) — so after ⌈log₂ n⌉ rounds two in-range
    * positions carry equal labels iff their `2^k`-token prefixes are equal
    * token-for-token (induction over levels; ids are assigned per DISTINCT
    * label pair, so equal content ⇔ equal id, no hashing anywhere). A
    * window of length `n` (2^k ≤ n < 2^(k+1)) is then duplicated iff the
    * composite `(r_k(p), r_k(p + n - 2^k))` occurs twice — one final
    * narrow groupBy.
    *
    * Labels are `monotonically_increasing_id` over the distinct-pair frame
    * (only EQUALITY of labels matters, so sparse ids serve; each level is
    * persisted and materialized before reuse, pinning the ids against
    * recomputation under a different partition layout). Each round
    * shuffles narrow (doc_id, pos, r) rows — ⌈log₂ n⌉ full-corpus
    * exchanges, which is exactly why the candidate-verify path is the
    * production operator and this one the cross-check. Output:
    * (doc_id, pos) marked window starts. */
  def duplicateWindowsViaRanks(toks: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"window length n=$n must be >= 1")
    val positions = toks
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tok"),
        posexplode(col("tokens")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("t"),
        (col("n_tok") - col("p0")).as("suffix_len"))
    // each level is pinned — persisted, MATERIALIZED (fixing its sparse
    // ids), and lineage-cut: the next level's plan embeds this one TWICE
    // (rank + shifted-rank side), the exact blow-up [[pin]] exists for
    val tokenIds = pin(positions.select("t").distinct()
      .select(col("t"), monotonically_increasing_id().as("r")))
    var cur = pin(positions.join(tokenIds, "t")
      .select(col("doc_id"), col("pos"), col("suffix_len"), col("r")))
    var span = 1 // current label's prefix length
    // double up to the LARGEST power of two not exceeding n — that level
    // plus its tail shift below covers the n-window exactly
    while (span * 2 <= n) {
      val shifted = cur.select(col("doc_id"), (col("pos") - span).as("pos"),
        col("r").as("r2"))
      val pairs = cur.join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"), col("suffix_len"), col("r"),
          coalesce(col("r2"), lit(-1L)).as("r2"))
      val dist = pin(pairs.select("r", "r2").distinct()
        .select(col("r"), col("r2"), monotonically_increasing_id().as("nr")))
      cur = pin(pairs.join(dist, Seq("r", "r2"))
        .select(col("doc_id"), col("pos"), col("suffix_len"), col("nr").as("r")))
      span *= 2
    }
    // the 2^k-prefix ranks plus the same level shifted to cover the
    // window's tail: [p, p+2^k) ∪ [p+n-2^k, p+n)
    val (kLen, ranks) = (span, cur)
    val tail = ranks.select(col("doc_id"),
      (col("pos") - (n - kLen)).as("pos"), col("r").as("r_tail"))
    val keys = ranks.where(col("suffix_len") >= n)
      .join(tail, Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos"), col("r"), col("r_tail"))
    val dupKey = keys.groupBy("r", "r_tail").agg(count(lit(1)).as("k_occ"))
      .where(col("k_occ") >= 2)
    keys.join(dupKey, Seq("r", "r_tail")).select("doc_id", "pos")
  }

  /** Driver-visible THROW gate: the prefix-doubling rank path and the
    * candidate-verify path — two algorithms sharing no code and no hash
    * function — must mark the identical (doc_id, pos) set. One summary
    * row; zero asymmetry required in both directions. */
  def rankAgreementGate(toks: DataFrame, n: Int): DataFrame =
    rankAgreementGateFromVerified(toks, duplicateWindowsFromTokens(toks, n), n)

  /** [[rankAgreementGate]] with the candidate-verify side prebuilt (the
    * asset); the suffix-rank side rebuilds per run — that independence is
    * the gate's point. */
  def rankAgreementGateFromVerified(toks: DataFrame, verified: DataFrame,
      n: Int): DataFrame = {
    val (n_pos, onlyRanks, onlyVerify) =
      agreementCounts(duplicateWindowsViaRanks(toks, n), verified)
    require(onlyRanks == 0L,
      s"candidate-verify path missed $onlyRanks/$n_pos suffix-rank duplicates")
    require(onlyVerify == 0L,
      s"suffix-rank path missed $onlyVerify/$n_pos verified duplicates")
    val s = toks.sparkSession
    import s.implicits._
    // vacuous = 1 instead of a throw on a duplicate-free corpus — see
    // [[windowFamilyAgreementGate]]
    Seq((n_pos, onlyRanks, onlyVerify, if (n_pos == 0L) 1L else 0L))
      .toDF("n_positions", "n_only_ranks", "n_only_verify", "vacuous")
  }

  /** Deterministic bounded sub-corpus for the SAMPLED rank gate: a
    * FIXED-SIZE hash sample — the `sampleDocs` documents with the
    * smallest `(xxhash64(doc_id), doc_id)` (a TakeOrdered over narrow id
    * rows, never a sort of the corpus) — plus PLANTED documents: every
    * occurrence of the first `plantedGrams` verified grams (ordered by
    * gram), so a corpus that has duplicates at all yields a non-vacuous
    * sample with complete duplicate groups. Fixed size is the point — a
    * modulus sample GROWS with the corpus (the r7 benchmark-split
    * lesson), turning the gate's ⌈log₂ n⌉ rank rounds back into a
    * corpus-scale cost at exactly the scale the sample exists to avoid.
    * Pure column functions of stored data — identical sample every run. */
  private[graft] def exactSubstrSample(toks: DataFrame, verified: DataFrame,
      sampleDocs: Int, plantedGrams: Int): DataFrame = {
    require(sampleDocs >= 0 && plantedGrams >= 0,
      s"bad sample params ($sampleDocs, $plantedGrams)")
    val hashedIds = toks.select("doc_id")
      .orderBy(xxhash64(col("doc_id")), col("doc_id"))
      .limit(sampleDocs)
    val plantedIds = verified
      .join(verified.select("gram").distinct().orderBy("gram").limit(plantedGrams),
        "gram")
      .select("doc_id")
    toks.join(hashedIds.unionByName(plantedIds).distinct(), "doc_id")
  }

  /** Single-node Manber–Myers prefix-doubling over a BOUNDED collected
    * sample — the rank spelling the sampled gate runs. A faithful mirror
    * of [[duplicateWindowsViaRanks]] round for round (level-0 ids over
    * distinct tokens; level-(k+1) ids over distinct `(r_k(p),
    * r_k(p+2^k))` pairs with out-of-range = −1; a window of length `n`
    * with 2^k ≤ n is duplicated iff the composite `(r_k(p),
    * r_k(p+n−2^k))` occurs twice among positions with ≥ n tokens left) —
    * sharing NO code and no hash function with the candidate kernel:
    * ids are assigned per DISTINCT value by exact equality, so equal
    * labels ⇔ equal token content, the same induction as the distributed
    * spelling. ⌈log₂ n⌉ passes over a fixed few-hundred-document sample
    * is sub-millisecond work; running it driver-side removes the ~10
    * blocking Spark jobs (pin + materialize per doubling level) that made
    * the distributed spelling cost 4× the production operator REGARDLESS
    * of sample size. */
  private[graft] def localRankMarks(docs: Seq[(Long, IndexedSeq[String])],
      n: Int): Set[(Long, Long)] = {
    require(n >= 1, s"window length n=$n must be >= 1")
    val tokenIds = scala.collection.mutable.HashMap[String, Long]()
    def tid(t: String): Long = tokenIds.getOrElseUpdate(t, tokenIds.size.toLong)
    var cur: Seq[(Long, Array[Long])] =
      docs.map { case (id, ts) => (id, ts.map(tid).toArray) }
    var span = 1
    while (span * 2 <= n) {
      val pairIds = scala.collection.mutable.HashMap[(Long, Long), Long]()
      cur = cur.map { case (id, rs) =>
        (id, Array.tabulate(rs.length) { p =>
          val pair = (rs(p), if (p + span < rs.length) rs(p + span) else -1L)
          pairIds.getOrElseUpdate(pair, pairIds.size.toLong)
        })
      }
      span *= 2
    }
    val keyOcc = scala.collection.mutable.HashMap[(Long, Long), Int]()
    val keys = for {
      (id, rs) <- cur
      p <- 0 to rs.length - n
    } yield {
      val key = (rs(p), rs(p + n - span))
      keyOcc(key) = keyOcc.getOrElse(key, 0) + 1
      (id, (p + 1).toLong, key)
    }
    keys.collect { case (id, pos, key) if keyOcc(key) >= 2 => (id, pos) }.toSet
  }

  /** The sampled gate's comparison + summary row; package-visible so the
    * THROW behavior is directly spec-testable with seeded mutations. */
  private[graft] def sampledGateRow(s: org.apache.spark.sql.SparkSession,
      rankMarks: Set[(Long, Long)], verifyMarks: Set[(Long, Long)],
      nDocs: Long): DataFrame = {
    val onlyRanks = (rankMarks -- verifyMarks).size.toLong
    val onlyVerify = (verifyMarks -- rankMarks).size.toLong
    val n_pos = (rankMarks | verifyMarks).size.toLong
    require(onlyRanks == 0L,
      s"candidate-verify path missed $onlyRanks/$n_pos suffix-rank duplicates (sampled)")
    require(onlyVerify == 0L,
      s"suffix-rank path missed $onlyVerify/$n_pos verified duplicates (sampled)")
    import s.implicits._
    Seq((n_pos, onlyRanks, onlyVerify, nDocs, if (n_pos == 0L) 1L else 0L))
      .toDF("n_positions", "n_only_ranks", "n_only_verify", "n_docs_sampled",
        "vacuous")
  }

  /** [[rankAgreementGateFromVerified]] on a bounded deterministic document
    * SAMPLE — the registry-tier spelling of the cross-check. The full
    * gate's ⌈log₂ n⌉ full-corpus shuffle rounds cost ~4× the production
    * operator and are unrunnable at 100 TB, which would silently retire
    * the gate exactly where it matters; on a planted+hash sample BOTH
    * algorithms run fresh over the same sub-corpus (the verify side is
    * re-derived on the sample, NOT sliced from the full-corpus asset —
    * restriction changes which windows are duplicated), so
    * position-for-position agreement retains its refuting power at a
    * corpus-independent bounded cost, the same reasoning as the capped
    * self-retrieval probes. The PRODUCTION path under test runs
    * distributed exactly as shipped; the rank spelling runs single-node
    * over the collected sample ([[localRankMarks]]) — algorithm
    * independence is the gate's point, and the fixed-size sample is what
    * makes a driver pass legitimate. The distributed rank spelling stays
    * spec-gated ([[rankAgreementGate]]). Output adds the sample size so a
    * reader can audit the gate's actual coverage. */
  def rankAgreementGateSampled(toks: DataFrame, verified: DataFrame, n: Int,
      sampleDocs: Int = 512, plantedGrams: Int = 8): DataFrame = {
    val sample = exactSubstrSample(toks, verified, sampleDocs, plantedGrams)
      .scopedPersist()
    val local = sample.select("doc_id", "tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toIndexedSeq)).toSeq
    val verifyMarks = duplicateWindowsFromTokens(sample, n)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    sampledGateRow(toks.sparkSession,
      localRankMarks(local, n), verifyMarks, local.size.toLong)
  }
}
