package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Similarity, TextAnalysis, Tfidf}
import graft.sources.{TabKv, Tables}
import graft.streaming.Streams

/** The benchmark's load generator: one JVM, one Spark session, one client
  * issuing ops back to back (a closed loop). It times calls into the
  * engine's public layers, checks every op's answer, and writes the raw
  * samples (and, traced, the spans and Spark events) as JSON for
  * `run.py`, which turns them into metrics.
  *
  * {{{
  * Harness --workload W --data DIR --work DIR --expected FILE --out FILE
  *         --seconds S --trace 0|1
  * }}}
  */
object Harness {

  private[perfbench] val json = new ObjectMapper()

  /** Serve request kinds, issued once each by a traced run. */
  val ServeKinds = Seq("search", "bm25", "mlt", "knn", "ivf", "keywords", "top100")

  /** The op each workload measures: the reference's whole batch program,
    * or the admission of an append batch against the snapshot stores. */
  val Primary = Map("tfidf-batch" -> "batch", "curate-append" -> "admit")

  /** Warm-up ops before the measured window, per op kind. */
  val WarmOps = Map("batch" -> 3, "admit" -> 1)

  /** Append batch 0 warms the admission up; every measured admission
    * admits batch 1, so measured ops repeat the same work. */
  val WarmBatch = 0
  val MeasuredBatch = 1

  final case class Opts(workload: String, data: String, work: String, expected: String,
      out: String, seconds: Double, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("data"), req("work"), req("expected"), req("out"),
      req("seconds").toDouble, req("trace") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Primary.contains(o.workload), s"unknown workload ${o.workload}")
    val bench = new Bench(o, json.readTree(new File(o.expected)))
    try bench.run() finally bench.stop()
  }

  // ---- result checks ------------------------------------------------------

  /** Ranked `(key, score)` lists agree when the scores agree position by
    * position within `tol`, and every returned key either carries its
    * expected score or ties the cut-off score (a tie at the last rank may
    * legitimately pick another key). */
  def rankedMatch(exp: Seq[(String, Double)], act: Seq[(String, Double)], tol: Double): Boolean =
    exp.length == act.length && exp.zip(act).forall { case (e, a) => math.abs(e._2 - a._2) <= tol } && {
      val expScore = exp.toMap
      val cut = exp.lastOption.map(_._2).getOrElse(0.0)
      act.forall { case (k, s) =>
        expScore.get(k).exists(v => math.abs(v - s) <= tol) || math.abs(s - cut) <= tol
      }
    }

  def ranked(node: JsonNode): Seq[(String, Double)] =
    node.elements().asScala.map(e => (e.get(0).asText(), e.get(1).asDouble())).toSeq

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

final class Bench(o: Harness.Opts, expected: JsonNode) {
  import Harness._

  private val dataDir = new File(o.data).getAbsolutePath
  private val work = new File(o.work).getAbsolutePath
  private val t0 = System.nanoTime()
  private def secs(from: Long) = (System.nanoTime() - from) / 1e9

  private val sessionStart = System.nanoTime()
  val spark: SparkSession = GraftSession.create()
  private val sessionStartS = secs(sessionStart)
  private val sc = spark.sparkContext
  private val listener = new BenchListener
  sc.addSparkListener(listener)
  private val plans = new PlanListener
  spark.listenerManager.register(plans)
  private val tracer = new Tracer(sc, o.trace)
  private def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  private val counters = mutable.LinkedHashMap[String, Double]()
  private val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private val setup = mutable.LinkedHashMap[String, Any]()
  private val digests = mutable.HashMap[String, String]()

  // serving state built by setup
  private var tc: DataFrame = _
  private var nDocs = 0L
  private var emb: DataFrame = _
  private var stores: Streams.ManifestStores = _
  private var pairs: DataFrame = _

  private val serveNode = expected.get("serve")

  def stop(): Unit = spark.stop()

  // ---- set-up ---------------------------------------------------------------

  private val servedAssets = Seq("token_arrays", "term_counts", "docs_count", "bm25_scores",
    "bm25_served_postings")

  /** The registry's serving assets (token arrays, term counts, corpus size,
    * BM25 postings and their served replica) and the frames the serve
    * requests read. Traced runs only: they give `assets.<name>_s` and the
    * serving layers' per-layer figures. */
  private def serveSetup(): Unit = {
    SparkEntry.assetRootOverride = Some(s"$work/assets")
    val builders = SparkEntry.assetBuilders.toMap
    servedAssets.foreach { name =>
      val t = System.nanoTime()
      span(s"assets.$name") { builders(name)(spark, dataDir) }
      counters(s"assets.${name}_s") = secs(t)
    }
    // the registry's own term-counts table serves every TF-IDF request
    tc = SparkEntry.queries("term_counts")(spark, dataDir)
    nDocs = Tables.documents(spark, dataDir).count()
    emb = Tables.embeddings(spark, dataDir)
  }

  // ---- ops ------------------------------------------------------------------

  /** The reference's whole program along `graft.Main`'s parquet path: scan,
    * reference-normalizer pipeline, global ranking, written as tab-KV text. */
  private def batchOp(out: String): Unit = {
    val docs = span("sources.documents") {
      Tables.documents(spark, dataDir).select(col("doc_id").cast("string").as("doc_id"), col("text"))
    }
    val scored = span("tfidf.pipeline") { Tfidf.pipeline(docs) }
    val ranked = span("tfidf.rankByValue") { Tfidf.rankByValue(scored, "tfidf", Seq("term", "doc_id")) }
    span("sources.writeScores") { TabKv.writeScores(ranked, out) }
  }

  /** Row count and leading ranked lines of a written tab-KV ranking. */
  private def readRanking(out: String, k: Int): (Long, Seq[(String, Double)]) = {
    val parts = Option(new File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    var n = 0L
    val head = mutable.ArrayBuffer[(String, Double)]()
    parts.foreach { f =>
      val lines = Files.lines(f.toPath)
      try lines.iterator().asScala.foreach { line =>
        n += 1
        if (head.length < k) {
          val tab = line.lastIndexOf('\t')
          head += ((line.substring(0, tab), line.substring(tab + 1).toDouble))
        }
      } finally lines.close()
    }
    (n, head.toSeq)
  }

  private def checkBatch(e: JsonNode, out: String): Boolean = {
    val top = ranked(e.get("top"))
    val (n, head) = readRanking(out, top.length)
    n == e.get("rows").asLong() && rankedMatch(top, head, 1e-9)
  }

  /** One serve request with the parameters set-up drew for its kind. */
  private def serveRequest(kind: String): Seq[Row] = {
    val p = serveNode.get(kind)
    def terms = p.get("terms").elements().asScala.map(_.asText()).toSeq
    kind match {
      case "search" => span("tfidf.searchByTermsFromCounts") {
        Tfidf.searchByTermsFromCounts(tc, nDocs, terms, 20).collect().toSeq }
      case "bm25" => span("tfidf.searchByTermsBm25FromScores") {
        Tfidf.searchByTermsBm25FromScores(SparkEntry.bm25ServedPostings(spark, dataDir), terms, 20)
          .collect().toSeq }
      case "mlt" => span("tfidf.moreLikeThisFromCounts") {
        Tfidf.moreLikeThisFromCounts(tc, nDocs, p.get("doc").asLong(), 10).collect().toSeq }
      case "knn" => span("similarity.knn") {
        Similarity.knnBruteForce(emb, Seq(p.get("q").asLong()), 10).collect().toSeq }
      case "ivf" => span("similarity.ivf") {
        Similarity.ivfSearch(emb, Seq(p.get("q").asLong()), 10, nCentroids = 16, nprobe = 4,
          lloydIters = 0).collect().toSeq }
      case "keywords" => span("tfidf.keywordsPerDocFromCounts") {
        Tfidf.keywordsPerDocFromCounts(tc, nDocs, 5).where(col("doc_id") === p.get("doc").asLong())
          .collect().toSeq }
      case "top100" => span("registry.tfidf_top100") {
        SparkEntry.queries("tfidf_top100")(spark, dataDir).collect().toSeq }
    }
  }

  /** The independent expectation, where set-up computed one. */
  private def checkServe(kind: String, rows: Seq[Row]): Boolean = {
    val p = serveNode.get(kind)
    val independent = Option(p.get("expect")).map { exp =>
      val act = kind match {
        case "search" | "bm25" => rows.map(r => (r.getAs[Long]("doc_id").toString, r.getAs[Double]("score")))
        case "knn" => rows.map(r => (r.getAs[Long]("vec_id").toString, r.getAs[Double]("cos")))
        case "keywords" => rows.map(r => (r.getAs[String]("term"), r.getAs[Double]("tfidf")))
        case "top100" => rows.map(r => (r.getAs[String]("term") + "|" + r.getAs[Long]("doc_id"),
          r.getAs[Double]("tfidf")))
      }
      rankedMatch(ranked(exp), act, if (kind == "knn") 2e-6 else 1e-8)
    }.getOrElse(true)
    independent && rows.nonEmpty
  }

  /** A repeated request must return what its first issue returned. */
  private def sameAsFirst(key: String, d: String): Boolean = digests.getOrElseUpdate(key, d) == d

  private def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The snapshot curation stores an admission reads: fingerprint
    * keepers, the n-gram df / postings / sizes with their pair closure,
    * the decontamination gram store and per-source quality cut-offs. */
  private def buildOp(dir: String): Unit = {
    val docs = span("sources.documents") { Tables.documents(spark, dataDir) }
    val fp = span("dedup.fingerprints") {
      write(docs.select(TextFunctions.contentFingerprint(col("text")).as("fingerprint"), col("doc_id"))
        .groupBy("fingerprint").agg(min("doc_id").as("keeper")), s"$dir/fp_store")
    }
    // token arrays stay lazy: each gram store re-tokenizes what it reads
    val toks = Tfidf.tokenArrays(docs)
    val gramDf = span("dedup.gram_df") {
      write(Dedup.distinctGramRows(toks).groupBy("gram").agg(count(lit(1)).as("gram_df")),
        s"$dir/gram_df")
    }
    val postings = span("dedup.postings") {
      write(Dedup.distinctGramRows(toks).join(gramDf.where(col("gram_df") <= 64).select("gram"), "gram")
        .select("doc_id", "gram"), s"$dir/postings")
    }
    val sizes = span("dedup.sizes") {
      write(postings.groupBy("doc_id").agg(count(lit(1)).as("n_grams")), s"$dir/sizes")
    }
    pairs = span("dedup.pairs") {
      write(Dedup.ngramJaccardFromPostings(postings, sizes).select("doc_a", "doc_b"), s"$dir/ngram_pairs")
    }
    val labels = span("dedup.cc") { write(Dedup.connectedComponents(pairs), s"$dir/labels") }
    val bench = span("curation.gramRowsFromTokens") {
      write(Curation.gramRowsFromTokens(toks.where(col("doc_id") % 53 === 0), 3).select("gram").distinct(),
        s"$dir/bench_grams")
    }
    val thresholds = span("textanalysis.qualityThresholds") {
      write(TextAnalysis.qualityThresholds(docs, dropFraction = 0.25), s"$dir/quality_thresholds")
    }
    stores = Streams.ManifestStores(fp, labels, postings, gramDf, sizes, bench, thresholds)
  }

  /** Every store is written, and the fingerprint store holds one keeper
    * per distinct text. */
  private def checkBuild(): Boolean = {
    val s = stores
    val counts = Seq(s.fpStore, s.nearGramDf, s.nearPostings, s.nearSizes, pairs, s.nearLabels,
      s.benchGrams, s.qualityThresholds).map(_.count())
    counts.forall(_ > 0) && counts.head == expected.get("curate").get("distinct_texts").asLong()
  }

  private def admitOp(b: Int): Seq[Row] = {
    val batch = span("sources.append") { spark.read.parquet(s"$dataDir/append_$b.parquet") }
    span("streams.manifestAdmission") {
      Streams.manifestAdmission(batch, stores).orderBy("doc_id").collect().toSeq
    }
  }

  /** Planted exact copies must flag exact, planted near copies near (or
    * exact), fresh documents neither; and the answer repeats the first
    * admission of the same batch. */
  private def checkAdmit(b: Int, rows: Seq[Row]): Boolean = {
    val truth = expected.get("curate").get("batches").get(b)
    def ids(k: String) = truth.get(k).elements().asScala.map(_.asLong()).toSet
    val (exact, near, fresh) = (ids("exact"), ids("near"), ids("fresh"))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val admitted = truth.get("admitted").asLong()
    val truthOk = byId.size == admitted && byId.forall { case (id, r) =>
      val ex = r.getAs[Long]("exact_dup")
      val nd = r.getAs[Long]("near_dup")
      if (exact(id)) ex == 1L
      else if (near(id)) ex == 1L || nd == 1L
      else if (fresh(id)) ex == 0L && nd == 0L
      else true
    }
    truthOk && sameAsFirst(s"admit/$b", digest(rows))
  }

  // ---- the run --------------------------------------------------------------

  /** Run one op: time it, check it, count the persisted RDDs it left
    * registered, then release those pins so the next op starts from the
    * same session state. `phase` is one of setup, warm, measured and extra
    * (traced-run coverage). */
  private def runOp(kind: String, phase: String, batch: Int = MeasuredBatch): Unit = {
    val pinsBefore = sc.getPersistentRDDs.keySet
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "phase" -> phase)
    if (o.trace) rec("span") = tracer.spans.length + 1L
    if (kind == "admit") rec("batch") = batch
    val traceNs = tracer.bookkeepingNs
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val ok = try {
      span(s"op.$kind") {
        kind match {
          case "batch" => batchOp(s"$work/ranking")
          case "build" => buildOp(s"$work/stores")
          case "admit" => rec("rows") = admitOp(batch)
          case k => rec("rows") = serveRequest(k)
        }
      }
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        rec("error") = e.toString
        false
    }
    val ms = (System.nanoTime() - t) / 1e6
    val endMs = System.currentTimeMillis()
    rec("trace_ms") = (tracer.bookkeepingNs - traceNs) / 1e6
    val pinsAfter = sc.getPersistentRDDs.toMap
    val checked = ok && (kind match {
      case "batch" => checkBatch(expected.get("batch"), s"$work/ranking")
      case "build" => checkBuild()
      case "admit" => checkAdmit(rec("batch").asInstanceOf[Int], rec("rows").asInstanceOf[Seq[Row]])
      case k => checkServe(k, rec("rows").asInstanceOf[Seq[Row]])
    })
    rec.remove("rows")
    rec("ms") = ms
    rec("start_ms") = startMs
    rec("end_ms") = endMs
    rec("ok") = checked
    rec("pins") = pinsAfter.size
    // clean-up, after the count: drop the session's Dataset caches (the way
    // the repository's own drivers do between queries) and any raw RDD pin
    // the op added, so no op reads a predecessor's cache
    spark.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, r) => if (!pinsBefore.contains(id)) r.unpersist(blocking = true) }
    ops += rec
  }

  def run(): Unit = {
    setup("session_start_s") = sessionStartS
    // an admission reads the snapshot curation stores: that workload
    // builds and writes them once, in set-up, checked like any op
    if (o.workload == "curate-append") {
      runOp("build", "setup")
      setup("build_s") = ops.last("ms").asInstanceOf[Double] / 1e3
    }
    val primary = Primary(o.workload)

    // warm-up: the first op of a kind runs 2-6x slower than the steady
    // state, and the next ones keep speeding up for several ops (JIT)
    (0 until WarmOps(primary)).foreach(_ => runOp(primary, "warm", WarmBatch))

    listener.resetPeak()
    // a traced run times three ops; its time goes to covering every layer
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (if (o.trace) n < 3 else System.nanoTime() < deadline) { runOp(primary, "measured"); n += 1 }
    val peak = listener.peakBytes
    if (o.trace) tracedExtras()
    writeResult(peak)
  }

  // ---- traced-run extras ----------------------------------------------------

  /** Computes every column of `df` and discards the rows. A bare
    * `count()` would let the optimizer prune the columns nothing reads,
    * and with them the work a probe is meant to time (a MinHash
    * aggregate, a gram-store join). */
  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Coverage of every layer whatever the workload: the serving assets and
    * one request of each kind, the op kinds the workload does not measure,
    * the reference's four steps one at a time (each input materialized
    * outside its step), and probes for layers the ops reach only inside
    * the engine. */
  private def tracedExtras(): Unit = {
    serveSetup()
    ServeKinds.foreach(k => runOp(k, "extra"))
    if (o.workload == "tfidf-batch") {
      runOp("build", "extra")
      runOp("admit", "extra", WarmBatch)
    } else runOp("batch", "extra")

    val docs = Tables.documents(spark, dataDir)
      .select(col("doc_id").cast("string").as("doc_id"), col("text")).persist()
    val n = docs.count()
    counters("sources.rows") = n.toDouble
    counters("sources.input_mb") = new File(s"$dataDir/documents.parquet").length() / 1e6
    span("sources.scan") { Tables.documents(spark, dataDir).agg(sum(length(col("text")))).collect() }
    val toks = span("functions.tokenize") { Tfidf.tokenize(docs).count() }
    counters("functions.tokens") = toks.toDouble
    span("functions.shingle") { drain(Dedup.shingles(Tables.documents(spark, dataDir))) }
    span("dedup.signature") { drain(Dedup.minhashSignatures(Tables.documents(spark, dataDir))) }
    span("dedup.minhashPairs") {
      val mh = Dedup.minhashPairs(Tables.documents(spark, dataDir), threshold = 0.5)
      span("dedup.cc") { drain(Dedup.connectedComponents(mh.select("doc_a", "doc_b"))) }
    }
    span("curation.span") { drain(Curation.stripDuplicateSpans(Tables.documents(spark, dataDir), 5)) }

    val tcs = span("tfidf.count") { val t = Tfidf.termCounts(Tfidf.tokenize(docs)).persist(); counters("tfidf.count.rows_out") = t.count().toDouble; t }
    val totals = span("tfidf.totals") { val t = Tfidf.docTotals(tcs).persist(); counters("tfidf.totals.rows_out") = t.count().toDouble; t }
    val scored = span("tfidf.score") {
      val t = Tfidf.score(tcs, totals, Tfidf.docFreq(tcs), n).persist()
      counters("tfidf.score.rows_out") = t.count().toDouble
      t
    }
    span("tfidf.rank") { TabKv.writeScores(Tfidf.rankByValue(scored, "tfidf", Seq("term", "doc_id")), s"$work/ranking_steps") }
    counters("tfidf.rank.rows_out") = readRanking(s"$work/ranking_steps", 0)._1.toDouble
    Seq(scored, totals, tcs, docs).foreach(_.unpersist(blocking = true))

    val dir = s"$work/stores"
    val postings = spark.read.parquet(s"$dir/postings")
    val sizes = spark.read.parquet(s"$dir/sizes")
    val cand = span("dedup.candidates") { Dedup.ngramJaccardFromPostings(postings, sizes, 0.0).count() }
    counters("dedup.candidate_pairs") = cand.toDouble
    counters("dedup.verified_pairs") = pairs.count().toDouble
    val batch = spark.read.parquet(s"$dataDir/append_0.parquet")
    span("curation.decon") {
      drain(Curation.decontaminateAgainstGramStore(Tfidf.tokenArrays(batch), stores.benchGrams))
    }
  }

  // ---- output ---------------------------------------------------------------

  private def writeResult(peak: Long): Unit = {
    val root = json.createObjectNode()
    root.set[JsonNode]("setup", json.valueToTree(toJava(setup)))
    root.set[JsonNode]("ops", json.valueToTree(ops.map(toJava).asJava))
    root.put("cache_peak_bytes", peak)
    root.put("cache_written_bytes", listener.writtenBytes)
    root.put("cache_dropped_blocks", listener.droppedBlocks)
    root.put("cpus", sc.defaultParallelism)
    root.put("heap_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
    root.put("wall_s", secs(t0))
    root.set[JsonNode]("counters", json.valueToTree(counters.asJava))
    if (o.trace) {
      root.set[JsonNode]("spans", json.valueToTree(tracer.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs).asJava).asJava))
      val jobs = listener.synchronized(listener.jobs.values.toSeq)
      root.set[JsonNode]("jobs", json.valueToTree(jobs.map(j =>
        Map[String, Any]("group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes).asJava).asJava))
      root.set[JsonNode]("plans", json.valueToTree(plans.synchronized(plans.records.toSeq).map {
        case (s, a, opt, p) => Map("start_ms" -> s, "analysis_ms" -> a, "optimizer_ms" -> opt,
          "physical_ms" -> p).asJava }.asJava))
    }
    Files.write(Paths.get(o.out), json.writeValueAsBytes(root))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
