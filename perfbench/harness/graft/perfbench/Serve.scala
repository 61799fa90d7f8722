package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions.{asc, desc}
import graft.analysis.Analyzer
import graft.corpus.{ChunkRow, ChunkerJob, PageDoc, WebPages}
import graft.index.{BuildConfig, IndexBuilder, IndexPaths}
import graft.query.{Pipeline, PipelineConfig, SearchBackend, SearchOutput, SparkBackend, Wand}

/** Delegating backend that records a span around each backend call, with
  * the pool path and bounded-pool rounds of every `topPool` call. The
  * diagnostics are reset before each call: the dense shortcut for
  * head-term queries returns before `lastPoolIters` is written.
  */
final class TracedBackend(b: SparkBackend, t: Tracer) extends SearchBackend {
  override def topPool(query: String, bm25Query: String, poolSize: Int,
                       cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] =
    t.span("pool") {
      b.lastPoolPath = ""; b.lastPoolIters = 0
      val pool = b.topPool(query, bm25Query, poolSize, cfg)
      t.attr("path", b.lastPoolPath); t.attr("rounds", b.lastPoolIters)
      pool
    }
  override def bm25ScoresFor(queryTokens: Seq[String], chunks: Seq[ChunkRow]): Map[Long, Double] =
    t.span("rescore")(b.bm25ScoresFor(queryTokens, chunks))
  override def topDocsForRm3(queryTokens: Seq[String], fbDocs: Int): Seq[String] =
    t.span("rm3")(b.topDocsForRm3(queryTokens, fbDocs))
  override def bonusedScoresFor(query: String, bm25Query: String, ids: Seq[Long],
                                cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] =
    t.span("rescore.bonus")(b.bonusedScoresFor(query, bm25Query, ids, cfg))
}

/** Query serving and its output checks. */
object Serving {
  val Cfg = PipelineConfig()

  /** Serve `q` untraced; returns its record and output. */
  def query(run: Run, backend: SparkBackend, q: String, i: Int): (Map[String, Any], Option[SearchOutput]) = {
    backend.lastPoolPath = ""; backend.lastPoolIters = 0
    val t0 = System.nanoTime()
    val out = run.attempt(s"query $i '$q'")(Pipeline.searchTopK(backend, q, Cfg))
    val ms = Run.ms(t0)
    (describe(backend, q, ms, out.isDefined, backend.lastPoolPath, backend.lastPoolIters), out)
  }

  /** Serve `q` with spans: the term-stat lookup first, then searchTopK
    * through the traced backend, then the standalone layer probes (WAND
    * top-m, dense postings scan, bonus re-score of the pool) once the
    * query span has closed.
    */
  def tracedQuery(run: Run, backend: SparkBackend, paths: IndexPaths, q: String, i: Int,
                  seenTerms: mutable.Set[String]): Map[String, Any] = {
    val t = run.tracer
    val traced = new TracedBackend(backend, t)
    val tokens = Analyzer.tokenize(q).toIndexedSeq
    val t0 = System.nanoTime()
    val out = t.span("query", i) {
      t.span("termstats") {
        val misses = tokens.distinct.count(seenTerms.add)
        t.attr("miss_terms", misses)
        backend.dfFor(tokens.distinct)
      }
      t.span("searchTopK")(run.attempt(s"traced query $i '$q'")(Pipeline.searchTopK(traced, q, Cfg)))
    }
    val ms = Run.ms(t0)
    val m = math.max(4 * Cfg.poolSize, Cfg.poolSize + 200)
    run.attempt(s"wand probe $i") {
      t.span("wand.probe", i) {
        val cand = Wand.topK(run.spark, paths, backend.stats, q, m, backend.idfFor)
        t.attr("candidates", cand.length)
      }
    }
    run.attempt(s"postings probe $i")(t.span("postings.probe", i)(backend.scoresDF(tokens).count()))
    out.foreach { o =>
      run.attempt(s"rescore probe $i") {
        t.span("rescore.bonus.probe", i)(backend.bonusedScoresFor(q, q, o.pool, Cfg))
      }
    }
    describe(backend, q, ms, out.isDefined, "", 0)
  }

  private def describe(backend: SparkBackend, q: String, ms: Double, ok: Boolean,
                       path: String, rounds: Int): Map[String, Any] = {
    val tokens = Analyzer.tokenize(q).toIndexedSeq
    val dfSum = scala.util.Try(backend.dfFor(tokens.distinct).values.sum).getOrElse(0L)
    Map("q" -> q, "ms" -> ms, "ok" -> ok, "tokens" -> tokens.length,
      "dfn" -> dfSum.toDouble / math.max(1L, backend.stats.nDocs),
      "path" -> path, "rounds" -> rounds)
  }

  /** Seeded re-run of served queries with the dense pool only: selected
    * ids and result scores must be identical to what was served.
    */
  def denseChecks(run: Run, backend: SparkBackend, served: Seq[(Map[String, Any], SearchOutput)],
                  n: Int): Unit = {
    val rng = new scala.util.Random(run.seed + 31)
    val distinct = served.groupBy(_._1("q")).values.map(_.head).toSeq
      .sortBy(_._1("q").toString)
    val (bounded, other) = distinct.partition(_._1("path") == "bounded")
    val sample = (rng.shuffle(bounded) ++ rng.shuffle(other)).take(n)
    for ((rec, out) <- sample) {
      val q = rec("q").toString
      run.check(s"dense re-run of '$q' matches the served result") {
        val dense = Pipeline.searchTopK(backend, q, Cfg.copy(densePoolOnly = true))
        dense.selected == out.selected &&
          dense.results.map(_.score) == out.results.map(_.score)
      }
    }
  }

  /** Seeded WAND top-k checks: ids and scores must equal the top of the
    * dense score frame ordered by score desc, then chunkId asc.
    */
  def wandChecks(run: Run, backend: SparkBackend, paths: IndexPaths,
                 queries: Seq[String], n: Int, k: Int): Unit =
    for (q <- new scala.util.Random(run.seed + 17).shuffle(queries.distinct.sorted).take(n))
      run.check(s"WAND top-$k of '$q' == dense score order") {
        val dense = backend.scoresDF(Analyzer.tokenize(q).toIndexedSeq)
          .orderBy(desc("score"), asc("chunkId")).limit(k)
          .collect().map(row => (row.getLong(0), row.getDouble(1))).toSeq
        sameTopK(Wand.topK(run.spark, paths, backend.stats, q, k, backend.idfFor), dense)
      }

  /** Same ranking up to score ties within a few ulps: scores agree rank
    * by rank, and ids may differ only inside a group of tied scores.
    */
  def sameTopK(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean = {
    def close(x: Double, y: Double) =
      math.abs(x - y) <= 8 * math.ulp(math.max(math.abs(x), math.abs(y)))
    def tied(x: Double) = a.count(p => close(p._2, x)) > 1
    val last = a.lastOption.map(_._2)
    def sure(xs: Seq[(Long, Double)]) = xs.filterNot(p => last.exists(close(p._2, _))).map(_._1).toSet
    a.length == b.length &&
      a.zip(b).forall { case ((ia, x), (ib, y)) => close(x, y) && (ia == ib || tied(x)) } &&
      sure(a) == sure(b)
  }
}

/** `serve`: top-k serving from one backend over a prebuilt index. */
object Serve {
  val Pages = 800L
  /** Set-ups per run; each builds the index, so two is what the run's
    * time budget allows. */
  val SetupReps = 2
  val DenseChecks = 1
  val WandChecks = 1

  def buildConfig: BuildConfig = BuildConfig()

  def run(r: Run): Unit = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var backend: SparkBackend = null
    var paths: IndexPaths = null
    for (rep <- 1 to SetupReps) {
      if (paths != null) Run.rmTree(paths.root)
      val t0 = System.nanoTime()
      val spark = r.startSession()
      import spark.implicits._
      paths = IndexPaths(r.dir(s"serve-index-$rep"))
      val pages = WebPages.generate(spark, Pages, r.seed, 2 * Run.Cores)
        .map(p => PageDoc(p.url, 1, p.text, None))
      IndexBuilder.build(spark, ChunkerJob.dedup(ChunkerJob.chunk(pages)), paths, buildConfig)
      backend = new SparkBackend(spark, paths)
      Gen.WarmupQueries.foreach(q => Pipeline.searchTopK(backend, q, Serving.Cfg))
      setups += Run.secs(t0)
    }
    r.record("setup_s") = setups.toSeq
    r.record("n_docs") = backend.stats.nDocs
    r.phaseEnd("setup")

    val stream = Gen.queryStream(r.seed, 5000)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val served = mutable.ArrayBuffer.empty[(Map[String, Any], SearchOutput)]
    // traced runs serve each query twice: untraced on the set-up backend
    // and with spans on a second backend opened on the same index. The
    // order alternates, since the second run of a query reuses the first
    // one's generated code; the overhead then compares neighbours in time.
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    val second = if (!r.traced) None else {
      r.startTracing()
      Some(r.tracer.span("backend.open")(new SparkBackend(r.spark, paths)))
    }
    val seen = mutable.HashSet.empty[String]
    val gc0 = r.heap.gcMs
    val t0 = System.nanoTime()
    var i = 0
    while (i % Gen.BlockSize != 0 || Run.secs(t0) < r.seconds) {
      def withSpans(): Unit =
        second.foreach(b => traced += Serving.tracedQuery(r, b, paths, stream(i), i, seen))
      if (i % 2 == 1) withSpans()
      val (rec, out) = Serving.query(r, backend, stream(i), i)
      ops += rec
      out.foreach(o => served += ((rec, o)))
      if (i % 2 == 0) withSpans()
      i += 1
    }
    r.record("timed_wall_s") = Run.secs(t0)
    r.record("gc_ms") = r.heap.gcMs - gc0
    r.record("heap_live_mb") = r.heap.liveMb()
    r.record("ops") = ops.toSeq
    r.record("traced_ops") = traced.toSeq
    r.phaseEnd("timed")

    Serving.denseChecks(r, backend, served.toSeq, DenseChecks)
    Serving.wandChecks(r, backend, paths, ops.map(_("q").toString).toSeq, WandChecks, 10)
    r.phaseEnd("checks")
    if (r.traced) {
      r.record("ingest") = Ingest.traced(r, stream)
      r.phaseEnd("ingest")
    }
  }
}
