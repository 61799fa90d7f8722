package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, Scoring}
import graft.corpus.ChunkRow
import graft.index.{Codec, GlobalStats, IndexBuilder, IndexPaths}

/** Distributed SearchBackend over the persisted index tables.
  *
  * Physical plan (SURVEY §3.4 Job 3):
  *  1. query terms -> tiny (term,pos,idf) frame, **broadcast** to the
  *     postings join; postings scan is pruned to the term-hash `bucket`
  *     partitions of the query terms (partition pruning) with the term
  *     equality pushed to parquet;
  *  2. per-chunk BM25 = contributions folded in query-token order
  *     (float-exact vs the sequential reference);
  *  3. bonuses applied to ALL chunks (reference semantics, main.py:140-167)
  *     in a narrow map, then distributed top-k via orderBy().limit() —
  *     Catalyst plans TakeOrderedAndProject, no global sort;
  *  4. everything after the <=poolSize pool runs driver-side (Pipeline).
  */
final class SparkBackend(spark: SparkSession, paths: IndexPaths) extends SearchBackend {
  import spark.implicits._

  val stats: GlobalStats = IndexBuilder.loadStats(spark, paths)
  // bucket count travels with the index — a mismatched constant here would
  // silently prune the wrong partitions
  private val nTermBuckets: Int = stats.nTermBuckets
  // serving state: the chunk table is read in full by every query (bonus
  // pass over all chunks, reference semantics), so keep it cached; postings
  // stay on parquet where term-bucket partition pruning does the work.
  // The DF keeps the precomputed static-bonus columns; `.as[ChunkRow]`
  // views drop them where only the row shape is needed.
  private val chunksRawDF = spark.read.parquet(paths.chunks)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  private val chunksDS = chunksRawDF.as[ChunkRow]
  private val blocksDF = spark.read.parquet(paths.blocks)
  private val termStatsDF = spark.read.parquet(paths.termStats)
  private val idfCache = scala.collection.mutable.HashMap.empty[String, (Double, Long)]

  private def statsFor(terms: Seq[String]): Map[String, (Double, Long)] = {
    val missing = terms.distinct.filterNot(idfCache.contains)
    if (missing.nonEmpty) {
      val buckets = missing.map(IndexBuilder.termBucket(_, nTermBuckets)).distinct
      val found = termStatsDF
        .filter(col("bucket").isin(buckets: _*) && col("term").isin(missing: _*))
        .select("term", "idf", "df").as[(String, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      missing.foreach(t => idfCache(t) = found.getOrElse(t, (0.0, 0L)))
    }
    terms.map(t => t -> idfCache(t)).toMap
  }

  /** idf lookup for query terms — bucket-pruned scan of term_stats. */
  def idfFor(terms: Seq[String]): Map[String, Double] =
    statsFor(terms).map { case (t, (idf, _)) => t -> idf }

  /** document frequency per query term (0 for unknown terms). */
  def dfFor(terms: Seq[String]): Map[String, Long] =
    statsFor(terms).map { case (t, (_, df)) => t -> df }

  def bm25Stats: Bm25Stats =
    Bm25Stats(stats.nDocs, stats.avgdl,
      idfCache.map { case (t, (idf, _)) => t -> idf }.toMap, stats.k1, stats.b)

  /** Sparse per-chunk BM25 scores as a DataFrame(chunkId, score). */
  def scoresDF(queryTokens: Seq[String]): DataFrame = {
    val idf = idfFor(queryTokens)
    val qRows = queryTokens.zipWithIndex
      .map { case (t, pos) => (t, pos, idf(t)) }
      .filter(_._3 != 0.0)
    if (qRows.isEmpty)
      return spark.emptyDataset[(Long, Double)].toDF("chunkId", "score")
    val buckets = qRows.map(r => IndexBuilder.termBucket(r._1, nTermBuckets)).distinct
    val q = qRows.toDF("term", "pos", "idf")
    val k1 = stats.k1; val b = stats.b; val avgdl = stats.avgdl
    // Per-position partial sums keep the whole aggregation inside
    // whole-stage codegen; adding the per-position columns left-to-right
    // reproduces the reference's query-token-order float summation exactly
    // (absent terms add literal 0.0, a float no-op — same as the dense
    // reference loop).
    val perPos = qRows.map { case (_, pos, _) =>
      sum(when(col("pos") === pos, col("contrib"))).as(s"c$pos")
    }
    val orderedSum = qRows.map { case (_, pos, _) =>
      coalesce(col(s"c$pos"), lit(0.0))
    }.reduceLeft(_ + _)
    // posting rows decoded on the fly from the compressed blocks table —
    // the scan is pruned to the query terms' bucket partitions and the term
    // filter is pushed to parquet; only matching blocks are ever read.
    val flat = blocksDF
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(qRows.map(_._1).distinct: _*))
      .select("term", "n", "docs", "tfs", "dls")
      .as[(String, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, n, docs, tfs, dls) =>
        val ids = Codec.vbyteDecode(docs, n, deltas = true)
        val f = Codec.vbyteDecode(tfs, n, deltas = false)
        val d = Codec.vbyteDecode(dls, n, deltas = false)
        (0 until n).iterator.map(i => (term, ids(i), f(i), d(i)))
      }
      .toDF("term", "chunkId", "tf", "dl")
    flat
      .join(broadcast(q), "term")
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("chunkId")
      .agg(perPos.head, perPos.tail: _*)
      .select(col("chunkId"), orderedSum.as("score"))
  }

  /** Top-pool by bonused score. Default path: rank-safe bounded pool —
    * WAND top-M superset by base BM25, exact re-score + bonuses on the M
    * candidates only (SURVEY §7.4). The additive bonus total is provably
    * bounded (see maxBonus; the gibberish multiplier only lowers scores),
    * so whenever
    *   minBase(candidates) + Bmax < theta   (theta = P-th candidate bscore)
    * no excluded chunk can reach the pool and the bounded result equals the
    * dense one. Falls back to the reference-exact dense pass over all
    * chunks when the bound cannot be proven (tiny corpora, weak queries) —
    * so golden parity is untouched while head-term queries at 10^12 scale
    * never broadcast a corpus-sized score vector.
    */
  override def topPool(query: String, bm25Query: String, poolSize: Int,
                       cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] = {
    val qTokens = Analyzer.tokenize(query).toIndexedSeq
    val bmTokens =
      if (bm25Query == query) qTokens else Analyzer.tokenize(bm25Query).toIndexedSeq
    val ctx = new Scoring.QueryBonusContext(query, qTokens, cfg.proxWindow,
      cfg.proxLambda, cfg.ngramLambda)
    // Head-term WAND mode (opt-in): a query whose posting lists cover most
    // of the corpus gives WAND nothing to prune AND defeats the bounded
    // pool's safety proof, so the default serves it reference-exact (dense
    // pass over all chunks — O(corpus) per query). With headTermWand the
    // pool candidates come from WAND top-poolSize on base BM25 and only
    // those rows are fetched + exactly re-scored: the blocks scan (bucket-
    // pruned) is the only corpus-sized read, the chunk table is touched
    // only by the candidates' partition-pruned id fetch. Deviation bound:
    // see PipelineConfig.headTermWand.
    if (cfg.headTermWand && !cfg.densePoolOnly &&
        dfFor(bmTokens.distinct).values.sum > stats.nDocs / 2) {
      lastPoolPath = "wand-headterm"
      return wandOnlyPool(ctx, bm25Query, bmTokens, poolSize)
    }
    if (!cfg.densePoolOnly) {
      boundedPool(ctx, query, bm25Query, bmTokens, poolSize, cfg) match {
        case Some(pool) => lastPoolPath = "bounded"; return pool
        case None       => () // bound not provable -> dense fallback
      }
    }
    lastPoolPath = "dense"
    densePool(ctx, bmTokens, poolSize)
  }

  /** Head-term serving pool: WAND top-poolSize candidates by base BM25,
    * exact re-score + bonuses on those rows only (never a chunk-table
    * scan). Candidate selection ignores bonuses, so vs the dense reference
    * pool a chunk can be displaced only when its bonus advantage exceeds
    * its base-score deficit — bounded by maxBonus(query, cfg).
    */
  private def wandOnlyPool(ctx: Scoring.QueryBonusContext,
                           bm25Query: String, bmTokens: IndexedSeq[String],
                           poolSize: Int): IndexedSeq[(ChunkRow, Double)] = {
    val cand = Wand.topK(spark, paths, stats, bm25Query, poolSize, idfFor)
    if (cand.isEmpty) return IndexedSeq.empty
    val rows = fetchChunks(cand.map(_._1))
    val exactBase = bm25ScoresFor(bmTokens, rows.map(_._1))
    val scored = scala.collection.mutable.HashMap.empty[Long, (ChunkRow, Double)]
    scoreCandidatesInto(ctx, rows, exactBase, scored)
    scored.values.toIndexedSeq
      .sortBy { case (c, s) => (-s, c.source, c.page, c.chunkIdx) }
      .take(poolSize)
  }

  /** Diagnostics: which path served the last topPool call. */
  @volatile var lastPoolPath: String = ""

  /** Max possible additive bonus for one chunk of THIS corpus under THIS
    * query (see topPool scaladoc): query-dependent bonuses at their
    * analytic ceilings, chunk-static pattern+metadata at the corpus maximum
    * recorded at build time, and the 2.0-weighted fuzzy term only when the
    * query is long enough to activate it (scoring.py:197 min_length).
    */
  private def maxBonus(query: String, cfg: PipelineConfig): Double =
    cfg.proxLambda + cfg.ngramLambda + stats.maxStaticBonus +
      (if (query != null && query.length >= 20) 2.0 else 0.0)

  private def boundedPool(ctx: Scoring.QueryBonusContext, query: String,
                          bm25Query: String,
                          bmTokens: IndexedSeq[String], poolSize: Int,
                          cfg: PipelineConfig): Option[IndexedSeq[(ChunkRow, Double)]] = {
    val bMax = maxBonus(query, cfg)
    // Cost-based shortcut: when the query terms' posting lists cover most
    // of the corpus (head-term queries), WAND has nothing to prune and the
    // flat score distribution rarely proves the bound — the dense
    // reference pass IS the cheaper plan. At web scale such queries are
    // served by WAND top-k directly (Wand.topK), not by the reference's
    // bonus-over-all-chunks semantics.
    val dfSum = dfFor(bmTokens.distinct).values.sum
    if (dfSum > stats.nDocs / 2) return None
    // float-noise slack: WAND's per-doc sum can differ from the exact
    // sequential base by ~ulps for repeated query tokens
    val slack = 1e-6
    var m = math.max(4 * poolSize, poolSize + 200)
    val mCap = 64 * poolSize
    var iters = 0
    // WAND's candidate order is a deterministic total order, so top-4m is
    // a superset of top-m: across retry rounds only the NEW candidates need
    // the chunk fetch + exact re-score + driver bonus pass (the difflib
    // fuzzy term dominates); previous rounds' scores are exact and reusable.
    val scoredCache = scala.collection.mutable.HashMap.empty[Long, (ChunkRow, Double)]
    while (m <= mCap) {
      iters += 1
      lastPoolIters = iters
      val cand = Wand.topK(spark, paths, stats, bm25Query, m, idfFor)
      if (cand.isEmpty) return None
      val exhausted = cand.length < m // all matched docs are candidates
      val wandMinBase = cand.iterator.map(_._2).min
      val newIds = cand.map(_._1).filterNot(scoredCache.contains)
      val rows = fetchChunks(newIds)
      val exactBase = bm25ScoresFor(bmTokens, rows.map(_._1))
      scoreCandidatesInto(ctx, rows, exactBase, scoredCache)
      val scored = cand.iterator.flatMap(c => scoredCache.get(c._1)).toIndexedSeq
        .sortBy { case (c, s) => (-s, c.source, c.page, c.chunkIdx) }
      if (scored.length >= poolSize) {
        val theta = scored(poolSize - 1)._2
        val excludedUpper = (if (exhausted) 0.0 else wandMinBase) + bMax + slack
        if (excludedUpper < theta) return Some(scored.take(poolSize).toIndexedSeq)
        // Cost-based futility cut (parity-safe: the dense fallback is the
        // reference-exact plan, this only skips retries that rarely pay):
        // excluded docs always have base >= 0, so the bound can never hold
        // until theta exceeds bMax. If the P-th candidate's bonused score
        // is still below bMax after a full round, two more 4x WAND +
        // re-score rounds are unlikely to lift theta past it — serve dense
        // now instead of paying both paths.
        if (!exhausted && theta <= bMax + slack) return None
      }
      if (exhausted) return None // growing m cannot add candidates
      m *= 4
    }
    None
  }

  /** Diagnostics: bounded-pool iterations of the last topPool call. */
  @volatile var lastPoolIters: Int = 0

  /** Bonus-score the candidates in parallel on the driver (pure function
    * per row; the difflib fuzzy pass dominates for long queries) into the
    * given cache; callers sort by the pool's deterministic order.
    */
  private def scoreCandidatesInto(ctx: Scoring.QueryBonusContext,
                                  rows: IndexedSeq[(ChunkRow, (Double, Double, Double))],
                                  exactBase: Map[Long, Double],
                                  into: scala.collection.mutable.HashMap[Long, (ChunkRow, Double)])
      : Unit = {
    val out = new Array[(ChunkRow, Double)](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
      val (c, (pb, mb, gib)) = rows(i)
      out(i) = (c, ctx.score(exactBase.getOrElse(c.chunkId, 0.0), c.text, pb, mb, gib))
    }
    out.foreach { case (c, s) => into(c.chunkId) = (c, s) }
  }

  /** Candidate rows + their precomputed static bonuses (pattern, meta, gib)
    * from the cached chunk table; the scan is pruned to the candidates'
    * cbucket partitions (the corpus-sublinear path). The bucket COUNT is
    * the one recorded in the build stats.
    */
  private def fetchChunks(ids: Seq[Long])
      : IndexedSeq[(ChunkRow, (Double, Double, Double))] = {
    val buckets = ids.map(IndexBuilder.chunkBucket(_, stats.nChunkBuckets)).distinct
    chunksRawDF
      .filter(col("cbucket").isin(buckets: _*) && col("chunkId").isin(ids: _*))
      .select(col("chunkId"), col("docId"), col("source"), col("page"),
        col("chunkIdx"), col("text"), col("meta"),
        col("pattern_b"), col("meta_b"), col("gib"))
      .as[(Long, Long, String, Int, Int, String, graft.corpus.ChunkMeta,
           Double, Double, Double)]
      .collect()
      .map { case (id, docId, source, page, idx, text, meta, pb, mb, gib) =>
        (ChunkRow(id, docId, source, page, idx, text, meta), (pb, mb, gib))
      }.toIndexedSeq
  }

  /** Matched-doc ceiling for broadcasting the sparse score frame in the
    * dense pass (~16 B/doc -> ~800 MB at 50M). Above it the join degrades
    * to a shuffled hash join: same reference-exact semantics, corpus
    * reshuffled instead of a driver/executor-killing broadcast. Var so a
    * spec can force the shuffle path at test scale.
    */
  private[graft] var denseBroadcastMaxMatched: Long = 50L * 1000 * 1000

  /** Diagnostics: join strategy + the last dense pass's frame. The plan
    * string is derived lazily (`lastDensePlan`) — eagerly stringifying
    * `sparkPlan` here would run a second full Catalyst planning pass per
    * dense pool call on the hot path.
    */
  @volatile var lastDenseJoin: String = ""
  @volatile private var lastDenseDF: DataFrame = _
  def lastDensePlan: String =
    if (lastDenseDF == null) "" else lastDenseDF.queryExecution.sparkPlan.toString

  /** Reference-exact dense pass: bonuses on every chunk, distributed top-k. */
  private def densePool(ctx: Scoring.QueryBonusContext,
                        bmTokens: IndexedSeq[String],
                        poolSize: Int): IndexedSeq[(ChunkRow, Double)] = {
    val bonusUdf = udf { (base: Double, text: String, patternB: Double,
                          metaB: Double, gib: Double) =>
      ctx.score(base, text, patternB, metaB, gib)
    }
    // Broadcast the (chunkId, score) side when it is provably small — the
    // chunk table (with its text payload) then never moves and the bonus
    // pass runs on the cached partitions in place. sum(df) of the query
    // terms upper-bounds the matched-doc count; above the ceiling (head
    // terms on a huge corpus) force a SHUFFLE_HASH join instead so the
    // scale-killing broadcast is unreachable, not just documented.
    val scores = scoresDF(bmTokens)
    val matchedUpper = dfFor(bmTokens.distinct).values.sum
    val scoresSide =
      if (matchedUpper <= denseBroadcastMaxMatched) {
        lastDenseJoin = "broadcast"; broadcast(scores)
      } else {
        lastDenseJoin = "shuffle-hash"; scores.hint("shuffle_hash")
      }
    val scored = chunksRawDF
      .join(scoresSide, Seq("chunkId"), "left")
      .na.fill(0.0, Seq("score"))
      .withColumn("bscore", bonusUdf(col("score"), col("text"),
        col("pattern_b"), col("meta_b"), col("gib")))
      .orderBy(desc("bscore"), asc("source"), asc("page"), asc("chunkIdx"))
      .limit(poolSize)
    lastDenseDF = scored
    scored.select(col("chunkId"), col("docId"), col("source"), col("page"),
        col("chunkIdx"), col("text"), col("meta"), col("bscore"))
      .as[(Long, Long, String, Int, Int, String, graft.corpus.ChunkMeta, Double)]
      .collect()
      .map { case (id, docId, source, page, idx, text, meta, s) =>
        (ChunkRow(id, docId, source, page, idx, text, meta), s)
      }.toIndexedSeq
  }

  /** Bonused baseline scores for arbitrary ids (ANN semantic candidates),
    * input order preserved; unknown ids dropped.
    */
  override def bonusedScoresFor(query: String, bm25Query: String, ids: Seq[Long],
                                cfg: PipelineConfig): IndexedSeq[(ChunkRow, Double)] = {
    val qTokens = Analyzer.tokenize(query).toIndexedSeq
    val bmTokens =
      if (bm25Query == query) qTokens else Analyzer.tokenize(bm25Query).toIndexedSeq
    val ctx = new Scoring.QueryBonusContext(query, qTokens, cfg.proxWindow,
      cfg.proxLambda, cfg.ngramLambda)
    val rows = fetchChunks(ids)
    val base = bm25ScoresFor(bmTokens, rows.map(_._1))
    val byId = rows.map { case (c, (pb, mb, gib)) =>
      c.chunkId -> ((c, ctx.score(base.getOrElse(c.chunkId, 0.0), c.text, pb, mb, gib)))
    }.toMap
    ids.flatMap(byId.get).toIndexedSeq
  }

  /** Driver-side exact re-scoring of pool chunks (pool <= 200). */
  override def bm25ScoresFor(queryTokens: Seq[String], chunks: Seq[ChunkRow]): Map[Long, Double] = {
    val st = Bm25Stats(stats.nDocs, stats.avgdl, idfFor(queryTokens), stats.k1, stats.b)
    chunks.map { c =>
      val toks = Analyzer.tokenize(c.text)
      c.chunkId -> st.score(queryTokens, Bm25.termFreqs(toks), toks.length.toLong)
    }.toMap
  }

  override def topDocsForRm3(queryTokens: Seq[String], fbDocs: Int): Seq[String] = {
    val matched = chunksDS.toDF()
      .join(scoresDF(queryTokens), Seq("chunkId"))
      .orderBy(desc("score"), asc("source"), asc("page"), asc("chunkIdx"))
      .limit(fbDocs)
      .select("text").as[String].collect().toSeq
    if (matched.length >= fbDocs) matched
    else {
      // reference takes zero-score docs in corpus order when fewer than
      // fbDocs chunks match (prf.py:29 over a dense score array)
      val fill = chunksDS.toDF()
        .join(scoresDF(queryTokens), Seq("chunkId"), "left_anti")
        .orderBy(asc("source"), asc("page"), asc("chunkIdx"))
        .limit(fbDocs - matched.length)
        .select("text").as[String].collect().toSeq
      matched ++ fill
    }
  }
}
