package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.analysis.Analyzer
import graft.corpus.ChunkRow
import graft.query.Bm25

/** One posting: a (term, doc) observation with the doc's length denormalized
  * in (impact-ready; avoids a docLen join at query time).
  */
case class Posting(term: String, chunkId: Long, tf: Int, dl: Int)

/** Compressed posting-list block row (see Codec). `shard` partitions each
  * term's postings by doc hash so no single reducer ever owns a full
  * head-term list — the unit of WAND parallelism at cluster scale.
  */
case class BlockRow(bucket: Int, shard: Int, term: String, blockId: Int, n: Int,
                    docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
                    maxTfNorm: Double, firstDoc: Long, lastDoc: Long)

case class GlobalStats(nDocs: Long, totalTokens: Long, avgdl: Double,
                       vocabSize: Long, avgRawIdf: Double, eps: Double,
                       /** corpus max of (pattern_b + meta_b) — tightens the
                         * bounded-pool additive-bonus ceiling per corpus */
                       maxStaticBonus: Double,
                       k1: Double, b: Double, nTermBuckets: Int,
                       /** resolved doc-shard count the blocks were written
                         * with — the incremental path must reuse it (the
                         * shard hash function addresses existing dirs) */
                       nDocShards: Int,
                       /** resolved chunk-bucket count the chunk table was
                         * written with. Always a multiple of nDocShards,
                         * so `shard = cbucket % nDocShards`: the
                         * incremental exchange slice and the query-time
                         * candidate fetch both prune cbucket DIRECTORIES
                         * instead of scanning corpus-proportional rows. */
                       nChunkBuckets: Int,
                       /** minimum avgdl any LIVE block was built with. An
                         * incremental update re-fits avgdl but leaves
                         * unchanged shards' blocks (and their maxTfNorm,
                         * computed under the old avgdl) on disk; tf-norms
                         * grow with avgdl, so WAND scales its block upper
                         * bounds by max(1, avgdl/minBlockAvgdl) to stay a
                         * valid bound (exactness is unaffected — bounds
                         * only gate pruning). Full builds reset this to
                         * avgdl. */
                       minBlockAvgdl: Double,
                       configHash: String, snapshotId: String)

case class BuildConfig(
    k1: Double = 1.4,
    b: Double = 0.75,
    epsilon: Double = 0.25,
    nTermBuckets: Int = 32,
    /** doc-hash salt shards per term (head-term skew + WAND parallelism).
      * 0 = auto: scale with corpus size so one shard never exceeds ~250k
      * docs — WAND parallelism must grow with the corpus, a fixed count
      * would cap query-time concurrency at 10^12 docs.
      */
    nDocShards: Int = 0,
    blockSize: Int = Codec.DefaultBlockSize,
    /** chunk-table hash partitions on chunkId (0 = auto: one per resolved
      * doc shard). With buckets the bounded pool's candidate fetch prunes
      * to the candidates' partitions instead of scanning the corpus —
      * required at 10^12 chunks, where even a cached full scan per query
      * is a scale-killer — and, because the count is validated as a
      * MULTIPLE of the doc-shard count (`shard = cbucket % nShards`), the
      * incremental exchange slice fetches the affected shards' chunks by
      * cbucket partition pruning instead of a corpus-proportional text
      * scan. Costs one extra clustering shuffle of the chunk table at
      * build time.
      */
    nChunkBuckets: Int = 0,
    /** chunk-table url-hash partitions (0 = off). With them the
      * INCREMENTAL chunk-table rewrite touches only the url-buckets whose
      * chunks changed (dynamic-partition overwrite) instead of re-running
      * the static-bonus analyzer pass + full-table write over the whole
      * corpus — at 10^12 chunks the update's chunk-side cost becomes
      * proportional to the change, with global stats refreshed from a
      * narrow column scan. Must equal ResumableBuild's nInputBuckets (the
      * same url-hash addresses both layouts); part of configHash because
      * a layout change invalidates the partial-overwrite contract.
      */
    nUrlBuckets: Int = 0,
    shufflePartitions: Int = 32) {
  def configHash: String =
    Analyzer.md5Hex(
      s"$k1|$b|$epsilon|$nTermBuckets|$nDocShards|$blockSize|$nUrlBuckets|$nChunkBuckets")

  def resolveDocShards(nDocs: Long): Int =
    if (nDocShards > 0) nDocShards
    else math.min(4096L, math.max(4L, nDocs / 250000L + 1L)).toInt

  /** Resolved chunk-bucket count: defaults to the doc-shard grain, and an
    * explicit value is treated as a MINIMUM rounded UP to the next
    * multiple of the resolved shard count — the alignment that makes
    * `shard = cbucket % nShards` hold, so the incremental exchange slice
    * prunes cbucket directories instead of scanning the corpus. Rounding
    * (not a hard require) because the shard count is corpus-derived when
    * nDocShards = 0: a fixed explicit bucket count must not start
    * crashing builds the day the corpus grows past a shard boundary.
    */
  def resolveChunkBuckets(nShards: Int): Int =
    if (nChunkBuckets <= 0) nShards
    else ((nChunkBuckets + nShards - 1) / nShards) * nShards
}

object BuildConfig {
  /** Shuffle partitions per core for the posting exchange. Cores-sized
    * partitions leave (bucket, shard)-group stragglers; 4x was A/B'd best
    * on absolute time at both local[4] and local[16] (BENCH.md round 4) and
    * matches fine-grained-tasks + AQE-coalesce practice on a real cluster.
    * ONE constant — production call sites and the scaling probes must
    * benchmark the same grain they ship.
    */
  val ShuffleGrainPerCore = 4

  def shufflePartitionsFor(cores: Int): Int = cores * ShuffleGrainPerCore
}

case class IndexPaths(root: String) {
  def chunks = s"$root/chunks"
  /** (chunkId, content-signature) side table, ubucket-partitioned like the
    * chunk table: lets the incremental diff read 16 B/chunk of OLD state
    * instead of re-hashing the whole old corpus text (IndexBuilder.sigCol).
    */
  def chunkSigs = s"$root/chunk_sigs"
  def blocks = s"$root/blocks"
  /** (shard, avgdl) lineage: the avgdl each LIVE shard's blocks were last
    * built under. minBlockAvgdl is re-derived as the min over this table
    * after every update, so WAND's bound scale RECOVERS once stale shards
    * are rewritten instead of ratcheting down forever.
    */
  def shardStats = s"$root/shard_stats"
  def termStats = s"$root/term_stats"
  def globalStats = s"$root/global_stats"
  def metrics = s"$root/metrics"
  def checkpoints = s"$root/checkpoints.json"
  def manifest = s"$root/manifest.json"
}

case class PartitionMetric(phase: String, partitionId: Int, rows: Long,
                           bytes: Long, wallMs: Long)

/** Distributed inverted-index build (SURVEY §2.3 / north rule).
  *
  * Shuffle design, stated explicitly for the 1000-executor case:
  *  - tf computation is task-local (per-chunk hash map in `mapPartitions`),
  *    and the ONLY wide exchange of posting-grain data is the
  *    (term-bucket, doc-shard) repartition feeding block assembly — the
  *    compressed `blocks` table is built in the same pass that consumes the
  *    sorted shuffle, with no intermediate raw-postings materialization;
  *  - `bucket = hash(term) % nTermBuckets` is the physical partition column
  *    of both `blocks` and `term_stats` → query-term lookups prune
  *    partitions at the parquet source;
  *  - `shard = hash(chunkId) % nDocShards` salts head terms: a term with a
  *    10^11-row posting list lands on nDocShards reducers, never one;
  *  - df/idf statistics aggregate the block-grain table (a few rows per
  *    (term, shard), never posting-grain), so the stats shuffle is
  *    vocabulary-sized; N/avgdl come from a narrow column scan of the
  *    chunk table's denormalized `dl`.
  */
object IndexBuilder {

  /** Test probe: when `probeExchangeSlice` is set, incrementalBuild
    * records the (pre-materialization) exchange-slice frame so specs can
    * assert its chunk-table scan prunes to the affected cbucket
    * directories (the 100 TB update contract). Opt-in: a production
    * driver must not pin the last update's plan lineage (and its
    * checkpoint blocks) for the JVM lifetime.
    */
  @volatile private[graft] var probeExchangeSlice = false
  @volatile private[graft] var lastExchangeSliceDF: DataFrame = _

  /** Stable 64-bit id from the md5 of a key (portable, seedless). */
  def stableId(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Must agree with the SQL `pmod(xxhash64(term), n)` used when writing the
    * bucket partition column (seed 42, Spark's default for xxhash64).
    */
  def termBucket(term: String, n: Int): Int =
    math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L),
      n.toLong).toInt

  /** Must agree with SQL `pmod(xxhash64(chunkId), n)` (long input, seed 42). */
  def chunkBucket(chunkId: Long, n: Int): Int =
    math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        chunkId, org.apache.spark.sql.types.LongType, 42L),
      n.toLong).toInt

  /** Chunk rows -> flat postings with doc lengths (no shuffle; narrow). */
  def postings(chunks: Dataset[ChunkRow]): Dataset[Posting] = {
    import chunks.sparkSession.implicits._
    chunks.mapPartitions { it =>
      it.flatMap { c =>
        val toks = Analyzer.tokenize(c.text)
        val tf = Bm25.termFreqs(toks)
        val dl = toks.length
        tf.iterator.map { case (t, f) => Posting(t, c.chunkId, f, dl) }
      }
    }
  }

  /** Chunk rows + the query-independent bonus columns (reference
    * scoring.py pattern/metadata/gibberish) — functions of the chunk alone,
    * precomputed as chunk-table columns so query-time work is query-derived
    * only (semantics unchanged; see Scoring.QueryBonusContext). ONE udf
    * computes all four columns: the text string then crosses the
    * UTF8String boundary once per chunk, not four times. Marked
    * nondeterministic ONLY to stop Catalyst duplicating the call per
    * extracted struct field (CollapseProject would otherwise inline it
    * 4x) — the function itself is pure.
    */
  private def withStaticCols(chunks: DataFrame): DataFrame = {
    val staticUdf = udf((text: String, title: String) => (
      graft.analysis.Scoring.patternBonus(text),
      graft.analysis.Scoring.metadataBonus(text, Option(title)),
      graft.analysis.Scoring.gibberishPenalty(text),
      Analyzer.tokenize(text).length)).asNondeterministic()
    chunks
      .withColumn("__st", staticUdf(col("text"), col("meta.title")))
      .withColumn("pattern_b", col("__st._1"))
      .withColumn("meta_b", col("__st._2"))
      .withColumn("gib", col("__st._3"))
      .withColumn("dl", col("__st._4"))
      .drop("__st")
  }

  /** Chunk-table writer shared by the full and incremental paths.
    * Partition columns: `ubucket` (url hash — the unit of incremental
    * overwrite; only with `cfg.nUrlBuckets > 0`) and `cbucket` (chunkId
    * hash — the unit of candidate-fetch pruning; always, `nCb >= 1`). The
    * frame is clustered on the partition columns first (an unclustered
    * partitionBy write opens tasks × dirs parquet writers). `dynamic` =
    * overwrite only the partitions present in the frame (the incremental
    * contract).
    */
  private def writeChunksTable(chunksDF: DataFrame, cfg: BuildConfig, nCb: Int,
                               out: IndexPaths, dynamic: Boolean): Unit = {
    val urlBucketed = cfg.nUrlBuckets > 0
    val df = (if (urlBucketed) chunksDF.withColumn("ubucket",
        pmod(xxhash64(col("source")), lit(cfg.nUrlBuckets)).cast("int"))
      else chunksDF)
      .withColumn("cbucket", pmod(xxhash64(col("chunkId")), lit(nCb)).cast("int"))
    val parts = (if (urlBucketed) Seq("ubucket") else Nil) :+ "cbucket"
    // clustered + salted write (shared helper; the seed matters here —
    // cbucket IS pmod(xxhash64(chunkId), nCb), so an unseeded chunkId
    // salt would be functionally dependent on it and collapse the
    // commit back to nDirs writer tasks)
    TableIO.saltedPartitionWrite(df, parts, math.max(cfg.nUrlBuckets, 1) * nCb,
      col("chunkId"), cfg.shufflePartitions, out.chunks, dynamic)
  }

  /** Content signature of a chunk for change detection: text AND meta
    * (static bonuses + served citations depend on metadata, not just
    * text). The SAME expression hashes the new merged corpus at diff time
    * and writes the chunk_sigs side table at build time.
    */
  def sigCol: org.apache.spark.sql.Column = xxhash64(col("text"), col("meta"))

  /** The keep-first dedup key (MUST match ChunkerJob.dedup's hash): md5 of
    * the Unicode-normalized text, NULL for rows dedup drops entirely.
    */
  def dedupHashCol: org.apache.spark.sql.Column = {
    val norm = regexp_replace(lower(col("text")), "(?U)\\W+", "")
    when(norm =!= "", md5(norm))
  }

  /** Write the (chunkId, h) signature side table, ubucket-partitioned when
    * the chunk table is (same layout = same overwrite grain). ~16 B/chunk:
    * the incremental diff's read of OLD state.
    */
  private def writeChunkSigs(chunksDF: DataFrame, cfg: BuildConfig,
                             out: IndexPaths, dynamic: Boolean): Unit = {
    val sigs = chunksDF.select(col("chunkId"), sigCol.as("h"),
      dedupHashCol.as("dhash"), col("source"))
    if (cfg.nUrlBuckets > 0) {
      val w = sigs
        .withColumn("ubucket",
          pmod(xxhash64(col("source")), lit(cfg.nUrlBuckets)).cast("int"))
        .drop("source")
        .repartition(cfg.nUrlBuckets, col("ubucket"))
        .write.mode(SaveMode.Overwrite)
      (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
        .partitionBy("ubucket").parquet(out.chunkSigs)
    } else
      sigs.drop("source").write.mode(SaveMode.Overwrite).parquet(out.chunkSigs)
  }

  /** The single posting-grain exchange + streaming block assembly: the
    * input is repartitioned on (bucket, shard), sorted, and the compressed
    * blocks are built in the pass that consumes the shuffle.
    */
  private def assembleBlocks(spark: SparkSession, chunksDF: DataFrame,
                             cfg: BuildConfig, nShards: Int, avgdl: Double,
                             metricsAcc: CollectionAccumulator[PartitionMetric])
      : Dataset[BlockRow] = {
    import spark.implicits._
    val k1 = cfg.k1; val b = cfg.b; val blockSize = cfg.blockSize
    // Shuffle the NARROWEST possible posting row (guide §2.3): bucket and
    // shard are pure hash functions of term/chunkId, so they ride along as
    // repartition/sort EXPRESSIONS instead of materialized columns, and
    // (tf, dl) pack into one long (tf < 2^32 and dl < 2^32 always hold —
    // ints — so the pack is lossless for ANY chunk size). 6 exchange
    // fields drop to 3 (~30% fewer sorted/shuffled bytes at posting grain,
    // the build's one wide exchange). Sorting by
    // (term, shardExpr, chunkId) preserves exactly the (bucket, shard,
    // term) group contiguity the streaming assembler needs, because bucket
    // is a function of term; the consumer re-derives both hashes once per
    // group boundary via the same seeded xxhash64 (termBucket/chunkBucket).
    val nTermBuckets = cfg.nTermBuckets
    val shardExpr = pmod(xxhash64(col("chunkId")), lit(nShards))
    val packed = postings(chunksDF.as[ChunkRow])
      .select(col("term"), col("chunkId"),
        (shiftleft(col("dl").cast("long"), 32) + col("tf")).as("tfdl"))
      .repartition(cfg.shufflePartitions,
        pmod(xxhash64(col("term")), lit(nTermBuckets)), shardExpr)
      .sortWithinPartitions(col("term"), shardExpr, col("chunkId"))
      .as[(String, Long, Long)]
    packed.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val start = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer.empty[BlockRow]
      var curTerm: String = null
      var curShard = -1
      var curBucket = -1
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val dls = scala.collection.mutable.ArrayBuffer.empty[Long]
      val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
      var nRows = 0L
      var nBytes = 0L
      def flush(): Unit = if (curTerm != null && ids.nonEmpty) {
        val bs = Codec.buildBlocks(ids.toArray, tfs.toArray, dls.toArray,
          norms.toArray, blockSize)
        bs.zipWithIndex.foreach { case (blk, i) =>
          nBytes += blk.docs.length + blk.tfs.length + blk.dls.length
          out += BlockRow(curBucket, curShard, curTerm, i, blk.n, blk.docs,
            blk.tfs, blk.dls, blk.maxTfNorm, blk.firstDoc, blk.lastDoc)
        }
        ids.clear(); tfs.clear(); dls.clear(); norms.clear()
      }
      rows.foreach { case (term, chunkId, tfdl) =>
        val shard = chunkBucket(chunkId, nShards)
        if (term != curTerm || shard != curShard) {
          flush()
          if (term != curTerm) curBucket = termBucket(term, nTermBuckets)
          curTerm = term
          curShard = shard
        }
        val tf = tfdl & 0xffffffffL
        val dl = tfdl >>> 32
        ids += chunkId
        tfs += tf
        dls += dl
        norms += tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        nRows += 1
      }
      flush()
      metricsAcc.add(PartitionMetric("blocks", pid, nRows, nBytes,
        (System.nanoTime() - start) / 1000000))
      out.iterator
    }
  }

  /** term_stats refresh from the block-grain table: a few rows per
    * (term, shard), so this shuffle is vocabulary-sized, never
    * posting-sized. Returns (vocabSize, avgRawIdf, eps).
    */
  private def writeTermStats(blocksDF: DataFrame, nDocs: Long, out: IndexPaths,
                             cfg: BuildConfig): (Long, Double, Double) = {
    val dfTable = blocksDF
      .groupBy("term", "bucket").agg(sum("n").as("df"))
      .withColumn("raw_idf",
        log(lit(nDocs.toDouble) - col("df") + 0.5) - log(col("df") + 0.5))
    dfTable.persist()
    try {
      val totalsRow = dfTable.agg(count(lit(1)), avg("raw_idf")).head()
      val vocabSize = totalsRow.getLong(0)
      val avgRawIdf = totalsRow.getDouble(1)
      val eps = cfg.epsilon * avgRawIdf
      dfTable
        .withColumn("idf", when(col("raw_idf") < 0, lit(eps)).otherwise(col("raw_idf")))
        .select("term", "df", "idf", "bucket")
        // cluster on the partition column first: an unclustered partitionBy
        // write opens tasks x buckets parquet writers (measured 2083 files /
        // ~6s for this 50k-row table; clustered: 32 files / <1s)
        .repartition(cfg.nTermBuckets, col("bucket"))
        .sortWithinPartitions("bucket", "term")
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(out.termStats)
      (vocabSize, avgRawIdf, eps)
    } finally dfTable.unpersist()
  }

  /** Full build: writes postings, term_stats, global_stats, blocks, metrics
    * + snapshot manifest; returns the stats.
    */
  def build(spark: SparkSession, chunks: Dataset[ChunkRow], out: IndexPaths,
            cfg: BuildConfig = BuildConfig()): GlobalStats = {
    import spark.implicits._
    val t0 = System.nanoTime()
    var tPhase = t0
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[index-build] $name: ${(now - tPhase) / 1e9}%.1fs")
      tPhase = now
    }

    val chunksOut = withStaticCols(chunks.toDF())
      // cache: the chunk-table write, the stats scan and the posting
      // exchange all consume these rows — the analyzer UDFs run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Error-path contract: if anything below throws, the detached commits
    // are drained (a failed build must never leave a background write
    // racing a caller's retry into the same IndexPaths) and every cache is
    // released before rethrowing.
    val pendingWrites = scala.collection.mutable.ListBuffer.empty[scala.concurrent.Future[Unit]]
    val cleanups = scala.collection.mutable.ListBuffer.empty[() => Unit]
    cleanups += (() => chunksOut.unpersist())
    // Crash lineage: a build that dies between its chunk-table commit and
    // its blocks/stats commits leaves a NEW chunk table over STALE blocks —
    // a later incremental diff against that table reads "no change" and
    // would serve the stale blocks forever. Mark the manifest before the
    // first destructive write; the final manifest write (wholesale
    // replacement) clears it, and ResumableBuild treats a surviving marker
    // as "index suspect, full rebuild".
    TableIO.writeManifest(out.manifest,
      TableIO.readManifest(out.manifest).getOrElse(Map.empty) +
        ("pending_build" -> "1"))
    try {

    // N / avgdl from the denormalized doc-length column — a narrow
    // column-pruned scan (this first pass also fills the cache), available
    // before the posting exchange so block maxima can be finalized in the
    // same pass — and before the chunk-table commit so the cbucket layout
    // can be resolved against the corpus-derived shard count.
    val lenRow = chunksOut
      .agg(count(lit(1)), sum("dl"), max(col("pattern_b") + col("meta_b"))).head()
    val nDocs = lenRow.getLong(0)
    require(nDocs > 0, "empty corpus")
    val totalTokens = lenRow.getLong(1)
    val maxStaticBonus = lenRow.getDouble(2)
    val avgdl = totalTokens.toDouble / nDocs
    val nShards = cfg.resolveDocShards(nDocs)
    val nCb = cfg.resolveChunkBuckets(nShards)
    phase("chunk-stats")

    // the chunk-table parquet commit runs CONCURRENTLY with everything
    // downstream (the posting exchange reads the cache, not the file): on
    // one box this hides the commit I/O behind the exchange compute; on a
    // cluster the jobs just share executors. Awaited before returning —
    // callers read out.chunks after build().
    val chunksWrite = scala.concurrent.Future {
      writeChunksTable(chunksOut, cfg, nCb, out, dynamic = false)
    }(scala.concurrent.ExecutionContext.global)
    pendingWrites += chunksWrite
    // the signature side table's dedup-hash pass (md5 over normalized
    // text) is a real CPU cost at corpus scale — run it concurrently with
    // the posting exchange like the other commits (same cache input)
    val sigsWrite = scala.concurrent.Future {
      writeChunkSigs(chunksOut, cfg, out, dynamic = false)
    }(scala.concurrent.ExecutionContext.global)
    pendingWrites += sigsWrite

    // ---- compressed block build: the single posting-grain exchange ----
    val metricsAcc: CollectionAccumulator[PartitionMetric] =
      spark.sparkContext.collectionAccumulator[PartitionMetric]("block-build")
    val blocks = assembleBlocks(spark, chunksOut, cfg, nShards, avgdl, metricsAcc)
    // persist so both consumers read the in-memory block rows; the blocks
    // parquet commit and the stats pipeline then run as CONCURRENT jobs
    // over the same cache (Spark's block manager deduplicates concurrent
    // partition computation) instead of serializing write -> stats — on a
    // single box this overlaps the commit I/O with the stats shuffle CPU,
    // and on a cluster the two jobs simply share executors. The (bucket,
    // shard) physical partitioning is what makes the incremental path's
    // shard-grain overwrite possible. The exchange hash-partitions on
    // (bucket, shard), so each group's rows sit in one task, but
    // assembleBlocks emits them term-major, not clustered on (bucket,
    // shard): the partitioned writer sorts each task's rows by the
    // partition columns before it writes.
    blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cleanups += (() => blocks.unpersist())
    val blocksWrite = scala.concurrent.Future {
      blocks.write.mode(SaveMode.Overwrite)
        .partitionBy("bucket", "shard").parquet(out.blocks)
    }(scala.concurrent.ExecutionContext.global)
    pendingWrites += blocksWrite

    // ---- statistics (broadcast source) ----
    val (vocabSize, avgRawIdf, eps) = writeTermStats(blocks.toDF(), nDocs, out, cfg)
    phase("stats-agg")
    scala.concurrent.Await.result(sigsWrite, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(blocksWrite, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(chunksWrite, scala.concurrent.duration.Duration.Inf)
    blocks.unpersist()
    chunksOut.unpersist()
    phase("blocks-write+stats")

    val wallMs = (System.nanoTime() - t0) / 1000000
    val metrics = metricsAcc.value
    import scala.jdk.CollectionConverters._
    spark.createDataset(metrics.asScala.toSeq)
      .withColumn("mode", lit("full"))
      .withColumn("docs_per_sec", lit(nDocs.toDouble * 1000 / math.max(1, wallMs)))
      .write.mode(SaveMode.Overwrite).parquet(out.metrics)
    // per-shard avgdl lineage: a full build stamps every shard with the
    // build avgdl (see IndexPaths.shardStats)
    spark.createDataset((0 until nShards).map(s => (s, avgdl)))
      .toDF("shard", "avgdl")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(out.shardStats)

    val snapshotId = Analyzer.md5Hex(s"$nDocs|$totalTokens|${cfg.configHash}")
    val stats = GlobalStats(nDocs, totalTokens, avgdl, vocabSize, avgRawIdf, eps,
      maxStaticBonus, cfg.k1, cfg.b, cfg.nTermBuckets, nShards, nCb, avgdl,
      cfg.configHash, snapshotId)
    Seq(stats).toDS().write.mode(SaveMode.Overwrite).parquet(out.globalStats)
    TableIO.writeManifest(out.manifest, Map(
      "snapshot_id" -> snapshotId, "n_docs" -> nDocs.toString,
      "total_tokens" -> totalTokens.toString, "config_hash" -> cfg.configHash,
      "n_doc_shards" -> nShards.toString,
      "build_wall_ms" -> wallMs.toString,
      "docs_per_sec" -> f"${nDocs.toDouble * 1000 / math.max(1, wallMs)}%.1f"))
    stats

    } catch {
      case t: Throwable =>
        pendingWrites.foreach { f =>
          try scala.concurrent.Await.ready(f,
            scala.concurrent.duration.Duration(10, java.util.concurrent.TimeUnit.MINUTES))
          catch { case _: Throwable => () }
        }
        cleanups.foreach(c => try c() catch { case _: Throwable => () })
        throw t
    }
  }

  /** The index's GlobalStats. An index loads exactly or not at all: stats
    * written before the chunk table was cbucket-partitioned (no
    * `nChunkBuckets`), or recording a posting codec other than the VByte
    * layout every block now has, fail with a rebuild message instead of
    * serving or updating an index this code cannot read.
    */
  def loadStats(spark: SparkSession, out: IndexPaths): GlobalStats = {
    import spark.implicits._
    val df = spark.read.parquet(out.globalStats)
    // indexes written while the codec was selectable record it; only the
    // VByte layout remains readable
    val vbyte =
      if (df.columns.contains("postingCodec")) col("postingCodec") === "vbyte"
      else lit(true)
    val stats =
      if (df.columns.contains("nChunkBuckets")) df.where(vbyte).as[GlobalStats].head(1)
      else Array.empty[GlobalStats]
    require(stats.nonEmpty, s"${out.globalStats}: unsupported index layout " +
      "(no nChunkBuckets, or a posting codec other than vbyte); rebuild the index")
    stats.head
  }

  /** Incremental index update: rebuild posting blocks ONLY for the doc
    * shards containing changed chunks, keeping every other (bucket, shard)
    * partition's files untouched on disk (a one-bucket re-crawl must not
    * rewrite 10^12 chunks' postings byte-identical — VERDICT r3 #2).
    *
    *  - `chunks` is the FULL merged post-update corpus; the posting
    *    exchange (the shuffle-heavy phase) is restricted to chunks hashing
    *    into `affectedShards`, whose (bucket=∀, shard∈affected) directories
    *    are deleted and rewritten — a shard's blocks are a pure function
    *    of that shard's chunks, so the rebuild is complete;
    *  - global statistics re-fit on the whole corpus (same contract as the
    *    reference, which re-fits BM25 whenever the corpus changes,
    *    index.py:52-62): N/avgdl from a narrow column scan, df/idf from
    *    the block-grain table (vocabulary-sized, reading untouched shards'
    *    block METADATA only — n per (term, shard), never decoded postings);
    *  - untouched blocks keep maxTfNorm computed under the previous avgdl;
    *    `minBlockAvgdl` records the floor so WAND's upper bounds stay
    *    valid (see GlobalStats scaladoc);
    *  - the chunk table: with `cfg.nUrlBuckets > 0` (the ResumableBuild
    *    default) only the url-bucket partitions containing changed chunks
    *    are rewritten (dynamic-partition overwrite) — the static-bonus
    *    analyzer pass runs over those buckets' chunks alone, and the
    *    global N/avgdl/maxStaticBonus re-fit combines a NARROW
    *    (dl/pattern_b/meta_b) column scan of the untouched partitions
    *    with the new partitions' aggregate. Without url-buckets the whole
    *    table is rewritten (pre-r4 behavior). Callers gate on
    *    `prev.configHash`/shard-record equality and fall back to the full
    *    build otherwise (ResumableBuild).
    */
  def incrementalBuild(spark: SparkSession, chunks: DataFrame,
                       out: IndexPaths, cfg: BuildConfig, prev: GlobalStats,
                       affectedShards: Seq[Int],
                       affectedUBuckets: Seq[Int] = Nil): GlobalStats = {
    import spark.implicits._
    require(cfg.configHash == prev.configHash,
      "config changed — incremental update invalid, run a full build")
    val t0 = System.nanoTime()
    val nShards = prev.nDocShards
    val partialChunks = cfg.nUrlBuckets > 0 && affectedUBuckets.nonEmpty
    // prefer a materialized `ubucket` column when the input carries one
    // (the change-proportional assembly keeps the chunk table's PARTITION
    // column so this filter prunes directories instead of scanning) —
    // semantically identical to deriving it from the url hash
    val ubucketCol =
      if (chunks.columns.contains("ubucket")) col("ubucket")
      else pmod(xxhash64(col("source")), lit(math.max(1, cfg.nUrlBuckets))).cast("int")
    // static-bonus pass over ONLY the rows whose partitions get rewritten.
    // Eager localCheckpoint (not persist): the change-proportional input
    // derives from the chunk table this method overwrites, so the lineage
    // must be truncated and fully materialized before any mutation —
    // cache eviction + recompute would race the partition swap.
    val chunksOut = withStaticCols(
      if (partialChunks) chunks.filter(ubucketCol.isin(affectedUBuckets: _*))
      else chunks)
      .localCheckpoint(true)
    // same error-path contract as build(): a failed update must never
    // leave the detached chunk-table commit racing a caller's retry
    var pendingChunksWrite: Option[scala.concurrent.Future[Unit]] = None
    var pendingSigsWrite: Option[scala.concurrent.Future[Unit]] = None
    def drainPending(): Unit =
      (pendingChunksWrite.toSeq ++ pendingSigsWrite.toSeq).foreach { f =>
        try scala.concurrent.Await.ready(f,
          scala.concurrent.duration.Duration(10, java.util.concurrent.TimeUnit.MINUTES))
        catch { case _: Throwable => () }
      }
    try {
      def agg3(df: DataFrame): (Long, Long, Double) = {
        val r = df.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)),
          coalesce(max(col("pattern_b") + col("meta_b")), lit(0.0))).head()
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      val (newN, newTok, newMax) = agg3(chunksOut.toDF())
      // untouched partitions contribute via a narrow column scan of the
      // EXISTING table, pruned to the unaffected ubucket dirs (never
      // reads text — the whole point of the partial path)
      val (oldN, oldTok, oldMax) =
        if (partialChunks)
          agg3(spark.read.parquet(out.chunks)
            .filter(!col("ubucket").isin(affectedUBuckets: _*))
            .select("dl", "pattern_b", "meta_b"))
        else (0L, 0L, 0.0)
      val nDocs = newN + oldN
      require(nDocs > 0, "empty corpus")
      val totalTokens = newTok + oldTok
      val maxStaticBonus = math.max(newMax, oldMax)
      val avgdl = totalTokens.toDouble / nDocs

      // EAGERLY materialize the exchange input BEFORE any on-disk
      // mutation: the change-proportional caller assembles `chunks` from
      // the chunk table itself, and a lazy scan of it would race the
      // partition overwrite below (read-after-delete). chunksOut is
      // likewise fully materialized by the aggs above.
      // The slice itself: when the input carries the chunk table's
      // `cbucket` PARTITION column (the change-proportional assembly
      // preserves it), `shard = cbucket % nShards` — the alignment
      // validated by resolveChunkBuckets — so the affected-shard fetch is
      // an isin on the partition column and the scan prunes to the
      // affected cbucket DIRECTORIES. Without the column (full-diff
      // fallback, whose input already paid a full dedup shuffle) the
      // shard is derived by hashing chunkId — a row filter, not pruning.
      // The bucket count is the one the existing table was WRITTEN with
      // (mixing layouts under dynamic overwrite would corrupt the table).
      val nCb = prev.nChunkBuckets
      require(cfg.resolveChunkBuckets(nShards) == nCb,
        s"chunk-bucket layout drift: table has $nCb, config resolves " +
          s"${cfg.resolveChunkBuckets(nShards)}")
      val shardSet = affectedShards.toSet
      val sliced =
        if (chunks.columns.contains("cbucket")) {
          val affectedCb = (0 until nCb).filter(c => shardSet(c % nShards))
          chunks.filter(col("cbucket").isin(affectedCb: _*))
        } else {
          val shardCol = pmod(xxhash64(col("chunkId")), lit(nShards)).cast("int")
          chunks.filter(shardCol.isin(affectedShards: _*))
        }
      lastExchangeSliceDF = if (probeExchangeSlice) sliced else null
      val affectedChunks = sliced
        .select(col("chunkId"), col("docId"), col("source"), col("page"),
          col("chunkIdx"), col("text"), col("meta"))
        .localCheckpoint(true)

      // The update's destructive window opens at the FIRST on-disk
      // mutation — the chunk-table overwrite below (a crash after it but
      // before the shard swap would leave a new chunk table over old
      // blocks, and the next update's (chunkId, hash) diff against the
      // already-updated table would read as "nothing changed"). Mark the
      // manifest before touching anything; cleared only by the final
      // commit, and a surviving marker makes ResumableBuild take the
      // full-rebuild path (lineage correctness under crash at any phase
      // boundary).
      val preManifest = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
      TableIO.writeManifest(out.manifest, preManifest +
        ("pending_incremental" -> affectedShards.sorted.mkString(",")))

      // chunk table rewrite — affected ubucket partitions only when the
      // table is url-bucketed — run CONCURRENTLY with the shard rebuild
      // below (same overlap pattern as build(); awaited before returning).
      // Affected dirs are pre-deleted (inside the marker-covered window):
      // dynamic overwrite only replaces partitions PRESENT in the new
      // frame, and an emptied (ubucket, cbucket) combination would
      // otherwise survive as a stale directory.
      if (partialChunks) {
        val conf0 = spark.sparkContext.hadoopConfiguration
        for (u <- affectedUBuckets;
             root <- Seq(out.chunks, out.chunkSigs)) {
          val dir = new org.apache.hadoop.fs.Path(s"$root/ubucket=$u")
          val fs = dir.getFileSystem(conf0)
          if (fs.exists(dir)) fs.delete(dir, true)
        }
      }
      val chunksWrite = scala.concurrent.Future {
        writeChunksTable(chunksOut.toDF(), cfg, nCb, out, dynamic = partialChunks)
      }(scala.concurrent.ExecutionContext.global)
      // the sig table's dedup-hash pass overlaps the shard rebuild like the
      // chunk commit does (chunksOut is eagerly checkpointed — no lineage
      // race with the partition deletes above)
      val sigsWrite = scala.concurrent.Future {
        writeChunkSigs(chunksOut.toDF(), cfg, out, dynamic = partialChunks)
      }(scala.concurrent.ExecutionContext.global)
      pendingChunksWrite = Some(chunksWrite)
      pendingSigsWrite = Some(sigsWrite)

      // rebuild ONLY the affected shards' blocks from the pre-materialized
      // slice, then swap the (bucket, shard) dirs (covered by the pending
      // marker written above). Postings derive tf/dl from the text
      // directly — no dependency on the (partial) static columns.
      val metricsAcc = spark.sparkContext
        .collectionAccumulator[PartitionMetric]("block-build-incremental")
      val newBlocks = assembleBlocks(spark, affectedChunks, cfg, nShards,
        avgdl, metricsAcc)
      val conf = spark.sparkContext.hadoopConfiguration
      for (s <- affectedShards; b <- 0 until cfg.nTermBuckets) {
        val dir = new org.apache.hadoop.fs.Path(s"${out.blocks}/bucket=$b/shard=$s")
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
      newBlocks.write.mode(SaveMode.Append)
        .partitionBy("bucket", "shard").parquet(out.blocks)

      // stats refresh from the FULL (updated) block-grain table
      val (vocabSize, avgRawIdf, eps) =
        writeTermStats(spark.read.parquet(out.blocks), nDocs, out, cfg)
      scala.concurrent.Await.result(sigsWrite,
        scala.concurrent.duration.Duration.Inf)
      scala.concurrent.Await.result(chunksWrite,
        scala.concurrent.duration.Duration.Inf)

      val wallMs = (System.nanoTime() - t0) / 1000000
      import scala.jdk.CollectionConverters._
      // metrics: APPENDED with mode=incremental, throughput denominated in
      // the chunks this update actually re-indexed — never full-corpus
      // docs over an incremental wall time
      val affectedN = affectedChunks.count()
      spark.createDataset(metricsAcc.value.asScala.toSeq)
        .withColumn("mode", lit("incremental"))
        .withColumn("docs_per_sec",
          lit(affectedN.toDouble * 1000 / math.max(1, wallMs)))
        .write.mode(SaveMode.Append).parquet(out.metrics)

      val snapshotId = Analyzer.md5Hex(s"$nDocs|$totalTokens|${cfg.configHash}")
      // per-shard avgdl lineage: stamp the rebuilt shards with the new
      // avgdl, keep the untouched shards' record, and re-derive
      // minBlockAvgdl as the min over LIVE shards — so WAND's bound scale
      // recovers once stale shards get rewritten, instead of ratcheting
      // down forever.
      val prevShardAvgdl = spark.read.parquet(out.shardStats)
        .select("shard", "avgdl").as[(Int, Double)].collect().toMap
      require(prevShardAvgdl.keySet == (0 until nShards).toSet,
        "shard_stats does not cover every shard; rebuild the index")
      val updated = (0 until nShards).map(s =>
        (s, if (shardSet(s)) avgdl else prevShardAvgdl(s)))
      spark.createDataset(updated).toDF("shard", "avgdl")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(out.shardStats)
      val minBlockAvgdl = updated.iterator.map(_._2).min
      val stats = GlobalStats(nDocs, totalTokens, avgdl, vocabSize, avgRawIdf,
        eps, maxStaticBonus, cfg.k1, cfg.b, cfg.nTermBuckets, nShards, nCb,
        minBlockAvgdl, cfg.configHash, snapshotId)
      Seq(stats).toDS().write.mode(SaveMode.Overwrite).parquet(out.globalStats)
      TableIO.writeManifest(out.manifest, Map(
        "snapshot_id" -> snapshotId, "parent_snapshot" -> prev.snapshotId,
        "n_docs" -> nDocs.toString, "total_tokens" -> totalTokens.toString,
        "config_hash" -> cfg.configHash, "n_doc_shards" -> nShards.toString,
        "incremental_shards" -> affectedShards.sorted.mkString(","),
        "incremental_ubuckets" ->
          (if (partialChunks) affectedUBuckets.sorted.mkString(",") else "all"),
        "build_wall_ms" -> wallMs.toString))
      stats
    } catch {
      case t: Throwable => drainPending(); throw t
    } finally chunksOut.unpersist()
  }
}
