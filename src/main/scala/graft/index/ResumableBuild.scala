package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.{ChunkRow, ChunkerConfig, ChunkerJob, PageDoc}

/** Checkpoint-resumable, incrementally-updatable corpus+index build.
  *
  * Model (mirrors the reference's cache semantics, index.py:328-391 +
  * io_pdf.py:1344-1372, re-expressed for a partitioned table):
  *  - extraction/chunking — the compute-heavy phase — is partitioned into
  *    `nInputBuckets` url-hash buckets, each written independently and
  *    recorded in an append-only checkpoint log; a restarted build skips
  *    completed buckets (per-partition lineage: bucket -> chunker-config
  *    hash + row count + wall time);
  *  - a chunking-config hash change invalidates all checkpoints (reference
  *    io_pdf.py:1444-1461);
  *  - statistics and postings are corpus-global (BM25 idf/avgdl), so the
  *    index phase rebuilds from the merged chunk table — same contract as
  *    the reference, which re-fits BM25 whenever the corpus changes
  *    (index.py:52-62) while reusing cached chunk extraction.
  */
object ResumableBuild {

  case class ResumeConfig(nInputBuckets: Int = 16,
                          /** test hook: abort after N buckets (-1 = never) */
                          failAfterBuckets: Int = -1)

  private def chunkerHash(cfg: ChunkerConfig): String =
    graft.analysis.Analyzer.md5Hex(cfg.toString)

  def chunksRawDir(out: IndexPaths): String = s"${out.root}/chunks_raw"

  /** Per-raw-chunk dedup-hash side table (bucket-partitioned like
    * chunks_raw): (chunkId, dhash). dhash = the keep-first dedup key
    * (md5 of the normalized text, NULL for empty-normalization rows that
    * dedup drops). Written by the chunk phase for exactly the buckets it
    * (re)chunks, so it always mirrors chunks_raw — the input that lets an
    * incremental update re-decide dedup winners only for hash groups
    * touching a changed bucket instead of re-shuffling the whole corpus.
    */
  def rawSigsDir(out: IndexPaths): String = s"${out.root}/chunks_raw_sigs"

  private def dhashCol: org.apache.spark.sql.Column = IndexBuilder.dedupHashCol

  /** Chunk the given (not-yet-done) url-buckets in ONE pass: bucket filter →
    * chunk → dynamic-partition write, so the input is scanned once however
    * many buckets are pending (the per-bucket sequential loop re-read the
    * whole input per bucket — 16× read amplification, the dominant build
    * cost at 100 TB). Completed buckets' directories are never touched
    * (partitionOverwriteMode=dynamic); checkpoints are appended only after
    * the write commits, so a crash mid-write simply re-runs these buckets.
    */
  private def chunkBuckets(spark: SparkSession, pages: Dataset[PageDoc],
                           out: IndexPaths, chunker: ChunkerConfig,
                           nBuckets: Int, buckets: Seq[Int],
                           extraCheckpointFields: Map[String, String]): Unit = {
    if (buckets.isEmpty) return
    val cfgHash = chunkerHash(chunker)
    val t0 = System.nanoTime()
    val bucketCol = pmod(xxhash64(col("url")), lit(nBuckets)).cast("int")
    val pending = pages.filter(bucketCol.isin(buckets: _*))
    val newChunks = ChunkerJob.chunk(pending, chunker)
      .withColumn("bucket", pmod(xxhash64(col("source")), lit(nBuckets)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // counts of the NEW data (not a read-back: a bucket whose re-chunk
      // yielded zero rows writes nothing under dynamic overwrite, and a
      // read-back would count the surviving STALE partition instead)
      val counts = newChunks.groupBy("bucket").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      newChunks.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(chunksRawDir(out))
      // dedup-hash sigs for exactly the buckets just written (same dynamic
      // partition grain, same cached data)
      newChunks
        .select(col("chunkId"), dhashCol.as("dhash"), col("bucket"))
        .repartition(math.max(1, buckets.length), col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(rawSigsDir(out))
      // a re-chunked bucket that came back EMPTY (url gone, or the
      // re-crawl failed the quality gate) must not keep serving its stale
      // partition — dynamic overwrite wrote nothing for it, so delete
      // explicitly (post-commit: the new data is durable first; a crash
      // here re-runs these buckets)
      val conf = spark.sparkContext.hadoopConfiguration
      for (b <- buckets if counts.getOrElse(b, 0L) == 0L;
           root <- Seq(chunksRawDir(out), rawSigsDir(out))) {
        val dir = new org.apache.hadoop.fs.Path(s"$root/bucket=$b")
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
      val wallMs = ((System.nanoTime() - t0) / 1000000).toString
      for (b <- buckets.sorted) {
        TableIO.appendCheckpoint(out.checkpoints, Map(
          "bucket" -> b.toString, "rows" -> counts.getOrElse(b, 0L).toString,
          "config_hash" -> cfgHash, "n_buckets" -> nBuckets.toString,
          "wall_ms" -> wallMs) ++ extraCheckpointFields)
      }
    } finally newChunks.unpersist()
  }

  /** Phase 1: chunk pending url-buckets (checkpointed ones are skipped).
    * Returns buckets processed this run.
    */
  def chunkPhase(spark: SparkSession, pages: Dataset[PageDoc], out: IndexPaths,
                 chunker: ChunkerConfig, resume: ResumeConfig): Seq[Int] = {
    val cfgHash = chunkerHash(chunker)
    val existing = TableIO.readCheckpoints(out.checkpoints)
    // the bucket COUNT is part of the layout contract: checkpoints from a
    // different nInputBuckets address a different modulus, and mixing the
    // two dir layouts in chunks_raw would merge duplicate chunkIds
    val valid = existing.filter(m => m.get("config_hash").contains(cfgHash) &&
      m.get("n_buckets").contains(resume.nInputBuckets.toString))
    if (valid.size != existing.size && existing.nonEmpty) {
      // chunking config or bucket layout changed -> full invalidation,
      // INCLUDING the raw trees (stale other-modulus partitions must not
      // survive into the merge)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(out.checkpoints))
      val conf = spark.sparkContext.hadoopConfiguration
      for (root <- Seq(chunksRawDir(out), rawSigsDir(out))) {
        val dir = new org.apache.hadoop.fs.Path(root)
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
    val done = (if (valid.size == existing.size) valid else Nil)
      .flatMap(_.get("bucket")).map(_.toInt).toSet

    val missing = (0 until resume.nInputBuckets).filterNot(done.contains)
    val abort = resume.failAfterBuckets >= 0 && missing.length > resume.failAfterBuckets
    val toProcess = if (abort) missing.take(resume.failAfterBuckets) else missing
    chunkBuckets(spark, pages, out, chunker, resume.nInputBuckets, toProcess, Map.empty)
    if (abort)
      throw new RuntimeException(
        s"aborted after ${toProcess.length} buckets (test hook)")
    toProcess
  }

  /** The chunk table under ResumableBuild is always url-bucketed with the
    * SAME bucket count/hash as the chunks_raw layout — the partition grain
    * of the incremental chunk-table overwrite (IndexBuilder.writeChunksTable).
    */
  private def withUrlBuckets(build: BuildConfig, resume: ResumeConfig): BuildConfig =
    build.copy(nUrlBuckets = resume.nInputBuckets)

  /** Phase 2: merge chunk buckets (global dedup across buckets) + build
    * the index; manifest records lineage to the previous snapshot.
    */
  def indexPhase(spark: SparkSession, out: IndexPaths, build: BuildConfig,
                 resume: ResumeConfig): GlobalStats = {
    import spark.implicits._
    val parent = TableIO.readManifest(out.manifest)
      .flatMap(_.get("snapshot_id")).getOrElse("none")
    val stats = IndexBuilder.build(spark, mergedChunks(spark, out, resume), out,
      withUrlBuckets(build, resume))
    val manifest = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    TableIO.writeManifest(out.manifest, manifest + ("parent_snapshot" -> parent))
    stats
  }

  def run(spark: SparkSession, pages: Dataset[PageDoc], out: IndexPaths,
          build: BuildConfig = BuildConfig(),
          chunker: ChunkerConfig = ChunkerConfig(),
          resume: ResumeConfig = ResumeConfig()): GlobalStats = {
    chunkPhase(spark, pages, out, chunker, resume)
    indexPhase(spark, out, build, resume)
  }

  def urlManifestPath(out: IndexPaths): String = s"${out.root}/url_manifest"

  /** Record the (url, warc_ts) snapshot the index was built from — the
    * analog of the reference manifest's per-file mtime+size
    * (index.py:90-117); detectChanged diffs the next crawl against it.
    */
  def writeUrlManifest(pages: DataFrame, out: IndexPaths): Unit =
    pages.groupBy("url").agg(max("warc_ts").as("warc_ts"))
      .write.mode(SaveMode.Overwrite).parquet(urlManifestPath(out))

  /** Changed-url detection (reference detect_changed_files,
    * index.py:328-391): diff of (url, warc_ts) between the incoming crawl
    * and the indexed manifest. Returns (new, changed, removed) url frames —
    * `changed` = urls present in both whose incoming warc_ts is strictly
    * newer (a re-crawl of the same url).
    */
  def detectChanged(spark: SparkSession, pages: DataFrame,
                    indexedManifest: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val current = pages.groupBy("url").agg(max("warc_ts").as("warc_ts"))
    val indexed = indexedManifest.select(col("url"), col("warc_ts").as("indexed_ts"))
    val newUrls = current.join(indexed, Seq("url"), "left_anti").select("url")
    val changed = current.join(indexed, Seq("url"))
      .filter(col("warc_ts") > col("indexed_ts"))
      .select("url")
    val removed = indexed.join(current, Seq("url"), "left_anti").select("url")
    (newUrls, changed, removed)
  }

  /** Text-hash manifest per url (reference index.py:275-325): sha256 over
    * chunk texts concatenated in deterministic (page, chunkIdx) order.
    */
  def urlTextHashes(chunks: Dataset[ChunkRow]): DataFrame = {
    import chunks.sparkSession.implicits._
    chunks.toDF()
      .groupBy("source")
      .agg(sha2(concat_ws("",
        array_sort(collect_list(struct(col("page"), col("chunkIdx"), col("text"))))
          .getField("text")), 256).as("text_sha"))
  }

  /** Changed-url detection against a prior hash manifest. */
  def detectChangedByHash(currentHashes: DataFrame, priorHashes: DataFrame): DataFrame = {
    currentHashes.as("c")
      .join(priorHashes.as("p"), col("c.source") === col("p.source"), "left")
      .filter(col("p.text_sha").isNull || col("c.text_sha") =!= col("p.text_sha"))
      .select(col("c.source"))
  }

  /** Existence check through the Hadoop FileSystem API — java.nio answers
    * false for every hdfs:// or s3a:// path, which would silently degrade
    * the incremental path to a full rebuild on exactly the cluster
    * deployments the 10^12-chunk design targets.
    */
  private def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The merged, deduped chunk corpus from the on-disk url-bucket dirs. */
  private def mergedChunks(spark: SparkSession, out: IndexPaths,
                           resume: ResumeConfig): Dataset[ChunkRow] = {
    import spark.implicits._
    ChunkerJob.dedup(
      spark.read.parquet((0 until resume.nInputBuckets)
        .map(b => s"${chunksRawDir(out)}/bucket=$b")
        .filter(p => fsExists(spark, p)): _*)
        .as[ChunkRow])
  }

  /** Incremental update: reprocess only the url buckets containing changed
    * urls, overwrite those bucket partitions, then rebuild posting blocks
    * ONLY for the doc shards whose chunks actually changed (added, removed,
    * or text-modified — including dedup-keeper migrations across buckets,
    * which the (chunkId, text-hash) diff catches). Falls back to the full
    * index phase when no prior compatible index exists (different config
    * hash, missing shard record) or when more than half the shards are
    * affected (a full rebuild's single pass is cheaper than paying the
    * full-corpus stats scan AND a majority of the exchange).
    */
  def incrementalUpdate(spark: SparkSession, pages: Dataset[PageDoc],
                        changedUrls: DataFrame, out: IndexPaths,
                        build: BuildConfig, chunker: ChunkerConfig,
                        resume: ResumeConfig): GlobalStats = {
    import spark.implicits._
    // bucket-count layout guard: checkpoints written under a different
    // nInputBuckets address a different url-hash modulus — proceeding
    // would mix two dir layouts in chunks_raw (duplicate chunkIds in the
    // merge). chunkPhase owns the invalidation; run the full pipeline.
    val cps = TableIO.readCheckpoints(out.checkpoints)
    if (cps.nonEmpty && !cps.forall(
        _.get("n_buckets").contains(resume.nInputBuckets.toString)))
      return run(spark, pages, out, build, chunker, resume)
    val urlCol = // hash-path frames carry `source`, ts-path frames carry `url`
      if (changedUrls.columns.contains("url")) col("url") else col("source")
    val buckets = changedUrls
      .select(pmod(xxhash64(urlCol), lit(resume.nInputBuckets)).cast("int").as("b"))
      .distinct().as[Int].collect().toSeq
    // prior state BEFORE the chunk phase touches anything it reads; a
    // `pending_incremental` (crashed shard swap) or `pending_build`
    // (crashed full build between its table commits) marker means the
    // on-disk tables may be mutually inconsistent — the only safe base
    // is a full rebuild
    val manifest0 = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    val interrupted =
      manifest0.contains("pending_incremental") || manifest0.contains("pending_build")
    // `pending_update` means a PREVIOUS update crashed after its chunk
    // phase: chunks_raw/raw_sigs already hold post-overwrite state, so the
    // pre-overwrite snapshot the change-proportional path needs is gone —
    // the FULL-DIFF path (which recomputes from durable current state and
    // is restart-safe) must serve this retry. Blocks are NOT suspect.
    val updateInterrupted = manifest0.contains("pending_update")
    val effBuild = withUrlBuckets(build, resume)
    val prev = scala.util.Try(IndexBuilder.loadStats(spark, out)).toOption
      .filter(p => !interrupted &&
        p.configHash == effBuild.configHash && fsExists(spark, out.chunks))
    // change-proportional-dedup preconditions, captured EAGERLY before the
    // chunk phase overwrites the changed buckets: their OLD dedup hashes
    // (the hash groups whose winners may need re-deciding), and PROOF that
    // the raw-sigs table covers every raw bucket (an index upgraded from a
    // pre-sig build has sigs only for re-crawled buckets — silently
    // incomplete coverage would mis-derive the affected groups)
    val oldBucketHashes =
      if (updateInterrupted) None
      else prev.flatMap { _ =>
        scala.util.Try {
          val conf = spark.sparkContext.hadoopConfiguration
          def bucketDirs(root: String): Set[String] = {
            val dir = new org.apache.hadoop.fs.Path(root)
            val fs = dir.getFileSystem(conf)
            if (!fs.exists(dir)) Set.empty[String]
            else fs.listStatus(dir).filter(_.isDirectory)
              .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
          }
          val rawB = bucketDirs(chunksRawDir(out))
          val sigB = bucketDirs(rawSigsDir(out))
          require(rawB.nonEmpty && rawB.subsetOf(sigB),
            s"raw-sigs coverage incomplete: ${(rawB -- sigB).mkString(",")}")
          spark.read.parquet(rawSigsDir(out))
            .filter(col("bucket").isin(buckets: _*))
            .filter(col("dhash").isNotNull)
            .select("dhash").distinct()
            .localCheckpoint(true)
        }.toOption
      }
    // the chunk phase's overwrite opens the window the marker describes
    TableIO.writeManifest(out.manifest, manifest0 + ("pending_update" -> "1"))
    chunkBuckets(spark, pages, out, chunker, resume.nInputBuckets, buckets,
      Map("incremental" -> "true"))
    val result = prev match {
      case None => indexPhase(spark, out, build, resume)
      case Some(p) =>
        val cheap = oldBucketHashes.flatMap(oh =>
          changeProportionalUpdate(spark, out, build, resume, p, buckets, oh))
        cheap match {
          case Some(stats) => stats
          case None => fullDiffUpdate(spark, out, build, resume, p)
        }
    }
    // every branch completed against durable state — close the window
    TableIO.writeManifest(out.manifest,
      TableIO.readManifest(out.manifest).getOrElse(Map.empty) - "pending_update")
    result
  }

  /** Change-proportional update: re-decides dedup winners ONLY for hash
    * groups touching a changed bucket (their membership is the only thing
    * a bucket overwrite can alter), assembles the merged corpus as
    * (previous kept rows outside those groups) ∪ (re-decided winners),
    * and derives the changed rows exactly from (kept-replaced vs winners)
    * — no full-corpus dedup shuffle, no full-corpus hashing, no old-text
    * read. Inputs are the raw-sigs and chunk-sigs side tables; any
    * missing precondition returns None and the caller falls back to the
    * full-dedup diff path. Winner re-election is provably complete: a
    * group with no member in a changed bucket has identical membership
    * and therefore an identical keep-first winner.
    */
  private def changeProportionalUpdate(spark: SparkSession, out: IndexPaths,
                                       build: BuildConfig, resume: ResumeConfig,
                                       p: GlobalStats, changedBuckets: Seq[Int],
                                       oldBucketHashes: DataFrame)
      : Option[GlobalStats] = {
    import spark.implicits._
    val effBuild = withUrlBuckets(build, resume)
    val nB = resume.nInputBuckets
    val core = Seq("chunkId", "docId", "source", "page", "chunkIdx", "text", "meta")

    // READ-ONLY planning under Try: a missing side table or transient read
    // failure here falls back safely (nothing has been mutated yet). Once
    // execution starts below, failures PROPAGATE — the pending marker set
    // by incrementalBuild governs recovery, and silently falling back to
    // the full-diff path against half-mutated state would be wrong.
    val planTry = scala.util.Try {

    // affected hash groups = groups with a member in a changed bucket,
    // before (captured pre-overwrite) or after the re-chunk
    val rawSigs = spark.read.parquet(rawSigsDir(out)) // (chunkId, dhash, bucket)
    val newBucketHashes = rawSigs
      .filter(col("bucket").isin(changedBuckets: _*))
      .filter(col("dhash").isNotNull).select("dhash").distinct()
    val affected = oldBucketHashes.union(newBucketHashes).distinct()
      .localCheckpoint(true)

    // candidate rows of the affected groups, fetched from ONLY the raw
    // bucket dirs that contain one (sig semi-join first — narrow)
    val candSigs = rawSigs.join(affected, Seq("dhash"), "left_semi")
      .select(col("chunkId"), col("bucket")).localCheckpoint(true)
    val candBuckets = candSigs.select("bucket").distinct().as[Int].collect().toSeq
    val rawCand = spark.read.parquet(chunksRawDir(out))
      .filter(col("bucket").isin(candBuckets: _*))
      .join(candSigs.select("chunkId"), Seq("chunkId"), "left_semi")
      .select(core.map(col): _*).as[ChunkRow]
    // winners carry BOTH chunk-table partition columns so the assembled
    // merged frame matches the table layout (ubucket = overwrite grain,
    // cbucket = the shard-aligned exchange-slice pruning grain)
    val winners = ChunkerJob.dedup(rawCand).toDF()
      .withColumn("ubucket", pmod(xxhash64(col("source")), lit(nB)).cast("int"))
      .withColumn("cbucket",
        pmod(xxhash64(col("chunkId")), lit(p.nChunkBuckets)).cast("int"))
      .localCheckpoint(true)

    // previous kept rows of those groups get replaced wholesale; the sig
    // side table carries their (h, dhash, ubucket) without any text read
    val keptSigs = spark.read.parquet(out.chunkSigs) // chunkId, h, dhash, ubucket
    require(keptSigs.columns.contains("dhash"), "chunk_sigs predates dhash")
    val replaced = keptSigs
      .filter(col("dhash").isNotNull)
      .join(affected, Seq("dhash"), "left_semi")
      .select(col("chunkId"), col("h"), col("ubucket").cast("int").as("u"))
      .localCheckpoint(true)

    // exact changed set: symmetric diff of (chunkId, content-hash) between
    // the replaced kept rows and the re-decided winners (identically
    // re-elected winners cancel out) — winner hashing only, group-sized
    val winnerSig = winners
      .select(col("chunkId"), IndexBuilder.sigCol.as("h"),
        col("ubucket").as("u"))
    val pairs = winnerSig.except(replaced).union(replaced.except(winnerSig))
      .select(pmod(xxhash64(col("chunkId")), lit(p.nDocShards)).cast("int").as("s"),
        col("u"))
      .distinct().as[(Int, Int)].collect().toSeq

      // merged corpus (LAZY — built only if executed), carrying the chunk
      // table's PARTITION columns: `ubucket` so incrementalBuild's
      // affected-bucket chunk rewrite prunes directories on the kept side,
      // and `cbucket` so its affected-SHARD exchange slice does too
      // (shard = cbucket % nShards) — the kept side is never scanned
      // corpus-proportionally on either axis
      val partCols = Seq("ubucket", "cbucket")
      val keptSide = spark.read.parquet(out.chunks)
        .select(core.map(col) ++
          partCols.map(c => col(c).cast("int").as(c)): _*)
        .join(replaced.select("chunkId"), Seq("chunkId"), "left_anti")
      val merged = keptSide.unionByName(winners.select(
        core.map(col) ++ partCols.map(col): _*))
      (pairs, merged)
    }

    planTry match {
      case scala.util.Failure(e) =>
        System.err.println(
          s"[incremental] change-proportional path declined (${e.getMessage}) — falling back")
        None
      case scala.util.Success((pairs, merged)) =>
        val shards = pairs.map(_._1).distinct.sorted
        val ubuckets = pairs.map(_._2).distinct.sorted
        Some(
          if (shards.isEmpty) p // nothing changed — index already current
          else if (shards.length * 2 > p.nDocShards)
            indexPhase(spark, out, build, resume)
          else {
            val stats = IndexBuilder.incrementalBuild(spark, merged, out,
              effBuild, p, shards, ubuckets)
            val manifest = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
            TableIO.writeManifest(out.manifest,
              manifest ++ Map("parent_snapshot" -> p.snapshotId,
                "dedup_mode" -> "change-proportional"))
            stats
          })
    }
  }

  /** FALLBACK incremental path: full dedup + sig-table diff — used when
    * the raw-sigs side table is absent (older index) or the
    * change-proportional assembly declined.
    */
  private def fullDiffUpdate(spark: SparkSession, out: IndexPaths,
                             build: BuildConfig, resume: ResumeConfig,
                             p: GlobalStats): GlobalStats = {
    import spark.implicits._
    val effBuild = withUrlBuckets(build, resume)
    // the dedup shuffle feeds both the diff and (on the incremental
    // path) the rebuild — cache it so it runs once per update
    val merged = mergedChunks(spark, out, resume)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // changed chunks = symmetric diff of (chunkId, hash(text, meta))
          // between the indexed chunk table and the new merged corpus —
          // meta is in the signature because the precomputed static-bonus
          // columns and the served citations depend on it, not just on
          // text. Collected EAGERLY (shard-count-bounded) before the chunk
          // table is overwritten underneath the diff's scan; an unreadable
          // chunk table (torn previous overwrite) means the diff base is
          // gone — full rebuild, never a wedged retry loop.
          // the diff compares (chunkId, content-hash, ubucket) — the
          // affected doc SHARDS and URL-BUCKETS (the two partial-overwrite
          // grains) come out of one collect. Old state comes from the
          // chunk_sigs side table (16 B/chunk — no old-text read at 100 TB);
          // computing it from the chunk table is the fallback for indexes
          // that predate the side table. Any sig/chunks divergence is
          // impossible outside a crash, and crashes set a pending marker
          // that already forces the full rebuild.
          val diffTry = scala.util.Try {
            val oldSig = {
              val sigs = scala.util.Try(spark.read.parquet(out.chunkSigs))
                .filter(_.columns.contains("ubucket"))
              sigs.map(_.select(col("chunkId"), col("h"),
                  col("ubucket").cast("int").as("u")))
                .getOrElse(spark.read.parquet(out.chunks)
                  .select(col("chunkId"), IndexBuilder.sigCol.as("h"),
                    pmod(xxhash64(col("source")), lit(resume.nInputBuckets))
                      .cast("int").as("u")))
            }
            val newSig = merged.toDF()
              .select(col("chunkId"), IndexBuilder.sigCol.as("h"),
                pmod(xxhash64(col("source")), lit(resume.nInputBuckets))
                  .cast("int").as("u"))
            newSig.except(oldSig).union(oldSig.except(newSig))
              .select(
                pmod(xxhash64(col("chunkId")), lit(p.nDocShards))
                  .cast("int").as("s"),
                col("u"))
              .distinct().as[(Int, Int)].collect().toSeq
          }
          diffTry match {
            case scala.util.Failure(e) =>
              System.err.println(
                s"[incremental] diff base unreadable (${e.getMessage}) — full rebuild")
              indexPhase(spark, out, build, resume)
            case scala.util.Success(pairs) =>
              val shards = pairs.map(_._1).distinct.sorted
              val ubuckets = pairs.map(_._2).distinct.sorted
              if (shards.isEmpty) p // nothing changed — index already current
              else if (shards.length * 2 > p.nDocShards)
                indexPhase(spark, out, build, resume)
              else {
                val stats = IndexBuilder.incrementalBuild(spark, merged.toDF(),
                  out, effBuild, p, shards, ubuckets)
                val manifest = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
                TableIO.writeManifest(out.manifest,
                  manifest + ("parent_snapshot" -> p.snapshotId))
                stats
              }
          }
        } finally merged.unpersist()
  }
}
