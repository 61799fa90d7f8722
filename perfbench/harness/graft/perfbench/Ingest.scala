package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.{ChunkerConfig, PageDoc, WebPage, WebPages}
import graft.index.{BuildConfig, GlobalStats, IndexPaths, ResumableBuild, TableIO}
import graft.query.{Pipeline, SparkBackend}

/** The build and refresh layers, measured in traced runs of `serve`: a
  * full resumable build of a seeded crawl (the `GraftCli build` path),
  * one re-crawl round (the `GraftCli update` path: detect, incremental
  * update, url manifest), a new backend and a first query on the fresh
  * snapshot, then a from-scratch build of the re-crawled pages, which the
  * refreshed index must equal.
  */
object Ingest {
  val Pages = 400
  val ChangedPerRound = 4
  val Checks = 2

  def buildConfig: BuildConfig = BuildConfig()
  private val chunker = ChunkerConfig()
  private val resume = ResumableBuild.ResumeConfig()

  /** The crawl with the pages in `changed` re-crawled: a day newer
    * warc_ts and revision text appended, as `GraftCli update` makes them.
    */
  def crawl(spark: SparkSession, seed: Long, changed: Set[Long]): Dataset[WebPage] = {
    import spark.implicits._
    spark.range(0, Pages, 1, 2 * Run.Cores).map(i => pageAt(seed, changed, i))
  }

  def pageAt(seed: Long, changed: Set[Long], i: Long): WebPage = {
    val p = WebPages.pageFor(i, seed)
    if (!changed(i)) p
    else p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
      text = p.text + " recrawled revision content")
  }

  private def docs(c: Dataset[WebPage]): Dataset[PageDoc] = {
    import c.sparkSession.implicits._
    c.map(p => PageDoc(p.url, 1, p.text, None))
  }

  private def textBytes(pages: Seq[WebPage]): Long = pages.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** Which incremental path the last update took, from the manifest. */
  private def refreshPath(paths: IndexPaths): (String, Int) = {
    val m = TableIO.readManifest(paths.manifest).getOrElse(Map.empty)
    val shards = m.get("incremental_shards").map(_.split(",").count(_.nonEmpty))
    if (m.get("dedup_mode").contains("change-proportional"))
      ("change_proportional", shards.getOrElse(0))
    else if (shards.isDefined) ("full_diff", shards.get)
    else ("full_rebuild", m.get("n_doc_shards").map(_.toInt).getOrElse(0))
  }

  /** Bytes of files that are new or changed between two listings. */
  private def rewritten(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (f, (size, mtime)) if !before.get(f).contains((size, mtime)) => size }.sum

  def traced(r: Run, stream: IndexedSeq[String]): Map[String, Any] = {
    val spark = r.spark
    val t = r.tracer
    import spark.implicits._
    val changed = Gen.changeSet(r.seed, Pages, ChangedPerRound)
    val c0 = crawl(spark, r.seed, Set.empty).persist()
    val c1 = crawl(spark, r.seed, changed).persist()
    val pages0 = c0.collect().toSeq
    val paths = IndexPaths(r.dir("ingest-index"))

    val t0 = System.nanoTime()
    t.span("build") {
      t.span("corpus.chunk")(ResumableBuild.chunkPhase(spark, docs(c0), paths, chunker, resume))
      t.span("index.build")(ResumableBuild.indexPhase(spark, paths, buildConfig, resume))
      t.span("manifest")(ResumableBuild.writeUrlManifest(c0.toDF(), paths))
    }
    val buildS = Run.secs(t0)
    val indexBytes = Run.treeBytes(paths.root)
    val partitionWall = spark.read.parquet(paths.metrics).filter(col("mode") === "full")
      .select("wallMs").as[Long].collect().sorted.toSeq
    val postings = spark.read.parquet(paths.blocks).agg(sum("n")).head().getLong(0)
    val blockBytes = Run.treeBytes(paths.blocks)
    val rawChunks = TableIO.readCheckpoints(paths.checkpoints).flatMap(_.get("rows")).map(_.toLong).sum

    val before = Run.treeListing(paths.root)
    val t1 = System.nanoTime()
    val nChanged = t.span("refresh") {
      val (urls, n) = t.span("refresh.detect") {
        val manifest = spark.read.parquet(ResumableBuild.urlManifestPath(paths))
        val (newU, changedU, removedU) = ResumableBuild.detectChanged(spark, c1.toDF(), manifest)
        (changedU.union(newU).union(removedU), newU.count() + changedU.count() + removedU.count())
      }
      t.span("refresh.apply")(ResumableBuild.incrementalUpdate(spark, docs(c1), urls, paths,
        buildConfig, chunker, resume))
      t.span("refresh.manifest")(ResumableBuild.writeUrlManifest(c1.toDF(), paths))
      n
    }
    val updateS = Run.secs(t1)
    val (path, shards) = refreshPath(paths)
    val bytes = rewritten(before, Run.treeListing(paths.root))
    val t2 = System.nanoTime()
    val updated = t.span("backend.open")(new SparkBackend(spark, paths))
    r.attempt("first query on the fresh snapshot") {
      t.span("fresh.query")(Pipeline.searchTopK(updated, stream.head, Serving.Cfg))
    }
    val freshMs = Run.ms(t2)

    val scratch = IndexPaths(r.dir("ingest-scratch"))
    r.attempt("from-scratch build of the re-crawl") {
      ResumableBuild.run(spark, docs(c1), scratch, buildConfig, chunker, resume)
    }
    val rebuilt = new SparkBackend(spark, scratch)
    def statsKey(s: GlobalStats) = (s.nDocs, s.totalTokens, s.vocabSize)
    r.check(s"refreshed stats ${statsKey(updated.stats)} == from-scratch ${statsKey(rebuilt.stats)}") {
      statsKey(updated.stats) == statsKey(rebuilt.stats)
    }
    for (q <- new scala.util.Random(r.seed + 17).shuffle(stream.take(40).distinct).take(Checks))
      r.check(s"top-k of '$q' on the refreshed index == from-scratch index") {
        val a = Pipeline.searchTopK(updated, q, Serving.Cfg)
        val b = Pipeline.searchTopK(rebuilt, q, Serving.Cfg)
        a.selected == b.selected && a.results.map(_.score) == b.results.map(_.score)
      }
    Seq(c0, c1).foreach(_.unpersist())
    Map("pages" -> Pages, "text_bytes" -> textBytes(pages0), "build_s" -> buildS,
      "index_bytes" -> indexBytes, "postings" -> postings, "block_bytes" -> blockBytes,
      "partition_wall_ms" -> partitionWall, "raw_chunks" -> rawChunks,
      "update_s" -> updateS, "fresh_ms" -> freshMs, "changed_urls" -> nChanged,
      "path" -> path, "affected_shards" -> shards, "bytes_rewritten" -> bytes,
      "changed_text_bytes" -> textBytes(changed.toSeq.map(i => pageAt(r.seed, changed, i))))
  }
}
