package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.index.{BuildConfig, Codec, GlobalStats, IndexBuilder, IndexPaths}

/** Property-style roundtrip tests with a fixed seed (scalacheck's
  * scalatest bridge is not in the offline cache, so plain seeded loops),
  * plus the on-disk layout contract: the default configHash and the
  * loadStats guard against layouts this code cannot read.
  */
class CodecSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(42)

  test("vbyte roundtrip: arbitrary non-negative values") {
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong().abs)
      val enc = Codec.vbyteEncode(arr, deltas = false)
      assert(Codec.vbyteDecode(enc, n, deltas = false).toSeq == arr.toSeq)
    }
  }

  test("vbyte delta roundtrip: sorted ids incl. negative first values") {
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong()).distinct.sorted
      val enc = Codec.vbyteEncode(arr, deltas = true)
      assert(Codec.vbyteDecode(enc, arr.length, deltas = true).toSeq == arr.toSeq)
    }
  }

  test("block build/decode roundtrip + block max") {
    for (_ <- 1 to 50) {
      val n = 1 + rng.nextInt(500)
      val scale = 1 + rng.nextInt(1000000)
      val ids = Array.tabulate(n)(i => i.toLong * scale - 500000L)
      val tfs = Array.tabulate(n)(i => (i % 7 + 1).toLong)
      val dls = Array.tabulate(n)(i => (i % 90 + 10).toLong)
      val norms = Array.tabulate(n)(i => tfs(i).toDouble / (tfs(i) + dls(i)))
      val blocks = Codec.buildBlocks(ids, tfs, dls, norms, blockSize = 64)
      assert(blocks.flatMap(Codec.decodeBlockDocs) == ids.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockTfs) == tfs.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockDls) == dls.toSeq)
      var off = 0
      for (b <- blocks) {
        val mx = norms.slice(off, off + b.n).max
        assert(math.abs(b.maxTfNorm - mx) < 1e-15)
        assert(b.firstDoc <= b.lastDoc)
        off += b.n
      }
    }
  }

  test("compression is effective on dense ascending ids") {
    val ids = Array.tabulate(10000)(i => 1000000L + i * 3L)
    val tfs = Array.fill(10000)(2L)
    val dls = Array.fill(10000)(60L)
    val norms = Array.fill(10000)(0.5)
    val blocks = Codec.buildBlocks(ids, tfs, dls, norms)
    val bytes = blocks.map(b => b.docs.length + b.tfs.length + b.dls.length).sum
    assert(bytes < 10000 * 4, s"expected <4B/posting, got ${bytes / 10000.0}")
  }

  test("default configHash unchanged from r4 (vbyte indexes stay updatable)") {
    // an on-disk index's recorded hash must keep matching the default
    // config, or every existing index loses its incremental path
    val r4Style = graft.analysis.Analyzer.md5Hex("1.4|0.75|0.25|32|0|128|0|0")
    assert(BuildConfig().configHash == r4Style)
  }

  test("loadStats rejects FOR-coded and pre-cbucket stats with a rebuild message") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val stats = GlobalStats(nDocs = 10, totalTokens = 100, avgdl = 10.0,
      vocabSize = 5, avgRawIdf = 1.0, eps = 0.25, maxStaticBonus = 0.0,
      k1 = 1.4, b = 0.75, nTermBuckets = 8, nDocShards = 4, nChunkBuckets = 4,
      minBlockAvgdl = 10.0, configHash = "h", snapshotId = "s")
    def written(f: DataFrame => DataFrame): IndexPaths = {
      val p = IndexPaths(java.nio.file.Files.createTempDirectory("graft-stats").toString)
      f(Seq(stats).toDF()).write.mode("overwrite").parquet(p.globalStats)
      p
    }
    // stats as written today, and as written while the codec was selectable
    assert(IndexBuilder.loadStats(spark, written(identity)) == stats)
    assert(IndexBuilder.loadStats(spark,
      written(_.withColumn("postingCodec", lit("vbyte")))) == stats)
    for (bad <- Seq(written(_.withColumn("postingCodec", lit("for"))),
                    written(_.drop("nChunkBuckets")))) {
      val e = intercept[IllegalArgumentException](IndexBuilder.loadStats(spark, bad))
      assert(e.getMessage.contains("rebuild the index"))
    }
  }
}
