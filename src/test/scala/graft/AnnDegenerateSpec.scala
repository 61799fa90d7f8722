package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** The cosine catalog queries (ANN and embedding) on degenerate inputs
  * behave like their SQL form instead of throwing. The reference forms below are the oracle SQL in
  * Spark's dialect: the vec_id = 0 query row is CROSS JOINed in, and
  * `try_divide` gives DuckDB's NULL for a zero-norm divisor. So a missing
  * query vector gives an empty result, a zero-norm vector's cosine is NULL
  * and ranks last, and a NaN-component vector's cosine is NaN and ranks
  * first (`ORDER BY ... DESC`) and passes a `>=` threshold.
  */
class AnnDegenerateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dim = 64 // lshBucketOf projects the first 64 components

  private def randomVec(rng: scala.util.Random): Array[Float] =
    Array.fill(dim)(rng.nextGaussian().toFloat)
  private val zero = Array.fill(dim)(0f)
  private val nan = Array.fill(dim)(Float.NaN)

  /** vec_id 1..40 random, 41..42 zero-norm, 43 NaN, plus `query` as vec_id 0. */
  private def vectors(query: Option[Array[Float]]): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(7)
    query.map(0L -> _).toSeq ++ (1L to 40L).map(_ -> randomVec(rng)) ++
      Seq(41L -> zero, 42L -> zero, 43L -> nan)
  }

  private def embeddingsDir(query: Option[Array[Float]]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    vectors(query).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Rows as (vec_id, cos text): NaN and NULL compare equal to themselves. */
  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.collect().toSeq.map(r => (r.getLong(0), String.valueOf(r.get(1))))

  private val embedTopkSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        dots AS (SELECT e.vec_id, try_divide(graft_vdot(e.embedding, q.qe),
             graft_vnorm(e.embedding) * graft_vnorm(q.qe)) AS cos
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
        SELECT vec_id, round(cos, 4) AS cos FROM dots
        ORDER BY cos DESC, vec_id LIMIT 10"""

  test("q_embed_topk: zero-norm vectors rank last instead of dividing by zero") {
    SparkEntryExtra.registerVecUdfs(spark)
    val rng = new scala.util.Random(3)
    for (query <- Seq(randomVec(rng), zero)) {
      val dir = embeddingsDir(Some(query))
      val got = rows(SparkEntry.queries("q_embed_topk")(spark, dir))
      assert(got == rows(spark.sql(embedTopkSql)))
      // the NaN vector's cosine ranks first; zero-norm ones are NULL and
      // rank last
      assert(got.head == ((43L, "NaN")) && got.length == 10)
      if (query eq zero) assert(got.tail.map(_._1) == (1L to 9L))
      else assert(got.tail.forall(r => r._2 != "null" && r._1 <= 40L))
    }
  }

  private val embedNeardupSql =
    """WITH e AS (SELECT vec_id, embedding, graft_vnorm(embedding) AS nrm
             FROM embeddings WHERE vec_id < 1000),
        p AS (SELECT a.vec_id AS x, b.vec_id AS y, try_divide(
               graft_vdot(a.embedding, b.embedding), a.nrm * b.nrm) AS cos
             FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT x, y, round(cos, 4) AS cos FROM p WHERE cos >= 0.45
        ORDER BY x, y"""

  test("q_embed_neardup: zero-denominator pairs drop, NaN-cosine pairs stay") {
    SparkEntryExtra.registerVecUdfs(spark)
    val dir = embeddingsDir(Some(randomVec(new scala.util.Random(3))))
    def triples(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2))))
    val got = triples(SparkEntry.queries("q_embed_neardup")(spark, dir))
    assert(got == triples(spark.sql(embedNeardupSql)))
    // every vector pairs with the NaN one (43), the zero-norm ones included
    assert(got.filter(_._2 == 43L) == (0L to 42L).map(x => (x, 43L, "NaN")))
    // a zero-norm vector pairs with nothing else
    val zeroIds = Set(41L, 42L)
    assert(got.forall(t => t._2 == 43L || !zeroIds(t._1) && !zeroIds(t._2)))
  }

  private def lshSql(nPlanes: Int, masks: Seq[Int]): String =
    s"""WITH sig AS (SELECT vec_id, embedding,
             graft_lshbucket(embedding, $nPlanes) AS bucket FROM embeddings),
        q AS (SELECT bucket, embedding AS qe FROM sig WHERE vec_id = 0),
        cand AS (SELECT s.vec_id, try_divide(graft_vdot(s.embedding, q.qe),
               graft_vnorm(s.embedding) * graft_vnorm(q.qe)) AS cos
             FROM sig s CROSS JOIN q
             WHERE s.vec_id <> 0 AND s.bucket IN
               (${masks.map(m => s"q.bucket ^ $m").mkString(", ")}))
        SELECT vec_id, round(cos, 4) AS cos FROM cand
        ORDER BY cos DESC, vec_id LIMIT 5"""

  private val lshForms = Seq(
    "q_ann_lsh" -> lshSql(16, Seq(0)),
    "q_ann_multiprobe" -> lshSql(8, SparkEntryExtra.ProbeMasks))

  test("LSH ANN queries: a missing query vector gives the empty result") {
    val dir = embeddingsDir(None)
    for ((q, _) <- lshForms) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.columns.toSeq == Seq("vec_id", "cos"), q)
      assert(df.collect().isEmpty, q)
    }
  }

  test("LSH ANN queries: a zero-norm query vector ranks like the SQL form") {
    val dir = embeddingsDir(Some(zero))
    SparkEntryExtra.registerVecUdfs(spark)
    for ((q, sql) <- lshForms) {
      val got = rows(SparkEntry.queries(q)(spark, dir))
      assert(got == rows(spark.sql(sql)), q)
      // every cosine is NULL, so vec_id alone orders the rows
      assert(got.nonEmpty && got.forall(_._2 == "null"), q)
      assert(got.map(_._1) == got.map(_._1).sorted, q)
    }
  }

  private val ivfSql =
    """WITH sims AS (SELECT e.vec_id, c.cid, try_divide(graft_vdot(e.embedding, c.ce),
             graft_vnorm(e.embedding) * graft_vnorm(c.ce)) AS sim
           FROM deg_cemb e CROSS JOIN deg_cent c),
        rk AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
             ORDER BY sim DESC, cid) AS rk FROM sims),
        asg AS (SELECT vec_id, cid FROM rk WHERE rk = 1),
        probes AS (SELECT cid FROM rk WHERE vec_id = 0 AND rk <= 2),
        q AS (SELECT embedding AS qe FROM deg_cemb WHERE vec_id = 0),
        cand AS (SELECT e.vec_id, try_divide(graft_vdot(e.embedding, q.qe),
             graft_vnorm(e.embedding) * graft_vnorm(q.qe)) AS cos
           FROM deg_cemb e JOIN asg ON asg.vec_id = e.vec_id CROSS JOIN q
           WHERE asg.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0)
        SELECT vec_id, round(cos, 4) AS cos FROM cand
        ORDER BY cos DESC, vec_id LIMIT 5"""

  private def ivfBoth(query: Option[Array[Float]], cents: Seq[(Int, Array[Float])])
      : (Seq[(Long, String)], Seq[(Long, String)]) = {
    import spark.implicits._
    SparkEntryExtra.registerVecUdfs(spark)
    val cemb = vectors(query).toDF("vec_id", "embedding")
    cemb.createOrReplaceTempView("deg_cemb")
    cents.toDF("cid", "ce").createOrReplaceTempView("deg_cent")
    (rows(SparkEntryExtra.annIvf(cemb, cents.toArray, nprobe = 2)), rows(spark.sql(ivfSql)))
  }

  private lazy val centroids: Seq[(Int, Array[Float])] = {
    val rng = new scala.util.Random(11)
    (0 until 4).map(_ -> randomVec(rng))
  }

  test("IVF: a missing query vector gives the empty result") {
    val (got, want) = ivfBoth(None, centroids)
    assert(got.isEmpty && want.isEmpty)
  }

  test("IVF: zero-norm and NaN vectors rank like the SQL form") {
    // zero-norm query: every probe sim is NULL, so the lowest cids are
    // probed; the NaN vector's cosine ranks first, every other one is NULL
    val (gotQ, wantQ) = ivfBoth(Some(zero), centroids)
    assert(gotQ == wantQ && gotQ.head == ((43L, "NaN")))
    assert(gotQ.tail.nonEmpty && gotQ.tail.forall(_._2 == "null"))
    // data vectors: the NaN one's sims are all NaN, so it joins cid 0 (the
    // lowest of equal sims), which a query next to centroid 0 probes; its
    // NaN cosine then ranks first
    val (gotD, wantD) = ivfBoth(Some(centroids.head._2), centroids)
    assert(gotD == wantD)
    assert(gotD.head == ((43L, "NaN")))
    // a NaN centroid is every vector's nearest cell and the first probe; a
    // zero-norm centroid (NULL sims) is nobody's
    for (extra <- Seq(nan, zero)) {
      val (gotC, wantC) = ivfBoth(Some(centroids.head._2), centroids :+ (4 -> extra))
      assert(gotC == wantC)
    }
  }
}
