package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Components

/** Min-label propagation vs a brute-force union-find oracle on seeded
  * random graphs, plus the shapes that stress the loop: chains (diameter =
  * rounds), isolated vertices, self-loops, duplicate/reversed edges.
  */
class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(v => v -> find(v)).toMap
  }

  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("x", "y")
    val v = (0L until n).toDF("id")
    Components.minLabel(e, v).as[(Long, Long)].collect().toMap
  }

  test("random graphs match union-find (5 seeds)") {
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val n = 30 + rng.nextInt(40)
      val edges = Seq.fill(n / 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = run(n, edges)
      val want = unionFind(n, edges)
      assert(got == want, s"seed=$seed n=$n")
      assert(got.size == n, "every vertex labeled, isolated ones included")
    }
  }

  test("chain graph: diameter-many rounds still converge to one label") {
    val n = 40
    val edges = (0L until n - 1).map(i => (i + 1, i)) // reversed orientation
    val got = run(n, edges)
    assert(got.values.toSet == Set(0L))
  }

  test("self-loops, duplicate and two-orientation edges are harmless") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L))
    val got = run(6, edges)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("empty edge list labels every vertex with itself") {
    val got = run(5, Nil)
    assert(got == (0L until 5L).map(v => v -> v).toMap)
  }

  test("maxRounds bounds the DIAMETER: d == maxRounds converges, d > refuses") {
    import spark.implicits._
    val chain = (0L until 3L).map(i => (i, i + 1)) // diameter 3 on 4 vertices
    val v = (0L until 4L).toDF("id")
    // exactly at the budget: the confirming round must still fit
    val ok = Components.minLabel(chain.toDF("x", "y"), v, maxRounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(0L))
    // one past the budget: refuse rather than return a wrong labeling
    val ex = intercept[IllegalArgumentException] {
      Components.minLabel(chain.toDF("x", "y"), v, maxRounds = 2)
        .as[(Long, Long)].collect()
    }
    assert(ex.getMessage.contains("diameter"))
  }

  test("minLabel leaves no cached frame and the session SQL conf as it found it") {
    import spark.implicits._
    // one loop key set before the call (its value must come back) and one
    // unset (it must stay unset, not be pinned to its default)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val conf0 = spark.conf.getAll
    // CacheManager.numCachedEntries is Spark-internal in Scala, public in
    // bytecode
    val cache = spark.sharedState.cacheManager
    def cachedEntries: Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val cached0 = cachedEntries
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("x", "y")
    val got = Components.minLabel(edges, (0L until 8L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    assert(cachedEntries == cached0, "minLabel left a cached frame")
    assert(spark.conf.getAll == conf0)
  }
}
