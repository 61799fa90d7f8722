package graft.perfbench

import graft.corpus.WebPages

/** Seeded inputs of the `serve` workload and of its traced re-crawl
  * round. The engine only ever sees the generated pages and queries.
  *
  * Query stream. Each block of [[BlockSize]] queries holds one query of
  * every shape, in a seeded order, and the timed loop stops only at block
  * boundaries, so every run serves the same mix. The shapes span 1-5
  * tokens and a summed document frequency of about 0 to 1.6 x nDocs, and
  * each is built to take one pool path whatever words the seed draws:
  * topic words matching fewer chunks than the first bounded round fetches
  * (the bounded pool in one round), a stopword-like filler word in the
  * mix (sum(df) > nDocs/2: the dense shortcut) and rare filler pairs (too
  * few matches for a pool: a bounded round, then dense).
  * Words come from small per-stream pools, so terms recur across queries
  * and the term-stat cache sees hits and misses; one query per block
  * repeats the block's single-word query.
  */
object Gen {

  private val TopicRank0 = 8 // WebPages: topic word i sits at Zipf rank 8 + 3i
  private def topicRank(i: Int): Int = TopicRank0 + 3 * i
  private def isTopic(rank: Int): Boolean =
    rank >= TopicRank0 && (rank - TopicRank0) % 3 == 0 &&
      (rank - TopicRank0) / 3 < WebPages.Vocab.length

  private sealed trait Pool
  private case object Stop extends Pool      // Zipf rank 1-3: in most chunks
  private case object HeadTopic extends Pool // topic words 0-3
  private case object MidTopic extends Pool  // topic words 8-15
  private case object TailTopic extends Pool // topic words 28-37
  private case object Filler extends Pool    // rank 300-3000, not a topic word
  private case object Rare extends Pool      // rank 5000-40000: a handful of chunks

  /** Query shapes; the empty shape repeats the block's single-word query
    * (shape 0) somewhere after it.
    */
  private val Shapes: IndexedSeq[Seq[Pool]] = IndexedSeq(
    Seq(MidTopic),
    Seq(MidTopic, TailTopic),
    Seq(TailTopic, TailTopic, TailTopic),
    Seq(TailTopic, TailTopic, TailTopic, Filler, TailTopic),
    Seq(Stop, MidTopic),
    Seq(Stop, HeadTopic, MidTopic, TailTopic),
    Seq(Rare, Filler),
    Seq.empty)

  /** Queries per block; a block holds one query of each shape. */
  val BlockSize: Int = Shapes.length

  /** The words of a pool. The topic pools are fixed word sets, so the
    * seed varies how they combine and in what order but not how common
    * they are, which sets most of a query's cost; filler and rare words
    * are drawn from wide ranges of uniformly low frequency.
    */
  private def poolWords(pool: Pool, rng: scala.util.Random): IndexedSeq[String] = {
    val ranks: IndexedSeq[Int] = pool match {
      case Stop      => 1 to 3
      case HeadTopic => (0 to 3).map(topicRank)
      case MidTopic  => (8 to 15).map(topicRank)
      case TailTopic => (28 to 37).map(topicRank)
      case Filler    => rng.shuffle((300 to 3000).filterNot(isTopic)).take(6)
      case Rare      => rng.shuffle(5000 to 40000).take(6)
    }
    ranks.map(WebPages.wordAt)
  }

  /** `n` queries for `seed`. */
  def queryStream(seed: Long, n: Int): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val pools: Map[Pool, IndexedSeq[String]] =
      Seq(Stop, HeadTopic, MidTopic, TailTopic, Filler, Rare).map(p => p -> poolWords(p, rng)).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val repeat = Shapes.indexWhere(_.isEmpty)
    while (out.length < n) {
      val block = Shapes.map(shape => shape.map(p => pools(p)(rng.nextInt(pools(p).length))).mkString(" "))
      val order = rng.shuffle(Shapes.indices.filterNot(_ == repeat).toList)
      val at = order.indexOf(0) + 1 + rng.nextInt(order.length - order.indexOf(0))
      out ++= order.patch(at, Seq(0), 0).map(block)
    }
    out.take(n).toIndexedSeq
  }

  /** Warm-up queries for set-up: words outside every stream pool, so the
    * warm-up primes the JIT and the chunk cache but not the term cache.
    */
  val WarmupQueries: Seq[String] = Seq(
    s"${WebPages.wordAt(4000)} ${WebPages.wordAt(4001)}",
    s"${WebPages.wordAt(9)} ${WebPages.wordAt(10)} ${WebPages.wordAt(12)}")

  /** `n` distinct page indices of an `nPages` crawl to re-crawl, seeded. */
  def changeSet(seed: Long, nPages: Int, n: Int): Set[Long] = {
    val rng = new scala.util.Random(seed * 0x2545F4914F6CDD1DL + 7)
    rng.shuffle((0L until nPages).toList).take(n).toSet
  }
}
