package graft.index

import java.io.ByteArrayOutputStream
import scala.collection.mutable.ArrayBuffer

/** Delta + variable-byte codec for posting lists (north rule:
  * "delta-encoded docID gaps + term frequencies, variable-byte/FOR
  * compressed with block-max metadata"). Pure Scala — runs inside executor
  * tasks.
  *
  * Doc ids are arbitrary Longs (xxhash64 of the chunk key) ordered by plain
  * signed comparison; build and query agree on that total order. Every
  * posting block has one byte layout:
  *
  *   docs    = VByte(bits(firstDocId)) ++ VByte(gap_1) ++ ...
  *   tfs/dls = VByte(v_0) ++ VByte(v_1) ++ ...
  */
object Codec {

  /** VByte-encode; `deltas=true` stores values(0) raw (unsigned 64-bit bit
    * pattern, possibly 10 bytes) then non-negative gaps.
    */
  def vbyteEncode(values: Array[Long], deltas: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(values.length * 2)
    var prev = 0L
    var i = 0
    while (i < values.length) {
      // gaps between sorted signed longs can exceed Long.MaxValue; the
      // two's-complement difference is the true gap mod 2^64 and the
      // unsigned VByte encoding + wrapping add on decode roundtrip it.
      var v = if (deltas && i > 0) values(i) - prev else values(i)
      require(!deltas || i == 0 || values(i) >= prev, s"non-monotonic docId at $i")
      prev = values(i)
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
      i += 1
    }
    out.toByteArray
  }

  def vbyteDecode(bytes: Array[Byte], n: Int, deltas: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      val value = if (deltas && i > 0) prev + v else v
      out(i) = value
      prev = value
      i += 1
    }
    out
  }

  /** One compressed posting block. Doc lengths travel with the block so the
    * exact per-doc BM25 contribution is recomputable at query time;
    * `maxTfNorm` is the block's maximum tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))
    * — multiply by idf(term) for the block-max WAND score bound.
    */
  case class Block(docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte], n: Int,
                   maxTfNorm: Double, firstDoc: Long, lastDoc: Long)

  val DefaultBlockSize = 128

  /** Build blocks from postings sorted ascending by docId. `tfNorms` are the
    * precomputed per-posting normalized contributions (for block maxima).
    */
  def buildBlocks(docIds: Array[Long], tfs: Array[Long], dls: Array[Long],
                  tfNorms: Array[Double],
                  blockSize: Int = DefaultBlockSize): Seq[Block] = {
    require(docIds.length == tfs.length && docIds.length == dls.length &&
      docIds.length == tfNorms.length)
    val blocks = new ArrayBuffer[Block]
    var start = 0
    while (start < docIds.length) {
      val end = math.min(start + blockSize, docIds.length)
      val ids = java.util.Arrays.copyOfRange(docIds, start, end)
      val f = java.util.Arrays.copyOfRange(tfs, start, end)
      val d = java.util.Arrays.copyOfRange(dls, start, end)
      var mx = 0.0
      var i = start
      while (i < end) { if (tfNorms(i) > mx) mx = tfNorms(i); i += 1 }
      blocks += Block(vbyteEncode(ids, deltas = true), vbyteEncode(f, deltas = false),
        vbyteEncode(d, deltas = false), end - start, mx, docIds(start), docIds(end - 1))
      start = end
    }
    blocks.toSeq
  }

  def decodeBlockDocs(b: Block): Array[Long] = vbyteDecode(b.docs, b.n, deltas = true)
  def decodeBlockTfs(b: Block): Array[Long] = vbyteDecode(b.tfs, b.n, deltas = false)
  def decodeBlockDls(b: Block): Array[Long] = vbyteDecode(b.dls, b.n, deltas = false)
}
