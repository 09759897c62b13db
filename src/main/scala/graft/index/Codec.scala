package graft.index

import graft.model.Posting

/** Posting-list compression: docId-delta + variable-byte, with per-block
  * skip metadata for block-max pruning (WAND).
  *
  * Blob layout (one (term, field, bucket) segment):
  *   repeat per posting, in ascending docId order:
  *     vlong(docId delta from previous docId; first = delta from 0)
  *     vint(dl) vint(#positions) vint*(position deltas)
  * tf is NOT stored: for a term posting it always equals the positions
  * count (a tf byte per posting measured 12% of the whole index). Doclen
  * sentinel postings carry the document length in `dl` with zero
  * positions.
  *
  * Block metadata is stored alongside (columnar arrays, not in the blob):
  * every `BlockSize` postings record (firstDocId, byteOffset, maxTf,
  * minDl). maxTf/minDl give a model-agnostic upper bound on any
  * tf-monotone / dl-antitone score (BM25 partials included) — block-max
  * pruning stays valid for any (k1, b) chosen at query time.
  */
object Codec {
  val BlockSize = 128

  final class Output(initial: Int = 1 << 12) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def size: Int = len
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
      }
    def writeVLong(v0: Long): Unit = {
      require(v0 >= 0, s"vlong must be non-negative: $v0")
      var v = v0
      ensure(10)
      while ((v & ~0x7FL) != 0L) {
        buf(len) = ((v & 0x7F) | 0x80).toByte; len += 1; v >>>= 7
      }
      buf(len) = v.toByte; len += 1
    }
    def writeVInt(v: Int): Unit = writeVLong(v.toLong)
    def writeBytes(bytes: Array[Byte]): Unit =
      writeBytes(bytes, 0, bytes.length)
    def writeBytes(bytes: Array[Byte], from: Int, n: Int): Unit = {
      ensure(n)
      System.arraycopy(bytes, from, buf, len, n)
      len += n
    }
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  final class Input(bytes: Array[Byte], var pos: Int = 0) {
    def readVLong(): Long = {
      var shift = 0
      var out = 0L
      var b = 0L
      do {
        b = bytes(pos) & 0xFFL
        out |= (b & 0x7F) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      out
    }
    def readVInt(): Int = readVLong().toInt
  }

  /** Varint-encode a positions array as (count, deltas) — the per-posting
    * tail of the blob format, precomputable at tokenize time so the
    * segment sort/encode stage never materializes position arrays.
    */
  def encodePositions(positions: Array[Int]): Array[Byte] =
    encodePositions(positions, positions.length)

  /** Encode the first `n` entries of `positions` (for reusable buffers). */
  def encodePositions(positions: Array[Int], n: Int): Array[Byte] = {
    val out = new Output(4 + n * 2)
    out.writeVInt(n)
    var prev = 0
    var i = 0
    while (i < n) {
      out.writeVInt(positions(i) - prev)
      prev = positions(i)
      i += 1
    }
    out.toBytes
  }

  /** Encoded segment + block skip metadata. `blockN` carries per-block
    * posting counts: segments produced by the mini-segment merge restart a
    * block at every mini boundary, so blocks are NOT uniformly BlockSize.
    */
  case class Segment(blob: Array[Byte], n: Int, firstDocId: Long,
                     lastDocId: Long, cf: Long,
                     blockFirst: Array[Long], blockOff: Array[Int],
                     blockMaxTf: Array[Int], blockMinDl: Array[Int],
                     blockN: Array[Int])

  /** Streaming segment encoder over pre-sorted (docId, tf, dl,
    * positions-rec) primitives — the allocation-free fast path of the
    * index build: the positions tail arrives pre-encoded (encodePositions)
    * and is copied verbatim, so the sort/encode stage touches no arrays.
    * Produces byte-identical blobs to `encode`.
    */
  final class SegmentEncoder {
    // start tiny: the mini-segment build holds one LIVE encoder per
    // (term, field) of a task's vocabulary — Zipf tails are a few postings
    private val out = new Output(128)
    private val bFirst = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val bOff = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val bMaxTf = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val bMinDl = scala.collection.mutable.ArrayBuffer.empty[Int]
    private var prev = 0L
    private var n = 0
    private var first = -1L
    private var last = -1L
    private var cf = 0L
    private var curMaxTf = 0
    private var curMinDl = Int.MaxValue

    /** Posting head (block bookkeeping + docId delta + dl); the caller then
      * appends the positions tail (count + deltas) in one of three
      * byte-identical ways below.
      */
    private def begin(docId: Long, tf: Int, dl: Int): Unit = {
      if (n % BlockSize == 0) {
        if (n > 0) { bMaxTf += curMaxTf; bMinDl += curMinDl }
        bFirst += docId
        bOff += out.size
        curMaxTf = 0
        curMinDl = Int.MaxValue
      }
      out.writeVLong(docId - prev)
      out.writeVInt(dl)
      if (n == 0) first = docId
      last = docId
      prev = docId
      cf += tf
      if (tf > curMaxTf) curMaxTf = tf
      if (dl < curMinDl) curMinDl = dl
      n += 1
    }

    /** `tf` feeds cf and block-max metadata only; the BYTES written are
      * dl + rec, where rec's leading count doubles as tf (invariant:
      * rec = encodePositions of exactly tf positions for term postings,
      * of zero positions for doclen sentinels).
      */
    def add(docId: Long, tf: Int, dl: Int, rec: Array[Byte]): Unit = {
      begin(docId, tf, dl)
      out.writeBytes(rec)
    }

    /** Positions encoded IN PLACE — byte-identical to
      * `add(docId, np, dl, encodePositions(pos, np))` without the
      * intermediate rec array (the mini-segment hot loop's allocation).
      */
    def addPositions(docId: Long, dl: Int, pos: Array[Int], np: Int): Unit = {
      begin(docId, np, dl)
      out.writeVInt(np)
      var prevP = 0
      var i = 0
      while (i < np) { out.writeVInt(pos(i) - prevP); prevP = pos(i); i += 1 }
    }

    /** A posting whose positions are two ascending runs, the second
      * shifted by `off` (the default field's title run, then its body run
      * at offset |title|): written as `an + bn` followed by the delta of
      * each position of the concatenated run from the one before it (the
      * first from 0), all varints — the bytes [[addPositions]] writes for
      * the merged array, which is never materialized.
      */
    def addPositionsMerged(docId: Long, dl: Int, a: Array[Int], an: Int,
                           b: Array[Int], bn: Int, off: Int): Unit = {
      begin(docId, an + bn, dl)
      out.writeVInt(an + bn)
      var prevP = 0
      var i = 0
      while (i < an) { out.writeVInt(a(i) - prevP); prevP = a(i); i += 1 }
      i = 0
      while (i < bn) {
        val p = b(i) + off
        out.writeVInt(p - prevP)
        prevP = p
        i += 1
      }
    }

    def finish(): Segment = {
      if (n > 0) { bMaxTf += curMaxTf; bMinDl += curMinDl }
      val nb = bFirst.length
      val bN = Array.tabulate(nb)(j =>
        if (j < nb - 1) BlockSize else n - (nb - 1) * BlockSize)
      Segment(out.toBytes, n, first, last, cf, bFirst.toArray, bOff.toArray,
        bMaxTf.toArray, bMinDl.toArray, bN)
    }
  }

  /** Byte-level merger of pre-encoded segments of ONE (term, field) in
    * ascending, non-overlapping docId order — the reduce side of the
    * mini-segment index build. Interior deltas stay valid across a concat;
    * only each appended segment's FIRST vlong (its delta from 0) is
    * rewritten to the delta from the previous segment's lastDocId, and its
    * block offsets are shifted accordingly. Appended segments keep their
    * own block boundaries (hence per-block counts in `blockN`).
    */
  final class SegmentMerger {
    private val out = new Output(1 << 12)
    private val bFirst = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val bOff = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val bMaxTf = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val bMinDl = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val bN = scala.collection.mutable.ArrayBuffer.empty[Int]
    private var prevLast = 0L
    private var n = 0
    private var first = -1L
    private var cf = 0L

    def postings: Int = n

    def append(mini: Segment): Unit = {
      require(n == 0 || mini.firstDocId > prevLast,
        s"segment merge out of order: ${mini.firstDocId} after $prevLast")
      val in = new Input(mini.blob)
      in.readVLong() // the old first delta (== firstDocId, encoded from 0)
      val oldHdr = in.pos
      val base = out.size
      out.writeVLong(mini.firstDocId - prevLast)
      val shift = (out.size - base) - oldHdr
      out.writeBytes(mini.blob, oldHdr, mini.blob.length - oldHdr)
      var j = 0
      while (j < mini.blockFirst.length) {
        bFirst += mini.blockFirst(j)
        bOff += base + (if (j == 0) 0 else mini.blockOff(j) + shift)
        bMaxTf += mini.blockMaxTf(j)
        bMinDl += mini.blockMinDl(j)
        bN += mini.blockN(j)
        j += 1
      }
      if (n == 0) first = mini.firstDocId
      prevLast = mini.lastDocId
      n += mini.n
      cf += mini.cf
    }

    def finish(): Segment =
      Segment(out.toBytes, n, first, prevLast, cf, bFirst.toArray,
        bOff.toArray, bMaxTf.toArray, bMinDl.toArray, bN.toArray)
  }

  /** Rebase a segment blob's docId space by +delta without decoding it:
    * docIds are stored as deltas and only the FIRST vlong is absolute (the
    * first docId's delta from 0), so the rebase rewrites that one vlong and
    * copies every other byte verbatim — interior deltas, dls, and position
    * runs are offset-invariant. Returns the new blob and the header SHIFT
    * (new first-vlong length − old), which callers apply to every stored
    * block offset except block 0 (always byte 0 of the blob).
    * This is what makes store merging ([[graft.index.IndexStore.mergeStores]])
    * an O(bytes) copy instead of a decode/re-encode of every posting.
    */
  def rebaseBlob(blob: Array[Byte], delta: Long): (Array[Byte], Int) = {
    val in = new Input(blob)
    val first = in.readVLong() // the absolute first docId
    val oldHdr = in.pos
    val head = new Output(10)
    head.writeVLong(first + delta)
    val hb = head.toBytes
    val res = new Array[Byte](hb.length + blob.length - oldHdr)
    System.arraycopy(hb, 0, res, 0, hb.length)
    System.arraycopy(blob, oldHdr, res, hb.length, blob.length - oldHdr)
    (res, hb.length - oldHdr)
  }

  /** Encode postings (MUST be pre-sorted ascending by docId). */
  def encode(postings: Iterator[Posting]): Segment = {
    val out = new Output()
    val bFirst = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bOff = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bMaxTf = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bMinDl = scala.collection.mutable.ArrayBuffer.empty[Int]
    var prev = 0L
    var n = 0
    var first = -1L
    var last = -1L
    var cf = 0L
    var curMaxTf = 0
    var curMinDl = Int.MaxValue
    postings.foreach { p =>
      require(p.docId >= prev || n == 0,
        s"postings not sorted: ${p.docId} after $prev")
      if (n % BlockSize == 0) {
        if (n > 0) { bMaxTf += curMaxTf; bMinDl += curMinDl }
        bFirst += p.docId
        bOff += out.size
        curMaxTf = 0
        curMinDl = Int.MaxValue
      }
      require(p.tf == p.positions.length,
        s"tf must equal positions count (tf=${p.tf}, np=${p.positions.length})")
      out.writeVLong(p.docId - prev)
      out.writeVInt(p.dl)
      out.writeVInt(p.positions.length)
      var prevPos = 0
      var i = 0
      while (i < p.positions.length) {
        out.writeVInt(p.positions(i) - prevPos)
        prevPos = p.positions(i)
        i += 1
      }
      if (n == 0) first = p.docId
      last = p.docId
      prev = p.docId
      cf += p.tf
      if (p.tf > curMaxTf) curMaxTf = p.tf
      if (p.dl < curMinDl) curMinDl = p.dl
      n += 1
    }
    if (n > 0) { bMaxTf += curMaxTf; bMinDl += curMinDl }
    val nb = bFirst.length
    val bN = Array.tabulate(nb)(j =>
      if (j < nb - 1) BlockSize else n - (nb - 1) * BlockSize)
    Segment(out.toBytes, n, first, last, cf, bFirst.toArray, bOff.toArray,
      bMaxTf.toArray, bMinDl.toArray, bN)
  }

  /** Decode a whole blob back to postings (ascending docId). */
  def decode(blob: Array[Byte], n: Int): Iterator[Posting] = {
    val in = new Input(blob)
    var prev = 0L
    Iterator.tabulate(n) { _ =>
      val docId = prev + in.readVLong()
      prev = docId
      val dl = in.readVInt()
      val np = in.readVInt()
      val pos = new Array[Int](np)
      var acc = 0
      var i = 0
      while (i < np) { acc += in.readVInt(); pos(i) = acc; i += 1 }
      Posting(docId, np, dl, pos) // tf == positions count by construction
    }
  }

  /** Decode starting at a block boundary (for skip-based evaluation). */
  def decodeBlock(blob: Array[Byte], off: Int, firstDocId: Long,
                  count: Int): Iterator[Posting] = {
    val in = new Input(blob, off)
    var prev = firstDocId
    var isFirst = true
    Iterator.tabulate(count) { _ =>
      val delta = in.readVLong()
      val docId = if (isFirst) firstDocId else prev + delta
      // first entry of a block still stores its full delta from the
      // previous posting, so callers pass firstDocId from metadata
      isFirst = false
      prev = docId
      val dl = in.readVInt()
      val np = in.readVInt()
      val pos = new Array[Int](np)
      var acc = 0
      var i = 0
      while (i < np) { acc += in.readVInt(); pos(i) = acc; i += 1 }
      Posting(docId, np, dl, pos)
    }
  }
}
