package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{Codec, ParquetIndex}

/** Block-max WAND top-k for flat BM25 bag-of-words queries — the fast
  * access path of the north rule (the exact union+groupBy path stays the
  * reference for rank-identity; WAND must agree with it, verified in
  * tests, and does so even under ties because pruning uses ≥ and the heap
  * orders by (score, docId) with the docId-desc tie-break of T1).
  *
  * Physical shape: a *planned Dataset transformation*, not a custom
  * SparkStrategy — segment rows for the query terms are sliced by docId
  * range (block-granular, straddling blocks clamped so each doc is scored
  * by exactly one task with ALL its terms), shuffled to range tasks, each
  * task runs the sequential BMW kernel over its range with its own bounded
  * min-heap, and the per-range top-k lists merge through a global
  * TakeOrderedAndProject. Pruning leverage per task, parallelism across
  * ranges.
  *
  * Upper bounds: per-term UB = idf·p(maxTf, minDl) over remaining blocks
  * (p is the BM25 tf-saturation, increasing in tf / decreasing in dl, so
  * p(maxTf, minDl) dominates any posting in the block). Negative-idf terms
  * (df > N/2 — the reference BM25 has no idf clamp) get UB 0: their
  * contribution is always < 0, so 0 is a valid, if loose, bound.
  */
object Wand {

  /** WAND is rank-identical to the exact engine for a FLAT default-field
    * bag of words under #SUM/#AND. Stop leaves are dropped here exactly
    * like the exact path's F1 pruning (StructuredRetriever.scala:29-33),
    * and duplicate terms stay in the bag — bm25TopK scores them with
    * multiplicity (the union-with-defaults #SUM adds each child's score,
    * so k copies of a term contribute k·score). Multiplicity is capped at
    * 3: k·s is bit-identical to the exact path's k-fold addition only for
    * k ≤ 3 (s+s is exactly 2s and (s+s)+s is the fold's own order); at
    * k ≥ 4 the two shapes can differ by 1 ulp and flip a tie at the top-k
    * boundary, so such bags take the exact path to keep the
    * rank-identical contract unconditional. Returns the term bag when the
    * parsed query qualifies; callers (QueryMain --wand) fall back to the
    * exact engine for nested operators and field restrictions.
    */
  def eligibleBag(node: QNode): Option[Seq[String]] = node match {
    case QInner(QOp.SUM | QOp.AND, _, kids, _) =>
      val leaves = kids.collect { case l: QLeaf => l }
      if (leaves.length != kids.length) None // nested operator
      else if (leaves.exists(_.field != "default")) None // field restriction
      else {
        val terms = leaves.filterNot(_.isStop).map(_.term)
        if (terms.isEmpty) None // all-stop → exact (empty)
        else if (terms.groupBy(identity).exists(_._2.size > 3)) None
        else Some(terms)
      }
    case QLeaf(t, "default", false) => Some(List(t))
    case _ => None
  }

  /** One query term's slice of index data for one range task. `weight` is
    * the term's multiplicity in the query bag (score and upper bound both
    * scale by it; scaling by a positive int preserves the UB's dominance
    * because rounding is monotone).
    */
  case class TermSlice(idf: Double, blockBytes: Array[Array[Byte]],
                       blockFirst: Array[Long], blockCount: Array[Int],
                       blockMaxTf: Array[Int], blockMinDl: Array[Int],
                       weight: Int = 1)

  private final class Cursor(ts: TermSlice, k1: Double, b: Double,
                             avgdl: Double, rangeStart: Long, rangeEnd: Long) {
    private var bi = -1          // current block
    private var docIds: Array[Long] = _
    private var tfs: Array[Int] = _
    private var dls: Array[Int] = _
    private var i = 0
    var curDoc: Long = Long.MaxValue
    var curTf: Int = 0
    var curDl: Int = 0

    /** UB of any remaining posting (monotone: max over blocks ≥ bi). */
    private val suffixUb: Array[Double] = {
      val n = ts.blockFirst.length
      val out = new Array[Double](n + 1)
      out(n) = Double.NegativeInfinity
      var j = n - 1
      while (j >= 0) {
        out(j) = math.max(out(j + 1), blockUb(j))
        j -= 1
      }
      out
    }

    def blockUb(j: Int): Double =
      if (ts.idf <= 0) 0.0
      else ts.weight * (ts.idf * partial(ts.blockMaxTf(j), ts.blockMinDl(j)))

    def ub: Double =
      if (bi >= suffixUb.length) 0.0
      else math.max(0.0, suffixUb(math.max(bi, 0)))

    private def partial(tf: Int, dl: Int): Double =
      tf / (tf + k1 * ((1 - b) + b * dl / avgdl))

    def score: Double = ts.weight * (ts.idf * partial(curTf, curDl))

    private def loadBlock(j: Int): Unit = {
      bi = j
      if (j >= ts.blockBytes.length) { curDoc = Long.MaxValue; return }
      val n = ts.blockCount(j)
      docIds = new Array[Long](n)
      tfs = new Array[Int](n)
      dls = new Array[Int](n)
      val it = Codec.decodeBlock(ts.blockBytes(j), 0, ts.blockFirst(j), n)
      var x = 0
      while (it.hasNext) {
        val p = it.next()
        docIds(x) = p.docId; tfs(x) = p.tf; dls(x) = p.dl; x += 1
      }
      i = 0
    }

    /** Position at first doc ≥ target within [rangeStart, rangeEnd). */
    def advanceTo(target0: Long): Unit = {
      val target = math.max(target0, rangeStart)
      if (curDoc != Long.MaxValue && curDoc >= target) return
      // find block: last block with first ≤ target (or next block)
      var j = math.max(bi, 0)
      if (bi < 0 || (bi < ts.blockFirst.length &&
          j + 1 < ts.blockFirst.length && ts.blockFirst(j + 1) <= target)) {
        var lo = math.max(bi, 0)
        var hi = ts.blockFirst.length - 1
        while (lo < hi) { // binary search: last blockFirst ≤ target
          val mid = (lo + hi + 1) >>> 1
          if (ts.blockFirst(mid) <= target) lo = mid else hi = mid - 1
        }
        j = lo
      }
      if (j != bi) loadBlock(j)
      while (true) {
        if (bi >= ts.blockBytes.length) { curDoc = Long.MaxValue; return }
        while (i < docIds.length && docIds(i) < target) i += 1
        if (i < docIds.length) {
          if (docIds(i) >= rangeEnd) { curDoc = Long.MaxValue; return }
          curDoc = docIds(i); curTf = tfs(i); curDl = dls(i); return
        }
        loadBlock(bi + 1)
      }
    }

    def next(): Unit = {
      i += 1
      if (bi >= 0 && i < docIds.length) {
        if (docIds(i) >= rangeEnd) { curDoc = Long.MaxValue }
        else { curDoc = docIds(i); curTf = tfs(i); curDl = dls(i) }
      } else if (bi + 1 < ts.blockBytes.length) {
        loadBlock(bi + 1) // blocks are never empty: position at its head
        if (docIds(0) >= rangeEnd) curDoc = Long.MaxValue
        else { curDoc = docIds(0); curTf = tfs(0); curDl = dls(0) }
      } else curDoc = Long.MaxValue
    }
  }

  /** Sequential block-max WAND over one docId range. Returns up to k
    * (docId, score) pairs, unsorted.
    */
  def wandTopK(slices: Seq[TermSlice], k: Int, rangeStart: Long,
               rangeEnd: Long, k1: Double, b: Double,
               avgdl: Double): Array[(Long, Double)] = {
    if (slices.isEmpty || k <= 0) return Array.empty
    val cursors = slices.map { s =>
      val c = new Cursor(s, k1, b, avgdl, rangeStart, rangeEnd)
      c.advanceTo(rangeStart)
      c
    }.toArray
    // bounded min-heap by (score asc, docId asc): head = current worst
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long.reverse)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    def theta: (Double, Long) =
      if (heap.size < k) (Double.NegativeInfinity, Long.MinValue) else heap.head
    def offer(doc: Long, score: Double): Unit = {
      val t = theta
      if (score > t._1 || (score == t._1 && doc > t._2)) {
        heap.enqueue((score, doc))
        if (heap.size > k) heap.dequeue()
      }
    }
    val live = cursors // sorted view maintained per iteration
    while (true) {
      val active = live.filter(_.curDoc != Long.MaxValue).sortBy(_.curDoc)
      if (active.isEmpty) return heap.toArray.map { case (s, d) => (d, s) }
      // pivot: first prefix whose UB sum reaches theta
      val t = theta._1
      var acc = 0.0
      var p = -1
      var j = 0
      while (j < active.length && p < 0) {
        acc += active(j).ub
        if (acc >= t || theta._1 == Double.NegativeInfinity) p = j
        j += 1
      }
      if (p < 0) return heap.toArray.map { case (s, d) => (d, s) } // no doc can pass
      val pivotDoc = active(p).curDoc
      if (active(0).curDoc == pivotDoc) {
        // fully evaluate pivotDoc
        var score = 0.0
        active.foreach { c =>
          if (c.curDoc == pivotDoc) { score += c.score; c.next() }
        }
        offer(pivotDoc, score)
      } else {
        // advance all cursors before the pivot up to pivotDoc
        var x = 0
        while (x < p) { active(x).advanceTo(pivotDoc); x += 1 }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Distributed BM25 top-k over a ParquetIndex: block-sliced shuffle to
    * `numRanges` range tasks, local BMW per task, global exact merge.
    */
  def bm25TopK(spark: SparkSession, index: ParquetIndex, terms: Seq[String],
               field: String, k: Int, model: BM25 = BM25(),
               numRanges: Int = 32): DataFrame = {
    // k1 = 0 makes the absent-term default NaN in the exact engine (a
    // reference sweep quirk); WAND's union-with-zero-default assumption
    // only holds for k1 > 0
    require(model.k1 > 0, "WAND path requires k1 > 0 (finite defaults)")
    import spark.implicits._
    val coll = index.collStats
    val n = coll.docCount.toDouble
    val avgdl = coll.avgDocLen
    // duplicate terms score with multiplicity k as k·(idf·partial) — the
    // same floating-point shape as the exact path's k-fold score addition
    // for k ≤ 3 (s+s is exactly 2s), which eligibleBag enforces; a direct
    // caller passing k ≥ 4 gets scores tie-order-equivalent to the exact
    // path (equal after 6dp rounding) rather than bit-identical. This map
    // and `idfs` hold one entry per query term: the range tasks capture
    // them in their closure, no broadcast needed
    val mult = terms.groupBy(identity).map { case (t, g) => t -> g.size }
    val idfs = terms.distinct.flatMap { t =>
      val (df, _) = index.termStat(t, field)
      if (df == 0) None
      else Some(t -> math.log10((n - df + 0.5) / (df + 0.5)))
    }.toMap
    if (idfs.isEmpty)
      return Seq.empty[(Long, Double)].toDF("docId", "score")
    val rangeSize = math.max(1L, (coll.docCount + numRanges - 1) / numRanges)

    // every term's segments in one pruned scan
    val segs = index.segmentsOf(idfs.keys.toSeq.map(_ -> field))
      .select("term", "n", "blob", "blockFirst", "blockOff", "blockMaxTf",
        "blockMinDl", "blockN", "lastDocId")

    val sliced = segs.as[(String, Int, Array[Byte], Seq[Long], Seq[Int],
        Seq[Int], Seq[Int], Seq[Int], Long)]
      .flatMap { case (term, _, blob, bFirst, bOff, bMaxTf, bMinDl, bN, lastDoc) =>
        val nb = bFirst.length
        // (rangeId, term, per-block slice) for every range a block overlaps
        // (blocks are NOT uniformly BlockSize: the segment merge restarts a
        // block per appended mini-segment, so counts come from blockN)
        (0 until nb).iterator.flatMap { j =>
          val blockLast = if (j + 1 < nb) bFirst(j + 1) - 1 else lastDoc
          val from = bOff(j)
          val until = if (j + 1 < nb) bOff(j + 1) else blob.length
          val bytes = java.util.Arrays.copyOfRange(blob, from, until)
          val r0 = (bFirst(j) / rangeSize).toInt
          val r1 = (blockLast / rangeSize).toInt
          (r0 to r1).iterator.map(r =>
            (r, term, bytes, bFirst(j), bN(j), bMaxTf(j), bMinDl(j)))
        }
      }
      .toDF("rangeId", "term", "bytes", "bFirst", "bCount", "bMaxTf", "bMinDl")

    val topPerRange = sliced
      .as[(Int, String, Array[Byte], Long, Int, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (rangeId, rows) =>
        val byTerm = rows.toSeq.groupBy(_._2)
        val slices = byTerm.map { case (term, blocks) =>
          val sorted = blocks.sortBy(_._4)
          TermSlice(idfs(term),
            sorted.map(_._3).toArray, sorted.map(_._4).toArray,
            sorted.map(_._5).toArray, sorted.map(_._6).toArray,
            sorted.map(_._7).toArray, mult.getOrElse(term, 1))
        }.toSeq
        val mk1 = model.k1
        val mb = model.b
        wandTopK(slices, k, rangeId.toLong * rangeSize,
          (rangeId.toLong + 1) * rangeSize, mk1, mb, avgdl).iterator
      }
      .toDF("docId", "score")

    topPerRange.orderBy(col("score").desc, col("docId").desc).limit(k)
  }
}
