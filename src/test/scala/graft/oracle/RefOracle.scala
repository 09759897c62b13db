package graft.oracle

import graft.model.CollStats
import graft.query._

/** Single-threaded reimplementation of the reference retrieval semantics
  * (test oracle — SURVEY.md §5). Operates on fully materialized in-memory
  * lists like the reference engine itself; every operator follows the
  * cited reference code paths, written independently of the Spark engine
  * (separate merge/positional implementations) so agreement is evidence.
  */
object RefOracle {
  case class OPosting(docId: Long, tf: Int, dl: Int, positions: List[Int],
                      score: Double)
  /** cf/df/postings/default mirror InvertedList.scala:15. */
  case class OList(cf: Long, df: Long, postings: List[OPosting],
                   default: Double)

  val emptyList: OList = OList(0, 0, Nil, 0.0)

  type TermIndex = Map[(String, String), List[OPosting]] // unscored, docId asc

  /** Build the oracle index from (docId, field, text) triples. */
  def buildIndex(docs: Seq[(Long, String, String)]): TermIndex =
    docs.flatMap { case (id, field, text) =>
      val toks = graft.analysis.Tokenizer.tokenize(text)
      toks.zipWithIndex.groupBy(_._1).map { case (t, occ) =>
        ((t, field),
          OPosting(id, occ.length, toks.length, occ.map(_._2).toList, 0.0))
      }
    }.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sortBy(_.docId).toList }

  def collStats(index: TermIndex, field: String = "default"): CollStats = {
    val lists = index.collect { case ((_, f), ps) if f == field => ps }
    val docs = lists.flatten.map(_.docId).toSet
    val words = lists.flatten.map(_.tf.toLong).sum
    CollStats(docs.size, if (docs.isEmpty) 0 else words.toDouble / docs.size,
      lists.size, words)
  }
}

class RefOracle(index: RefOracle.TermIndex, val coll: CollStats,
                model: Model) {
  import RefOracle._
  private val scorer = new Scorer(model, coll)

  private def leaf(term: String, field: String): OList =
    index.get((term, field)) match {
      case None => emptyList
      case Some(ps) =>
        val df = ps.length.toLong
        val cf = ps.map(_.tf.toLong).sum
        val scored = ps.map { p =>
          val s = model match {
            case Bool(ranked) => if (ranked) p.tf.toDouble else 1.0
            case _            => scorer.termScore(cf, df, p.tf, p.dl)
          }
          p.copy(score = s)
        }
        OList(cf, df, scored, scorer.defaultScore(cf, df))
    }

  // --- Boolean pairwise merges (BooleanRetriever.scala:84-188) -----------
  private def conjunct(a: OList, b: OList): OList = {
    val bMap = b.postings.map(p => p.docId -> p).toMap
    val out = a.postings.flatMap { p =>
      bMap.get(p.docId).map(q =>
        OPosting(p.docId, -1, -1, Nil, math.min(p.score, q.score)))
    }
    OList(0, out.length, out, 0.0)
  }

  private def disjunct(a: OList, b: OList): OList = {
    val m = scala.collection.mutable.SortedMap.empty[Long, Double]
    a.postings.foreach(p => m(p.docId) = p.score)
    b.postings.foreach(p =>
      m(p.docId) = m.get(p.docId).map(math.max(_, p.score)).getOrElse(p.score))
    OList(0, 0, m.iterator.map { case (d, s) => OPosting(d, -1, -1, Nil, s) }.toList, 0.0)
  }

  // --- k-way union-with-defaults (MultimergeSturctured…:31-87) -----------
  private def multiwayMerge(lists: List[OList], weights: List[Double]): OList = {
    if (lists.isEmpty) return emptyList
    val zipped = lists.zip(weights)
    val combined = zipped.map { case (l, w) => l.default * w }.sum
    val docs = lists.flatMap(_.postings.map(_.docId)).distinct.sorted
    val maps = lists.map(_.postings.map(p => p.docId -> p.score).toMap)
    val out = docs.map { d =>
      var s = 0.0
      zipped.zip(maps).foreach { case ((l, w), m) =>
        s += (m.get(d) match {
          case Some(sc) => sc * w
          case None     => l.default * w
        })
      }
      OPosting(d, -1, -1, Nil, s)
    }
    OList(lists.map(_.cf).sum, 0, out, combined)
  }

  // --- NEAR (StructuredRetriever.scala:123-218), independent greedy ------
  private[graft] def nearPositions(p1: List[Int], p2: List[Int], k: Int): List[Int] =
    (p1, p2) match {
      case (h1 :: t1, h2 :: t2) =>
        if (h2 >= h1) {
          if (h2 - h1 <= k) h2 :: nearPositions(t1, t2, k)
          else nearPositions(t1, p2, k)
        } else nearPositions(p1, t2, k)
      case _ => Nil
    }

  private def near(a: OList, b: OList, k: Int): OList = {
    val bMap = b.postings.map(p => p.docId -> p).toMap
    val matched = a.postings.flatMap { p =>
      bMap.get(p.docId).flatMap { q =>
        val ms = nearPositions(p.positions, q.positions, k)
        if (ms.nonEmpty) Some(OPosting(p.docId, ms.length, p.dl, ms, 0.0))
        else None
      }
    }
    virtual(matched, uwEmptyRule = false)
  }

  // --- UW (MultimergeSturctured…:108-232), independent sweep -------------
  private[graft] def uwCount(lists: List[List[Int]], k: Int): Int = {
    var cur = lists.map(_.toArray)
    val idx = Array.fill(cur.length)(0)
    var matches = 0
    while (idx.indices.forall(i => idx(i) < cur(i).length)) {
      val vals = idx.indices.map(i => cur(i)(idx(i)))
      if (vals.max - vals.min <= k) {
        matches += 1
        idx.indices.foreach(i => idx(i) += 1)
      } else {
        val mn = vals.min
        idx.indices.foreach(i => if (cur(i)(idx(i)) == mn) idx(i) += 1)
      }
    }
    matches
  }

  private def uw(lists: List[OList], k: Int): OList = {
    val allDocs = lists.map(_.postings.map(_.docId).toSet).reduce(_ intersect _)
    val maps = lists.map(_.postings.map(p => p.docId -> p).toMap)
    val matched = allDocs.toList.sorted.flatMap { d =>
      val ps = maps.map(_(d))
      val m = uwCount(ps.map(_.positions), k)
      if (m > 0) Some(OPosting(d, m, ps.head.dl, Nil, 0.0)) else None
    }
    if (matched.map(_.tf.toLong).sum == 0) emptyList
    else virtual(matched, uwEmptyRule = true)
  }

  /** Two-pass virtual-term scoring (cf/df from the full match pass). */
  private def virtual(matched: List[OPosting], uwEmptyRule: Boolean): OList = {
    val cf = matched.map(_.tf.toLong).sum
    val df = matched.length.toLong
    if (uwEmptyRule && cf == 0) return emptyList
    val scored = matched.map(p =>
      p.copy(score = scorer.termScore(cf, df, p.tf, p.dl)))
    OList(cf, df, scored, scorer.defaultScore(cf, df))
  }

  // --- recursive evaluation (StructuredRetriever.scala:24-76) ------------
  def evaluate(node: QNode): OList = node match {
    case QLeaf(t, f, _) => leaf(t, f)
    case QInner(op, prox, kids, weights) =>
      val kept = kids.filterNot(_.isStopLeaf)
      if (kept.isEmpty) return emptyList
      val lists = kept.map(evaluate)
      op match {
        case QOp.OR => model match {
          case Bool(_) => lists.reduceLeft(disjunct)
          case _ => throw new UnsupportedOperationException("no OR")
        }
        case QOp.AND | QOp.SUM => model match {
          case Bool(_) => lists.reduceLeft(conjunct)
          case _       => multiwayMerge(lists, List.fill(lists.length)(1.0))
        }
        case QOp.WEIGHT => model match {
          case Indri(_, _, _) => multiwayMerge(lists, weights.take(lists.length))
          case _ => throw new UnsupportedOperationException("no WEIGHT")
        }
        case QOp.NEAR =>
          if (lists.length == 1) lists.head
          else lists.reduceLeft((a, b) => near(a, b, prox))
        case QOp.UW => uw(lists, prox)
      }
  }

  /** T1 rank: score desc / docId desc (ranked); docId desc, score 1
    * (unranked) — Retriever.scala:28-49.
    */
  def search(q: String, k: Int, parser: QueryParser): List[(Long, Double)] = {
    val ranked = model match { case Bool(r) => r; case _ => true }
    val ps = evaluate(parser.parse(q)).postings
    val sorted =
      if (ranked) ps.sortBy(p => (-p.score, -p.docId)).map(p => (p.docId, p.score))
      else ps.sortBy(p => -p.docId).map(p => (p.docId, 1.0))
    if (k >= 0) sorted.take(k) else sorted
  }
}
