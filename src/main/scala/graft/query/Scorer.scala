package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.CollStats

/** Retrieval models. Parameter defaults are the reference baselines
  * (reference: conf/bm25.properties:32-35, conf/indri.properties:24-28).
  */
sealed trait Model
case class BM25(k1: Double = 1.2, b: Double = 0.75) extends Model
case class Indri(lambda: Double = 0.4, mu: Double = 2500.0,
                 wordBasedPrior: Boolean = true) extends Model
case class Bool(ranked: Boolean = true) extends Model

/** Per-posting scoring, as both driver-side doubles (for term parameters,
  * default scores and the test oracle) and Catalyst column expressions
  * (whole-stage-codegen'd arithmetic over the postings scan — no UDF in the
  * hot path).
  *
  * Semantics pinned to the reference termScorers:
  *  - BM25 (reference: yairs/retrieval/BM25Retriever.scala:52-57):
  *    log10((N-df+0.5)/(df+0.5)) * tf / (tf + k1*((1-b) + b*dl/avgdl)) —
  *    note NO (k1+1) numerator and NO idf clamp (idf < 0 when df > N/2).
  *  - Indri two-level smoothing (reference:
  *    yairs/retrieval/IndriRetriever.scala:38-55): prior = cf/totalWords
  *    (wordBased) or df/N; w = λ(tf + μ·prior)/(dl + μ) + (1-λ)·prior;
  *    score = log10(w), with w == 0 → Integer.MIN_VALUE.
  *  - Boolean (reference: yairs/retrieval/BooleanRetriever.scala:38 and
  *    yairs/model/InvertedList.scala:98-101): leaf score = tf if ranked
  *    else 1.0; the virtual-term scorer (used by NEAR rescoring) is the
  *    identity on tf regardless of ranked.
  */
class Scorer(val model: Model, val stats: CollStats) extends Serializable {
  private val n = stats.docCount.toDouble
  private val avgdl = stats.avgDocLen
  private val totalWords = stats.wordCount.toDouble

  /** Score of one posting of a term with collection stats (cf, df). */
  def termScore(cf: Long, df: Long, tf: Int, dl: Double): Double = {
    val (p1, p2) = termParams(cf, df)
    model match {
      case BM25(k1, b) =>
        p1 * tf / (tf + k1 * ((1 - b) + b * dl / avgdl))
      case Indri(lambda, mu, _) =>
        val w = lambda * (tf + p1) / (dl + mu) + p2
        // StrictMath: the log10 Spark's column evaluates (Math.log10 may be
        // an intrinsic that differs in the last bit)
        if (w == 0.0) Integer.MIN_VALUE.toDouble else StrictMath.log10(w)
      case Bool(_) => tf.toDouble
    }
  }

  /** The two per-term doubles [[termScoreCol]] takes, derived from
    * (cf, df): BM25 (idf, unused); Indri (μ·prior, (1−λ)·prior); Boolean
    * (unused, unused).
    */
  def termParams(cf: Long, df: Long): (Double, Double) = model match {
    case BM25(_, _) => (math.log10((n - df + 0.5) / (df + 0.5)), 0.0)
    case Indri(lambda, mu, wordBased) =>
      val prior = if (wordBased) cf / totalWords else df / n
      (mu * prior, (1 - lambda) * prior)
    case Bool(_) => (0.0, 0.0)
  }

  /** Same formula as a column over (tf, dl), bit-identical to
    * [[termScore]]: the same double operations in the same order. The
    * per-term doubles `p` ([[termParams]]) are columns, so every term
    * shares one generated class as long as they reach generated code
    * through `references` (a
    * [[graft.query.expressions.DoubleParam]] or a literal table lookup),
    * not as inlined literals; per-store constants stay literals.
    */
  def termScoreCol(p: (Column, Column), tf: Column, dl: Column): Column =
    model match {
      case BM25(k1, b) =>
        p._1 * tf.cast("double") /
          (tf.cast("double") + lit(k1) *
            (lit(1 - b) + lit(b) * dl.cast("double") / lit(avgdl)))
      case Indri(lambda, mu, _) =>
        val w = lit(lambda) * (tf.cast("double") + p._1) /
          (dl.cast("double") + lit(mu)) + p._2
        when(w === 0.0, lit(Integer.MIN_VALUE.toDouble)).otherwise(log10(w))
      case Bool(_) => tf.cast("double")
    }

  /** Leaf read-time score (reference scores postings once at scan and
    * reuses them through all merges — InvertedList.scala:148).
    */
  def leafScoreCol(p: (Column, Column), tf: Column, dl: Column): Column =
    model match {
      case Bool(ranked) => if (ranked) tf.cast("double") else lit(1.0)
      case _            => termScoreCol(p, tf, dl)
    }

  /** Default score of a term absent from a doc: tf=0, dl=avgdl (reference:
    * yairs/model/InvertedList.scala:73-76,152-155). Boolean lists carry
    * defaultScore 0 (InvertedList.scala:104).
    */
  def defaultScore(cf: Long, df: Long): Double = model match {
    case Bool(_) => 0.0
    case _       => termScore(cf, df, 0, avgdl)
  }

  /** Whether [[defaultScore]] is finite for every (cf, df) a collection
    * can give, which the model and collection decide alone. BM25's default
    * is 0·idf / (k1·((1 − b) + b·avgdl/avgdl)) with a finite idf: NaN
    * exactly when that divisor is 0 or NaN (k1 = 0). Indri's is log10 of
    * w = λ·μ·prior/(avgdl + μ) + (1 − λ)·prior, or MIN_VALUE at w = 0;
    * with 0 ≤ λ ≤ 1, a finite μ ≥ 0 and words in the collection, the
    * prior lies in [0, 1] and w is finite and non-negative.
    */
  val defaultsFinite: Boolean = model match {
    case BM25(k1, b) =>
      val norm = k1 * ((1 - b) + b * avgdl / avgdl)
      norm != 0.0 && !norm.isNaN
    case Indri(lambda, mu, _) =>
      lambda >= 0 && lambda <= 1 && mu >= 0 && !mu.isInfinite && totalWords > 0
    case Bool(_) => true
  }
}
