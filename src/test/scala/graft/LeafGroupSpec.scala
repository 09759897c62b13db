package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.SyntheticCorpus
import graft.index._
import graft.oracle.RefOracle
import graft.query._
import scala.util.Random

/** A node's leaf children lowered as one scan must answer exactly as the
  * reference semantics: random queries of every operator class, flat and
  * nested, over a persistent store, against `RefOracle` — with leaves
  * listed twice, stop leaves, absent terms, mixed fields and `k1 = 0`
  * (the exact merge path). WAND must match the Engine on every bag it
  * accepts.
  */
class LeafGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-group").toString
    IndexStore.build(SyntheticCorpus.pages(spark, 300, 4).toDF(), d,
      BuildConf(numSlices = 1, numBuckets = 4, termBuckets = 8,
        shufflePartitions = 4))
    d
  }
  lazy val idx: ParquetIndex = IndexStore.open(spark, dir, 8)

  /** The oracle's index over the store's own docmap text (its docIds). */
  lazy val oracleIndex: RefOracle.TermIndex = {
    val docs = spark.read.parquet(s"$dir/docmap").select("docId", "text", "url")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    RefOracle.buildIndex(docs.toSeq.flatMap { case (id, text, url) =>
      IndexBuilder.fieldsOf(text, url).map { case (f, t) => (id, f, t) }
    })
  }
  lazy val coll = RefOracle.collStats(oracleIndex)

  private val Phrase = Seq("obama", "family", "tree", "french", "lick", "resort")
  private val Stop = Seq("the", "about")
  private val Absent = Seq("zzzmissing", "qqqabsent")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def term(r: Random): String = r.nextInt(10) match {
    case 0     => pick(r, Stop)
    case 1     => pick(r, Absent)
    case 2 | 3 => pick(r, Phrase)
    case _     => SyntheticCorpus.word(r.nextInt(200))
  }

  /** 2–4 leaves, one of them listed twice a third of the time. */
  private def leaves(r: Random, fields: Boolean): Seq[String] = {
    val ts = Seq.fill(2 + r.nextInt(3)) {
      val t = term(r)
      if (fields && r.nextBoolean()) t + pick(r, Seq("+title", "+body")) else t
    }
    if (r.nextInt(3) == 0) ts :+ ts.head else ts
  }

  private def prox(r: Random): String = {
    val k = 1 + r.nextInt(4)
    val ps = r.shuffle(Phrase).take(2 + r.nextInt(2))
    if (r.nextBoolean()) s"#near/$k(${ps.take(2).mkString(" ")})"
    else s"#uw/${k + 4}(${ps.mkString(" ")})"
  }

  /** (model, default operator, query) for one of the five operator classes
    * of the serving benchmark: bag, field, weight, bool and prox.
    */
  private def query(r: Random, cls: Int): (Model, QOp.Value, String) = {
    def ls(fields: Boolean = false) = leaves(r, fields).mkString(" ")
    cls match {
      case 0 => (BM25(), QOp.SUM, ls())
      case 1 => (BM25(), QOp.SUM, ls(fields = true))
      case 2 => (Indri(), QOp.AND, r.nextInt(3) match {
        case 0 => s"#and(${ls(fields = true)})"
        case 1 => s"#weight(0.${1 + r.nextInt(8)} ${term(r)} 0.5 #and(${ls()}))"
        case _ => s"#weight(0.6 #and(${ls()} ${prox(r)}) 0.4 #and(${ls(fields = true)}))"
      })
      case 3 => (Bool(), QOp.OR, r.nextInt(3) match {
        case 0 => s"#or(${ls()})"
        case 1 => s"#and(${term(r)} #or(${ls()}))"
        case _ => s"#or(#and(${ls(fields = true)}) ${ls()})"
      })
      case _ =>
        if (r.nextBoolean()) (BM25(), QOp.SUM, s"#sum(${prox(r)} ${ls()})")
        else (Indri(), QOp.AND, s"#and(${prox(r)} ${ls()})")
    }
  }

  private def sameScore(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def engineTopK(model: Model, op: QOp.Value, q: String,
                         k: Int): List[(Long, Double)] = {
    new Engine(idx, model).search(q, k, new QueryParser(defaultOp = op)).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"))).toList
  }

  private def checkOracle(model: Model, op: QOp.Value, q: String, k: Int): Unit = {
    val expected = new RefOracle(oracleIndex, coll, model)
      .search(q, k, new QueryParser(defaultOp = op))
    val got = engineTopK(model, op, q, k)
    assert(got.length == expected.length, s"[$model] '$q': $got vs $expected")
    got.zip(expected).zipWithIndex.foreach { case (((gd, gs), (ed, es)), i) =>
      assert(gd == ed && sameScore(gs, es),
        s"[$model] '$q' rank ${i + 1}: ($gd, $gs) vs oracle ($ed, $es)")
    }
  }

  test("the store's collection stats are the oracle's") {
    assert(idx.collStats == coll)
  }

  test("random queries of every operator class match the oracle rank for rank") {
    val r = new Random(20261017L)
    (0 until 30).foreach { i =>
      val (model, op, q) = query(r, i % 5)
      checkOracle(model, op, q, 20)
    }
  }

  test("k1 = 0 bags (exact merge path) match the oracle rank for rank") {
    val r = new Random(7L)
    (0 until 5).foreach { i =>
      val q = leaves(r, fields = i % 2 == 1).mkString(" ")
      checkOracle(BM25(0.0, 0.75), QOp.SUM, q, 20)
    }
  }

  test("WAND matches the Engine on every eligible bag") {
    val r = new Random(11L)
    val parser = new QueryParser(defaultOp = QOp.SUM)
    val bags = Seq.fill(12)(leaves(r, fields = false).mkString(" "))
      .flatMap(q => Wand.eligibleBag(parser.parse(q)).map(q -> _))
    assert(bags.length >= 8, s"only ${bags.length} eligible bags")
    bags.foreach { case (q, terms) =>
      val exact = engineTopK(BM25(), QOp.SUM, q, 10)
        .map { case (d, s) => (d, math.round(s * 1e9)) }
      val wand = Wand.bm25TopK(spark, idx, terms, "default", 10)
        .orderBy(col("score").desc, col("docId").desc).collect()
        .map(row => (row.getLong(0), math.round(row.getDouble(1) * 1e9))).toList
      assert(wand == exact, s"'$q'")
    }
  }
}
