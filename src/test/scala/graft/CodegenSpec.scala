package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.SyntheticCorpus
import graft.index._
import graft.model.CollStats
import graft.query._
import graft.query.expressions.DoubleParam

/** Serving-path generated code depends on a query's shape, not its terms
  * or weights: a shape that ran once hits Spark's codegen cache with any
  * other values. And the score columns that carry those values as
  * parameters compute exactly the driver-side scores.
  */
class CodegenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val idx: ParquetIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    IndexStore.build(SyntheticCorpus.pages(spark, 400, 4).toDF(), dir,
      BuildConf(numSlices = 2, numBuckets = 4, termBuckets = 8,
        shufflePartitions = 4))
    IndexStore.open(spark, dir, 8)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Runs `queries` (same shape, other terms and weights) after warming
    * the shape with the first one; asserts the rest compile nothing.
    */
  private def assertStable(shape: String, queries: Seq[String])(
      run: String => Unit): Unit = {
    run(queries.head)
    val c0 = compiles
    queries.tail.foreach(run)
    assert(compiles - c0 == 0, s"$shape recompiled for new terms/weights")
  }

  private def engineRun(model: Model, op: QOp.Value)(q: String): Unit = {
    val e = new Engine(idx, model)
    e.search(q, 10, new QueryParser(defaultOp = op)).collect()
  }

  test("BM25 bag via Wand compiles once per shape") {
    assertStable("wand bag", Seq("w3 w40 obama", "w5 w61 family", "w2 w77 tree")) {
      q => Wand.bm25TopK(spark, idx, q.split(' ').toSeq, "default", 10).collect()
    }
  }

  test("BM25 field bag compiles once per shape") {
    assertStable("field bag", Seq("w3+title w40+body", "w5+title w61+body")) {
      engineRun(BM25(), QOp.SUM)
    }
  }

  test("nested Indri #weight compiles once per shape") {
    assertStable("indri weight", Seq(
      "#weight(0.3 w3 0.7 #and(w40 obama))",
      "#weight(0.6 w5 0.4 #and(w61 family))")) {
      engineRun(Indri(), QOp.AND)
    }
  }

  test("ranked Boolean #and(#or) compiles once per shape") {
    assertStable("bool and-or", Seq("#and(w3 #or(w40 obama))",
      "#and(w5 #or(w61 family))")) {
      engineRun(Bool(), QOp.OR)
    }
  }

  test("#near compiles once per shape") {
    assertStable("near", Seq("#near/2(obama family)", "#near/2(french lick)")) {
      engineRun(BM25(), QOp.SUM)
    }
  }

  test("#near/#uw under a merge compile once per shape") {
    // a virtual term's stats reach its scores and its merge's default as
    // planned columns, never as literals in generated code
    assertStable("bm25 #sum(#near)", Seq("#sum(#near/2(obama family) w3)",
      "#sum(#near/2(french lick) w40)", "#sum(#near/2(lick resort) tree)")) {
      engineRun(BM25(), QOp.SUM)
    }
    assertStable("indri #and(#uw)", Seq("#and(#uw/6(obama family) w3)",
      "#and(#uw/6(french lick) w40)", "#and(#uw/6(lick resort) tree)")) {
      engineRun(Indri(), QOp.AND)
    }
    assertStable("uw", Seq("#uw/5(obama family)", "#uw/5(french resort)",
      "#uw/5(family tree)")) {
      engineRun(Indri(), QOp.AND)
    }
  }

  test("a wider bag reuses a narrower bag's classes at every union position") {
    // stage ids differ with the union's width; class names must not
    assertStable("bag widths", Seq("w4 w43", "w6 w67 tree", "w8 w71 obama w9")) {
      engineRun(BM25(), QOp.SUM)
    }
  }

  test("a 2-leaf and a 4-leaf group share their classes") {
    // a node reads its leaves in one scan; neither the term set nor the
    // per-leaf table may make the generated code depend on their number
    assertStable("bool #or width", Seq("#or(w3 w40)", "#or(w5 w61 w7 obama)",
      "#or(w2 family)")) { engineRun(Bool(), QOp.OR) }
    assertStable("indri #and width", Seq("#and(w3 w40)",
      "#and(w5 w61 w7 obama)", "#and(w2 family)")) { engineRun(Indri(), QOp.AND) }
    assertStable("field bag width", Seq("w3+title w40+body",
      "w5+title w61+body w7+title obama+body", "w2+body family+title")) {
      engineRun(BM25(), QOp.SUM)
    }
  }

  // ------------------------------------------------------- bit identity

  private val coll = CollStats(docCount = 1000, avgDocLen = 123.7,
    vocabSize = 5000, wordCount = 123700)

  /** (cf, df) per model: BM25 includes df > N/2 (negative idf), Indri
    * includes cf = df = 0, where tf = 0 postings hit w == 0 → MIN_VALUE.
    */
  private val cases: Seq[(Model, Seq[(Long, Long)])] = Seq(
    BM25() -> Seq((5L, 3L), (900L, 700L), (50000L, 999L)),
    BM25(0.9, 0.5) -> Seq((12L, 7L), (4000L, 800L)),
    Indri() -> Seq((0L, 0L), (17L, 9L), (60000L, 800L)),
    Indri(0.7, 1500.0, wordBasedPrior = false) -> Seq((0L, 0L), (33L, 21L)))

  private def assertBitIdentical(): Unit = {
    val postings = spark.range(0, 2000).select(
      (col("id") % 41).cast("int").as("tf"),
      (col("id") * 7919 % 1999 + 1).cast("int").as("dl"))
    cases.foreach { case (model, stats) =>
      val scorer = new Scorer(model, coll)
      stats.foreach { case (cf, df) =>
        val (p1, p2) = scorer.termParams(cf, df)
        val p = (DoubleParam.column(p1), DoubleParam.column(p2))
        val rows = postings.select(col("tf"), col("dl"),
          scorer.termScoreCol(p, col("tf"), col("dl")).as("score")).collect()
        rows.foreach { r =>
          val (tf, dl, got) = (r.getInt(0), r.getInt(1), r.getDouble(2))
          val want = scorer.termScore(cf, df, tf, dl.toDouble)
          assert(got == want, s"$model cf=$cf df=$df tf=$tf dl=$dl: $got vs $want")
        }
        if (model.isInstanceOf[Indri] && cf == 0L)
          assert(rows.exists(_.getDouble(2) == Integer.MIN_VALUE.toDouble))
      }
    }
  }

  test("score columns equal termScore bit for bit (whole-stage codegen)") {
    withConf("spark.sql.codegen.wholeStage" -> "true")(assertBitIdentical())
  }

  test("score columns equal termScore bit for bit (interpreted)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertBitIdentical())
  }
}
