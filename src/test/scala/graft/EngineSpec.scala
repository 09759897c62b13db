package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.SyntheticCorpus
import graft.index.{FieldDoc, IndexBuilder}
import graft.oracle.RefOracle
import graft.query._

/** Rank-identity gate: the Spark engine must match the single-threaded
  * reference-semantics oracle on a synthetic corpus, for every model and
  * operator — top-k docIds rank-identical, scores equal to 1e-9.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val NumDocs = 300

  lazy val fieldDocTriples: Seq[(Long, String, String)] =
    (0L until NumDocs).flatMap { i =>
      val pg = SyntheticCorpus.page(i)
      val nl = pg.text.indexOf('\n')
      val (title, body) = (pg.text.substring(0, nl), pg.text.substring(nl + 1))
      Seq((i, "default", pg.text), (i, "title", title), (i, "body", body))
    }

  lazy val index: graft.index.DfIndex = {
    import spark.implicits._
    val fd = spark.createDataset(
      fieldDocTriples.map { case (i, f, t) => FieldDoc(i, f, t) })
    IndexBuilder.inMemory(IndexBuilder.buildPostings(fd))
  }

  lazy val oracleIndex = RefOracle.buildIndex(fieldDocTriples)
  lazy val oracleColl = RefOracle.collStats(oracleIndex)

  def check(model: Model, defaultOp: QOp.Value, queries: Seq[String],
            k: Int = 50): Unit = {
    val parser = new QueryParser(defaultOp = defaultOp)
    val engine = new Engine(index, model)
    val oracle = new RefOracle(oracleIndex, oracleColl, model)
    queries.foreach { q =>
      val expected = oracle.search(q, k, parser)
      val got = engine.search(q, k, parser).collect()
        .sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"))).toList
      assert(got.length == expected.length,
        s"[$model] '$q': ${got.length} rows vs oracle ${expected.length}")
      got.zip(expected).zipWithIndex.foreach { case (((gd, gs), (ed, es)), i) =>
        assert(gd == ed,
          s"[$model] '$q' rank ${i + 1}: docId $gd vs oracle $ed (got=$got expected=$expected)")
        assert(math.abs(gs - es) <= 1e-9 * math.max(1.0, math.abs(es)),
          s"[$model] '$q' rank ${i + 1}: score $gs vs oracle $es")
      }
    }
  }

  // engine and oracle stats computed through different code paths
  test("collection stats agree") {
    assert(index.collStats == oracleColl)
  }

  val bowQueries = Seq(
    "obama family tree",
    "french lick resort",
    "w0 w1 w2",
    "w17 w333 obama",
    "w4",
    "zzzmissing w0",
    "the obama about family") // stopword pruning

  val structuredCommon = Seq(
    "#near/1(obama family)",
    "#near/2(family tree)",
    "#near/0(obama family)",
    "#near/6(french lick)",
    "#near/2(w0 w1)",
    "#near/3(obama zzzmissing)",
    "#uw/2(obama family)",
    "#uw/6(obama family tree)",
    "#uw/8(french resort)",
    "#uw/1(w0)",
    "#and(obama #near/2 (family tree))", // childless-NEAR parser quirk
    "#and(#near/2(family tree) obama)",
    "#and(obama family)",
    "#near/2(#and(obama family) tree)") // positional over merged: empty

  test("BM25 matches oracle") {
    check(BM25(), QOp.SUM, bowQueries ++ structuredCommon ++ Seq(
      "#sum(obama family tree)",
      "#sum(obama+title family+body)",
      "#and(w0+title w1+title)",
      "#sum(w1 w1 w1)")) // duplicate children
  }

  test("Indri matches oracle") {
    check(Indri(), QOp.AND, bowQueries ++ structuredCommon ++ Seq(
      "#weight(0.5 obama 0.4 family 0.1 tree)",
      "#weight(0.7 #and(obama family) 0.3 tree)",
      "#weight(0.8 the 0.2 obama)", // stop child → weight misalignment quirk
      "#weight( 0.8 #and( obama family tree ) 0.1 #and( #near/3( family tree )  #near/3( obama family ) ) 0.1 #and( #uw/6( family tree )  #uw/6( obama family ) ) )",
      "#weight(0.6 #uw/4(zzzmissing obama) 0.4 family)")) // empty-UW default rule
  }

  test("Boolean ranked matches oracle") {
    check(Bool(ranked = true), QOp.OR, bowQueries ++ Seq(
      "#and(obama family tree)",
      "#or(obama family tree)",
      "#or(#and(obama family) tree)",
      "#and(w0 w1 w2 w3)",
      "#near/2(obama family)",
      "#and(obama zzzmissing)",
      "#or(obama zzzmissing)"))
  }

  test("Boolean unranked matches oracle") {
    check(Bool(ranked = false), QOp.OR, Seq(
      "obama family", "#and(obama family)", "#near/1(obama family)"))
  }

  test("Indri scorer MIN_VALUE rule for zero-weight") {
    val s = new Scorer(Indri(), oracleColl)
    assert(s.termScore(0, 0, 0, 100.0) == Integer.MIN_VALUE.toDouble)
  }

  test("BM25 parameter sweep (k1/b variants) matches oracle") {
    Seq(BM25(0.9, 0.5), BM25(0.0, 0.75), BM25(20.0, 1.0), BM25(1.2, 0.0))
      .foreach { m =>
        check(m, QOp.SUM, Seq("obama family tree", "w0 w1",
          "#sum(#near/2(family tree) obama)",
          "#sum(#uw/4(zzzmissing obama) family)"), k = 20)
      }
  }

  /** Jobs started while `body` runs on this thread (tagged through a local
    * property; a tagged sentinel job marks when the listener has seen
    * every earlier event).
    */
  private def jobsDuring[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val key = "graft.test.phase"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("sentinel") => seen.countDown()
          case _ =>
        }
    }
    def tagged[A](phase: String)(f: => A): A = {
      sc.setLocalProperty(key, phase)
      try f finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged("body")(body)
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }

  test("#near/#uw lowering runs no job and no query leaves a cached frame") {
    def cachedFrames = org.apache.spark.sql.CachedFrames.count(spark)
    Seq(BM25() -> QOp.SUM, Indri() -> QOp.AND).foreach { case (model, op) =>
      val parser = new QueryParser(defaultOp = op)
      Seq("#near/2(family tree)", "#uw/6(obama family tree)",
          "#sum(#near/2(family tree) obama)").foreach { q =>
        val engine = new Engine(index, model)
        val root = parser.parse(q)
        index.prefetchStats(engine.collectLeaves(root))
        val cached = cachedFrames
        val (jobs, lowered) = jobsDuring(engine.lower(root))
        assert(jobs == 0, s"[$model] '$q': lowering ran $jobs Spark jobs")
        assert(engine.search(q, 10, parser).collect().nonEmpty)
        assert(lowered.df.collect().nonEmpty)
        assert(cachedFrames == cached,
          s"[$model] '$q' left ${cachedFrames - cached} cached frames")
      }
    }
  }

  test("Indri documentBased prior matches oracle") {
    check(Indri(wordBasedPrior = false), QOp.AND,
      Seq("obama family", "#weight(0.6 obama 0.4 tree)"), k = 20)
  }

  test("unknown field (+anchor) behaves as a missing list") {
    check(BM25(), QOp.SUM, Seq("obama+anchor family", "obama+anchor"), k = 20)
  }

  test("generated SDM and mixture-of-fields queries match oracle") {
    val sdm = graft.query.SdmGen.expand("obama family tree")
    val sdm2 = graft.query.SdmGen.expand("the french about lick")
    val mr = graft.query.SdmGen.mixtureOfFields("obama family",
      Seq("title" -> 0.3, "body" -> 0.6, "anchor" -> 0.1))
    check(Indri(), QOp.AND, Seq(sdm, sdm2), k = 30)
    check(Indri(), QOp.AND, Seq(mr), k = 30)
    // shape sanity: reference sdm.txt:1 spelling (dm.pl emits bigrams
    // last-pair-first; GoldensSpec pins all 30 lines byte-for-byte)
    assert(sdm.startsWith("#weight( 0.8 #and( obama family tree ) 0.1 #and( #near/3( family tree )  #near/3( obama family )"))
    // the q_ir_sdm gate builds its query with this call: pin its bytes
    assert(graft.query.SdmGen.expand("key value", nearK = 1, uwK = 8) ==
      "#weight( 0.8 #and( key value ) 0.1 #and( #near/1( key value ) ) 0.1 #and( #uw/8( key value ) ) )")
  }
}
