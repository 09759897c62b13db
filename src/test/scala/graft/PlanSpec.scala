package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Pins the PHYSICAL PLAN SHAPE of the scale-critical operators — the
  * properties that make them survive a 100× scale-up. A correctness-green
  * change that reintroduces a cartesian join or un-pushes the point-lookup
  * filters fails here, not in production.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("gated dedup/similarity plans contain no all-pairs join") {
    // LSH-bucketed embedding dedup: equi-join on (table, bucket) only
    val dup = Similarity.embeddingDups(emb, 0.35, useLsh = true, nBits = 8)
    val p1 = planOf(dup)
    assert(!p1.contains("CartesianProduct"), p1)
    assert(!p1.contains("BroadcastNestedLoopJoin"), p1)

    // shingle-inverted jaccard: equi-join on shingle
    val jac = Dedup.ngramJaccard(docs, w = 3, threshold = 0.5)
    val p2 = planOf(jac)
    assert(!p2.contains("CartesianProduct"), p2)
    assert(!p2.contains("BroadcastNestedLoopJoin"), p2)

    // banded signature joins
    Seq(planOf(Dedup.minhashLsh(docs, 3, 32, 8, 0.3)),
        planOf(Dedup.simhashPairs(docs, maxHamming = 8))).foreach { p =>
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("brute ANN scores through the native cosine expression, no UDF") {
    // cosine_f is a Catalyst expression: the candidate-scoring projection
    // must stay inside whole-stage codegen; a ScalaUDF in the plan would
    // break the span at every candidate pair (the pre-r4 shape)
    val p = planOf(Similarity.bruteTopK(emb, Seq(0L, 1L), 5))
    assert(p.contains("cosine_f"), p)
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("), p)
  }

  test("minhash signature generation is shuffle-free") {
    // sig = UDF over the per-row distinct-shingle array: a projection,
    // never an explode→groupBy round trip (that shuffle was every shingle
    // string moving just to undo the explode). The only exchange allowed
    // is TextAnalysis.fanOut's explicit REPARTITION_BY_NUM of the small
    // doc rows (the parallelism floor for single-row-group inputs) —
    // any planner-inserted ENSURE_REQUIREMENTS exchange still fails.
    val p = planOf(Dedup.minhashSignatures(docs, 3, 32))
    val shuffles = "Exchange [^\n]*".r.findAllIn(p).toList
    assert(shuffles.forall(_.contains("REPARTITION_BY_NUM")), p)
  }

  test("sampling ops are pure scan-stage projections/filters (no shuffle)") {
    val p1 = planOf(Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5), 0.25, 42L))
    assert(!p1.contains("Exchange"), p1)
    val p2 = planOf(Sampling.mixtureSample(docs, "doc_id", "source",
      Map("src0" -> 2.5), 1.0, 7L))
    assert(!p2.contains("Exchange"), p2)
  }

  test("context packing shuffles exactly once (by shard), not globally") {
    val p = planOf(Packing.packContexts(docs, 512))
    // one hashpartitioning exchange for the per-shard window; a GLOBAL
    // window (the scale bug this guards against) would show a
    // SinglePartition exchange instead
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("ranked top-k lowers to TakeOrdered (bounded heap), not a full sort") {
    val idx = gate.IndexCache.documentsIndex(spark, sf)
    val e = new graft.query.Engine(idx, graft.query.BM25())
    val parser = new graft.query.QueryParser(defaultOp = graft.query.QOp.SUM)
    val p = planOf(e.search("key value spark", 10, parser))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("persistent-store point lookups prune partitions and push filters") {
    val dir = java.nio.file.Files.createTempDirectory("plan-store").toString
    val pages = graft.corpus.SyntheticCorpus.pages(spark, 2000, 4).toDF()
    graft.index.IndexStore.build(pages, dir,
      graft.index.BuildConf(numSlices = 1, numBuckets = 4, termBuckets = 8,
        shufflePartitions = 4))
    val idx = graft.index.IndexStore.open(spark, dir, 8)
    val scan = idx.segmentsOf("w1", "default")
    val ps = scan.queryExecution.executedPlan.toString
    // partition dirs (field, tb) pruned at plan time; term filter pushed
    // into the parquet scan (a term set: the batch lookup's one predicate)
    assert(ps.contains("PartitionFilters") &&
      (ps.contains("isnotnull(field") || ps.contains("field#")), ps)
    assert(ps.contains("PushedFilters") && ps.contains("In(term, [w1])"), ps)
  }

  lazy val store: graft.index.ParquetIndex = {
    val dir = java.nio.file.Files.createTempDirectory("plan-group").toString
    graft.index.IndexStore.build(
      graft.corpus.SyntheticCorpus.pages(spark, 600, 4).toDF(), dir,
      graft.index.BuildConf(numSlices = 1, numBuckets = 4, termBuckets = 8,
        shufflePartitions = 4))
    graft.index.IndexStore.open(spark, dir, 8)
  }

  /** Parquet scans of the store's segments table in a query's plan. */
  def segmentScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "segments") => s
    }.length

  test("a node's leaf children plan one segments scan, terms pushed as one set") {
    import graft.query._
    val boolEngine = new Engine(store, Bool())
    val p = new QueryParser(defaultOp = QOp.OR)
    val flat = boolEngine.search("#or(w1 w2 obama family)", 10, p)
    assert(segmentScans(flat) == 1, planOf(flat))
    val pushed = "In\\(term, \\[([^\\]]*)\\]".r.findFirstMatchIn(planOf(flat))
      .map(_.group(1).split(",").map(_.trim).toSet)
    assert(pushed == Some(Set("w1", "w2", "obama", "family")), planOf(flat))
    val nested = boolEngine.search("#and(w1 #or(w2 obama))", 10, p)
    assert(segmentScans(nested) == 2, planOf(nested))
    val bag = Wand.bm25TopK(spark, store, Seq("w1", "w2", "obama", "family"),
      "default", 10)
    assert(segmentScans(bag) == 1, planOf(bag))
  }

  test("termStat dictionary lookups are driver-local (zero Spark jobs)") {
    val dir = java.nio.file.Files.createTempDirectory("stats-store").toString
    val pages = graft.corpus.SyntheticCorpus.pages(spark, 2000, 4).toDF()
    graft.index.IndexStore.build(pages, dir,
      graft.index.BuildConf(numSlices = 1, numBuckets = 4, termBuckets = 8,
        shufflePartitions = 4))
    // Spark-path reference values from a fresh reader
    val ref = graft.index.IndexStore.open(spark, dir, 8)
    val terms = Seq("w0", "w1", "w17", "obama", "nosuchterm9")
    val viaSpark = terms.map(t => t -> {
      val rows = spark.read.parquet(s"$dir/termstats")
        .filter(col("term") === t && col("field") === "default")
        .select("df", "cf").collect()
      if (rows.isEmpty) (0L, 0L) else (rows(0).getLong(0), rows(0).getLong(1))
    }).toMap
    // count jobs scheduled while the driver-local path resolves the same
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val idx = graft.index.IndexStore.open(spark, dir, 8)
      val viaLocal = terms.map(t => t -> idx.termStat(t, "default")).toMap
      // listener bus is async — give queued events a moment to drain
      Thread.sleep(1500)
      assert(viaLocal === viaSpark)
      assert(viaLocal("w0")._1 > 0L) // present term really resolved
      assert(viaLocal("nosuchterm9") === ((0L, 0L)))
      assert(jobs.get() === 0,
        s"termStat scheduled ${jobs.get()} Spark jobs; must be driver-local")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pii redaction is a pure scan-stage projection (no shuffle, no UDF)") {
    val p = planOf(Pii.redact(docs))
    assert(!p.contains("Exchange"), p)
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("), p)
  }

  test("tfidf and lm-xent stay UDF-free and join on keys, never all-pairs") {
    // the single crossJoin in each is the broadcast of a 1-row totals
    // frame — a BroadcastNestedLoopJoin with one build row is a constant,
    // not an all-pairs risk; anything beyond that one is a regression
    Seq(planOf(TextAnalysis.tfidfKeywords(docs, 5)),
        planOf(TextAnalysis.lmCrossEntropy(docs))).foreach { p =>
      assert(!p.contains("CartesianProduct"), p)
      assert(p.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin") <= 1, p)
      assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("), p)
    }
    OpScratch.release()
  }
}
