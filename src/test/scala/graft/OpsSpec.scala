package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Pins the signature-based training-data ops that have no SQL oracle:
  * MinHash-LSH vs exact Jaccard, LSH ANN recall vs brute force, SimHash
  * self/near properties, multimodal plumbing round trips.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** Documents plus exact duplicates and near-duplicates planted, so dedup
    * ops have known positives (the raw synthetic table has none).
    */
  lazy val docsWithDups = {
    val base = docs.select("doc_id", "text")
    val exactDup = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val nearDup = base.filter(col("doc_id") >= 5 && col("doc_id") < 10)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" tail extra token")).as("text"))
    base.union(exactDup).union(nearDup)
  }

  test("exact dedup finds planted duplicates") {
    val groups = Dedup.exact(docsWithDups).filter(col("n_docs") > 1).collect()
    assert(groups.length == 5)
    assert(groups.forall(_.getAs[Long]("keep_id") < 5))
  }

  test("minhash estimate tracks exact jaccard on planted near-dups") {
    val exact = Dedup.ngramJaccard(docsWithDups, w = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = Dedup.minhashLsh(docsWithDups, w = 3, numHashes = 32,
      bands = 8, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // planted near-dups (docX vs docX+20000) must be caught by both
    val planted = exact.keys.filter { case (a, b) => b - a == 20000L }
    assert(planted.nonEmpty)
    planted.foreach { k =>
      assert(est.contains(k), s"minhash missed planted pair $k")
      assert(math.abs(est(k) - exact(k)) < 0.35,
        s"estimate ${est(k)} far from exact ${exact(k)} for $k")
    }
    // exact duplicates estimate 1.0
    val dupPairs = est.filter { case ((a, b), _) => b - a == 10000L }
    assert(dupPairs.nonEmpty && dupPairs.values.forall(_ == 1.0))
  }

  test("simhash: identical docs share hash; near-dups within small hamming") {
    val sh = Dedup.simhash(docsWithDups).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(i => assert(sh(i) == sh(i + 10000)))
    val ham = (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b)
    (5L until 10L).foreach(i =>
      assert(ham(sh(i), sh(i + 20000)) <= 8, s"doc $i vs near-dup"))
    val pairs = Dedup.simhashPairs(docsWithDups, maxHamming = 8).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach(i => assert(pairSet.contains((i, i + 10000))))
  }

  test("simhashPairs is recall-complete: banded output == brute force") {
    // the contract: output = EXACTLY the pairs with Hamming ≤ maxHamming
    // (banding with maxHamming+1 disjoint bands guarantees candidate
    // recall by pigeonhole; the hamming filter removes false positives)
    val sh = Dedup.simhash(docsWithDups).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    for (maxH <- Seq(0, 3, 8, 12)) {
      val brute = (for {
        (ida, ha) <- sh; (idb, hb) <- sh
        if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= maxH
      } yield (ida, idb)).toSet
      val banded = Dedup.simhashPairs(docsWithDups, maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute,
        s"maxHamming=$maxH: missed ${brute -- banded}, extra ${banded -- brute}")
    }
  }

  /** LSH is a near-neighbor structure: on planted near-duplicate vectors
    * (cosine ≈ 1) it must achieve near-perfect recall; on uniformly random
    * "neighbors" (cosine ≈ 0.3 here) no LSH can — so that is exercised
    * only as the multi-table > single-table recall direction.
    */
  test("LSH ANN finds planted near-duplicate vectors") {
    val perturbed = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000).as("vec_id"),
        expr("transform(embedding, x -> float(x * 1.0001 + 0.0001))")
          .as("embedding"))
    val withDups = emb.select("vec_id", "embedding").union(perturbed)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val lsh = Similarity.lshTopK(withDups, qids, 3, nBits = 8, nTables = 6)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    qids.foreach { q =>
      assert(lsh.get(q).contains(q + 9000),
        s"query $q: nearest should be planted dup, got ${lsh.get(q)}")
    }
    // multi-table union recall vs brute force is monotone in tables
    val brute = Similarity.bruteTopK(emb, qids, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(tables: Int): Double = {
      val got = Similarity.lshTopK(emb, qids, 10, nBits = 6, nTables = tables)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    assert(recall(8) >= recall(1))
  }

  test("IVF ANN finds planted near-duplicate vectors; candidates bounded") {
    val perturbed = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000).as("vec_id"),
        expr("transform(embedding, x -> float(x * 1.0001 + 0.0001))")
          .as("embedding"))
    val withDups = emb.select("vec_id", "embedding").union(perturbed)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    // a near-identical vector lands in the same coarse cell, so rank 1
    // must be the planted duplicate at any nProbe
    val ivf = Similarity.ivfTopK(withDups, qids, 3, nCentroids = 8,
      nProbe = 1, iters = 2, trainN = 256L)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    qids.foreach { q =>
      assert(ivf.get(q).contains(q + 9000),
        s"query $q: nearest should be planted dup, got ${ivf.get(q)}")
    }
    // recall vs brute force is monotone in nProbe; full probe == brute
    val brute = Similarity.bruteTopK(emb, qids, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(nProbe: Int): Double = {
      val got = Similarity.ivfTopK(emb, qids, 10, nCentroids = 8,
        nProbe = nProbe, iters = 2, trainN = 256L).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val r8 = recall(8)
    assert(r8 == 1.0, s"probing all cells must equal brute force, got $r8")
    assert(recall(2) <= r8)
  }

  test("semDedup drops planted near-duplicates, keeps lowest id, never crosses cells") {
    val perturbed = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 9000).as("vec_id"),
        expr("transform(embedding, x -> float(x * 1.0001 + 0.0001))")
          .as("embedding"))
    val withDups = emb.select("vec_id", "embedding").union(perturbed)
    val out = Similarity.semDedup(withDups, threshold = 0.95,
      nCentroids = 8, iters = 2, trainN = 256L).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cidx"), r.getAs[Boolean]("keep"))).toMap
    assert(out.size == 505, "one row per input vector")
    // each planted copy is ~identical to its source → same cell, dropped;
    // the source (lower id) survives
    (0L until 5L).foreach { v =>
      assert(out(v)._2, s"original $v must keep")
      assert(!out(v + 9000)._2, s"planted dup of $v must drop")
      assert(out(v)._1 == out(v + 9000)._1, "dup pair shares a cell")
    }
    // exact replay of the keep rule on the driver: dropped iff some
    // lower-id same-cell vector is >= threshold cosine-similar
    val vecs = withDups.orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (xy, xx, yy) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { xy += a(i)*b(i); xx += a(i)*a(i); yy += b(i)*b(i); i += 1 }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val byCell = out.toSeq.groupBy(_._2._1)
    byCell.foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      ids.foreach { v =>
        val expected = !ids.exists(u => u < v && cos(vecs(u), vecs(v)) >= 0.95)
        assert(out(v)._2 == expected, s"keep($v) mismatch vs exact replay")
      }
    }
  }

  test("int8 IVF candidate scan: result identical to float IVF, fewer bytes scanned") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val float = rows(Similarity.ivfTopK(emb, qids, 10,
      nCentroids = 8, nProbe = 2, iters = 2, trainN = 256L))
    val q8 = rows(Similarity.ivfTopKQ8(emb, qids, 10,
      nCentroids = 8, nProbe = 2, iters = 2, trainN = 256L, rerank = 4))
    assert(q8 == float,
      "q8 prefilter + float rerank must reproduce the exact-cosine IVF top-k")

    // bytes-scanned: materialize the q8 store (vec_id, cidx, q) and the
    // float-scan equivalent (vec_id, cidx, embedding) as parquet, run the
    // SAME query against each, and compare the scan stages' bytes read
    val work = java.nio.file.Files.createTempDirectory("q8-store")
    val q8Path = s"$work/q8"
    val fpPath = s"$work/fp"
    // compression + dictionary OFF on both sides: the synthetic
    // embeddings draw from few distinct values, so parquet dictionaries
    // crush float and int8 columns alike — an artifact real high-entropy
    // embedding floats don't have. Raw encoding widths (4 B/dim vs
    // 1 B/dim) are the claim being measured.
    val store = Similarity.q8IvfStore(emb, nCentroids = 8, iters = 2,
      trainN = 256L)
    store.write.option("compression", "none")
      .option("parquet.enable.dictionary", "false").parquet(q8Path)
    // the float store carries the float vectors where q8 carries int8
    Similarity.q8IvfStore(emb, nCentroids = 8, iters = 2, trainN = 256L)
      .select(col("vec_id"), col("cidx")).join(emb
        .select(col("vec_id"), col("embedding")), "vec_id")
      .write.option("compression", "none")
      .option("parquet.enable.dictionary", "false").parquet(fpPath)
    var bytesRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytesRead += te.taskMetrics.inputMetrics.bytesRead
    }
    spark.sparkContext.addSparkListener(listener)
    def measure(f: => Unit): Long = {
      // the listener bus is async (and private) — a short settle sleep
      // around each measured block keeps task-end events attributed
      Thread.sleep(500)
      bytesRead = 0L
      f
      Thread.sleep(500)
      bytesRead
    }
    try {
      val fromStore = measure {
        val got = rows(Similarity.ivfTopKQ8(emb, qids, 10, nCentroids = 8,
          nProbe = 2, iters = 2, trainN = 256L, rerank = 4,
          store = Some(spark.read.parquet(q8Path))))
        assert(got == float, "q8 from a materialized store diverged")
      }
      // the storage claim proper: on-disk bytes of the two stores the
      // candidate scan would read (same id/cell columns both sides; the
      // vector column differs — 1 B/dim binary vs 4 B/dim float)
      def dirBytes(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.length).sum
      }
      val q8Bytes = dirBytes(q8Path)
      val fpBytes = dirBytes(fpPath)
      assert(q8Bytes > 0 && fpBytes > 0 && fromStore > 0)
      assert(q8Bytes * 2 < fpBytes,
        s"the int8 store should be well under half the float store " +
          s"(got q8=$q8Bytes float=$fpBytes)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ANN top-k ranks NaN scores first (zero-norm vectors), losing no results") {
    // a zero-norm embedding makes cosine 0/0 = NaN; Spark `desc` and the
    // DuckDB oracle both sort NaN GREATEST, so the bounded TopKAgg must
    // too — IEEE `>` (false on every NaN comparison) would both rank
    // NaN last and let an early NaN sit unbeatable at the head of an
    // underfull buffer, evicting real neighbors
    val vecs = spark.createDataFrame(Seq(
      (0L, Seq(1.0f, 0.0f)),   // query
      (1L, Seq(0.0f, 0.0f)),   // zero-norm → NaN cosine
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.5f, 0.5f)),
      (4L, Seq(-1.0f, 0.0f))
    )).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(vecs, Seq(0L), k = 3).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(got.length == 3)
    assert(got(0)._1 == 1L && got(0)._2.isNaN, s"NaN must rank first: ${got.toSeq}")
    // the real neighbors keep their relative order and none is lost
    assert(got(1)._1 == 2L && got(2)._1 == 3L, got.toSeq.toString)
  }

  test("substring dedup: planted verbatim span found with exact length, shorter overlap ignored") {
    val span = (1 to 25).map(i => s"span$i").mkString(" ")
    val short = (1 to 9).map(i => s"short$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"omega $span psi chi phi"), // shares the 25-token span with 1
      (3L, s"one two $short three"),
      (4L, s"$short four five six"), // shares only 9 tokens with 3
      (5L, "completely unrelated text with nothing shared at all")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDup(df, minTokens = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("max_span_tokens"))
      .toMap
    assert(got.keySet == Set((1L, 2L)),
      s"only the ≥10-token verbatim pair should surface, got ${got.keySet}")
    assert(got((1L, 2L)) == 25L,
      s"longest shared span is the planted 25 tokens, got ${got((1L, 2L))}")
    // two disjoint shared spans in one pair: max is the longer one
    val two = Seq(
      (1L, s"$span filler1 filler2 filler3 $short x1 x2 x3 x4 x5 x6"),
      (2L, s"pre1 pre2 $short y1 y2 y3 $span")
    ).toDF("doc_id", "text")
    val g2 = Dedup.substringDup(two, minTokens = 9).collect()
    assert(g2.length == 1 && g2(0).getAs[Long]("max_span_tokens") == 25L)
  }

  test("n-gram language ID classifies real sentences") {
    val samples = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it was not " +
        "what they said there would be for all of them", "en"),
      (2L, "der schnelle braune fuchs springt mit einem satz durch den " +
        "wald und sie ist nicht das was wir auch noch werden", "de"),
      (3L, "les enfants sont dans une maison avec leur mere et nous " +
        "avons fait tout cela pour que vous soyez bien sans peur", "fr"),
      (4L, "los ninos estan en una casa con sus padres y todos tienen " +
        "este libro para cuando sea muy tarde sobre la mesa", "es"),
      (5L, "", "unknown"))
    val df = samples.map { case (id, t, _) => (id, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.langIdNgram(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    samples.foreach { case (id, _, want) =>
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
    }
  }

  test("embedding self-similarity is 1") {
    val self = emb.limit(3).select(col("vec_id"),
      round(Similarity.cosineCol(col("embedding"), col("embedding")), 6)
        .as("c")).collect()
    assert(self.forall(_.getDouble(1) == 1.0))
  }

  test("multimodal extract: deterministic metadata + feature shape") {
    // a valid 3×2 24bpp uncompressed BMP (54-byte header + two rows padded
    // to 12 bytes): extract decodes no media format, so an image payload
    // gets the stub's length-derived geometry like any text payload
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bmp =
      Array('B'.toByte, 'M'.toByte) ++ le32(78) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(24) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
        Array.fill[Byte](9)(10) ++ Array.fill[Byte](3)(0) ++
        Array.fill[Byte](9)(200.toByte) ++ Array.fill[Byte](3)(0)
    assert(bmp.length == 78)
    val bmpId = -1L
    val media = docs.limit(50).select(col("doc_id").cast("long"),
      col("text").cast("binary").as("payload"))
      .union(Seq((bmpId, bmp)).toDF("doc_id", "payload"))
    val payloads = media.as[(Long, Array[Byte])].collect().toMap
    assert(payloads.size == 51)
    val metas = Multimodal.extract(media, featDim = 8).collect()
    assert(metas.length == 51)
    metas.foreach { m =>
      val stub = Multimodal.decodeStub(m.doc_id, payloads(m.doc_id), 8)
      assert(m.copy(features = null) == stub.copy(features = null))
      assert(m.features.toSeq == stub.features.toSeq)
      assert(m.features.length == 8)
      assert(m.features.forall(f => f >= 0.0f && f <= 1.0f))
      assert(m.channels >= 1 && m.channels <= 3)
    }
    val image = metas.find(_.doc_id == bmpId).get
    assert(image.n_bytes == 78 && image.width == 64 + 78 % 577 &&
      image.height == 64 + (78 / 7) % 449 && image.channels == 1 + 78 % 3)
    // deterministic across runs
    val again = Multimodal.extract(media, featDim = 8).collect()
    assert(metas.map(_.width).sorted.sameElements(again.map(_.width).sorted))
  }

  test("duplicateClusters: components via label propagation, multi-round chains") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 — forces several propagation rounds),
    // a triangle 10-11-12, an isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // distributed label-propagation path (forced: local cap 0)
    val dist = Dedup.duplicateClusters(pairs, maxLocalEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
    // bounded-collect union-find fast path (default cap) — identical map
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
  }

  test("jaccard df-cap defuses boilerplate shingles (skew defense)") {
    // 40 docs share an identical boilerplate prefix; their bodies are
    // unrelated. Without the cap the boilerplate shingles pair all 40 docs
    // quadratically; with the cap only the real near-dup pair survives.
    val boiler = "terms of service apply to all content on this site"
    val rows = (0L until 40L).map { i =>
      val body = (0 until 30).map(j => s"u${i}x${j * 7 + i}").mkString(" ")
      (i, s"$boiler $body")
    } :+ (100L, s"$boiler alpha beta gamma delta epsilon zeta eta theta") :+
      (101L, s"$boiler alpha beta gamma delta epsilon zeta eta iota")
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(df, w = 3, threshold = 0.3,
      maxShingleDf = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"real near-dup missed: $pairs")
    // no pair whose only overlap is the boilerplate prefix
    assert(pairs.forall { case (a, b) => a == 100L && b == 101L },
      s"boilerplate-only pairs leaked: $pairs")
  }

  test("collocations: PMI values and ordering match hand computation") {
    import spark.implicits._
    val df = Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text")
    // unigrams a:2 b:2 c:1 d:1 (N1=6); bigrams (a,b):2 (b,a):1 (c,d):1 (N2=4)
    val got = TextAnalysis.collocations(df, minCount = 1, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    def pmi(cab: Double, ca: Double, cb: Double) =
      math.log((cab / 4) / ((ca / 6) * (cb / 6)))
    val exp = Seq(
      ("c d", 1L, math.rint(pmi(1, 1, 1) * 1e6) / 1e6),
      ("a b", 2L, math.rint(pmi(2, 2, 2) * 1e6) / 1e6),
      ("b a", 1L, math.rint(pmi(1, 2, 2) * 1e6) / 1e6))
    assert(got.map(g => (g._1, g._2)) == exp.map(e => (e._1, e._2)), got.toString)
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"${g._1}: ${g._3} vs ${e._3}") }
  }

  test("ngramTopK: counts, total-order tie-break, short docs contribute nothing") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b c"),   // grams: a b, b a, a b, b c
      (2L, "a b"),         // gram: a b
      (3L, "z")            // too short for 2-grams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramTopK(df, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "a b"×3, then count-1 grams in lexical order: "b a" before "b c"
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)), got.toString)
  }

  test("quantizeInt8: max maps to ±127, zero vector safe, error ≤ scale/2") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),   // scale = 2/127
      (2L, Array(0.0f, 0.0f, 0.0f))     // all-zero → scale 0, q all 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    val (s1, q1) = got(1L)
    assert(math.abs(s1 - 2.0 / 127) < 1e-9)
    assert(q1 == Seq(64, -127, 32), q1.toString) // floor(x/scale + .5)
    // dequantization error bound
    q1.zip(Seq(1.0, -2.0, 0.5)).foreach { case (q, v) =>
      assert(math.abs(q * (2.0 / 127) - v) <= (2.0 / 127) / 2 + 1e-12) }
    assert(got(2L) == ((0.0, Seq(0, 0, 0))))
  }

  test("asofJoin: most recent prior match per user, equal-ts inclusive, no-match dropped") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val ev = Seq(
      // user 1: purchase@10, click@20 (→ p1), purchase@30, click@30 (equal ts → p2), click@5 (no prior → dropped)
      (1L, t(10), 1L, "purchase", 5.0), (2L, t(20), 1L, "click", 0.0),
      (3L, t(30), 1L, "purchase", 7.0), (4L, t(30), 1L, "click", 0.0),
      (5L, t(5), 1L, "click", 0.0),
      // user 2: click@50 with no purchases at all → dropped
      (6L, t(50), 2L, "click", 0.0),
      // unrelated type must not interfere
      (7L, t(15), 1L, "view", 9.9)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.asofJoin(ev, "click", "purchase").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    assert(got == Set((2L, 1L, 5.0, 10L), (4L, 3L, 7.0, 0L)), got.toString)
  }

  test("decontaminate flags gram overlap with the benchmark, excluding self") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps"),   // shares "the quick brown",
                                            // "quick brown fox" with bench 0
      (11L, "totally unrelated words here"),
      (0L, "the quick brown fox")           // IS bench doc 0 → must not self-flag
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "the quick brown fox")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, w = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 10 shares 2 distinct 3-grams with 1 bench doc; doc 11 none;
    // doc 0 is the bench doc itself (self-pair excluded)
    assert(got == Set((10L, 2L, 1L)), got.toString)
  }
}
