package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus.mix

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full scan of the corpus vectors; the dot product is the
  * native `cosine_f` codegen expression, and top-k per query is a bounded
  * partial aggregation ([[TopKAgg]] — the TakeOrdered shape: each map
  * task ships ≤ k rows per query, never the full candidate set).
  *
  * Scale path: random-hyperplane LSH — each vector hashed to a `nBits`
  * sign bucket; candidate pairs/neighbor lookups only touch same-bucket
  * vectors (multi-probe = flip one bit). Hyperplanes are deterministic
  * from splitmix64, so signatures are reproducible anywhere.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, in double —
    * the native `cosine_f` Catalyst expression
    * (graft.functions.CosineFExpr): reads the unsafe array buffers
    * directly and stays inside whole-stage codegen, beating the UDF it
    * replaced (Row→Array[Float] conversion + codegen break per call) and
    * the ~10×-slower interpreted higher-order functions. Accumulation is
    * sequential in index order (doubles), matching the DuckDB oracle's
    * unnest-ordinality sum bit-for-bit at 6dp rounding.
    */
  def cosineCol(a: Column, b: Column): Column = call_function("cosine_f", a, b)

  /** Cosine over byte-packed int8-quantized vectors (native codegen
    * expression; the per-vector scales cancel, so it is exact integer
    * arithmetic).
    */
  def cosineQ8Col(a: Column, b: Column): Column = call_function("cosine_q8", a, b)

  /** The int8 array for a float embedding column given its (raw)
    * per-vector scale — the single quantization formula shared by the
    * standalone [[quantizeInt8]] and the q8 ANN store ([[q8IvfStore]]),
    * so both always agree bit-for-bit.
    */
  private def qArr(embCol: Column, scaleraw: Column): Column =
    transform(embCol, x =>
      when(scaleraw === 0.0, lit(0))
        .otherwise(floor(x.cast("double") / scaleraw + 0.5).cast("int")))

  private def scaleRawCol(embCol: Column): Column =
    array_max(transform(embCol, x => abs(x.cast("double")))) / 127.0

  /** Byte-pack an int8-valued array<int> into BINARY — one signed byte
    * per dimension, the 1-byte-per-dim storage of the q8 store. Runs once
    * per vector at INGEST (store build), never on the scan path.
    */
  private val packQ8 = udf { (q: Seq[Int]) => q.map(_.toByte).toArray }

  /** Bounded per-query top-k accumulator — the TakeOrdered shape for ANN
    * ranking. The buffer is a best-first (score desc, id asc) vector of
    * length ≤ k; `reduce` drops a candidate in O(1) when it cannot beat
    * the current kth. Registered as a udaf it runs as an
    * ObjectHashAggregate with PARTIAL aggregation: each map task ships at
    * most k rows per query instead of every candidate, and no per-query
    * sort of the full candidate set ever happens — unlike the window
    * `row_number` it replaced, which shuffled ALL candidates to one
    * partition per query and sorted them there (fine for 5 gate queries;
    * not for a 100-query batch over a 10⁹-vector corpus). The
    * (score desc, id asc) order is total (ids are distinct within a
    * query), so the result is partitioning-invariant.
    */
  private class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Double), Vector[(Double, Long)], Seq[(Double, Long)]] {
    // java.lang.Double.compare, NOT >: IEEE > is false on every NaN
    // comparison, which would let a NaN (zero-norm vector) rank LAST and
    // — worse — sit unbeatable at the head of an underfull buffer. The
    // total order here (NaN greatest) matches both Spark's `desc` sort
    // and the DuckDB oracle's ORDER BY, which the window row_number this
    // aggregator replaced inherited for free.
    private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c > 0 || (c == 0 && a._2 < b._2)
    }
    private def ins(b: Vector[(Double, Long)],
                    e: (Double, Long)): Vector[(Double, Long)] =
      if (b.length >= k && !better(e, b(b.length - 1))) b
      else {
        val i = b.indexWhere(x => better(e, x)) match {
          case -1 => b.length
          case j  => j
        }
        val grown = (b.take(i) :+ e) ++ b.drop(i)
        if (grown.length > k) grown.take(k) else grown
      }
    def zero: Vector[(Double, Long)] = Vector.empty
    def reduce(b: Vector[(Double, Long)],
               in: (Long, Double)): Vector[(Double, Long)] =
      ins(b, (in._2, in._1))
    def merge(x: Vector[(Double, Long)],
              y: Vector[(Double, Long)]): Vector[(Double, Long)] =
      y.foldLeft(x)(ins)
    def finish(b: Vector[(Double, Long)]): Seq[(Double, Long)] = b
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Vector[(Double, Long)]]()
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Per-query top-k of a (query_id, neighbor_id, cosraw) candidate frame
    * via [[TopKAgg]]. Ranks on the RAW score (matching the oracle's ORDER
    * BY); rounds only the projected column — two raw values rounding
    * equal must not be allowed to swap ranks vs the oracle.
    */
  private def topKPerQuery(cand: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
    cand.groupBy("query_id")
      .agg(agg(col("neighbor_id"), col("cosraw")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        round(col("col._1"), 6).as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Survivor ids only — the prefilter variant of [[topKPerQuery]]:
    * (query_id, neighbor_id) of each query's top `k` by `scoreCol`.
    */
  private def topIdsPerQuery(cand: DataFrame, scoreCol: String,
                             k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
    cand.groupBy("query_id")
      .agg(agg(col("neighbor_id"), col(scoreCol)).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e._2").as("neighbor_id"))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id in queryIds),
    * the k nearest other vectors. Ties break by neighbor id ascending.
    */
  def bruteTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val joined = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineCol(col("qvec"), col("embedding")).as("cosraw"))
    topKPerQuery(joined, k)
  }

  /** Deterministic random-hyperplane sign signatures: `nTables`
    * independent hash tables of `nBits` bits each (multi-table LSH — the
    * standard recall lever: a true neighbor is a candidate if it collides
    * in ANY table). One row per (vec_id, table) with its bucket.
    */
  /** Per-executor hyperplane coefficient cache: the matrix is constant
    * across the dataset, so it is derived ONCE per (seed, tables, bits,
    * dim) per JVM instead of per row (nTables × nBits × dim splitmix
    * mixes per vector otherwise — measured as most of the LSH wall time).
    * Row layout: planes(t * nBits + b)(i); coefficient ~ U(-1, 1) pinned by
    * (seed, table, bit, dim) — the exact formula the DuckDB oracle mirrors.
    */
  private object Hyperplanes {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[(Long, Int, Int, Int), Array[Array[Double]]]
    def get(seed: Long, nTables: Int, nBits: Int, dim: Int): Array[Array[Double]] =
      cache.getOrElseUpdate((seed, nTables, nBits, dim),
        Array.tabulate(nTables * nBits) { tb =>
          val t = tb / nBits
          val b = tb % nBits
          Array.tabulate(dim) { i =>
            val h = mix(seed * 1000003L + (t.toLong * 64 + b) * 131 + i)
            ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
          }
        })
  }

  def lshBuckets(emb: DataFrame, nBits: Int = 12, nTables: Int = 4,
                 seed: Long = 5L): DataFrame = {
    val sigUdf = udf { (v: Seq[Float]) =>
      val planes = Hyperplanes.get(seed, nTables, nBits, v.length)
      val vec = v.toArray
      val out = new Array[Int](nTables)
      var t = 0
      while (t < nTables) {
        var bucket = 0
        var b = 0
        while (b < nBits) {
          val plane = planes(t * nBits + b)
          var dot = 0.0
          var i = 0
          while (i < vec.length) { dot += vec(i) * plane(i); i += 1 }
          if (dot >= 0) bucket |= (1 << b)
          b += 1
        }
        out(t) = bucket
        t += 1
      }
      out
    }
    // posexplode_outer (TextAnalysis.explodeNN scaladoc): inner
    // posexplode's inferred pre-filter re-runs sigUdf — nTables×nBits
    // hyperplane dot products — twice more per row
    emb.withColumn("sigs", sigUdf(col("embedding")))
      .select(col("*"), posexplode_outer(col("sigs")))
      .filter(col("col").isNotNull)
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      .drop("sigs")
  }

  /** LSH-bucketed ANN: candidates = union of same-(table, bucket)
    * collisions across tables, ranked by exact cosine — the approximate
    * counterpart of bruteTopK (recall measured in tests).
    */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
              nBits: Int = 12, nTables: Int = 4): DataFrame = {
    val bucketed = OpScratch.track(lshBuckets(emb, nBits, nTables)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val queries = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("table").as("qtable"), col("bucket").as("qbucket"))
    val joined = bucketed.join(broadcast(queries),
        col("table") === col("qtable") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineCol(col("qvec"), col("embedding")).as("cosraw"))
      .distinct()
    topKPerQuery(joined, k)
  }

  /** Deterministic k-means centroids for IVF, trained DRIVER-SIDE on a
    * bounded sample (vec_id < trainN) — the Faiss-style contract: coarse
    * quantizers train on a sample regardless of corpus size, so the
    * training pass is O(trainN · nCentroids · dim · iters) on one machine
    * and only the assignment/search passes are distributed. Deterministic
    * end to end: init = first nCentroids sample vectors by vec_id,
    * Lloyd iterations accumulate in vec_id order, empty clusters keep
    * their previous centroid.
    */
  def trainIvfCentroids(emb: DataFrame, nCentroids: Int, trainN: Long,
                        iters: Int): Array[Array[Double]] = {
    // driver-side sort of the bounded sample: a distributed orderBy on
    // ≤ trainN rows costs a range-partitioning sampling job before the
    // collect — two scheduler round-trips for rows that fit in one
    val train = emb.filter(col("vec_id") < trainN)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(r => r.getSeq[Float](1).toArray.map(_.toDouble))
    require(train.length >= nCentroids,
      s"need ≥ $nCentroids training vectors, got ${train.length}")
    val dim = train(0).length
    var cents = train.take(nCentroids).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nCentroids)(new Array[Double](dim))
      val cnt = new Array[Long](nCentroids)
      train.foreach { v =>
        val j = nearestCentroid(v, cents)
        val s = sums(j)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        cnt(j) += 1
      }
      cents = Array.tabulate(nCentroids) { j =>
        if (cnt(j) == 0) cents(j)
        else Array.tabulate(dim)(i => sums(j)(i) / cnt(j))
      }
      it += 1
    }
    cents
  }

  /** argmin-L2 centroid index; ties take the lowest index. */
  private def nearestCentroid(v: Array[Double],
                              cents: Array[Array[Double]]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    best
  }

  /** The nProbe nearest centroid indices of a vector (dist asc, idx asc). */
  private def probeList(v: Array[Double], cents: Array[Array[Double]],
                        nProbe: Int): Array[Int] = {
    val dists = cents.indices.map { j =>
      val c = cents(j)
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      (d, j)
    }
    dists.sortBy(identity).take(nProbe).map(_._2).toArray
  }

  /** IVF approximate nearest-neighbor top-k: vectors partition into
    * nCentroids coarse cells (one distributed assignment pass over a
    * broadcast centroid matrix), each query probes its nProbe nearest
    * cells, and only same-cell vectors are candidates — the candidate
    * scan is ~nProbe/nCentroids of the corpus instead of all of it.
    * Ranking among candidates is the exact cosine.
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
              nCentroids: Int = 8, nProbe: Int = 2, iters: Int = 2,
              trainN: Long = 256L): DataFrame = {
    val cents = trainIvfCentroids(emb, nCentroids, trainN, iters)
    val assignUdf = udf { (v: Seq[Float]) =>
      nearestCentroid(v.toArray.map(_.toDouble), cents)
    }
    val probeUdf = udf { (v: Seq[Float]) =>
      probeList(v.toArray.map(_.toDouble), cents, nProbe)
    }
    val assigned = emb.select(col("vec_id"), col("embedding"),
      assignUdf(col("embedding")).as("cidx"))
    // outer explode (TextAnalysis.explodeNN scaladoc): inner explode's
    // inferred pre-filter re-runs probeUdf (nProbe centroid distances)
    // twice more per row
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        explode_outer(probeUdf(col("embedding"))).as("cidx"))
      .filter(col("cidx").isNotNull)
    val joined = assigned.join(broadcast(queries),
        Seq("cidx"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineCol(col("qvec"), col("embedding")).as("cosraw"))
      .distinct()
    topKPerQuery(joined, k)
  }

  /** Symmetric per-vector int8 quantization — the storage format of a
    * 100 TB embedding store (4 bytes → 1 byte per dimension; IVF/LSH
    * candidate scans read the int8 vectors and only the final rerank
    * touches floats). scale = max|v|/127, q_i = floor(v_i/scale + 0.5)
    * (floor(x+0.5) instead of round() because IT is deterministic and
    * identical across engines — Spark HALF_UP vs DuckDB's rounding would
    * diverge on .5 boundaries); all-zero vectors quantize to zeros with
    * scale 0. Dequantization error is bounded by scale/2 per dimension.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), scaleRawCol(col("embedding")).as("scaleraw"),
        col("embedding"))
      .select(col("vec_id"), round(col("scaleraw"), 9).as("scale"),
        qArr(col("embedding"), col("scaleraw")).as("q"))

  /** The IVF-q8 index store: one ingest pass over the float embeddings
    * producing (vec_id, cidx, q BINARY) — coarse cell assignment plus the
    * byte-packed int8 vector (EXACTLY 1 byte per dimension on disk,
    * vs 4 for floats). THIS is what the candidate scan reads at query
    * time; floats are touched again only by the final top-c rerank's
    * point lookups. Centroids are deterministic from (emb, nCentroids,
    * trainN, iters), so a query-time caller recovers the same cells
    * without storing them.
    */
  def q8IvfStore(emb: DataFrame, nCentroids: Int = 8, iters: Int = 2,
                 trainN: Long = 256L): DataFrame =
    q8IvfStoreWith(emb,
      trainIvfCentroids(emb, nCentroids, trainN, iters),
      nCentroids, iters, trainN)

  /** [[q8IvfStore]] with already-trained centroids — lets a caller that
    * trained for its own probe side (ivfTopKQ8) reuse them instead of
    * paying the training collect + Lloyd loop twice for identical
    * deterministic output.
    */
  private def q8IvfStoreWith(emb: DataFrame, cents: Array[Array[Double]],
                             nCentroids: Int, iters: Int,
                             trainN: Long): DataFrame = {
    val assignUdf = udf { (v: Seq[Float]) =>
      nearestCentroid(v.toArray.map(_.toDouble), cents)
    }
    // the training params ride as FIELD METADATA on cidx (parquet footer
    // property, zero row bytes): a query-time caller re-derives the
    // centroids from its own params, and [[ivfTopKQ8]] refuses a store
    // whose recorded params disagree — otherwise the store's cell space
    // and the probe's cell space silently diverge and recall collapses
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("nc", nCentroids).putLong("iters", iters)
      .putLong("trainN", trainN).build()
    emb.select(col("vec_id"), col("embedding"),
        scaleRawCol(col("embedding")).as("scaleraw"))
      .select(col("vec_id"), assignUdf(col("embedding")).as("cidx", md),
        packQ8(qArr(col("embedding"), col("scaleraw"))).as("q"))
  }

  /** IVF top-k with an INT8 candidate scan: same coarse cells as
    * [[ivfTopK]], but candidates are scored with the integer cosine over
    * the quantized store ([[q8IvfStore]]), the per-query top
    * `rerank × k` survivors are re-scored with the exact float cosine
    * (point lookups by vec_id — a tiny broadcast join against the float
    * table), and the final top-k ranks on the exact score. Gated against
    * the SAME exact-cosine IVF oracle as q_op_ann_ivf, which certifies
    * the quantized prefilter lost nothing from the true top-k (the
    * recall contract; `rerank` is the recall knob — a true neighbor is
    * lost only if quantization noise demotes it below rank rerank·k
    * among its cell's candidates).
    *
    * `store` lets callers pass a materialized (vec_id, cidx, q) parquet
    * store — the at-scale shape, and what the bytes-scanned measurement
    * in OpsSpec reads; by default the store is derived inline.
    */
  def ivfTopKQ8(emb: DataFrame, queryIds: Seq[Long], k: Int,
                nCentroids: Int = 8, nProbe: Int = 2, iters: Int = 2,
                trainN: Long = 256L, rerank: Int = 4,
                store: Option[DataFrame] = None): DataFrame = {
    val cents = trainIvfCentroids(emb, nCentroids, trainN, iters)
    val probeUdf = udf { (v: Seq[Float]) =>
      probeList(v.toArray.map(_.toDouble), cents, nProbe)
    }
    // a caller-supplied store must have been built with THESE params —
    // the probe side re-derives centroids from them, so a mismatch means
    // probing the wrong cell space (wrong results, no error). Stores
    // written by q8IvfStore carry the params as cidx field metadata;
    // refuse on disagreement rather than silently retrain.
    store.foreach { s =>
      s.schema.find(_.name == "cidx").map(_.metadata)
        .filter(_.contains("nc")).foreach { m =>
          require(m.getLong("nc") == nCentroids &&
            m.getLong("iters") == iters && m.getLong("trainN") == trainN,
            s"q8 store built with (nc=${m.getLong("nc")}, " +
              s"iters=${m.getLong("iters")}, trainN=${m.getLong("trainN")}) " +
              s"but queried with (nc=$nCentroids, iters=$iters, " +
              s"trainN=$trainN) — centroid spaces differ")
        }
    }
    val idx = store.getOrElse(
      q8IvfStoreWith(emb, cents, nCentroids, iters, trainN))
    // query side: tiny by contract — quantized the same way, probing its
    // nProbe nearest cells (outer explode per explodeNN scaladoc)
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"),
        scaleRawCol(col("embedding")).as("scaleraw"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        packQ8(qArr(col("embedding"), col("scaleraw"))).as("qq"),
        explode_outer(probeUdf(col("embedding"))).as("cidx"))
      .filter(col("cidx").isNotNull)
    // .distinct(): the same dedupe guard the float IVF/LSH paths carry —
    // a store with duplicated rows (e.g. a double-appended parquet dir)
    // would otherwise put one neighbor at two ranks via TopKAgg
    val cand = idx.join(broadcast(queries), Seq("cidx"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ8Col(col("qq"), col("q")).as("q8raw"))
      .distinct()
    // quantized prefilter: per-query top rerank·k by the int8 score
    // (total order — q8raw desc, neighbor_id asc — so the cut is
    // deterministic); TakeOrdered-shaped like the final rank, so the
    // shuffle carries ≤ rerank·k rows per map task per query
    val topC = topIdsPerQuery(cand, "q8raw", rerank * k)
    // float rerank of the survivors only: the queries·rerank·k survivor
    // set broadcasts (point lookups by vec_id at scale — no shuffle of
    // the float table); qvec re-attaches from the tiny query set
    val qvecs = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val reranked = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(topC.join(qvecs, Seq("query_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineCol(col("qvec"), col("embedding")).as("cosraw"))
    topKPerQuery(reranked, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space with k-means and
    * comparing cosines only WITHIN each cluster — the published recipe
    * for pruning web-scale corpora where global all-pairs is impossible
    * but semantic (non-verbatim) duplicates concentrate inside k-means
    * cells. Reuses the engine's deterministic coarse quantizer
    * ([[trainIvfCentroids]]: driver-trained on a bounded sample,
    * broadcast assignment pass) so clustering is one scan regardless of
    * corpus size.
    *
    * Keep policy: within a cluster, a vector is DROPPED iff some
    * lower-id vector in the same cluster is ≥ `threshold` cosine-similar
    * (keep-lowest-id). The paper keeps the point with lowest similarity
    * to the centroid; min-id is the deterministic variant an oracle can
    * replay exactly, and like the paper's rule it is non-recursive — the
    * witness u need not itself survive (documented deviation, same
    * pruned set size).
    *
    * Plan shape at 100 TB: assignment is a scan-stage projection over a
    * broadcast centroid matrix; the pair scan shuffles once by cidx and
    * compares O(Σ|cell|²) pairs — nCentroids is the knob that bounds
    * cell size (the paper uses ~100k clusters for billions of points;
    * cost falls quadratically as it grows). No global all-pairs ever.
    *
    * @return (vec_id, cidx, keep) for every input vector.
    */
  def semDedup(emb: DataFrame, threshold: Double, nCentroids: Int = 8,
               iters: Int = 2, trainN: Long = 256L): DataFrame = {
    val cents = trainIvfCentroids(emb, nCentroids, trainN, iters)
    val assignUdf = udf { (v: Seq[Float]) =>
      nearestCentroid(v.toArray.map(_.toDouble), cents)
    }
    val assigned = OpScratch.track(
      emb.select(col("vec_id"), col("embedding"),
          assignUdf(col("embedding")).as("cidx"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val drops = assigned
      .select(col("cidx"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"))
      .join(assigned.select(col("cidx"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b")), Seq("cidx"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineCol(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(drops.withColumn("dropped", lit(true)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cidx"), col("dropped").isNull.as("keep"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.
    * Exact variant pairs everything (small inputs / verification); the
    * scalable variant restricts to LSH-bucket collisions first.
    */
  def embeddingDups(emb: DataFrame, threshold: Double,
                    useLsh: Boolean = false, nBits: Int = 8): DataFrame = {
    val pairs =
      if (useLsh) {
        // persisted: the self-join's build and stream legs otherwise each
        // recompute the hyperplane signature UDF over the whole corpus
        val b = OpScratch.track(lshBuckets(emb, nBits)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        b.as("a").join(b.as("b"),
            col("a.table") === col("b.table") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("a.embedding").as("emb_a"),
            col("b.vec_id").as("id_b"), col("b.embedding").as("emb_b"))
          .dropDuplicates("id_a", "id_b")
      } else {
        emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
          .join(emb.select(col("vec_id").as("id_b"),
            col("embedding").as("emb_b")), col("id_a") < col("id_b"))
      }
    pairs.select(col("id_a"), col("id_b"),
        cosineCol(col("emb_a"), col("emb_b")).as("cosraw"))
      .filter(col("cosraw") >= threshold) // raw threshold, like the oracle
      .select(col("id_a"), col("id_b"), round(col("cosraw"), 6).as("cosine"))
  }
}
