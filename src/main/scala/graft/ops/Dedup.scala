package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus.mix

/** Deduplication operators for training-data pipelines. Every variant is
  * built on shuffle patterns that survive 100 TB:
  *
  *  - exact: one groupBy on a content hash (map-side partial agg).
  *  - n-gram Jaccard: inverted shingle join (pairs only materialize for
  *    docs sharing a shingle — never a cross join), with a df-cap on
  *    shingles so stop-shingles cannot quadratically explode a reducer
  *    (the same head-skew defense as the index salting).
  *  - MinHash/LSH: fixed-width signatures then a band-bucket join — the
  *    candidate set is linear in collisions, not quadratic in corpus.
  *  - SimHash: 64-bit signature, banded by 16-bit quarters for Hamming ≤ 3
  *    candidate generation.
  *  - embedding cosine: bucketed by random-hyperplane LSH before pairing.
  */
object Dedup {

  private def toksCol: Column = TextAnalysis.tokensCol(col("text"))

  /** Exact duplicate groups by md5(text): one row per duplicated content
    * hash with the kept (minimum) doc_id and group size.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))

  /** Per-doc distinct w-token shingle ARRAYS — the pre-explode form.
    * Signature generation consumes this directly (no shuffle); the
    * pairing joins explode it.
    */
  def shingleArrays(docs: DataFrame, w: Int): DataFrame =
    TextAnalysis.fanOut(docs).select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) < w,
          array(concat_ws(" ", col("toks"))))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(col("toks")) - w),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(w)))))).as("shs"))

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ threshold.
    * Inverted join on shingle → per-pair intersection counts → sizes
    * joined in → Jaccard. `maxShingleDf` drops ubiquitous shingles before
    * pairing (skew defense; at web scale a header boilerplate shingle
    * would otherwise pair everything with everything).
    */
  def ngramJaccard(docs: DataFrame, w: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Long = 10000L,
                   maxBroadcastShingles: Int = 4 << 20): DataFrame = {
    val spark = docs.sparkSession
    val arrs = OpScratch.track(shingleArrays(docs, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // materialize the cache ONCE before the multi-leg consumers below —
    // otherwise the pairing join's legs race the first computation and
    // each recomputes the full tokenize+shingle lineage concurrently —
    // and learn the corpus size for free: a shingle's doc frequency is
    // bounded by the doc count, so when nDocs ≤ maxShingleDf the frequent
    // set is PROVABLY empty and the whole df-cap aggregation pass is
    // skipped (at web scale nDocs ≫ maxShingleDf and the pass runs as
    // before).
    val nDocs = arrs.count()
    // Frequent (boilerplate) shingles are the Zipf head: FEW distinct
    // shingles, each in many docs — bounded by (total shingle occurrences
    // / maxShingleDf), the same smallness a broadcast join needs. Collect
    // that set once so the cap applies to the per-doc ARRAYS map-side:
    // capped sizes then ride each row and the pair aggregation reuses one
    // shuffle, instead of a separate sizes agg + two sizes joins.
    val freqDf = arrs.select(explode(col("shs")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") > maxShingleDf)
      .select("shingle")
    // driver-OOM guard: a pathological corpus (many distinct shingles each
    // just over the cap) breaks the Zipf-head smallness argument, so the
    // collect is bounded — over the bound, fall back to a fully
    // distributed anti-join + window recount (one extra shuffle, no
    // driver state)
    val freqRows =
      if (nDocs <= maxShingleDf) Array.empty[org.apache.spark.sql.Row]
      else freqDf.limit(maxBroadcastShingles + 1).collect()
    val tooMany = freqRows.length > maxBroadcastShingles
    // jaccard is over the CAPPED (informative) shingle sets on both sides
    // of the ratio — dropping boilerplate from the intersection but not
    // the union would silently deflate every score near a frequent shingle
    val capped = if (tooMany) {
      val exploded = arrs.select(col("doc_id"), explode(col("shs")).as("shingle"))
        .join(freqDf, Seq("shingle"), "left_anti")
      exploded.withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        .select(col("doc_id"), col("sz"), col("shingle"))
    } else {
      val frequent = freqRows.map(_.getString(0)).toSet
      val bcFreq = spark.sparkContext.broadcast(frequent)
      val dropFrequent = udf { (shs: Seq[String]) =>
        shs.filterNot(bcFreq.value.contains)
      }
      // outer explode (TextAnalysis.explodeNN scaladoc): the inferred
      // pre-filter would re-evaluate dropFrequent twice more per row
      arrs.select(col("doc_id"),
          (if (frequent.isEmpty) col("shs") else dropFrequent(col("shs"))).as("shs"))
        .select(col("doc_id"), size(col("shs")).as("sz"),
          explode_outer(col("shs")).as("shingle"))
        .filter(col("shingle").isNotNull)
    }
    capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.sz")).as("sz_a"), first(col("b.sz")).as("sz_b"))
      .withColumn("jacraw", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      // threshold on the RAW jaccard (the oracle filters raw); round only
      // the projected column
      .filter(col("jacraw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jacraw"), 6).as("jaccard"))
  }

  /** Labels changed per round of the most recent [[duplicateClusters]]
    * run in this JVM — the operator's cost at scale is rounds × shuffle,
    * so the bench surfaces it (expected 2-3 rounds for the quasi-clique
    * components near-dup pair generators emit).
    */
  private val _lastClusterRounds =
    new java.util.concurrent.atomic.AtomicReference[Seq[Long]](Nil)
  def lastClusterRounds: Seq[Long] = _lastClusterRounds.get

  /** Collapse near-duplicate PAIRS into duplicate CLUSTERS — the step a
    * real dedup pipeline needs after any pair generator (jaccard /
    * minhash / simhash / embedding): connected components by iterative
    * min-label propagation. Each round is one edge⋈label join plus one
    * min-aggregation — fully shuffle-parallel, no driver-side graph, and
    * each round materializes through a pinned RDD so iteration N doesn't
    * replan N joins. Rounds needed = component diameter; near-dup
    * components are dense (pair generators emit quasi-cliques), so
    * convergence is fast. The loop stops at the first round with zero
    * label changes; `maxIter` bounds pathological chains (alternating
    * large-star/small-star is the published O(log n)-round alternative
    * if diameter ever dominates).
    *
    * Input columns (id_a, id_b); output one row per doc appearing in any
    * pair: (doc_id, keep_id), keep_id = the component's minimum id — keep
    * that doc, drop the rest of its cluster.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 25,
                        maxLocalEdges: Int = 1 << 21): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // The directed pair list is persisted BEFORE the bidirectional union:
    // both union legs reference it, and unpersisted they each recompute
    // the full upstream pair-generation lineage (for jaccard input that
    // is the whole shingle join) — measured as two concurrent ~2 s jobs
    // racing the same cache at sf0.1.
    val e0 = OpScratch.track(
      pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Bounded-collect fast path (the same driver-guard pattern as the
    // jaccard df-cap set): near-dup EDGES are tiny relative to the corpus
    // (a pair generator that emits ≥2²¹ pairs is flagging whole shards as
    // duplicates — the pipeline is misconfigured before this operator is
    // slow), so when the whole edge list fits a bounded driver buffer,
    // union-find locally — exact same component minima, zero shuffle
    // rounds. Anything larger falls back to the distributed loop below;
    // the collect is capped at maxLocalEdges+1 rows either way.
    val head = e0.limit(maxLocalEdges + 1).collect()
    if (head.length <= maxLocalEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val keep = parent.keys.toArray.sorted.map(id => (id, find(id)))
      _lastClusterRounds.set(Nil) // no distributed rounds ran
      return keep.toSeq.toDF("doc_id", "keep_id")
    }
    val edges = OpScratch.track(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Per-round materialization with an explicit RDD handle: wrapping the
    // persisted RDD in a fresh LogicalRDD keeps the Catalyst plan shallow
    // (like localCheckpoint) while letting each round FREE its predecessor
    // immediately — localCheckpoint pinned every round's RDD until GC,
    // which was round 3's storage-pressure bug (the 40-gate bench JVM
    // evicted unrelated operators' caches). Lineage is retained (no
    // checkpoint truncation), so an evicted partition recomputes instead
    // of failing.
    def materialize(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = materialize(
      edges.select(col("src").as("id")).distinct()
        .withColumn("keep_id", col("id")))
    var i = 0
    var done = false
    val changedLog = Seq.newBuilder[Long]
    while (i < maxIter && !done) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("keep_id"))
        .groupBy("id").agg(min("keep_id").as("nbr_min"))
      // pointer jumping: also adopt the label of one's CURRENT label
      // (label(label(x))), which doubles the distance covered per round —
      // convergence in O(log diameter) rounds, so maxIter=25 covers any
      // component a real corpus can produce (2^25-hop chains)
      val jump = labels.select(col("id").as("jid"), col("keep_id").as("jkeep"))
      val next = labels.withColumnRenamed("keep_id", "old")
        .join(nbrMin, Seq("id"), "left")
        .join(jump, col("old") === col("jid"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr_min"), col("old")),
            coalesce(col("jkeep"), col("old"))).as("keep_id"))
      val (nextDf, nextRdd) = materialize(next)
      val changed = nextDf.filter(col("keep_id") =!= col("old")).count()
      changedLog += changed
      done = changed == 0
      labelsRdd.unpersist(blocking = false) // predecessor no longer needed
      labels = nextDf.select("id", "keep_id")
      labelsRdd = nextRdd
      i += 1
    }
    OpScratch.track(labelsRdd) // freed by the caller after consumption
    _lastClusterRounds.set(changedLog.result())
    if (!done) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIter rounds — with " +
        "pointer jumping that needs a component of diameter > 2^" + maxIter +
        "; partial labels would silently keep multiple docs per cluster")
    labels.select(col("id").as("doc_id"), col("keep_id"))
  }

  /** Benchmark decontamination — the overlap check a pretraining pipeline
    * runs against held-out evaluation sets (the GPT-3-style n-gram
    * collision test): for every corpus doc sharing at least one w-token
    * gram with any benchmark doc, report how many distinct grams overlap
    * and how many benchmark docs are hit. Plan shape at scale: the
    * benchmark side is small by definition, so its exploded gram set
    * broadcasts and the corpus side streams through a broadcast hash
    * join at scan speed — no corpus-side shuffle except the final
    * per-doc aggregation of the (rare) hits.
    *
    * Grams follow [[shingleArrays]] exactly (distinct per doc; a doc
    * shorter than w contributes its whole text as one gram). Self-pairs
    * are excluded so benchmark docs present in the corpus don't flag
    * themselves.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    w: Int = 5): DataFrame = {
    // outer+null-filter explodes (TextAnalysis.explodeNN scaladoc): the
    // shingle arrays are uncached here, so inner explode's inferred
    // pre-filter would re-inline the whole tokenize+shingle lineage into
    // an interpreted quadratic Filter at the scan
    val cs = TextAnalysis.explodeNN(shingleArrays(corpus, w),
      Seq(col("doc_id")), col("shs"), "shingle")
    val bs = TextAnalysis.explodeNN(shingleArrays(benchmark, w),
      Seq(col("doc_id").as("bench_id")), col("shs"), "shingle")
    cs.join(broadcast(bs), Seq("shingle"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_shared_grams"),
        countDistinct("bench_id").as("n_bench_docs"))
  }

  /** Exact-substring duplicate pairs — the published dedup modality that
    * catches verbatim reuse (boilerplate, license blocks, syndicated
    * articles) which set-similarity misses: two docs are reported iff
    * they share a VERBATIM run of ≥ `minTokens` tokens, with the length
    * of their longest shared run.
    *
    * A shared span of length S ≥ L contains exactly S−L+1 of the docs'
    * overlapping L-token windows, so pairing on window equality is both
    * complete and positionally reconstructible — the suffix-array result
    * for fixed L without a global sort. Plan shape at scale:
    *
    *  1. per-doc window DIGESTS (md5 over each L-token window) built in
    *     the scan stage — one array per doc, persisted (the same cached
    *     pre-explode form as [[ngramJaccard]]);
    *  2. boilerplate windows (doc frequency > maxWindowDf, the Zipf head
    *     — small for the same reason a broadcast join is possible) are
    *     dropped by a broadcast anti-join, so a hot license block cannot
    *     quadratically explode one reducer;
    *  3. candidates bucket by window digest — pairs materialize ONLY for
    *     docs sharing a window, never all-pairs;
    *  4. shared windows chain into maximal runs per (pair, diagonal)
    *     (diag = posₐ − pos_b; gaps-and-islands over pa), shuffled by
    *     pair — collision-only data.
    *
    * Output: (id_a, id_b, n_shared_windows, max_span_tokens), id_a <
    * id_b; max_span_tokens = longest run + L − 1 = the longest verbatim
    * token span the pair shares.
    */
  def substringDup(docs: DataFrame, minTokens: Int = 50,
                   maxWindowDf: Long = 10000L): DataFrame = {
    val arrs = OpScratch.track(
      TextAnalysis.fanOut(docs).select(col("doc_id"), toksCol.as("toks"))
        .select(col("doc_id"),
          when(size(col("toks")) < minTokens, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0), size(col("toks")) - minTokens),
              i => md5(concat_ws(" ",
                slice(col("toks"), i + 1, lit(minTokens)))))).as("wins"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // posexplode_outer per TextAnalysis.explodeNN scaladoc
    val w = arrs.select(col("doc_id"), posexplode_outer(col("wins")))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos"), col("col").as("win"))
    val hot = w.groupBy("win").agg(countDistinct("doc_id").as("wdf"))
      .filter(col("wdf") > maxWindowDf).select("win")
    val kept = w.join(broadcast(hot), Seq("win"), "left_anti")
    val m = kept.as("a").join(kept.as("b"),
        col("a.win") === col("b.win") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    // within one (pair, diagonal), pa is unique (pb = pa − diag), so the
    // row_number order is total and pa − row_number is constant exactly
    // on consecutive-pa runs
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pa")
    val runs = m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(wnd))
    runs.groupBy("id_a", "id_b", "diag", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("id_a", "id_b")
      .agg(sum("len").as("n_shared_windows"),
        (max(col("len")) + lit(minTokens - 1)).as("max_span_tokens"))
  }

  /** Deterministic 64-bit hash of a string (shared by MinHash/SimHash and
    * their tests; NOT Spark's xxhash64 — this one is pinned by our code so
    * signatures are stable across engines and releases).
    */
  def hash64(s: String, seed: Long): Long = {
    var h = seed ^ 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) { h = mix(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  /** One document's MinHash signature from its distinct shingles:
    * sig(i) = min over shingles of mix(hash64(shingle) ^ seed_i), with
    * seed_i = mix(i + 1).
    */
  private def sigFromShingles(shs: Seq[String],
                              numHashes: Int): Array[Long] = {
    val base = shs.map(s => hash64(s, 0L)).toArray
    Array.tabulate(numHashes) { i =>
      val seed = mix(i.toLong + 1)
      var m = Long.MaxValue
      var j = 0
      while (j < base.length) {
        val v = mix(base(j) ^ seed)
        if (v < m) m = v
        j += 1
      }
      m
    }
  }

  /** MinHash signatures ([[sigFromShingles]]), computed per doc in one
    * pass over the per-row distinct-shingle array ([[shingleArrays]]) —
    * signature generation is SHUFFLE-FREE; the only exchanges in
    * minhashLsh are the banding join itself.
    */
  def minhashSignatures(docs: DataFrame, w: Int = 3,
                        numHashes: Int = 32): DataFrame = {
    val sigUdf = udf { (shs: Seq[String]) => sigFromShingles(shs, numHashes) }
    shingleArrays(docs, w)
      .select(col("doc_id"), sigUdf(col("shs")).as("sig"))
  }

  /** MinHash+LSH candidate pairs: signatures banded (rows = numHashes /
    * bands per band); docs sharing any band bucket become candidates; the
    * estimated Jaccard = fraction of matching signature positions.
    * Candidates with estimate ≥ threshold survive.
    */
  def minhashLsh(docs: DataFrame, w: Int = 3, numHashes: Int = 32,
                 bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val sigs = OpScratch.track(minhashSignatures(docs, w, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // materialize the signature cache ONCE before fan-out: the plan below
    // references `sigs` four times (two banding legs + two signature
    // re-attach joins), and AQE submits their stage jobs concurrently —
    // against a cold cache each job recomputed the full shingle+MinHash
    // pass (measured: 4 concurrent ~2 s jobs at sf0.1 doing one job's
    // work). One count pays the pass once; every leg then reads cache.
    sigs.count()
    // posexplode_outer (TextAnalysis.explodeNN scaladoc): inner
    // posexplode's inferred pre-filter re-builds the band transform twice
    // more per row
    val banded = sigs.select(col("doc_id"), posexplode_outer(
      transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * lit(rows) + 1, lit(rows)))))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos").as("band"),
        col("col").cast("string").as("bucket"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val est = udf { (s1: Seq[Long], s2: Seq[Long]) =>
      s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length
    }
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", round(est(col("sig_a"), col("sig_b")), 6))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 64-bit SimHash over tf-weighted token hashes. */
  def simhash(docs: DataFrame): DataFrame = {
    val simUdf = udf { (toks: Seq[String]) =>
      val acc = new Array[Long](64)
      toks.foreach { t =>
        val h = hash64(t, 7L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    TextAnalysis.fanOut(docs).select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), simUdf(col("toks")).as("simhash"))
  }

  private val MaxTables = 1024L

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    *
    * Candidate generation is recall-COMPLETE for the given radius and
    * stays sub-quadratic via Manku-style block combinations: the 64
    * signature bits split into `blocks` near-equal blocks; a pair within
    * Hamming maxHamming differs in at most maxHamming blocks, so it
    * agrees EXACTLY on some combination of `blocks - maxHamming` blocks
    * (pigeonhole over combinations). Each combination of
    * `m = blocks - maxHamming` blocks is one hash table; a doc emits one
    * key per table and candidates are same-table key collisions — linear
    * in collisions, never an all-pairs join.
    *
    * `blocks` ADAPTS to the corpus: the per-table key must span at least
    * log2(n) bits (then expected same-bucket collision PAIRS per table
    * stay ≤ n — the sub-quadratic guarantee), and every extra block
    * multiplies the table count C(blocks, m), so the selector picks the
    * FEWEST-TABLES feasible config whose key bits ≥ clamp(⌈log2 n⌉, 12,
    * 48). A 5k-doc corpus at radius 8 gets C(11,3)=165 tables of 15-bit
    * keys instead of paying the C(12,4)=495-table plan a 10⁹-doc corpus
    * needs; a 10⁹-doc corpus at radius 3 gets C(6,3)=20 tables of 30-bit
    * keys instead of 4 tables of 16-bit keys (which would put 15M docs
    * in every bucket). Radii/sizes whose requirement is infeasible under
    * the table budget degrade to the widest key the budget allows —
    * still recall-complete, just a coarser join. Recall completeness is
    * structural (the pigeonhole argument) for EVERY blocks choice;
    * `corpusSize` ≤ 0 means "count the docs" (one count on the persisted
    * 2-column signature frame — it materializes the cache the banding
    * pass needs anyway).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   blocksOverride: Int = 0, corpusSize: Long = 0L): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    // table count C(b, b - maxHamming), capped (no overflow; anything past
    // the cap is "too many" regardless)
    def tables(b: Int): Long = {
      val mm = b - maxHamming
      var n = 1L
      var j = 1
      while (j <= mm && n <= MaxTables) { n = n * (b - mm + j) / j; j += 1 }
      n
    }
    val sh = OpScratch.track(simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val blocks =
      if (blocksOverride > 0) blocksOverride
      else {
        val n = if (corpusSize > 0) corpusSize else sh.count()
        val needBits =
          math.min(48, math.max(12, 64 - java.lang.Long.numberOfLeadingZeros(
            math.max(1L, n - 1)))) // = ⌈log2 n⌉ clamped to [12, 48]
        def keyBits(b: Int): Long = (b - maxHamming).toLong * (64 / b)
        val feasible = ((maxHamming + 1) to 64).filter(tables(_) <= MaxTables)
        val meeting = feasible.filter(keyBits(_) >= needBits)
        if (meeting.nonEmpty) meeting.minBy(tables)
        else feasible.maxBy(keyBits)
      }
    require(blocks > maxHamming && blocks <= 64,
      s"blocks must be in (maxHamming, 64], got $blocks")
    val m = blocks - maxHamming
    // distribute 64 bits over `blocks` blocks (widths differ by at most 1)
    val widths = Array.tabulate(blocks)(i =>
      64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // all C(blocks, m) combinations, driver-side (≤ a few hundred for any
    // sane radius); each is one table whose key concatenates its blocks'
    // bits
    val combos: Array[Array[Int]] =
      (0 until blocks).combinations(m).map(_.toArray).toArray
    require(combos.length <= MaxTables,
      s"${combos.length} tables (blocks=$blocks, radius=$maxHamming) — " +
        "raise blocksOverride or lower the radius")
    // one compiled pass per row (hundreds of column expressions would
    // blow past the codegen method limit at large radii); key = the
    // combo's blocks' bits concatenated — ≤ 64 key bits by construction
    // (m · width ≤ 64) so a long holds it
    val keysUdf = udf { (h: Long) =>
      combos.map { combo =>
        var key = 0L
        var j = 0
        while (j < combo.length) {
          val q = combo(j)
          val mask = if (widths(q) == 64) -1L else (1L << widths(q)) - 1L
          key = (key << widths(q)) | ((h >>> offsets(q)) & mask)
          j += 1
        }
        key
      }
    }
    // posexplode_outer (TextAnalysis.explodeNN scaladoc): inner
    // posexplode's inferred pre-filter re-runs keysUdf — the full
    // combination-table key build — twice more per row
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode_outer(keysUdf(col("simhash"))))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bucket"))
    val ham = udf { (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b) }
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        ham(col("a.simhash"), col("b.simhash")).as("hamming"))
      // radius filter BEFORE the pair distinct: same surviving rows
      // (hamming is a function of the pair), far fewer rows deduplicated
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
