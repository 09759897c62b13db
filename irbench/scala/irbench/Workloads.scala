package irbench

import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, IndexStore, ParquetIndex}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.functions.{col, substring}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Store settings shared by both workloads: `IndexMain`'s defaults with
  * two changes for stores of a few thousand docs.
  *   - `numSlices = 1` (`IndexMain <in> <out> 1`): one resumable slice,
  *     which takes the build's fused path.
  *   - `termBuckets = 8`: 64 buckets × 4 fields is sized for stores far
  *     larger than these, where each partition directory holds megabytes;
  *     8 keeps the per-directory volume of a small store in that range.
  */
object Stores {
  val TermBuckets = 8
  def conf(cores: Int): BuildConf =
    BuildConf(numSlices = 1, numBuckets = 32, termBuckets = TermBuckets,
      shufflePartitions = cores)

  def open(ctx: Ctx, dir: String): ParquetIndex =
    IndexStore.open(ctx.spark, dir, TermBuckets)

  /** Size records of a store: bytes per table, text bytes, postings. */
  def emitSize(ctx: Ctx, store: String, docs: Long, textBytes: Long, extra: (String, Any)*): Unit = {
    val tables = Seq("docmap", "minisegs", "segments", "termstats", "docstats")
    ctx.rec.emit("size", (Seq("docs" -> docs, "text_bytes" -> textBytes,
      "store_bytes" -> Inputs.bytesUnder(store),
      "table_bytes" -> tables.map(t => t -> Inputs.bytesUnder(s"$store/$t")).toMap,
      "segment_bytes" -> IndexStore.manifestCounter(store, "segments", "bytes"),
      "postings" -> IndexStore.manifestCounter(store, "segments", "postings"),
      "manifests" -> Inputs.manifestTimes(store).toMap) ++ extra): _*)
  }

  /** Docs whose url index lies in [lo, hi) — the batches of a pages table. */
  def idxRange(pages: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) = {
    val idx = substring(col("url"), -8, 8).cast("long")
    pages.filter(idx >= lo && idx < hi)
  }

}

/** Runs a query log with one closed-loop thread per searcher (client)
  * until the log or the deadline runs out. Returns, per log position
  * started, the latency and the result or error.
  */
object Clients {
  case class Done(pos: Int, q: Q, ms: Double, result: Either[String, Seq[(Long, Double)]])

  def run(ctx: Ctx, searchers: Seq[Searcher], log: IndexedSeq[Q], deadlineNs: Long,
          tag: String): Seq[Done] = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val threads = searchers.zipWithIndex.map { case (searcher, c) =>
      new Thread(() => {
        var go = true
        while (go) {
          val i = next.getAndIncrement()
          if (i >= log.length || System.nanoTime() >= deadlineNs) go = false
          else {
            val t0 = System.nanoTime()
            val r =
              try Right(ctx.tracer.request(ctx.spark, s"$tag$i") { searcher.run(log(i)) })
              catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
            out.add(Done(i, log(i), Ctx.msSince(t0), r))
          }
        }
      }, s"irbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toArray(Array.empty[Done]).toSeq.sortBy(_.pos)
  }
}

/** `serve`: two query phases against a stream-built store.
  *
  * Set-up writes the crawl as WARC files, turns them into pages and
  * streams those into the store as one batch (`StreamingIndexer
  * .processBatch`, then `seal`). It warms the JVM up with tail queries
  * outside the log, then every client runs the head pool twice on its
  * own engines, so that the pool's generated classes are in Spark's
  * codegen cache.
  * The measured time is split in two phases (`HeadShare` of it for the
  * head), run in this order so that tail compiles cannot evict the pool's
  * classes before the head phase:
  *   - head: a pool of two queries over ranks 5–49, 4 terms, top-100, a
  *     BM25 bag and a ranked Boolean `#or`, taken in turn. Their shape
  *     does not depend on the seed, only their terms do. Their plans
  *     repeat and their classes stay in the cache, so codegen hits. The
  *     cache's 100 entries are split into 4 segments of 25, each evicting
  *     on its own, so a repeating set of classes stays only if it is well
  *     below 100: pools of three or more, or with 6 terms, evicted
  *     themselves on some seeds and compiled on every repeat.
  *   - tail: distinct queries over Zipf ranks 200–5000, 2–4 terms,
  *     top-10. Each has its own literals, so each plans and compiles anew,
  *     and the log passes the codegen cache within a few queries.
  * Tail queries mix all five operator classes under the model that
  * accepts them. After the loop, every query run is checked against the
  * oracle.
  */
object Serve {
  val Docs = 3000
  val TailLog = 300
  val HeadClasses = Seq("bag", "bool")
  val Warm = 4
  /** Share of the measured time given to the head phase. Tail latencies
    * spread over 0.3–1.4 s by operator class, head latencies much less,
    * so the tail phase needs the larger sample for a steady median.
    */
  val HeadShare = 0.4

  def run(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val spark = ctx.spark
    val tr = ctx.tracer
    val docIdx = Inputs.base(ctx.seed, 2) until Inputs.base(ctx.seed, 2) + Docs
    val written = Inputs.writeWarc(spark, s"${ctx.work}/warc", docIdx.start, docIdx.end, 2)
    val (pages, store) = (s"${ctx.work}/pages", s"${ctx.work}/store")
    val conf = Stores.conf(ctx.cores)
    val pagesOut = tr.span("sources.warc_to_pages", "sources") {
      Inputs.warcToPages(spark, s"${ctx.work}/warc", pages) }
    tr.span("streaming.batch", "streaming") {
      StreamingIndexer.processBatch(spark.read.parquet(pages), 0, store, conf) }
    tr.span("streaming.seal", "streaming") { StreamingIndexer.seal(spark, store, conf) }
    val idx = tr.span("index.open", "index") { Stores.open(ctx, store) }

    val r = Inputs.rng(ctx.seed, 3)
    val pool = Queries.distinct(r, HeadClasses.length, "head", 5, 50, 4, 4, 100,
      classes = HeadClasses, nested = Some(false))
    val tail = Queries.distinct(r, TailLog, "tail", 200, 5001, 2, 4, 10,
      avoid = pool.map(_.text).toSet)
    val warm = Queries.distinct(r, Warm, "tail", 200, 5001, 2, 4, 10,
      avoid = (pool ++ tail).map(_.text).toSet)
    val clients = Seq.fill(ctx.clients)(new Searcher(ctx, idx))
    Clients.run(ctx, clients, warm, Long.MaxValue, "warm")
    // every client runs the whole pool twice, so that its own engines' plans are
    // compiled and the JIT has seen the head path
    val warming = clients.map(c =>
      new Thread(() => { Clients.run(ctx, Seq(c), pool ++ pool, Long.MaxValue, "warm"); () }))
    warming.foreach(_.start())
    warming.foreach(_.join())
    ctx.rec.emit("phase", "name" -> "setup", "s" -> Ctx.secondsSince(t0))

    val head = (0 until TailLog).map(i => pool(i % pool.length))
    val done = Seq(("head", head, HeadShare), ("tail", tail, 1 - HeadShare)).flatMap {
      case (family, log, share) =>
        System.gc() // leave no collection of earlier garbage to a timed phase
        val (cg0, cgNs0) = Codegen.snapshot()
        val m0 = System.nanoTime()
        val ran = Clients.run(ctx, clients, log, m0 + (ctx.seconds * share * 1e9).toLong, family)
        val wall = Ctx.secondsSince(m0)
        val (cg1, cgNs1) = Codegen.snapshot()
        ctx.rec.emit("phase", "name" -> s"measure_$family", "s" -> wall)
        ctx.rec.emit("codegen", "family" -> family, "compiles" -> (cg1 - cg0),
          "ms" -> (cgNs1 - cgNs0) / 1e6, "queries" -> ran.length)
        ran.map(d => (s"$family${d.pos}", d))
    }

    // correctness, outside the timed loop
    val c0 = System.nanoTime()
    // a one-batch stream store numbers its docs densely in url order
    val docs = docIdx.sortBy(SyntheticCorpus.url).zipWithIndex
      .map { case (i, id) => id.toLong -> SyntheticCorpus.page(i).text }
    val ran = done.map(_._2.q).distinct
    val oracle = new Oracle(docs, ctx.cores)
    val expected = ran.map(q => q -> oracle.search(q)).toMap
    done.foreach { case (id, d) =>
      val problem = d.result match {
        case Left(err) => Some(s"failed: $err")
        case Right(got) => Checks.ranked(got, expected(d.q)).map("oracle mismatch: " + _)
      }
      ctx.rec.emit("op", "kind" -> "query", "id" -> id, "cls" -> d.q.cls,
        "family" -> d.q.family, "ms" -> d.ms, "ok" -> problem.isEmpty)
      problem.foreach(p => ctx.rec.emit("check", "name" -> s"$id ${d.q.text}",
        "ok" -> false, "detail" -> p))
    }
    ctx.rec.emit("phase", "name" -> "check", "s" -> Ctx.secondsSince(c0))
    ctx.rec.emit("sources", "records" -> written, "pages" -> pagesOut)
    Stores.emitSize(ctx, store, pagesOut, docs.map(_._2.length.toLong).sum,
      "distinct_queries" -> ran.length,
      "distinct_tail" -> ran.count(_.family == "tail"),
      "head_pool" -> pool.length, "codegen_cache_entries" ->
        spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"))
  }
}

/** `lifecycle`: crawl → store → maintenance, one client, steps in order.
  *   1. the main crawl (WARC) → pages → `IndexStore.build`;
  *   2. a disjoint increment → pages → build, then `mergeStores`;
  *   3. `deleteDocs` drops 1% of the merged urls;
  *   4. the increment pages go through `processBatch` × 6, then `seal`.
  * Steps 1–2 up to the merge are the ingest, the rest is maintenance;
  * the run times one pass of all four. Checks run afterwards, untimed.
  */
object Lifecycle {
  val MainDocs = 1600
  val IncDocs = 400
  val Batches = 6

  def run(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val base = Inputs.base(ctx.seed, 1)
    val mainIdx = base until base + MainDocs
    val incIdx = mainIdx.end until mainIdx.end + IncDocs
    val written =
      Inputs.writeWarc(spark, s"${ctx.work}/warc/main", mainIdx.start, mainIdx.end, ctx.cores) +
      Inputs.writeWarc(spark, s"${ctx.work}/warc/inc", incIdx.start, incIdx.end, ctx.cores)
    val r = Inputs.rng(ctx.seed, 4)
    val all = mainIdx ++ incIdx
    val deleted = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(all.toIndexedSeq).take(all.length / 100).toSet
    val delUrls = deleted.toSeq.map(i => SyntheticCorpus.url(i)).toDF("url").cache()
    delUrls.count()
    val per = (IncDocs + Batches - 1) / Batches
    val conf = Stores.conf(ctx.cores)
    ctx.rec.emit("phase", "name" -> "setup", "s" -> Ctx.secondsSince(t0))

    def step[A](name: String, docs: Long)(body: => A): A = {
      val s = System.nanoTime()
      val a = body
      ctx.rec.emit("step", "name" -> name, "ms" -> Ctx.msSince(s), "docs" -> docs)
      a
    }

    val d = s"${ctx.work}/cycle"
    val m0 = System.nanoTime()
    val pagesOut = Seq("main" -> MainDocs, "inc" -> IncDocs).map { case (part, n) =>
      val out = step(s"warc_$part", n) { tr.span("sources.warc_to_pages", "sources") {
        Inputs.warcToPages(spark, s"${ctx.work}/warc/$part", s"$d/pages-$part") } }
      step(s"build_$part", n) { tr.span("index.build", "index") {
        IndexStore.build(spark.read.parquet(s"$d/pages-$part"), s"$d/store-$part", conf) } }
      out
    }.sum
    step("merge", MainDocs + IncDocs) { tr.span("index.merge", "index") {
      IndexStore.mergeStores(spark, s"$d/store-main", s"$d/store-inc", s"$d/merged", conf) } }
    step("delete", deleted.size) { tr.span("index.delete", "index") {
      IndexStore.deleteDocs(spark, s"$d/merged", s"$d/final", delUrls, conf) } }
    val incPages = spark.read.parquet(s"$d/pages-inc")
    (0 until Batches).foreach { b =>
      val lo = incIdx.start + b * per
      val s = System.nanoTime()
      tr.span("streaming.batch", "streaming") {
        StreamingIndexer.processBatch(Stores.idxRange(incPages, lo, lo + per), b,
          s"$d/streamed", conf) }
      ctx.rec.emit("op", "kind" -> "batch", "id" -> s"b$b", "ms" -> Ctx.msSince(s), "ok" -> true)
    }
    step("seal", IncDocs) { tr.span("streaming.seal", "streaming") {
      StreamingIndexer.seal(spark, s"$d/streamed", conf) } }
    ctx.rec.emit("phase", "name" -> "measure", "s" -> Ctx.secondsSince(m0))

    val c0 = System.nanoTime()
    checks(ctx, d, mainIdx, incIdx, deleted, pagesOut, written)
    ctx.rec.emit("phase", "name" -> "check", "s" -> Ctx.secondsSince(c0))
  }

  private def check(ctx: Ctx, name: String, op: String, problem: Option[String]): Unit =
    ctx.rec.emit("check", "name" -> name, "op" -> op, "ok" -> problem.isEmpty,
      "detail" -> problem.getOrElse(""))

  private def checks(ctx: Ctx, d: String, mainIdx: Seq[Long], incIdx: Seq[Long],
                     deleted: Set[Long], pagesOut: Long, written: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.rec.emit("sources", "records" -> written, "pages" -> pagesOut)
    check(ctx, "every WARC record became a page", "warc_main",
      if (pagesOut == written) None else Some(s"$written records, $pagesOut pages"))

    // final store: doc count and Σcf against the surviving pages' tokens
    val surviving = (mainIdx ++ incIdx).filterNot(deleted)
    val tokens = surviving.map(i =>
      graft.analysis.Tokenizer.tokenize(SyntheticCorpus.page(i).text).length.toLong).sum
    val fin = Stores.open(ctx, s"$d/final")
    check(ctx, "final doc count = main + increment - deleted", "delete",
      if (fin.collStats.docCount == surviving.length) None
      else Some(s"${fin.collStats.docCount} docs, expected ${surviving.length}"))
    val cf = spark.read.parquet(s"$d/final/termstats").filter(col("field") === "default")
      .agg(org.apache.spark.sql.functions.sum("cf")).as[Long].collect().head
    check(ctx, "final sum(cf) = tokens of surviving pages", "delete",
      if (cf == tokens && fin.collStats.wordCount == tokens) None
      else Some(s"termstats $cf, collstats ${fin.collStats.wordCount}, pages $tokens"))

    // streamed increment vs batch-built increment
    def coll(dir: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "collstats.json"))
      .split("\n").map(_.trim.stripSuffix(",")).filter(_.startsWith("\"")).sorted.mkString("; ")
    val (cs, cb) = (coll(s"$d/streamed"), coll(s"$d/store-inc"))
    check(ctx, "streamed increment collstats = batch-built increment", "seal",
      if (cs == cb) None else Some(s"streamed {$cs} vs batch {$cb}"))
    val qs = Queries.distinct(Inputs.rng(ctx.seed, 5), 2, "check", 20, 400, 2, 3, 10)
    val stores = Seq("streamed", "store-inc").map { s =>
      val idx = Stores.open(ctx, s"$d/$s")
      val urls = spark.read.parquet(s"$d/$s/docmap").select("docId", "url").as[(Long, String)]
        .collect().toMap
      (s, new Searcher(ctx, idx), urls)
    }
    val (cg0, cgNs0) = Codegen.snapshot()
    qs.zipWithIndex.foreach { case (q, i) =>
      val res = stores.map { case (s, searcher, urls) =>
        ctx.tracer.request(spark, s"check-$s-$i") { searcher.run(q) }
          .map { case (id, score) => (urls(id), score) }
      }
      check(ctx, s"streamed = batch top-k: ${q.text}", "seal", Checks.byUrl(res(0), res(1)))
    }
    val (cg1, cgNs1) = Codegen.snapshot()
    ctx.rec.emit("codegen", "family" -> "check", "compiles" -> (cg1 - cg0),
      "ms" -> (cgNs1 - cgNs0) / 1e6, "queries" -> qs.length * stores.length)
    Stores.emitSize(ctx, s"$d/store-main", MainDocs,
      mainIdx.map(i => SyntheticCorpus.page(i).text.length.toLong).sum,
      "deleted" -> deleted.size)
  }
}
