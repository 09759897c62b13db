package irbench

import graft.corpus.SyntheticCorpus
import graft.index.{IndexStore, ParquetIndex}
import graft.oracle.RefOracle
import graft.query._
import graft.sources.{HtmlText, WarcSource}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Seeded inputs. Documents are `SyntheticCorpus.page(i)` for a doc-index
  * range that the seed picks; queries, batches and delete sets come from
  * a `SplittableRandom` seeded the same way. The program sees only the
  * WARC files, pages, urls and query strings made here.
  */
object Inputs {
  /** First doc index of a seed's slice (≤ 8 digits, so urls sort by index). */
  def base(seed: Long, salt: Long): Long =
    (SyntheticCorpus.mix(seed * 1000003L + salt).abs % 40000L) * 1000L

  def rng(seed: Long, salt: Long) = new java.util.SplittableRandom(seed * 7919L + salt)

  /** Docs [from, until) as `files` per-record-gzip WARC files (one Spark
    * task per file). Returns the number of records written.
    */
  def writeWarc(spark: SparkSession, dir: String, from: Long, until: Long,
                files: Int): Long = {
    Files.createDirectories(Paths.get(dir))
    val per = (until - from + files - 1) / files
    spark.sparkContext.parallelize(0 until files, files).map { f =>
      val lo = from + f * per
      val hi = math.min(until, lo + per)
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(f"$dir/part-$f%03d.warc.gz"), 1 << 16)
      try WarcSource.write((lo until hi).iterator.map(i => SyntheticCorpus.page(i)), out)
      finally out.close()
      math.max(0L, hi - lo)
    }.sum().toLong
  }

  /** The sources layer: WARC files → response rows → pages (html → text,
    * every page kept as "en") → pages parquet. Returns the pages written.
    */
  def warcToPages(spark: SparkSession, warcDir: String, out: String): Long = {
    import spark.implicits._
    val rows = WarcSource.read(spark, s"$warcDir/*.warc.gz").as[WarcSource.WarcRow]
    val obs = org.apache.spark.sql.Observation("pages")
    WarcSource.toPages(rows, (h: Array[Byte]) => HtmlText.extract(h), _ => "en")
      .observe(obs, org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.parquet(out)
    obs.get("n").asInstanceOf[Long]
  }

  /** Bytes on disk under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Commit times of a store's stage manifests, for the stages it has. */
  def manifestTimes(dir: String): Seq[(String, Long)] =
    Seq("docmap", "minisegs-slice-0", "segments", "termstats", "docstats", "collstats")
      .filter(IndexStore.readManifest(dir, _).isDefined)
      .map(st => st -> IndexStore.manifestCounter(dir, st, "committedAtMs"))
}

/** One query of a log: text, the model it runs under, its operator class
  * (bag, field, weight, bool, prox) and family (tail, head).
  */
case class Q(text: String, model: String, cls: String, family: String, k: Int)

object Queries {
  val Classes = Seq("bag", "field", "weight", "bool", "prox")

  private def pick[A](r: java.util.SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def terms(r: java.util.SplittableRandom, n: Int, lo: Int, hi: Int): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += SyntheticCorpus.word(lo + r.nextInt(hi - lo))
    out.toSeq
  }

  /** One query of class `cls` over terms of Zipf ranks [lo, hi). `nested`
    * fixes the form of `weight` and `bool` queries, which is random
    * otherwise.
    */
  def make(r: java.util.SplittableRandom, cls: String, family: String,
           lo: Int, hi: Int, minTerms: Int, maxTerms: Int, k: Int,
           nested: Option[Boolean] = None): Q = {
    val n = minTerms + r.nextInt(maxTerms - minTerms + 1)
    val ts = terms(r, n, lo, hi)
    val phrase = pick(r, Seq(Seq("obama", "family"), Seq("family", "tree"),
      Seq("french", "lick"), Seq("lick", "resort"), Seq("french", "resort")))
    cls match {
      case "bag" => Q(ts.mkString(" "), "bm25", cls, family, k)
      case "field" =>
        val fs = ts.zipWithIndex.map { case (t, i) =>
          if (i == 0) s"$t+${pick(r, Seq("title", "body"))}"
          else t + pick(r, Seq("", "+title", "+body")) }
        Q(fs.mkString(" "), "bm25", cls, family, k)
      case "weight" =>
        val w = 1 + r.nextInt(8)
        val (a, rest) = (ts.head, ts.tail)
        val text =
          if (nested.getOrElse(r.nextBoolean()))
            s"#weight(0.$w $a 0.${9 - w + 1} #and(${rest.mkString(" ")}))"
          else s"#and(${ts.mkString(" ")})"
        Q(text, "indri", cls, family, k)
      case "bool" =>
        val text =
          if (nested.getOrElse(r.nextBoolean())) s"#and(${ts.head} #or(${ts.tail.mkString(" ")}))"
          else s"#or(${ts.mkString(" ")})"
        Q(text, "boolean", cls, family, k)
      case "prox" =>
        val kk = 1 + r.nextInt(4)
        val model = pick(r, Seq("bm25", "indri"))
        val prox =
          if (r.nextBoolean()) s"#near/$kk(${phrase.mkString(" ")})"
          else s"#uw/${kk + 4}(${phrase.mkString(" ")})"
        val text = if (model == "bm25") s"#sum($prox ${ts.head})" else s"#and($prox ${ts.head})"
        Q(text, model, cls, family, k)
    }
  }

  /** `n` distinct queries, `classes` in round-robin order. */
  def distinct(r: java.util.SplittableRandom, n: Int, family: String, lo: Int,
               hi: Int, minTerms: Int, maxTerms: Int, k: Int,
               avoid: Set[String] = Set.empty, classes: Seq[String] = Classes,
               nested: Option[Boolean] = None): IndexedSeq[Q] = {
    val seen = mutable.HashSet.empty[String] ++= avoid
    def one(i: Int) =
      make(r, classes(i % classes.length), family, lo, hi, minTerms, maxTerms, k, nested)
    (0 until n).map { i =>
      var q = one(i)
      while (seen.contains(q.text)) q = one(i)
      seen += q.text
      q
    }
  }

  def parser(model: String): QueryParser = model match {
    case "boolean" => new QueryParser(defaultOp = QOp.OR)
    case "indri"   => new QueryParser(defaultOp = QOp.AND)
    case _         => new QueryParser(defaultOp = QOp.SUM)
  }

  def modelOf(name: String): Model = name match {
    case "boolean" => Bool(ranked = true)
    case "indri"   => Indri()
    case _         => BM25()
  }

  def leaves(q: Q): Seq[(String, String)] = {
    def rec(n: QNode): Seq[(String, String)] = n match {
      case QLeaf(t, f, _) => Seq(t -> f)
      case QInner(_, _, kids, _) => kids.flatMap(rec)
    }
    rec(parser(q.model).parse(q.text))
  }
}

/** Runs queries the way `QueryMain --wand` routes them: `Wand.bm25TopK`
  * for BM25 queries `Wand.eligibleBag` accepts, `Engine` otherwise. One
  * searcher per client; its engines share the one `ParquetIndex`.
  */
final class Searcher(ctx: Ctx, idx: ParquetIndex) {
  private val tracer = ctx.tracer
  private val engines = Seq("bm25", "indri", "boolean")
    .map(m => m -> new Engine(idx, Queries.modelOf(m))).toMap

  /** Top-k as (docId, score) in rank order. */
  def run(q: Q): Seq[(Long, Double)] = tracer.span("query", "query") {
    val node = tracer.span("query.parse", "query") { Queries.parser(q.model).parse(q.text) }
    val engine = engines(q.model)
    tracer.span("index.stats", "index") { idx.prefetchStats(engine.collectLeaves(node)) }
    val bag = if (q.model == "bm25") Wand.eligibleBag(node) else None
    val df = bag match {
      case Some(ts) => tracer.span("query.wand", "query") {
        Wand.bm25TopK(ctx.spark, idx, ts, "default", q.k) }
      case None => tracer.span("query.lower", "query") { engine.searchNode(node, q.k) }
    }
    tracer.span("query.plan", "query") { df.queryExecution.executedPlan }
    tracer.planPhases(df)
    val rows = tracer.span("query.exec", "query") {
      try df.collect() finally engine.releaseCaches()
    }
    val ordered = if (bag.isDefined) rows.toSeq else rows.toSeq.sortBy(_.getAs[Int]("rank"))
    if (tracer.on) ctx.rec.emit("rows", "req" -> tracer.req, "n" -> ordered.length)
    ordered.map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score")))
  }
}

/** The independent evaluator: `RefOracle` over postings tokenized
  * straight from the generated page text of (docId, text) pairs, docIds
  * ascending. It never reads a store. `RefOracle.buildIndex` runs on
  * `threads` slices of the docs at once (one slice alone takes ≈5 s of a
  * `serve` run); the slices' lists are joined in docId order.
  */
final class Oracle(docs: Seq[(Long, String)], threads: Int) {
  private val index: RefOracle.TermIndex = {
    val slices = docs.grouped(math.max(1, (docs.length + threads - 1) / threads)).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val parts =
      try slices.map(s => pool.submit(() => RefOracle.buildIndex(s.flatMap(Oracle.fields))))
        .map(_.get())
      finally pool.shutdown()
    parts.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ ++ _)
  }
  private val coll = RefOracle.collStats(index)
  private val oracles = Seq("bm25", "indri", "boolean")
    .map(m => m -> new RefOracle(index, coll, Queries.modelOf(m))).toMap

  def search(q: Q): Seq[(Long, Double)] =
    oracles(q.model).search(q.text, q.k, Queries.parser(q.model))
}

object Oracle {
  /** A page's indexed fields: `default` (all of it), `title` (its first
    * line) and `body` (the rest).
    */
  def fields(doc: (Long, String)): Seq[(Long, String, String)] = {
    val (id, text) = doc
    val nl = text.indexOf('\n')
    val (title, body) = if (nl >= 0) (text.substring(0, nl), text.substring(nl + 1)) else (text, "")
    Seq((id, "default", text), (id, "title", title), (id, "body", body))
  }
}

object Checks {
  private def six(x: Double) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))

  def sameScore(a: Double, b: Double): Boolean =
    six(a) == six(b) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** None when `got` is rank-identical to `exp` (docId per rank, score
    * to 6 decimals); otherwise the first difference.
    */
  def ranked(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Option[String] =
    if (got.length != exp.length) Some(s"${got.length} rows vs oracle ${exp.length}")
    else got.zip(exp).zipWithIndex.collectFirst {
      case (((gd, gs), (ed, es)), i) if gd != ed || !sameScore(gs, es) =>
        s"rank ${i + 1}: docId $gd score ${six(gs)} vs oracle docId $ed score ${six(es)}"
    }

  /** Same top-k up to the order of tied docs: lists of (url, score) from
    * two stores whose docIds differ. Every score group must hold the same
    * urls, except the lowest, which the k cut may split differently.
    */
  def byUrl(a: Seq[(String, Double)], b: Seq[(String, Double)]): Option[String] =
    if (a.length != b.length) Some(s"${a.length} rows vs ${b.length}")
    else {
      val ga = a.groupBy(x => six(x._2)).map { case (s, xs) => s -> xs.map(_._1).toSet }
      val gb = b.groupBy(x => six(x._2)).map { case (s, xs) => s -> xs.map(_._1).toSet }
      val low = (ga.keySet ++ gb.keySet).minByOption(_.toDouble)
      val bad = (ga.keySet ++ gb.keySet).find { s =>
        val (x, y) = (ga.getOrElse(s, Set.empty), gb.getOrElse(s, Set.empty))
        if (low.contains(s)) x.size != y.size else x != y
      }
      bad.map(s => s"score $s: ${ga.getOrElse(s, Set.empty).size} vs ${gb.getOrElse(s, Set.empty).size} docs")
    }
}
