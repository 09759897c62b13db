package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline.
  * All are single-pass column expressions over the tokenized text (Spark
  * higher-order functions — whole-stage-codegen'd, no UDFs, no shuffle
  * except where aggregation is the point), so they stream over 100 TB of
  * documents at scan speed.
  */
object TextAnalysis {

  /** Tokens column matching graft.analysis.Tokenizer (and the DuckDB
    * oracle regex) exactly: lower, split [^a-z0-9]+, drop empties.
    */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Scale-adaptive parallelism floor (guide §2.5, "input skew: one huge
    * unsplittable file"): a small or single-row-group parquet input plans
    * ONE scan partition, and every CPU-dense per-row stage downstream
    * (signature UDFs, shingle digests, BPE encodes) then runs serially no
    * matter how many cores the cluster has — file-split knobs cannot help
    * because a parquet split below row-group granularity reads nothing.
    * When the planned scan parallelism is far below the cluster's, hash-
    * redistribute by a uniform key first: the shuffle moves the small
    * input once (by construction it IS small — few partitions), and at
    * scale the condition is false so this is a no-op with no shuffle.
    * Hash-by-key, not round-robin: round-robin repartition pays a local
    * sort (sortBeforeRepartition) and is retry-sensitive; the key hash is
    * deterministic. Every consumer op is partitioning-invariant (their
    * aggregations/joins are keyed), so results are unchanged.
    */
  private[graft] def fanOut(df: DataFrame, key: String = "doc_id",
                            cap: Int = Int.MaxValue): DataFrame = {
    val p = math.min(cap, df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions * 2 < p) df.repartition(p, col(key)) else df
  }

  /** Exploding a COMPUTED array column must use the outer variant plus a
    * null filter on the generator OUTPUT (`explodeNN` below): inner
    * explode triggers Catalyst's InferFiltersFromGenerate, whose inferred
    * `size(arr) > 0 AND isnotnull(arr)` pre-filter gets predicate-pushed
    * through the projections — re-inlining the array's FULL defining
    * expression into a non-codegen Filter at the scan. For token/shingle
    * arrays that inlining nests the whole tokenization inside the
    * per-element lambda (slice(tokenize(text), i, w) evaluated for every
    * i), turning a linear scan-stage op into a QUADRATIC interpreted one:
    * measured 6.8 s vs 0.7 s for the identical 260k-row shingle explode
    * at sf0.1, and ~150 ms/row on a 25-doc table. explode_outer infers no
    * pre-filter; the cheap isNotNull on the output column restores inner
    * semantics (outer emits one null row for an empty/null array).
    */
  private[ops] def explodeNN(df: DataFrame, keep: Seq[Column],
                             arr: Column, as: String): DataFrame =
    df.select(keep :+ explode_outer(arr).as(as): _*)
      .filter(col(as).isNotNull)

  /** Token count per document. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokensCol(col("text"))).cast("long").as("n_tokens"))

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape: contraction
    * suffixes, space-prefixed letter/digit runs, punctuation runs,
    * whitespace runs) restricted to constructs RE2 also supports (no
    * lookahead), over lowercased text — identical match semantics in
    * Spark's Java regex and DuckDB's RE2.
    */
  val BpePattern: String = "'(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+"

  /** Subword-ish token count: how many BPE pre-tokens a tokenizer would
    * see — the budgeting number a training pipeline actually needs (LLM
    * token budgets are BPE tokens, not whitespace words).
    */
  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  private lazy val stopLit =
    typedlit(graft.analysis.Tokenizer.stopwords.toSeq.sorted)

  // Rounded per-row signal expressions, shared verbatim between
  // qualityScore / repetitionSignals and the gopherFilter decision op so
  // the filter compares EXACTLY the doubles the signal gates pin.
  private def meanTokLenCol(toks: Column): Column =
    round(when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(toks)), 6)
  private def stopRatioCol(toks: Column): Column =
    round(when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => array_contains(stopLit, t)))
        .cast("double") / size(toks)), 6)
  private def alnumRatioCol(text: Column): Column =
    round(when(length(text) === 0, 0.0).otherwise(
      (length(regexp_replace(lower(text), "[^a-z0-9]", "")))
        .cast("double") / length(text)), 6)

  /** Quality signals: token count, mean token length, stopword ratio,
    * alphanumeric character ratio. A composite `quality` score in [0,1]
    * combines them with fixed weights (documented, deterministic).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    docs.select(col("doc_id"), toks.as("toks"), col("text"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        meanTokLenCol(col("toks")).as("mean_tok_len"),
        stopRatioCol(col("toks")).as("stop_ratio"),
        alnumRatioCol(col("text")).as("alnum_ratio"))
  }

  /** Gopher-style repetition signals — the canonical web-pipeline
    * quality filters that catch boilerplate and spam which perplexity
    * misses:
    *  - `dup_line_frac`: fraction of newline-delimited lines that are
    *    repeats of an earlier line (0 when the doc has one line),
    *  - `top_2gram_frac`: occurrences of the most frequent token 2-gram
    *    over the total 2-gram count (0 when fewer than 2 tokens).
    *
    * Both are per-row expressions: the 2-gram mode is a sorted-array
    * left fold (run-length max over sort_array), NOT an explode+groupBy
    * — nothing shuffles, the signals ride the scan stage at any scale.
    */
  private def gramsOfToks(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", toks(i), toks(i + 1))))
  // max run length in the sorted gram array == mode count
  private def gramModeCount(grams: Column): Column =
    aggregate(sort_array(grams),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, g) => {
        val run = when(g === s.getField("prev"), s.getField("run") + 1)
          .otherwise(lit(1))
        struct(g.as("prev"), run.as("run"),
          greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
  private def dupLineFracCol(lines: Column): Column =
    round((size(lines) - size(array_distinct(lines)))
      .cast("double") / size(lines), 6)
  private def top2gramFracCol(grams: Column): Column =
    round(when(size(grams) === 0, 0.0)
      .otherwise(gramModeCount(grams).cast("double") / size(grams)), 6)

  def repetitionSignals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), "\n").as("lines"),
        tokensCol(col("text")).as("toks"))
      .withColumn("grams", gramsOfToks(col("toks")))
      .select(col("doc_id"),
        dupLineFracCol(col("lines")).as("dup_line_frac"),
        top2gramFracCol(col("grams")).as("top_2gram_frac"))

  /** Heuristic language ID: an n-gram-free stand-in scored from the
    * English stopword ratio (the only language signal the synthetic
    * corpus carries) — predicts "en" when ≥ 4% of tokens are English
    * stopwords. Deterministic, SQL-expressible, and the interface point
    * where a real fastText-style model would slot in.
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) === 0, lit(0.0)).otherwise(
          size(filter(col("toks"), t => array_contains(stopLit, t)))
            .cast("double") / size(col("toks"))).as("sr"))
      .select(col("doc_id"), round(col("sr"), 6).as("stop_ratio"),
        when(col("sr") >= 0.04, lit("en")).otherwise(lit("other"))
          .as("lang_pred"))
  }

  /** Character-trigram language profiles, derived deterministically from
    * small ASCII common-word lists (public frequency-list heads): the
    * profile of a language is every trigram of its padded words. Small by
    * design — the scoring mechanism is the point; a production system
    * swaps in bigger profiles (or a fastText model) at this seam.
    */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "den", "das", "nicht", "von", "sie",
      "ist", "des", "sich", "mit", "dem", "dass", "ein", "ich", "auf",
      "eine", "auch", "als", "nach", "wie", "man", "aber", "aus", "durch",
      "wenn", "nur", "war", "noch", "werden", "bei", "hat", "wir", "wird",
      "sein", "einen", "welche", "sind", "oder", "unter", "sehr", "zum"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
      "for", "with", "as", "his", "they", "at", "be", "this", "have",
      "from", "or", "one", "had", "by", "but", "not", "what", "all",
      "were", "when", "your", "can", "said", "there", "use", "an", "each",
      "which", "she", "do", "how", "their", "if", "will", "about"),
    "es" -> Seq("los", "las", "una", "del", "por", "con", "para", "como",
      "pero", "sus", "este", "esta", "entre", "cuando", "muy", "sin",
      "sobre", "hasta", "donde", "quien", "desde", "todos", "durante",
      "todo", "tiene", "tambien", "fue", "habia", "era", "siempre",
      "tanto", "ella", "tres", "ese", "eso", "hay", "estar", "estos"),
    "fr" -> Seq("les", "des", "est", "dans", "pour", "que", "une", "sur",
      "avec", "pas", "par", "plus", "mais", "nous", "comme", "ses",
      "leur", "sont", "vous", "tout", "fait", "elle", "aux", "cette",
      "ont", "bien", "sans", "peut", "sous", "entre", "encore", "aussi",
      "deux", "meme", "faire", "autre", "apres", "votre", "toute"))

  /** lang → sorted distinct trigrams of its padded profile words. */
  lazy val langTrigrams: Seq[(String, Seq[String])] =
    langWords.map { case (l, ws) =>
      l -> ws.flatMap { w =>
        val p = s" $w "
        (0 to p.length - 3).map(i => p.substring(i, i + 3))
      }.distinct.sorted
    }

  /** n-gram language ID: the document's character trigrams (over the
    * space-joined, space-padded token stream) are scored against each
    * language profile as overlap ratio; prediction = argmax, ties to the
    * lexicographically first language, empty docs → "unknown". One
    * codegen'd pass of higher-order functions — no shuffle, no UDF.
    */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "),
      concat_ws(" ", tokensCol(col("text"))), lit(" "))
    // sequence(1, n) DESCENDS for n < 1, so short strings need the guard
    val tg = when(length(col("s")) < 3,
      array().cast("array<string>")).otherwise(transform(
      sequence(lit(1), length(col("s")) - lit(2)),
      i => col("s").substr(i, lit(3))))
    val scored = docs.select(col("doc_id"), padded.as("s"))
      .select(col("doc_id"), tg.as("tg"))
      .select(Seq(col("doc_id"), size(col("tg")).as("n")) ++
        langTrigrams.map { case (l, prof) =>
          size(filter(col("tg"), t => array_contains(typedlit(prof), t)))
            .cast("double").as(s"c_$l")
        }: _*)
    val scores = langTrigrams.map { case (l, _) =>
      l -> when(col("n") === 0, lit(0.0)).otherwise(col(s"c_$l") / col("n"))
    }
    val best = greatest(scores.map(_._2): _*)
    // first language (asc order) whose score equals the max
    val pred = scores.reverse.foldLeft(lit("unknown")) { case (acc, (l, s)) =>
      when(col("n") > 0 && s === best, lit(l)).otherwise(acc)
    }
    scored.select(col("doc_id"), pred.as("lang_pred"),
      round(best, 6).as("score"))
  }

  /** Winnowing-style document fingerprint: md5 over every w-token shingle,
    * fingerprint = lexicographic min digest. Shingle enumeration is a
    * higher-order `transform` over token offsets — no explode, no shuffle.
    */
  def fingerprint(docs: DataFrame, w: Int = 5): DataFrame = {
    val toks = tokensCol(col("text"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) < w, md5(concat_ws(" ", col("toks"))))
          .otherwise(array_min(transform(
            sequence(lit(0), size(col("toks")) - w),
            i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w)))))))
          .as("fingerprint"))
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * PMI = ln( p(ab) / (p(a)·p(b)) ) with p from corpus unigram/bigram
    * counts; `minCount` floors the bigram count (PMI of rare pairs is
    * noise). The arithmetic shape (each division and multiplication in
    * this exact order) is mirrored in the oracle so the 6dp-rounded
    * values are bit-reproducible. Plan at scale: ONE corpus pass — a
    * combined unigram+bigram gram array per row, one explode, one
    * counting groupBy (map-side combined; key space = unigram vocab +
    * bigram vocab, the same shuffle bytes the two separate groupBys
    * paid) — persisted so the totals aggregation and the two
    * bigram↔unigram joins read the counted table (gram-vocab-sized,
    * orders of magnitude below the corpus) instead of re-tokenizing the
    * corpus once per consumer; single-row totals broadcast, TakeOrdered
    * on the total order (raw PMI desc, gram asc).
    */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    // tokens PROJECTED before the gram transform references them: a
    // multiply-referenced alias survives CollapseProject, so tokenization
    // runs once per row — inlining tokensCol straight into the lambda
    // would re-tokenize per gram ELEMENT (quadratic per row, measured
    // 7.7 s vs 0.9 s on this op at sf0.1)
    val t = fanOut(docs).select(tokensCol(col("text")).as("toks"))
    val toks = col("toks")
    // unigrams ride as (w1, null); bigrams as (w1, w2) — one array, one
    // explode, one shuffle, and groupBy's null-safe grouping splits them
    // back apart for free
    val unis = transform(toks,
      w => struct(w.as("w1"), lit(null).cast("string").as("w2")))
    val bigs = when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))
    // outer+null-filter explodes: see explodeNN scaladoc (inner explode's
    // inferred pre-filter re-inlines the gram lineage quadratically)
    val counts = OpScratch.track(
      explodeNN(t, Nil, concat(unis, bigs), "g")
        .select(col("g.w1"), col("g.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .persist())
    val big = counts.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c").as("cab"))
    val uni = counts.filter(col("w2").isNull)
      .select(col("w1").as("w"), col("c").as("cu"))
    // ONE totals pass over the counted table: n1/n2 are sums of disjoint
    // slices of the same cached frame, so two separate aggregations (two
    // broadcast-build jobs) compute identical doubles to this single agg
    val tot = counts.agg(
      sum(when(col("w2").isNull, col("c"))).cast("double").as("n1"),
      sum(when(col("w2").isNotNull, col("c"))).cast("double").as("n2"))
    val joined = big
      .join(uni.select(col("w").as("w1"), col("cu").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("cb")), "w2")
      .crossJoin(broadcast(tot))
      .filter(col("cab") >= minCount)
      .withColumn("pmiraw",
        log((col("cab").cast("double") / col("n2")) /
          ((col("ca").cast("double") / col("n1")) *
            (col("cb").cast("double") / col("n1")))))
    joined
      .withColumn("gram", concat_ws(" ", col("w1"), col("w2")))
      .orderBy(col("pmiraw").desc, col("gram").asc)
      .limit(k)
      .select(col("gram"), col("cab").as("n_occurrences"),
        round(col("pmiraw"), 6).as("pmi"))
  }

  /** Corpus-level top-k n-grams by occurrence count — the contamination /
    * boilerplate census a pretraining pipeline runs before filtering
    * (what IS the most repeated 2-gram across the crawl?). Plan shape at
    * scale: per-row gram arrays (scan-stage transform) → explode →
    * groupBy with map-side partial aggregation (the gram space is Zipf,
    * so partials collapse the head before the shuffle) → global
    * TakeOrdered on the total order (count desc, gram asc) — a bounded
    * heap, never a full sort. Deterministic at the k boundary because
    * the order is total.
    */
  def ngramTopK(docs: DataFrame, n: Int = 2, k: Int = 50): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1, k >= 1; got n=$n k=$k")
    // tokens projected first — see the collocations comment (inlining
    // tokensCol into the slice lambda re-tokenizes per gram element)
    val t = fanOut(docs).select(tokensCol(col("text")).as("toks"))
    val toks = col("toks")
    // Spark 4 trap: sequence(0, x) FLIPS direction for x < 0, so the
    // short-doc case must short-circuit to an empty array
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    explodeNN(t, Nil, grams, "gram") // see explodeNN scaladoc
      .groupBy("gram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Per-document term frequencies: one row per (doc_id, distinct term).
    * The shared first stage of [[tfidfKeywords]] and [[lmCrossEntropy]] —
    * one explode + one map-side-combined shuffle on (doc_id, term).
    * Persisted (OpScratch-tracked) because both consumers read it twice:
    * once for the term-keyed corpus aggregate, once for the join back.
    */
  private def termFreqs(docs: DataFrame): DataFrame = {
    val t = fanOut(docs).select(col("doc_id"), tokensCol(col("text")).as("toks"))
    OpScratch.track(
      explodeNN(t, Seq(col("doc_id")), col("toks"), "term")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist())
  }

  /** Per-document top-k keywords by smoothed TF-IDF:
    * score = tf * ln((N + 1) / (df + 1)), N = corpus doc count,
    * df = number of docs containing the term. The standard extractive
    * keyword signal a pretraining pipeline uses for topic tagging and
    * source diagnostics.
    *
    * Plan shape at scale: (doc, term) tf shuffle → term-keyed df
    * aggregation (map-side partials collapse the Zipf head) → tf⋈df
    * shuffle join on term (vocab-sized right side; AQE handles the head
    * skew) → per-doc row_number window. The window repartitions by
    * doc_id, which is uniform by construction — no skew. Ordering is
    * total (raw score desc, term asc). The term-ASC tiebreak is
    * LOAD-BEARING for determinism: raw-score ties happen not only at
    * equal (tf, df) but for EVERY term with df = N (score exactly 0.0
    * regardless of tf — common with stopwords), so ordering by score
    * alone would make the k boundary partitioning-dependent. Tied
    * scores are bit-identical in both engines (same formula, same
    * division order), so score-then-term is a cross-engine total order.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val tf = termFreqs(docs)
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfc, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("raw",
        col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("raw").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"),
        round(col("raw"), 6).as("tfidf"), col("rank").cast("long").as("rank"))
  }

  /** Per-document unigram cross-entropy against the corpus's own unigram
    * LM (MLE, no smoothing needed — every doc term is in the corpus by
    * definition): xent = Σ_w tf(w) · −ln(c(w)/T) / n_tokens, in nats per
    * token. The in-sandbox stand-in for the KenLM-perplexity quality
    * filter (CCNet-style): low = stereotypical text, high = rare-token
    * soup; pipelines keep the middle band.
    *
    * Cross-engine FP determinism: per-(doc, term) contributions are
    * summed via an explicit left fold over the term-ASC-sorted list on
    * BOTH sides (sort_array + aggregate here; list(… ORDER BY term) +
    * list_reduce in the oracle), so the accumulation order — and hence
    * the rounded double — is identical. A plain SUM would be
    * partitioning-dependent.
    *
    * Plan shape at scale: the same tf shuffle as [[tfidfKeywords]], a
    * term-keyed corpus-count aggregation, one broadcast single-row
    * totals frame, then a doc_id-keyed groupBy — all linear, no
    * all-pairs anywhere.
    */
  def lmCrossEntropy(docs: DataFrame): DataFrame = {
    val tf = termFreqs(docs)
    val cw = tf.groupBy("term").agg(sum("tf").as("cw"))
    val total = cw.agg(sum("cw").as("t_total"))
    val contrib = tf.join(cw, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("contrib",
        col("tf") * -log(col("cw").cast("double") / col("t_total")))
    contrib.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("contrib"))))
             .as("cs"),
           sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(aggregate(col("cs"), lit(0.0), (a, x) => a + x("contrib"))
                / col("n_tokens"), 6).as("xent_nats"))
  }

  /** Gopher/C4-style keep/drop decision thresholds. Defaults follow the
    * published Gopher rules where the synthetic fixture can exercise
    * them (token-count band, mean-token-length band, stopword floor,
    * repetition ceilings), relaxed only where the fixture is degenerate
    * (it is one line of pure [a-z0-9 ] text).
    */
  final case class FilterRules(minTokens: Long = 30L,
                               maxTokens: Long = 100000L,
                               minMeanTokLen: Double = 3.0,
                               maxMeanTokLen: Double = 10.0,
                               minStopRatio: Double = 0.02,
                               minAlnumRatio: Double = 0.5,
                               maxDupLineFrac: Double = 0.3,
                               maxTop2gramFrac: Double = 0.2)

  /** The keep/drop DECISION step a pretraining pipeline runs after
    * scoring (the C4/Gopher rule set): every rule evaluated per row in
    * ONE scan-stage projection — the signal expressions are the same
    * rounded columns [[qualityScore]] / [[repetitionSignals]] gate, so
    * the decision compares exactly the doubles those gates pin, and the
    * whole filter shuffles nothing at any scale.
    *
    * Output: (doc_id, keep, fail_reason) — fail_reason names the FIRST
    * failed rule in fixed order ('ok' when kept), the audit trail a
    * pipeline keeps for filter-rate dashboards.
    */
  def gopherFilter(docs: DataFrame,
                   rules: FilterRules = FilterRules()): DataFrame = {
    val staged = docs.select(col("doc_id"),
        split(col("text"), "\n").as("lines"),
        tokensCol(col("text")).as("toks"), col("text"))
      .withColumn("grams", gramsOfToks(col("toks")))
      .select(col("doc_id"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"),
        meanTokLenCol(col("toks")).as("mean_tok_len"),
        stopRatioCol(col("toks")).as("stop_ratio"),
        alnumRatioCol(col("text")).as("alnum_ratio"),
        dupLineFracCol(col("lines")).as("dup_line_frac"),
        top2gramFracCol(col("grams")).as("top_2gram_frac"))
    val reason =
      // the null rule MUST come first: a null text nulls every signal,
      // and a null comparison is not-matched in a when-chain — without
      // this rule a missing-text crawl record would fall through to 'ok'
      when(col("text").isNull, "no_text")
        .when(col("n_tokens") < rules.minTokens, "n_tokens_low")
        .when(col("n_tokens") > rules.maxTokens, "n_tokens_high")
        .when(col("mean_tok_len") < rules.minMeanTokLen ||
              col("mean_tok_len") > rules.maxMeanTokLen, "mean_tok_len")
        .when(col("stop_ratio") < rules.minStopRatio, "stop_ratio")
        .when(col("alnum_ratio") < rules.minAlnumRatio, "alnum_ratio")
        .when(col("dup_line_frac") > rules.maxDupLineFrac, "dup_line_frac")
        .when(col("top_2gram_frac") > rules.maxTop2gramFrac,
          "top_2gram_frac")
        .otherwise("ok")
    staged.select(col("doc_id"), reason.as("fail_reason"))
      .withColumn("keep", col("fail_reason") === "ok")
      .select(col("doc_id"), col("keep"), col("fail_reason"))
  }
}
