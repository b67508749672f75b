package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions over the token array — one scan, no shuffle.
  */
object TextAnalysis {

  /** Tiny per-language stopword inventories for the n-gram/stopword
    * heuristic. Real deployments plug fastText-style models in via the
    * same Column seam; the heuristic is the dependency-free baseline. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "mit", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "un", "en", "no"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "est", "que", "dans"))

  /** Count of tokens that appear in `words` (occurrences, not
    * distinct). */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val w = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(w, t)))
  }

  /** Language-ID heuristic: argmax of stopword hit counts with a
    * fixed preference order (en > de > es > fr), 'und' (undetermined)
    * when no stopword hits at all. Deterministic — the same CASE
    * chain runs in the oracle. */
  def langId(text: Column): Column =
    // token array bound ONCE through a single-element transform
    // lambda: the when-chain references the tokenize up to 7× and
    // Filter contexts perform no subexpression elimination (the
    // gopherFilter lesson), so `filter(langId(text) === ...)` was
    // re-splitting the text per reference. Same CASE chain over the
    // same hit counts — bit-identical output.
    element_at(transform(array(tokens(lower(text))), { toks =>
      val s = Seq("en", "de", "es", "fr")
        .map(l => l -> stopwordHits(toks, stopwords(l))).toMap
      when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr") && s("en") > 0, "en")
        .when(s("de") >= s("es") && s("de") >= s("fr") && s("de") > 0, "de")
        .when(s("es") >= s("fr") && s("es") > 0, "es")
        .when(s("fr") > 0, "fr")
        .otherwise("und")
    }), 1)

  /** Sliding character trigrams of the lowercased text — the
    * classical language-ID feature (Cavnar & Trenkle 1994). Pure
    * per-row expression (no shuffle): position i in 1..len-2 yields
    * substr(i, 3), so spaces and accents carry signal. Texts shorter
    * than 3 chars yield the empty array. */
  def charTrigrams(text: Column): Column = charGrams(text, 3)

  /** Sliding character n-grams of the lowercased text (spaces and
    * accents carry signal; texts shorter than `n` yield the empty
    * array) — [[charTrigrams]] generalized for the feature families
    * that want other widths (DSIR's multilingual variant runs char
    * 4-grams where whitespace tokenization would shred CJK and
    * agglutinative scripts). Pure per-row expression, no shuffle. */
  def charGrams(text: Column, n: Int): Column = {
    require(n >= 2, s"char n-grams need n >= 2, got $n")
    val t = lower(text)
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
  }

  /** Trainable CHAR-TRIGRAM language classifier — the ts18
    * naive-Bayes discipline (integer counts, add-one smoothing,
    * ln-quotient log-probs, position-ordered folds ⇒ bit-exact
    * cross-engine) generalized from a binary word model to an
    * L-language character model: the real multilingual-corpus
    * upgrade of the [[langId]] stopword heuristic (which stays as
    * the cheap 4-language prefilter).
    *
    * Training (`train`: one text per row, labeled `langCol`): per
    * (lang, trigram) occurrence counts, per-lang totals, the shared
    * vocabulary size V (distinct trigrams across ALL languages), and
    * document-count priors. Scoring (`test`): each doc's trigrams
    * expand once per language (an |L|-row broadcast), each position
    * contributes ln((c+1)/(tot_lang+V)) — c = 0 for grams the
    * language (or the whole model) never saw — folded in POSITION
    * order per (doc, lang), plus ln(nd_lang/n). Output per doc: the
    * argmax language (ties broken lang-ASC — a doc with no trigrams
    * scores priors only) and the 6-dp margin over the runner-up.
    *
    * Scale shape: the model is three broadcastable frames (model-
    * sized — training corpora are curated, never the 100 TB corpus);
    * the corpus-side cost is ONE trigram pass × |L| expansion, with
    * combinable aggregation per (doc, lang). Nothing corpus-sized
    * joins or collects. */
  def trigramLangId(train: DataFrame, langCol: String, textCol: String,
      test0: DataFrame, idCol: String, testTextCol: String): DataFrame = {
    // the corpus-side trigram explosion is the op's CPU mass — fan
    // the TEST input out of a sub-core-parallel file layout
    // ([[Par.fanOut]]; integer counts + pos-sorted folds below). The
    // train side stays un-fanned: it is curated-small by contract,
    // and its subtree re-evaluates under several model branches —
    // an exchange there multiplies fixed cost, not parallelism.
    val test = Par.fanOut(test0)
    // a NULL training label names no language: dropped here, so the
    // gram model, the per-lang stats, the priors and n all agree (kept,
    // it scored as a language with tot = 0 and won every doc made of
    // grams no labelled language saw)
    val labeled = train.filter(col(langCol).isNotNull)
      .select(col(langCol).as("lang"), charTrigrams(col(textCol)).as("t"))
    // explicit isnotnull pins on the gram stream: charTrigrams never
    // yields null grams and `labeled` carries no NULL label — the
    // filters only make every gm consumer branch canonically EQUAL,
    // so the train-side gram pass plans ONE exchange reused by the
    // model join, the per-lang totals, and V (each branch re-ran the
    // whole pass before: inferred join filters + pruned aggregate
    // columns forked the subtrees — the ts12/ts18 mechanism,
    // plans/r17/ts26_*)
    val tx = labeled.select(col("lang"), explode(col("t")).as("g"))
      .filter(col("lang").isNotNull && col("g").isNotNull)
    val gm = tx.groupBy("lang", "g").agg(count(lit(1)).as("c"))
    // every LABELED language scores, even one whose training texts
    // produced zero trigrams (all < 3 chars): its tot is 0, so each
    // test gram contributes the fully-smoothed ln(1/V) — deriving the
    // frame from gm instead would silently drop the language from
    // every ranking while its docs still count into n
    val langStats = labeled.groupBy("lang").agg(count(lit(1)).as("nd"))
      .join(gm.groupBy("lang").agg(sum(col("c")).as("tot")),
        Seq("lang"), "left")
      .select(col("lang"), coalesce(col("tot"), lit(0L)).as("tot"),
        col("nd"))
    // `c >= 1` is always true — it pins the count column as consumed
    // so pruning cannot rewrite V's aggregate into a count-less twin
    // with its own exchange (see bigramLmScore's V)
    val scalars = gm.filter(col("c") >= 1)
      .agg(countDistinct(col("g")).as("v"))
      .crossJoin(labeled.agg(count(lit(1)).as("n")))
    val x = test.select(col(idCol).as("id"),
      posexplode(charTrigrams(col(testTextCol))))
      .select(col("id"), col("pos"), col("col").as("g"))
    val lp = x.crossJoin(broadcast(langStats.select("lang", "tot")))
      .join(broadcast(gm), Seq("lang", "g"), "left")
      .crossJoin(broadcast(scalars.select("v")))
      .select(col("id"), col("lang"), col("pos"),
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("tot") + col("v")).cast("double")).as("lp"))
    val folded = lp.groupBy("id", "lang").agg(
      sort_array(collect_list(struct(col("pos"), col("lp")))).as("__arr"))
      .select(col("id"), col("lang"),
        expr("aggregate(__arr, 0D, (acc, s) -> acc + s.lp)").as("w"))
    val scored = test.select(col(idCol).as("id"))
      .crossJoin(broadcast(langStats.select("lang", "nd")))
      .join(folded, Seq("id", "lang"), "left")
      .crossJoin(broadcast(scalars.select("n")))
      .select(col("id"), col("lang"),
        (log(col("nd").cast("double") / col("n").cast("double")) +
          coalesce(col("w"), lit(0.0))).as("s"))
    val w = Window.partitionBy("id").orderBy(col("s").desc, col("lang").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__next", lead(col("s"), 1).over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("lang"),
        round(col("s") - coalesce(col("__next"), col("s")), 6)
          .as("margin_r"))
  }

  /** Quality components: every count exact-integer, every ratio a
    * single int/int double division — bit-identical across engines. */
  def qualityComponents(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val punct = regexp_count(text, lit("[.,!?;:]"))
    val digits = regexp_count(text, lit("[0-9]"))
    val stops = stopwordHits(tokens(lower(text)), stopwords("en"))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "punct_ratio" -> when(nChars === 0, 0.0)
        .otherwise(punct.cast("double") / nChars.cast("double")),
      "digit_ratio" -> when(nChars === 0, 0.0)
        .otherwise(digits.cast("double") / nChars.cast("double")),
      "stopword_ratio" -> when(nToks === 0, 0.0)
        .otherwise(stops.cast("double") / nToks.cast("double")),
      "mean_token_len" -> when(nToks === 0, 0.0)
        .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
          .cast("double") / nToks.cast("double")))
  }

  /** Composite quality score in [0,1]: rewards reasonable length and
    * stopword density, penalizes digit soup. Weighted per-row double
    * math only. */
  def qualityScore(text: Column): Column =
    // both token arrays bound ONCE (the langId/gopherFilter lesson:
    // no subexpression elimination inside Filter predicates — the
    // composite referenced tokens(text) twice and tokens(lower(text))
    // once, so a quality-threshold filter re-split the text per
    // reference). The arithmetic tree is IDENTICAL to the
    // qualityComponents form — same double ops in the same order.
    element_at(transform(array(struct(tokens(text).as("t"),
        tokens(lower(text)).as("lt"))), { s =>
      val nToks = size(s.getField("t"))
      val nChars = length(text)
      val stops = stopwordHits(s.getField("lt"), stopwords("en"))
      val digits = regexp_count(text, lit("[0-9]"))
      val stopwordRatio = when(nToks === 0, 0.0)
        .otherwise(stops.cast("double") / nToks.cast("double"))
      val digitRatio = when(nChars === 0, 0.0)
        .otherwise(digits.cast("double") / nChars.cast("double"))
      val lengthTerm = least(nToks.cast("double") / 100.0, lit(1.0))
      lit(0.4) * lengthTerm +
        lit(0.3) * least(stopwordRatio * 5.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - least(digitRatio * 10.0, lit(1.0)))
    }), 1)

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs capped at 4 chars count per
    * cap, digit runs count per 3, other non-space chars 1 each —
    * a cheap regex proxy for BPE token budgeting. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"))

  /** PII categories as (name, pattern, replacement), applied in this
    * order. The patterns are deliberately RE2-compatible (character
    * classes, bounded counts, no lookaround/backreferences) so the
    * SAME pattern strings run in the DuckDB oracle — and would run in
    * any RE2-based scan pushdown. Order matters: emails first (their
    * dotted domains would otherwise feed the IPv4 pattern), then
    * IPv4, then phone numbers (whose digit runs never survive inside
    * an already-redacted email/IP). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "(\\+\\d{1,2}[ -])?\\(?\\d{3}\\)?[ -]\\d{3}[ -]\\d{4}", "<PHONE>"))

  /** Redact all PII categories: staged regexp_replace, one category
    * at a time in [[piiPatterns]] order. Pure column expressions —
    * one scan, no shuffle, codegen'd. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (_, p, r)) =>
      regexp_replace(acc, lit(p), lit(r))
    }

  /** Per-category PII match counts, STAGED like [[redactPii]]: each
    * category counts over the text with all earlier categories
    * already redacted, so a dotted email domain is never double-
    * counted as an IP. Returns (n_email, n_ipv4, n_phone) columns. */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val (cols, _) = piiPatterns.foldLeft(
        (Seq.empty[(String, Column)], text)) {
      case ((acc, t), (name, p, r)) =>
        (acc :+ (s"n_$name" -> regexp_count(t, lit(p))),
          regexp_replace(t, lit(p), lit(r)))
    }
    cols
  }

  /** Gopher-style repetition stats over the whitespace tokens, via
    * the native one-pass kernel ([[graft.plans.RepetitionKernel]] —
    * the composed array_distinct/transform/filter form is O(d·n)
    * interpreted lambda dispatch per doc, the round-4 anti-pattern).
    * Struct of exact ints: n_tokens, n_distinct, n_bigrams,
    * top_bigram_n; derive fractions with single int/int divisions. */
  def repetitionStats(text: Column): Column =
    graft.plans.RepetitionKernel.repetitionStats(tokens(text))

  /** Context-window CHUNKING: split each document into fixed-size
    * token windows with stride overlap — the sequence-prep step
    * before tokenization/packing (e.g. 64-token windows, stride 48 =
    * 25% overlap so no boundary context is lost). One chunk row per
    * window start k·stride < n_tokens; the tail chunk may be shorter.
    * Documents with zero tokens emit no chunks.
    *
    * Pure column expressions — tokenize once, explode the window
    * starts, slice per chunk: one scan, no shuffle, linear in output
    * size at any corpus scale. Returns (id, chunk_no, start_tok,
    * n_tokens, chunk_text). */
  def chunk(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, windowTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(stride >= 1, "stride must be >= 1")
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__t"), col("__n"),
        explode(sequence(lit(0),
          floor((col("__n") - 1) / stride).cast("int"))).as("chunk_no"))
      .select(col(idCol),
        col("chunk_no").cast("long").as("chunk_no"),
        (col("chunk_no") * stride).cast("long").as("start_tok"),
        least(lit(windowTokens), col("__n") - col("chunk_no") * stride)
          .cast("long").as("n_tokens"),
        array_join(slice(col("__t"), col("chunk_no") * stride + 1,
          lit(windowTokens)), " ").as("chunk_text"))
  }

  /** VOCABULARY INDUCTION for tokenizer prep: the top-`k` tokens of
    * the corpus stream by frequency, each with its rank and the
    * CUMULATIVE coverage of the token stream — the curve a tokenizer
    * team reads to size a vocab ("how many types cover 95% of
    * tokens"). Returns (rank, token, n, coverage), rank 1 = most
    * frequent; ties broken by token (deterministic cross-engine).
    *
    * Scale shape: one map-side-combinable groupBy(token) exchange
    * (Zipf skew is absorbed by partial aggregation — hot tokens
    * combine within every map task), a global top-k via
    * TakeOrdered (never a full sort), and the rank/coverage window
    * over the K survivors only — K-sized by contract, the one
    * deliberately-single-partition step. The total-token denominator
    * rides in as a broadcast scalar. */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // the denominator never needs the grouped counts: per-doc token
    // sizes sum at scan rate (no second token exchange)
    val total = df
      .select(sum(size(tokens(col(textCol)))).cast("long").as("__total"))
    val w = Window.orderBy(col("n").desc, col("token").asc)
    counts.orderBy(col("n").desc, col("token").asc).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("coverage",
        round(sum(col("n")).over(w) / col("__total"), 6))
      .select("rank", "token", "n", "coverage")
  }

  /** Normalized md5 fingerprint (exact-dedup key). */
  def docFingerprint(text: Column): Column = fingerprint(text)

  /** Order-sensitive rolling fingerprint over tokens. */
  def docRollingFingerprint(text: Column): Column =
    rollingFingerprint(tokens(text))

  /** GOPHER-style repetition/length quality FILTER (Rae et al. 2021's
    * repetition-removal discipline): keep documents whose token count
    * lies in [minTokens, maxTokens], whose duplicate-token fraction
    * (1 − distinct/tokens) is ≤ maxDupTokenPct/100, and whose
    * top-bigram fraction is ≤ maxTopBigramPct/100 — the standard
    * pre-filter before dedup (boilerplate and keyword-stuffed pages
    * fail these long before any near-dup pass sees them).
    *
    * Thresholds compare EXACT integer cross-products
    * ((tokens − distinct)·100 ≤ tokens·pct), so no float boundary can
    * disagree across engines or partitionings. Documents with no
    * bigrams pass the bigram rule (no repetition evidence). Stats
    * come from the one-pass native kernel ([[repetitionStats]]) —
    * one scan, no shuffle. */
  def gopherFilter(df: DataFrame, textCol: String,
      maxDupTokenPct: Int = 30, maxTopBigramPct: Int = 20,
      minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    require(maxDupTokenPct >= 0 && maxDupTokenPct <= 100)
    require(maxTopBigramPct >= 0 && maxTopBigramPct <= 100)
    require(minTokens >= 1 && maxTokens >= minTokens)
    // ONE kernel evaluation per row: the natural withColumn+filter
    // form collapses into a single Filter whose six struct-field
    // predicates each inline the whole repetition_stats call — and
    // FilterExec performs no common-subexpression elimination across
    // short-circuited conjuncts, so the tokenize+count kernel ran up
    // to 6× per row (visible verbatim in the pushed DataFilters of
    // every gopher-gate scan). Binding the struct through a
    // single-element `exists` lambda evaluates the kernel exactly
    // once; the lambda variable is a bound value. Three-valued logic
    // matches the plain filter (a null struct yields a null
    // predicate → row dropped in both forms).
    val pred = (r: Column) =>
      r.getField("n_tokens") >= minTokens &&
        r.getField("n_tokens") <= maxTokens &&
        (r.getField("n_tokens") - r.getField("n_distinct")) * 100 <=
          r.getField("n_tokens") * maxDupTokenPct &&
        r.getField("top_bigram_n") * 100 <=
          r.getField("n_bigrams") * maxTopBigramPct
    df.filter(exists(array(repetitionStats(col(textCol))), pred))
  }

  /** PERPLEXITY-PROXY quality scoring (the CCNet discipline): a
    * bigram language model TRAINED ON THE CORPUS ITSELF scores every
    * document by mean token log-probability — boilerplate and
    * keyword-stuffed text sits far from the corpus's own n-gram
    * distribution, which is what perplexity bucketing filters on.
    * Add-one smoothing over the unigram vocabulary:
    * lp(w₂|w₁) = ln((C₂(w₁,w₂)+1) / (C₁(w₁)+V)); score = Σlp / n.
    * Returns (id, n_bigrams, lm_score) for docs with ≥ 2 tokens.
    *
    * Determinism: counts are exact; each doc's log-probs fold in
    * POSITION order (collect → sort_array by pos → sequential
    * `aggregate` lambda) — the per-group analog of the ss6 ordered
    * fold, so the float sum never depends on partitioning.
    *
    * Scale shape: bigram explode rides the scan; the count tables
    * are two map-side-combinable aggregations; the scoring join is
    * keyed by (w₁, w₂) — Zipf-skewed, the known hazard, handled by
    * AQE skew splitting (and saltable upstream if a single stop-pair
    * dominates); the per-doc fold is one (id) exchange. Nothing
    * corpus-sized broadcasts: the count tables are vocabulary-sized
    * and broadcast only when genuinely small. */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.fanOut(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    // the explicit isnotnull filter is a data NO-OP (zip_with over a
    // non-null token array yields non-null struct fields) — it exists
    // so every consumer branch of x carries the SAME predicate the
    // scoring join would otherwise INFER on its own branch only,
    // which broke canonical exchange equality and forced the v branch
    // below to re-run the whole gram pass (plans/r17/ts12_*)
    val x = toks.select(col("id"), posexplode(expr(
      "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
        " (a, b) -> struct(a AS w1, b AS w2))")))
      .select(col("id"), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    // c1 as a per-w1 window over the bigram-count frame — the
    // separate groupBy+join re-evaluated the whole bigram explode a
    // second time (the dsirFold totals fix; window sum of longs over
    // the identical rows is integer-exact)
    val c2b = x.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c2 = c2b
      .withColumn("c1", sum(col("c2")).over(
        Window.partitionBy("w1").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    // V from the bigram-count frame, NOT a third tokenize pass: every
    // token of a ≥2-token doc appears as w1 (all positions but the
    // last) or w2 (all but the first), so distinct(w1 ∪ w2) over the
    // ≥2-token-filtered corpus IS the unigram vocabulary — identical
    // integer. The old `explode(t) → countDistinct` branch re-ran the
    // whole tokenize+zip pass; this one aggregates the vocab-sized
    // (w1, w2) count frame. The `c2 >= 1` filter is always TRUE
    // (count of an existing group) — it pins the count column as
    // CONSUMED so column pruning cannot rewrite this branch's
    // aggregate into a count-less twin, which would fork a separate
    // exchange and re-run the gram pass (the reuse-breaking shape).
    val v = c2b.filter(col("c2") >= 1).select(col("w1").as("w"))
      .union(c2b.filter(col("c2") >= 1).select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    val lp = x.join(c2, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .select(col("id"), col("pos"),
        log((col("c2") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")).as("lp"))
    lp.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("lp")))).as("__arr"))
      .select(col("id"), col("n_bigrams"),
        round(expr("aggregate(__arr, 0D, (acc, s) -> acc + s.lp)") /
          col("n_bigrams"), 6).as("lm_score"))
  }

  /** CCNet-style CROSS-corpus LM scoring: the bigram model trains on
    * a TRUSTED reference slice and scores a DIFFERENT corpus — the
    * published CCNet recipe (train the LM on Wikipedia, score the
    * crawl), which the self-trained [[bigramLmScore]] (ts12)
    * structurally cannot express: a crawl full of boilerplate scores
    * its own boilerplate as high-probability. The difference is the
    * unseen mass: a bigram absent from the reference gets the
    * add-one floor ln(1/(c1+V)), an unseen LEFT word the global
    * floor ln(1/V) — LEFT joins + coalesce where the self-train
    * variant uses INNER joins (there every bigram is its own
    * training data). V is the REFERENCE vocabulary (the model's
    * smoothing denominator is a model property, not a corpus one).
    * Same determinism contract as ts12: integer counts, single-ln
    * log-probs, position-ordered per-doc fold. Scale shape: the
    * model tables are reference-vocabulary-sized; the scoring joins
    * key on (w1, w2)/(w1) with AQE handling Zipf skew; one (id)
    * exchange for the fold. */
  def bigramLmScoreCross(ref: DataFrame, refTextCol: String,
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val zipExpr = "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
      " (a, b) -> struct(a AS w1, b AS w2))"
    val rtoks = Par.fanOut(ref).select(tokens(col(refTextCol)).as("t"))
      .filter(size(col("t")) >= 2)
    // explicit isnotnull + `c2 >= 1` pins: data no-ops that keep every
    // consumer branch of the reference gram pass canonically EQUAL so
    // the exchange is planned once and reused (see bigramLmScore)
    val rx = rtoks.select(posexplode(expr(zipExpr)))
      .select(col("col.w1").as("w1"), col("col.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    // c1 as a per-w1 window over c2 — one reference gram pass, not
    // two (see bigramLmScore)
    val c2b = rx.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c2 = c2b
      .withColumn("c1", sum(col("c2")).over(
        Window.partitionBy("w1").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    // V from the reference bigram-count frame — see bigramLmScore:
    // distinct(w1 ∪ w2) over the ≥2-token-filtered reference equals
    // the reference unigram vocabulary exactly; the old branch re-ran
    // the reference tokenize+explode pass
    val v = c2b.filter(col("c2") >= 1).select(col("w1").as("w"))
      .union(c2b.filter(col("c2") >= 1).select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    val toks = Par.fanOut(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    val x = toks.select(col("id"), posexplode(expr(zipExpr)))
      .select(col("id"), col("pos"), col("col.w1").as("w1"),
        col("col.w2").as("w2"))
    // both model joins derive from the SAME windowed c2 frame (the
    // per-w1 slice must survive a (w1,w2) miss — an unseen bigram
    // with a seen left word still smooths against c1), so the
    // reference gram pass is shared via the window's exchange
    val lp = x.join(c2.select(col("w1"), col("w2"), col("c2")),
        Seq("w1", "w2"), "left")
      .join(c2.select(col("w1"), col("c1")).dropDuplicates("w1"),
        Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("id"), col("pos"),
        log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")).as("lp"))
    lp.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("lp")))).as("__arr"))
      .select(col("id"), col("n_bigrams"),
        round(expr("aggregate(__arr, 0D, (acc, s) -> acc + s.lp)") /
          col("n_bigrams"), 6).as("lm_score"))
  }

  /** Control + zero-width strip class for [[cleanText]] — RE2-safe
    * and shared VERBATIM with the oracle (the ts5 PII discipline).
    * Tab/LF/CR are deliberately NOT stripped (the whitespace collapse
    * owns them); VT/FF ARE stripped here because Java's `\s` includes
    * VT while RE2's does not — removing them before the collapse is
    * what keeps the two engines' `\s+` passes equivalent. */
  val ControlAndZeroWidthClass: String =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** CORPUS TEXT CLEANING — the normalization pass a crawl corpus
    * runs before ANY hashing/shingling/tokenizing: (1) Unicode NFC
    * canonical composition ([[graft.plans.TextNormalizeKernel]], a
    * native codegen'd expression — a decomposed "é" and the composed
    * one are different MinHash inputs but the same text, so
    * un-normalized crawls silently lose near-dup recall), (2) strip
    * control and zero-width characters, (3) collapse whitespace runs
    * to single spaces, (4) trim. Pure per-row Column expression:
    * rides the scan, no shuffle, stays inside whole-stage codegen. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        graft.plans.TextNormalizeKernel.nfcNormalize(text),
        ControlAndZeroWidthClass, ""),
      "\\s+", " "))

  /** INTRA-DOCUMENT LINE DEDUP (the Gopher/C4 repetition-removal
    * TRANSFORM, not the ts10 filter): keep the FIRST occurrence of
    * each distinct line of a document, preserving original order —
    * the pass that strips scraped pages whose template repeats the
    * same nav/footer block several times inside one page. Pure
    * per-row Column expression (`array_distinct` preserves first
    * occurrence; rides the scan, no shuffle, whole-stage codegen).
    * Returns (id, clean) plus the removed-line count so a silent
    * no-op cannot pass unnoticed. */
  def dedupLinesWithin(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // null text reads as the empty doc (clean "", n_removed 0) —
    // matching stripBoilerplateLines' empty-doc survival; a null
    // n_removed would silently drop out of the honesty counter
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val kept = array_distinct(lines)
    df.select(col(idCol).as("id"),
      array_join(kept, "\n").as("clean"),
      (size(lines) - size(kept)).cast("long").as("n_removed"))
  }

  /** CROSS-DOCUMENT BOILERPLATE LINE REMOVAL — C4's famous line
    * rule turned into the apply step: a line occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (cookie banners,
    * nav bars, licence footers — the repeated furniture of a crawl)
    * and is cut from EVERY document; remaining lines keep their
    * original order. Blank lines are never counted as boilerplate
    * (they'd trivially cross any threshold).
    *
    * Scale shape: one posexplode (line mass ≈ corpus mass), a
    * line-keyed combinable distinct-doc count, an anti-join of the
    * line stream against the frequent set (boilerplate cardinality
    * is SMALL by nature — AQE broadcasts it), and one id-keyed
    * regroup that reassembles each doc with a position-ordered
    * fold. Nothing corpus-sized broadcasts or collects. */
  def stripBoilerplateLines(df: DataFrame, idCol: String,
      textCol: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val frequent = lines
      .filter(col("line") =!= "")
      .groupBy("line").agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("line")
    val kept = lines.join(frequent, Seq("line"), "left_anti")
      .groupBy("id")
      .agg(array_join(array_sort(collect_list(struct(col("pos"), col("line"))))
        .getField("line"), "\n").as("clean"))
    // a doc whose EVERY line was boilerplate still exists — empty
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean"), lit("")).as("clean"))
  }

  /** PER-DOMAIN URL ANALYTICS — the domain-curation signal the
    * C4/RefinedWeb-style pipelines act on (blocklists, per-domain
    * caps, boilerplate sources): extract every `http(s)://host` from
    * the text, lowercase the host, and report integer-only stats per
    * domain — URL occurrences, distinct documents, and the token sum
    * of those documents. Integer-only by design: per-domain QUALITY
    * summaries compose downstream from these ids without a float
    * ordering question ever entering the gate.
    *
    * The host class is written explicitly (`[^/ \t\n\r]+`) rather
    * than `\S` because Java's and RE2's whitespace classes differ on
    * VT — the ts5/ts19 shared-verbatim discipline. Scale shape: URL
    * rows ≈ the corpus link mass; both aggregations are combinable
    * (count / count-distinct-by-pre-distinct / sum) and the final
    * join is domain-cardinality-sized. */
  /** The URL-host extraction pattern — ONE definition site shared by
    * [[domainStats]] and every apply-stage consumer (tp9), mirrored
    * verbatim in the oracles. The host class is written explicitly
    * (not \\S) because Java's and RE2's whitespace classes diverge on
    * VT. */
  val UrlHostPattern = "https?://([^/ \\t\\n\\r]+)"

  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hosts = df.select(col(idCol).as("id"),
        tokenCountWs(col(textCol)).cast("long").as("n_tokens"),
        explode(regexp_extract_all(col(textCol),
          lit(UrlHostPattern), lit(1))).as("host"))
      .select(col("id"), col("n_tokens"), lower(col("host")).as("domain"))
    val urls = hosts.groupBy("domain").agg(count(lit(1)).as("n_urls"))
    val docs = hosts.select("domain", "id", "n_tokens").distinct()
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"))
    urls.join(docs, Seq("domain"))
  }

  /** TRAINABLE QUALITY CLASSIFIER — multinomial naive Bayes with
    * add-one smoothing, the fastText-style supervised filter a
    * curation pipeline trains on a labeled slice and applies to the
    * corpus (CCNet's companion to the LM scorer; here train =
    * score corpus, the ts12 self-train discipline). `labelCol` is
    * any boolean truth column (the gate derives it from
    * [[gopherFilter]] survival). Output per doc:
    * (id, predicted 0/1, margin_r = round(s1 − s0, 6)) where
    * s_y = ln(docs_y / n) + Σ_positions ln((c(w,y)+1)/(tot_y+V)).
    *
    * Fully engine-portable BY CONSTRUCTION, like the ts12 bigram LM:
    * every model parameter is an integer count (word×label counts,
    * label totals, vocabulary size, doc counts), the per-token
    * log-probs are single ln calls over integer quotients, and each
    * document folds its token contributions in POSITION order (the
    * ss6 ordered-fold rule), so both the margin and the argmax are
    * bit-identical on any engine/partitioning. The prediction tie
    * (s1 = s0, e.g. an empty doc under equal priors) resolves to 0.
    *
    * Scale shape: training is two combinable aggregations (word×label
    * counts → label totals), all model scalars live in 1-row
    * broadcast frames, the word-model join keys on the token (AQE
    * handles Zipf skew, as in ts12), and the only corpus-sized
    * exchanges are the (id)-keyed fold and the token-keyed count —
    * both unavoidable and both single. */
  def nbQualityScores(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val labeled = df.select(col(idCol).as("id"),
      col(labelCol).cast("boolean").cast("int").as("y"),
      tokens(col(textCol)).as("t"))
    // the explicit isnotnull is a data NO-OP (split tokens are never
    // null) — it keeps the wm and totals branches canonically EQUAL
    // (the word-model join infers it on its own branch only, which
    // forked the exchange and re-ran the tokenize pass — see
    // plans/r17/ts18_*)
    val x = labeled.select(col("id"), col("y"), posexplode(col("t")))
      .select(col("id"), col("y"), col("pos"), col("col").as("w"))
      .filter(col("w").isNotNull)
    // model totals (tot1/tot0/v) as a SECOND-LEVEL aggregate over the
    // per-word count frame, broadcast-crossed back in: the r16 shape
    // computed them as whole-frame window sums, which moved the
    // vocab-sized frame to ONE partition (WindowExec's own warning —
    // a serial sort chokepoint at a 10⁷-10⁸-row corpus vocabulary).
    // The totals branch consumes wm's full output (w through the
    // grouping key, both partial sums), so column pruning cannot
    // diverge the two branches and the exchange under wm's final
    // aggregate is REUSED — one tokenize+count pass feeds both (plans
    // pinned in plans/r17/ts18_*). Integer-exact: sums of longs over
    // the identical rows the window summed.
    val wm = x.groupBy("w").agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("c0"))
    val totals = wm.agg(sum(col("c1")).as("tot1"),
      sum(col("c0")).as("tot0"), count(lit(1)).as("v"))
    val priors = labeled.agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("nd1"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("nd0"),
      count(lit(1)).as("n"))
    val lp = x.join(wm, Seq("w"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("pos"),
        log((col("c1") + lit(1L)).cast("double") /
          (col("tot1") + col("v")).cast("double")).as("lp1"),
        log((col("c0") + lit(1L)).cast("double") /
          (col("tot0") + col("v")).cast("double")).as("lp0"))
    val folded = lp.groupBy("id").agg(
      sort_array(collect_list(struct(col("pos"), col("lp1"), col("lp0"))))
        .as("__arr"))
      .select(col("id"),
        expr("aggregate(__arr, 0D, (acc, s) -> acc + s.lp1)").as("w1"),
        expr("aggregate(__arr, 0D, (acc, s) -> acc + s.lp0)").as("w0"))
    labeled.select(col("id"))
      .join(folded, Seq("id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("id"),
        (log(col("nd1").cast("double") / col("n").cast("double")) +
          coalesce(col("w1"), lit(0.0))).as("s1"),
        (log(col("nd0").cast("double") / col("n").cast("double")) +
          coalesce(col("w0"), lit(0.0))).as("s0"))
      .select(col("id"),
        when(col("s1") > col("s0"), 1).otherwise(0).as("predicted"),
        round(col("s1") - col("s0"), 6).as("margin_r"))
  }

  /** CCNet-style PERPLEXITY BUCKETING: documents labeled head /
    * middle / tail by corpus-quantile cuts over the bigram-LM mean
    * log-prob ([[bigramLmScore]]) — the standard downstream use of a
    * perplexity signal (CCNet keeps head+middle, drops tail). Higher
    * mean log-prob = lower perplexity = "head".
    *
    * Cuts are EXACT interpolated percentiles of the 6-dp-rounded
    * scores (the a8 semantics pin; `approx_percentile` is the drop-in
    * 100 TB path, as with a8b). Scores are 6-dp-spaced, quantile
    * interpolation lands strictly inside an order-stat gap, so the
    * `>=` bucket boundaries cannot straddle an engine ulp.
    *
    * Scale shape: the cut frame is ONE row (broadcast); bucketing is
    * then a per-row CASE — no shuffle beyond [[bigramLmScore]]'s own
    * exchanges. */
  /** Coverage note: documents with fewer than 2 tokens have no
    * bigram and therefore NO LM score — they are absent from the
    * output entirely (neither head nor tail), and the quantile cuts
    * are computed over the scoreable corpus only. Callers keeping
    * head+middle must decide the sub-2-token docs' fate explicitly
    * (an anti-join on the output finds them). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      lo: Double = 0.3, hi: Double = 0.7): DataFrame = {
    require(lo > 0 && hi < 1 && lo < hi, s"need 0 < lo < hi < 1, got $lo/$hi")
    val scored = bigramLmScore(df, idCol, textCol)
    val cuts = scored.agg(
      percentile(col("lm_score"), lit(lo)).as("c_lo"),
      percentile(col("lm_score"), lit(hi)).as("c_hi"))
    scored.crossJoin(broadcast(cuts))
      .select(col("id"), col("lm_score"),
        when(col("lm_score") >= col("c_hi"), "head")
          .when(col("lm_score") >= col("c_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** TF-IDF top-k terms per document — the classic keyword
    * extraction / relevance signal. tf = in-doc term count,
    * idf = ln(N / df) with N = docs with ≥1 token and df = docs
    * containing the term; score = tf·idf, top `k` per doc by
    * (score DESC, term ASC).
    *
    * Determinism: tf/df/N are exact integers; idf's ln sees the same
    * double quotient in both engines, score = int·double — every
    * ranking compare is over bit-identical doubles (the output
    * rounds to 6 dp for display only).
    *
    * Scale shape: ONE (doc, term) aggregation builds tf; df and N
    * derive from tf (term-keyed combinable count + a 1-row scalar —
    * no second corpus scan); the tf⋈df join keys on term
    * (vocabulary-sized build side); rank ≤ k plans as
    * WindowGroupLimit so no doc's term list fully sorts. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val tf = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct(col("id")).as("n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"),
        round(col("tfidf"), 6).as("tfidf_r"))
  }

  /** BM25 RANKED RETRIEVAL (Robertson–Spärck Jones weighting): score
    * every document against a fixed bag-of-words query, return the
    * global top-`k` — the lexical-retrieval primitive a curation
    * pipeline uses to pull topic-relevant slices (and the exact-BM25
    * baseline an embedding retriever is recall-checked against).
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale shape: the corpus-sized token stream reduces IMMEDIATELY
    * to query-term postings (the `isin` filter rides the scan, so
    * only matching (doc, term) rows reach the aggregation); doc
    * lengths are one combinable (id)-keyed count; N/avgdl/df are
    * scalar-or-query-sized broadcast frames. Every ranking compare is
    * over bit-identical doubles: integer tf/dl/df/N feed a shared
    * operator tree (constants combined IN ENGINE on both sides, the
    * g1 discipline), and the per-doc sum folds its ≤|query| term
    * contributions in TERM order (the ss6/ts12 ordered-fold rule) so
    * partitioning never moves a double. The global top-k plans as
    * TakeOrderedAndProject; the rank window runs on the k-row
    * result. */
  def bm25TopK(df0: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(query.nonEmpty, "query must carry at least one term")
    val q = query.map(_.toLowerCase).distinct
    // NO fan-out here: the token stream reduces immediately to
    // query-term postings (the isin filter rides the scan), so the
    // per-row work is one tokenize + filter — the round-16 battery
    // measured the added exchange as a pure regression across the
    // whole bm25 family (ts17 1→3 s, ts21 3→5 s, with inverted
    // 8-vs-32-core scaling), paid per probe in the append/reindex
    // gates.
    val df = df0
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    // doc lengths from per-row size() aggregated per id — the same
    // integers the old explode+groupBy fold produced (including for
    // corpora where one id spans several rows: sizes SUM into the
    // concatenated-doc length, matching tf's groupBy merge), but the
    // exchange carries one row per input ROW, not one per TOKEN —
    // this query's largest shuffle gone (the >0 filter keeps n =
    // docs with ≥1 token, the empty-doc rule)
    val dl = df.select(col(idCol).as("id"),
      size(tokens(lower(col(textCol)))).cast("long").as("sz"))
      .groupBy("id").agg(sum(col("sz")).as("dl"))
      .filter(col("dl") > 0)
    val tf = toks.filter(col("term").isin(q: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val joined = tf
      .join(dl, Seq("id"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
    bm25Rank(joined, k, k1, b)
  }

  /** The shared BM25 scoring tail: `joined` carries one row per
    * (id, term) posting with the integer inputs
    * (tf, dl, df, n, total_dl); the idf/contribution arithmetic and
    * the term-ordered per-doc fold are ONE expression tree used by
    * both [[bm25TopK]] and [[bm25TopKStored]] — which is what makes
    * the stored probe bit-identical to the from-scratch computation
    * (integer inputs equal by construction, double tree shared). */
  private def bm25Rank(joined: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val avgdl = col("total_dl").cast("double") / col("n").cast("double")
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val contrib = joined
      .withColumn("c",
        idf * (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl").cast("double") / avgdl)))
    val scored = contrib.groupBy("id").agg(
      aggregate(sort_array(collect_list(struct(col("term"), col("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
    val top = scored.orderBy(col("score").desc, col("id").asc).limit(k)
    val w = Window.orderBy(col("score").desc, col("id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("id"), round(col("score"), 6).as("score_r"))
  }

  /** Build the STORED lexical index — the ss9/d20 build-once/
    * probe-many discipline for the BM25 family, closing the gap where
    * [[bm25TopK]] re-tokenizes and re-aggregates the whole corpus on
    * every query. ONE corpus text pass commits two versioned frames:
    *
    *  - `postingsTable` (term, id, tf, dl): the inverted index, doc
    *    length DENORMALIZED onto each posting so a probe never joins
    *    a corpus-sized doc-length table. Written term-partitioned and
    *    term-sorted, so parquet row-group min/max stats prune a
    *    probe's scan to the query terms' slices.
    *  - `statsTable` (term, df, n, total_dl): vocabulary-sized term
    *    stats with the two corpus scalars denormalized onto each row
    *    — a probe filters it to its query terms and broadcasts.
    *
    * Index semantics match [[bm25TopK]] exactly: same tokenizer, n =
    * docs with ≥1 token, df = docs containing the term. The postings
    * commit is a TERM-BUCKETED store table (term-sorted within each
    * bucket), so a probe opens only the query terms' bucket dirs
    * ([[ParquetTableStore.readBucketsOf]]) and row-group min/max
    * stats prune within them; NEW documents fold in incrementally via
    * [[bm25AppendIndex]] (O(delta) — the d10 discipline for the
    * lexical family); a rebuild replaces every bucket.
    *
    * Cross-table consistency: the store's atomicity is per TABLE,
    * and a probe must never mix a new postings snapshot with old
    * stats (silently wrong scores). The stats frame therefore records
    * the postings VERSION it was derived from (`postings_version` —
    * columnar-RLE, effectively free), stats commit LAST, and
    * [[bm25TopKStored]] refuses a mismatched pair with a retryable
    * error instead of answering wrong. Index MUTATIONS (build,
    * append) on one index must be externally serialized — racing
    * mutators trip the store's CAS, but the version the stats frame
    * records is only exact when mutations don't interleave. */
  def bm25BuildIndex(df0: DataFrame, idCol: String, textCol: String,
      store: ParquetTableStore,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      numBuckets: Int = 32): Unit = {
    // NO fan-out here: the round-16 battery measured the build-side
    // round-robin exchange as a regression for every stored-index
    // gate (ts25 6→9 s, ts28 7→10 s, ss24 14→17 s, st8 8→10 s — the
    // build cost is re-paid per probe/append iteration), and the
    // committed before/after plans showed no structural win.
    val df = df0
    val spark = df.sparkSession
    // id stays whatever type the caller keys by (string video ids and
    // long doc ids both index — the MainDedupSpec genericity rule).
    // ONE tokenize pass: dl is the row-sum of tf (count of tokens =
    // sum of per-term counts, exactly), so the doc-length aggregation
    // runs over the (id, term)-reduced frame instead of re-exploding
    // the corpus text — at deployment scale the raw-text pass is the
    // build's dominant cost.
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    // tf is consumed by TWO actions (the postings write and the stats
    // commit) — pin it so "one corpus text pass" holds ACROSS actions,
    // not just within each plan (re-tokenizing per action was the
    // build's dominant redundant cost at deployment scale)
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
      // `gen` is the document GENERATION ([[bm25ReindexDocs]]'s
      // tombstone epoch); a fresh build is generation 0 everywhere
      val postings = tf.join(dl, Seq("id"))
        .select(col("term"), col("id"), col("tf"), col("dl"),
          lit(0L).as("gen"))
      store.replaceBucketed(spark, postingsTable, postings, Seq("term"),
        numBuckets, sortWithin = Seq("term", "id"))
      val pv = store.currentVersion(postingsTable).get
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
      // the PIN-CARRIER row (term "" — unreachable by any
      // whitespace-tokenized query term, df 0): stats rows carry the
      // version pins, so a stats frame that can go EMPTY (all-empty
      // corpus; every doc later reindexed away) loses the pins and
      // with them the torn-state detection — the probe would brick
      // and a crashed append could replay into double-counted
      // postings undetected. One guaranteed row keeps the pins
      // unconditionally; it joins nothing and scores nothing.
      store.commit(spark, statsTable,
        dfreq.crossJoin(stats)
          .unionByName(stats.select(lit("").as("term"), lit(0L).as("df"),
            col("n"), col("total_dl")))
          .withColumn("postings_version", lit(pv))
          .withColumn("tombstones_version", lit(-1L)))
      ()
    } finally tf.unpersist(false)
  }

  /** INCREMENTAL index maintenance — fold NEW documents into the
    * stored BM25 index without touching the existing postings: the
    * ts25/d10 append discipline for the lexical family, matching the
    * reference's incremental-sync signature (main_scraper.py:144-179)
    * applied to retrieval. Because a document's (tf, dl) postings
    * depend only on its OWN text and the corpus stats (df, n,
    * total_dl) are additive, append ≡ rebuild bit-exactly:
    *
    *  - delta postings (one tokenize pass over `newDocs` ONLY) insert
    *    via [[ParquetTableStore.appendBucketed]] — new part-files in
    *    the touched term buckets, every existing file hard-linked;
    *    nothing corpus-sized is read, shuffled, or rewritten;
    *  - the stats frame is VOCABULARY-sized, so it rewrites whole:
    *    per-term df adds (full-outer on term), the two corpus scalars
    *    (n, total_dl) add, and the new `postings_version` pins the
    *    pair consistency for [[bm25TopKStored]].
    *
    * Contract: `newDocs` ids must be NEW to the index (no merge runs
    * on the append path — re-indexing a changed document requires
    * [[bm25BuildIndex]]); `validateNewIds=true` (default) enforces it
    * with one postings id-scan + an intra-delta uniqueness check and
    * fails loudly, `false` skips the corpus-sized read for trusted
    * feeds (an ingest loop that already exact-dedups by id). Docs
    * whose text tokenizes empty add no postings and don't count into
    * `n` — exactly [[bm25BuildIndex]]'s rule. */
  def bm25AppendIndex(newDocs: DataFrame, idCol: String, textCol: String,
      store: ParquetTableStore,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      validateNewIds: Boolean = true): Unit = {
    val spark = newDocs.sparkSession
    // append maintains an EXISTING index: a missing half means there
    // is nothing consistent to fold into (appending would create a
    // postings table whose stats commit then fails, leaving a torn
    // pair) — build first
    require(store.exists(postingsTable) && store.exists(statsTable),
      s"bm25AppendIndex: index ($postingsTable, $statsTable) not built — " +
        "run bm25BuildIndex first")
    val ids = newDocs.select(col(idCol).as("id"))
    // ONE job runs BOTH validation probes (intra-delta dup + stored-id
    // clash): each limit(1) existence probe scheduled its own job
    // round — pure fixed cost per append at streaming cadence (guide
    // §1.2). The union evaluates both sides in a single action; the
    // semi-join keeps the stored postings as the streamed side with
    // the delta ids broadcast (the distinct before it was a spare
    // exchange — existence needs no dedup).
    val dupProbe = ids.groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).select(lit("dup").as("bad"))
    val probe =
      if (validateNewIds)
        dupProbe.unionByName(
          store.read(spark, postingsTable).select("id")
            .join(ids, Seq("id"), "left_semi").limit(1)
            .select(lit("clash").as("bad")))
      else dupProbe
    val bad = probe.collect().map(_.getString(0)).toSet
    require(!bad.contains("dup"),
      s"bm25AppendIndex: newDocs carries duplicate $idCol values — " +
        "postings would double-count; dedup the delta first")
    require(!bad.contains("clash"),
      s"bm25AppendIndex: newDocs contains ids already indexed in " +
        s"$postingsTable — append is insert-only; rebuild to re-index")
    // one tokenize pass (dl = row-sum of tf — see bm25BuildIndex),
    // PINNED across the fold's three actions (postings append, scalar
    // collect, stats commit) so the delta text is read exactly once
    val toks = newDocs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    // new documents are generation 0 (never reindexed)
    val postings = tf.join(dl, Seq("id"))
      .select(col("term"), col("id"), col("tf"), col("dl"),
        lit(0L).as("gen"))
    // a pre-generation-layout index would mix gen-less and gen-ful
    // part files — refuse loudly with the standing repair instruction
    val statsAll = store.read(spark, statsTable)
    require(statsAll.columns.contains("tombstones_version"),
      s"bm25AppendIndex: $statsTable predates the generation layout — " +
        "rebuild the index (bm25BuildIndex) before appending")
    store.appendBucketed(spark, postingsTable, postings, Seq("term"),
      sortWithin = Seq("term", "id"))
    val pv = store.currentVersion(postingsTable).get
    // vocabulary-sized rewrite: per-term df adds; the denormalized
    // corpus scalars (n, total_dl) shift on EVERY row, which is why
    // the stats frame replaces whole — it is ≤|vocab| rows by
    // construction, never corpus-sized
    val old = statsAll.drop("postings_version", "tombstones_version")
    // ONE job collects both scalar frames (stored corpus scalars +
    // delta scalars): at streaming cadence every scheduled job round
    // is a fixed per-batch cost, so the two tiny reads fold into one.
    // The tombstone pin rides the stored side (constant per row) so
    // an append after a reindex carries it forward instead of
    // silently un-pinning the tombstone state.
    val scalarRows = statsAll.select(lit(0).as("side"), col("n"),
        col("total_dl"), col("tombstones_version")).limit(1)
      .unionByName(dl.agg(lit(1).as("side"), count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl"),
        lit(-1L).as("tombstones_version")))
      .collect()
    val (oldN, oldTotalDl, tombV) = scalarRows.find(_.getInt(0) == 0)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .getOrElse((0L, 0L, -1L))
    val deltaRow = scalarRows.find(_.getInt(0) == 1).get
    val n2 = oldN + deltaRow.getLong(1)
    val totalDl2 = oldTotalDl + deltaRow.getLong(2)
    val deltaDf = tf.groupBy("term").agg(count(lit(1)).as("df_delta"))
    val merged = old.select(col("term"), col("df"))
      .join(deltaDf, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) +
          coalesce(col("df_delta"), lit(0L))).as("df"),
        lit(n2).as("n"), lit(totalDl2).as("total_dl"),
        lit(pv).as("postings_version"),
        lit(tombV).as("tombstones_version"))
    store.commit(spark, statsTable, merged)
    ()
    } finally tf.unpersist(false)
  }

  /** REINDEX CHANGED DOCUMENTS in the stored BM25 index — the
    * delete-and-re-append path that closes [[bm25AppendIndex]]'s
    * insert-only gap. A changed doc's old postings live scattered
    * across TERM buckets, so rewriting them in place would be a
    * corpus-sized bucket rewrite; instead the mutation is
    * LOG-STRUCTURED (the per-id tombstone + compaction shape):
    *
    *  - new postings append insert-only with a bumped per-doc
    *    GENERATION (`gen` = live max + 1; brand-new ids start at 0 —
    *    reindex therefore subsumes append as the general upsert);
    *  - a tombstone row (id, dead_below) marks every PRIOR generation
    *    of that id dead — the probe drops them with one
    *    tombstone-sized broadcast join;
    *  - the stats frame recomputes exactly as a from-scratch build
    *    would see it: n and total_dl shift by (new − old live) and
    *    per-term df by (docs gained − docs lost), zero-df terms
    *    dropped — probe ≡ rebuild bit-exactly (gate ts28).
    *
    * Cost: ONE postings scan (the honest price of a doc-keyed lookup
    * in a term-keyed artifact — churn-heavy deployments co-maintain a
    * forward index), delta-sized tokenize + appends, vocabulary-sized
    * stats rewrite. Consistency: commits order postings → tombstones
    * → stats, and stats pins BOTH artifact versions
    * (`postings_version`, `tombstones_version`), so a probe landing
    * mid-mutation or after a crash between commits refuses retryably
    * ([[bm25TopKStored]]) — a torn reindex can never answer wrong.
    * Re-running a COMPLETED reindex converges (the dead generations
    * it re-kills are already invisible; garbage accrues until
    * [[bm25CompactIndex]]); re-running over a CRASHED one does NOT —
    * the re-run's oldLive/df_dead would see old plus half-applied
    * generations and the stats deltas cancel or double-count, while
    * this run's final stats commit would re-pin consistent versions
    * and hide the corruption from the probe's refusal check. The
    * entry guard therefore refuses a torn starting state loudly:
    * run [[bm25CompactIndex]] to repair (it recomputes stats from
    * the live postings and refuses the one unrepairable shape), or
    * [[bm25BuildIndex]] to rebuild. Mutations on one index must be
    * externally serialized, as with build/append. */
  def bm25ReindexDocs(docs: DataFrame, idCol: String, textCol: String,
      store: ParquetTableStore,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      tombstoneTable: String = "bm25_tombstones"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(store.exists(postingsTable) && store.exists(statsTable),
      s"bm25ReindexDocs: index ($postingsTable, $statsTable) not built — " +
        "run bm25BuildIndex first")
    val ids = docs.select(col(idCol).as("id"))
    val statsAll = store.read(spark, statsTable)
    require(statsAll.columns.contains("tombstones_version"),
      s"bm25ReindexDocs: $statsTable predates the generation layout — " +
        "rebuild the index (bm25BuildIndex) first")
    val allPostings = store.read(spark, postingsTable)
    val tomb =
      if (store.exists(tombstoneTable))
        Some(store.read(spark, tombstoneTable))
      else None
    // The TORN-STATE ENTRY GUARD and the intra-delta dup probe now
    // ride the single scalar-collect job below (each limit(1) probe
    // scheduled its own job round — fixed per-mutation cost, guide
    // §1.2); refusal ORDER is preserved in the post-collect checks
    // (dup first, then torn — the spec-pinned precedence).
    // ALL old rows of exactly the reindexed ids: one postings scan.
    // Generations derive from every row (dead included) — a doc
    // previously reindexed to zero tokens has only DEAD rows, and
    // deriving its next generation from the live set alone would
    // restart it at 0, below its standing tombstone, silently killing
    // the resurrected text. Stats deltas use the LIVE subset only.
    val oldAll = allPostings
      .join(ids, Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldLive = tomb match {
      case None => oldAll
      case Some(t) => oldAll
        .join(broadcast(t.select(col("id"), col("dead_below"))),
          Seq("id"), "left")
        .filter(col("dead_below").isNull ||
          coalesce(col("gen"), lit(0L)) >= col("dead_below"))
        .drop("dead_below")
    }
    try {
      // per-id next generation (ids new to the index start at 0)
      val gens = oldAll.groupBy("id")
        .agg((max(coalesce(col("gen"), lit(0L))) + 1L).as("gen"))
      // one tokenize pass over the NEW text (the build shape)
      val toks = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
        val newPostings = tf.join(dl, Seq("id"))
          .join(gens, Seq("id"), "left")
          .select(col("term"), col("id"), col("tf"), col("dl"),
            coalesce(col("gen"), lit(0L)).as("gen"))
        // ONE job for all six scalars — stored (n, total_dl), dead
        // (docs, dl mass), new (docs, dl mass) — PLUS the three
        // probes that each used to schedule their own job round:
        // the intra-delta dup check, the torn-state pin row, and the
        // deadMarks-nonempty existence (gens row ⟺ some reindexed id
        // already has postings, dead or live)
        val oldDl = oldLive.select("id", "dl").distinct()
        val scalarRows = statsAll.select(lit(0).as("side"), col("n"),
            col("total_dl")).limit(1)
          .unionByName(oldDl.agg(lit(1).as("side"),
            count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("total_dl")))
          .unionByName(dl.agg(lit(2).as("side"), count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("total_dl")))
          .unionByName(ids.groupBy("id").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1).limit(1)
            .select(lit(3).as("side"), lit(1L).as("n"),
              lit(0L).as("total_dl")))
          .unionByName(statsAll.select(lit(4).as("side"),
            col("postings_version").as("n"),
            col("tombstones_version").as("total_dl")).limit(1))
          .unionByName(gens.limit(1).select(lit(5).as("side"),
            lit(1L).as("n"), lit(0L).as("total_dl")))
          .collect()
        def sideOpt(i: Int): Option[(Long, Long)] =
          scalarRows.find(_.getInt(0) == i)
            .map(r => (r.getLong(1), r.getLong(2)))
        def side(i: Int): (Long, Long) = sideOpt(i).getOrElse((0L, 0L))
        require(sideOpt(3).isEmpty,
          s"bm25ReindexDocs: docs carries duplicate $idCol values — " +
            "postings would double-count; dedup the delta first")
        // TORN-STATE ENTRY GUARD: stats commit LAST pinning both table
        // versions, so pins behind the live versions mean a prior
        // mutation crashed between its commits — folding deltas on top
        // would not converge (see the scaladoc), and worse, this run's
        // stats commit would re-pin a consistent-looking pair. Refuse
        // loudly with the repair path. An EMPTY stats frame (all-empty
        // corpus build) has no pin row and is compatible by convention.
        sideOpt(4).foreach { case (pv0, tv0) =>
          val curPv = store.currentVersion(postingsTable).getOrElse(-1L)
          val curTv = store.currentVersion(tombstoneTable).getOrElse(-1L)
          if (pv0 != curPv || tv0 != curTv)
            throw new IllegalStateException(
              s"bm25ReindexDocs: index torn — $statsTable pins postings " +
                s"v$pv0/tombstones v$tv0 but the " +
                s"tables are at v$curPv/v$curTv; a prior mutation crashed " +
                "between commits. Run bm25CompactIndex to repair, or " +
                "bm25BuildIndex to rebuild")
        }
        val (n0, t0) = side(0); val (nDead, tDead) = side(1)
        val (nNew, tNew) = side(2)
        val haveDeadMarks = sideOpt(5).isDefined
        val n2 = n0 - nDead + nNew
        val totalDl2 = t0 - tDead + tNew
        // commits: postings first (insert-only; an all-empty new text
        // batch appends nothing and the version no-ops), tombstones
        // second, stats LAST pinning both versions
        store.withCommitRetries()(store.appendBucketed(spark,
          postingsTable, newPostings, Seq("term"),
          sortWithin = Seq("term", "id")))
        val deadMarks = gens.select(col("id"), col("gen").as("dead_below"))
        if (haveDeadMarks)
          store.withCommitRetries()(
            store.upsert(spark, tombstoneTable, deadMarks, Seq("id")))
        val pv = store.currentVersion(postingsTable).get
        val tv = store.currentVersion(tombstoneTable).getOrElse(-1L)
        val dfDead = oldLive.groupBy("term")
          .agg(count(lit(1)).as("df_dead"))
        val dfNew = tf.groupBy("term").agg(count(lit(1)).as("df_new"))
        val merged = statsAll
          .drop("postings_version", "tombstones_version")
          .select(col("term"), col("df"))
          .join(dfDead, Seq("term"), "full_outer")
          .join(dfNew, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df"), lit(0L)) - coalesce(col("df_dead"), lit(0L))
              + coalesce(col("df_new"), lit(0L))).as("df"))
          .filter(col("df") > 0)
          .select(col("term"), col("df"), lit(n2).as("n"),
            lit(totalDl2).as("total_dl"),
            lit(pv).as("postings_version"),
            lit(tv).as("tombstones_version"))
          // re-add the pin-carrier (the df > 0 cut drops it): a
          // reindex that deletes the last live doc must not commit a
          // pin-less stats frame (see bm25BuildIndex)
          .unionByName(Seq(("", 0L, n2, totalDl2, pv, tv))
            .toDF("term", "df", "n", "total_dl", "postings_version",
              "tombstones_version"))
        store.withCommitRetries()(store.commit(spark, statsTable, merged))
        ()
      } finally tf.unpersist(false)
    } finally oldAll.unpersist(false)
  }

  /** COMPACT a reindexed BM25 index: rewrite the postings keeping
    * only live generations, clear the tombstone table, and commit a
    * stats frame RECOMPUTED from the surviving postings — the
    * periodic pass that bounds the probe's tombstone broadcast and
    * reclaims dead-generation bytes (the log-structured discipline's
    * merge step), and the index family's REPAIR tool for states a
    * crashed mutation left torn (stats pins behind the live table
    * versions — [[bm25ReindexDocs]]'s entry guard sends callers
    * here).
    *
    * Two properties make the repair claim sound:
    *
    *  - live generations are PRESERVED through the rewrite (not reset
    *    to 0), so re-running a compaction that crashed between its
    *    own commits is idempotent: the standing tombstones are no-ops
    *    against the already-compacted rows instead of silently
    *    filtering generation-0 survivors back out (the crash window
    *    the reset-to-0 layout had);
    *  - stats are REBUILT from the live postings (df = live docs per
    *    term, n / total_dl from the distinct live (id, dl) pairs —
    *    bit-identical to what [[bm25BuildIndex]] computes over the
    *    live corpus), never carried forward, so stale stats VALUES
    *    from a torn predecessor can't survive the pass.
    *
    * The one unrepairable shape is refused loudly: an id with MORE
    * THAN ONE live generation (a reindex that crashed after its
    * postings append but before its tombstone upsert). Every healthy
    * state keeps ≤1 live generation per id (reindex tombstones all
    * prior generations; append inserts only new ids), so the check
    * is exact — those duplicates would double-count and only a
    * rebuild knows which generation the caller meant.
    *
    * Commit order postings → tombstones → stats (stats last, pinning
    * both versions) keeps every crash window either probe-refusable
    * or already-consistent. Full bucketed rewrite plus one stats
    * scan of the compacted postings by construction — run it at
    * compaction cadence, not per reindex. */
  def bm25CompactIndex(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      tombstoneTable: String = "bm25_tombstones",
      numBuckets: Int = 32): Unit = {
    require(store.exists(postingsTable) && store.exists(statsTable),
      s"bm25CompactIndex: index ($postingsTable, $statsTable) not built")
    val all = store.read(spark, postingsTable)
    val tomb =
      if (store.exists(tombstoneTable))
        Some(store.read(spark, tombstoneTable)) else None
    val live = tomb match {
      case None => all
      case Some(t) => all
        .join(broadcast(t.select(col("id"), col("dead_below"))),
          Seq("id"), "left")
        .filter(col("dead_below").isNull ||
          coalesce(col("gen"), lit(0L)) >= col("dead_below"))
        .select(col("term"), col("id"), col("tf"), col("dl"), col("gen"))
    }
    val dupLiveGens = live.select(col("id"), coalesce(col("gen"), lit(0L)))
      .distinct().groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    if (dupLiveGens > 0)
      throw new IllegalStateException(
        s"bm25CompactIndex: $postingsTable carries more than one LIVE " +
          "generation for some id — a reindex crashed between its " +
          "postings append and its tombstone upsert, and which " +
          "generation is current is unrecoverable from the index " +
          "alone. Rebuild with bm25BuildIndex")
    val hasDead = tomb.exists(_.limit(1).count() > 0)
    if (hasDead)
      store.withCommitRetries()(store.replaceBucketed(spark, postingsTable,
        live, Seq("term"), numBuckets, sortWithin = Seq("term", "id")))
    tomb.foreach { t =>
      store.withCommitRetries()(
        store.commit(spark, tombstoneTable, t.filter(lit(false))))
    }
    val pv = store.currentVersion(postingsTable).get
    val tv = store.currentVersion(tombstoneTable).getOrElse(-1L)
    val compacted = store.read(spark, postingsTable)
    val dfreq = compacted.groupBy("term").agg(count(lit(1)).as("df"))
    val scalars = compacted.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
    // pin-carrier row included: a compaction of an index whose docs
    // were all reindexed away yields zero live terms, and a pin-less
    // stats frame would brick the probe (see bm25BuildIndex)
    store.withCommitRetries()(store.commit(spark, statsTable,
      dfreq.crossJoin(scalars)
        .unionByName(scalars.select(lit("").as("term"), lit(0L).as("df"),
          col("n"), col("total_dl")))
        .withColumn("postings_version", lit(pv))
        .withColumn("tombstones_version", lit(tv))))
    ()
  }

  /** BM25 top-`k` against the STORED index — probe cost is
    * independent of corpus size: the postings read opens ONLY the
    * query terms' bucket dirs (directory-level pruning via
    * [[ParquetTableStore.readBucketsOf]]) and the term filter then
    * prunes row groups within them (term-sorted files), the stats
    * read filters a vocabulary-sized frame to ≤|query| rows and
    * broadcasts, and the scoring tail runs on posting-list-sized data
    * only. No corpus re-scan, no re-tokenize. Bit-identical to
    * [[bm25TopK]] over the same corpus — whether built in one shot or
    * grown through [[bm25AppendIndex]] (shared [[bm25Rank]] tree over
    * integer inputs that are equal by construction; the ts21/ts25
    * gates pin both). */
  def bm25TopKStored(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore, query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      tombstoneTable: String = "bm25_tombstones"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(query.nonEmpty, "query must carry at least one term")
    import spark.implicits._
    val q = query.map(_.toLowerCase).distinct
    val (postingsPruned, pv) =
      store.readBucketsOf(spark, postingsTable, q.toDF("term"))
    val statsAll = store.read(spark, statsTable)
    // the tables commit independently; a probe landing between an
    // index mutation's publishes must fail retryably, never mix
    // snapshots. Stats commit LAST and record the postings AND
    // tombstone versions they were derived from — exact match or
    // refuse (one 1-row columnar scan reads both pins; a legacy
    // pre-generation stats frame pins tombstones at "absent").
    val pins = statsAll.select(col("postings_version"),
        (if (statsAll.columns.contains("tombstones_version"))
          col("tombstones_version") else lit(-1L)).as("tv"))
      .limit(1).collect().headOption
    if (!pins.map(_.getLong(0)).contains(pv))
      throw new IllegalStateException(
        s"bm25 index mid-update: $statsTable derives from postings " +
          s"v${pins.map(_.getLong(0)).orNull} but $postingsTable " +
          s"resolved v$pv — retry after the index mutation completes")
    val tombPin = pins.map(_.getLong(1)).getOrElse(-1L)
    // resolve-then-verify (the readBucketsOf discipline): bind the
    // tombstone frame FIRST, then compare its resolved version to the
    // pin — a reindex committing between a version pre-check and the
    // read would otherwise mix snapshots undetected
    val tombResolved = if (store.exists(tombstoneTable))
      Some(store.readVersioned(spark, tombstoneTable)) else None
    val actualTomb = tombResolved.map(_._2).getOrElse(-1L)
    if (tombPin != actualTomb)
      throw new IllegalStateException(
        s"bm25 index mid-update: $statsTable derives from tombstones " +
          s"v$tombPin but $tombstoneTable resolved v$actualTomb — " +
          "retry after the reindex completes (or rebuild if a legacy " +
          "index shares the store with a tombstone table)")
    val postings0 = postingsPruned.filter(col("term").isin(q: _*))
    // drop reindexed-away generations: the tombstone frame is bounded
    // by doc churn since the last compaction (broadcast-sized by the
    // bm25CompactIndex contract)
    val postings = tombResolved.map(_._1) match {
      case None => postings0
      case Some(t) => postings0
        .join(broadcast(t.select(col("id"), col("dead_below"))),
          Seq("id"), "left")
        .filter(col("dead_below").isNull ||
          coalesce(col("gen"), lit(0L)) >= col("dead_below"))
        .drop("dead_below")
    }
    val stats = statsAll.filter(col("term").isin(q: _*))
      .drop("postings_version", "tombstones_version")
    bm25Rank(postings.drop("gen").join(broadcast(stats), Seq("term")),
      k, k1, b)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection via
    * Importance Resampling"): per-document log-likelihood ratio of a
    * TARGET domain's hashed n-gram distribution against the raw
    * corpus's own — the standard lever for "keep the corpus docs
    * that look like the target domain" at pretraining scale.
    * Features are word unigrams ∪ bigrams hashed into `buckets`
    * slots (the hashing trick, portable-hashed so the oracle
    * reproduces every slot); both distributions smooth add-one over
    * the bucket space, and a doc's weight is
    * Σ_slot count_doc(slot) · (ln p_target(slot) − ln p_corpus(slot))
    * — positive = target-like. Selection composes downstream
    * (top-k, threshold, or the sm-family samplers over the weight).
    *
    * Determinism (the ts12/ts18 discipline): all counts are exact
    * integers, each slot's λ is a difference of ln's of integer
    * quotients, per-doc contributions fold in SLOT order — weight_r
    * is bit-exact cross-engine. Docs with no tokens carry weight 0
    * (no evidence either way), kept via the id left-join so coverage
    * is total.
    *
    * Scale shape: the λ model is ONE `buckets`-row frame (broadcast)
    * built from two counting passes (target is small by definition;
    * the corpus pass is a combinable slot count). The per-doc pass
    * is one explode + (id, slot) count + broadcast join + ordered
    * fold — the corpus never joins anything corpus-sized.
    *
    * `portableHash=false` swaps the md5-prefix slot hash for
    * xxhash64 — the same algorithm over a different hash family,
    * measurably cheaper per feature (md5 exists for DuckDB-oracle
    * parity, the TextFunctions rule); weights then differ from the
    * gated values only through slot assignment, not semantics.
    *
    * `charNgrams=Some(n)` swaps the word unigram∪bigram features for
    * sliding character n-grams ([[charGrams]]) — the multilingual
    * variant the DSIR paper runs where whitespace tokenization would
    * shred the script (CJK, agglutinative languages); same hashing,
    * smoothing, and fold. */
  def dsirWeights(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 4096, portableHash: Boolean = true,
      charNgrams: Option[Int] = None): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tc = dsirSlotCounts(target, targetTextCol, buckets, portableHash,
      charNgrams)
    // ONE corpus feature pass: the per-doc slot counts are computed
    // first and the corpus-wide distribution is their slot-rollup
    // (identical integers — Σ_doc count_doc(slot) = count(slot)); a
    // second tokenize+hash pass over the raw text was the op's
    // dominant redundant cost
    val docSlots = dsirDocSlots(corpus, idCol, textCol, buckets,
      portableHash, charNgrams)
    val cc = docSlots.groupBy("slot").agg(sum(col("cnt")).as("c"))
    dsirFold(corpus.select(col(idCol).as("id")), docSlots, tc, cc, buckets)
  }

  /** The slot hash + feature family every DSIR path shares (see
    * [[dsirWeights]] for the semantics of `portableHash` /
    * `charNgrams`). */
  private def dsirFeats(text: Column,
      charNgrams: Option[Int]): Column = charNgrams match {
    case Some(n) => charGrams(text, n)
    case None =>
      val toks = tokens(lower(text))
      concat(toks, wordShingles(toks, 2))
  }

  private def dsirSlotOf(f: Column, buckets: Int,
      portableHash: Boolean): Column =
    pmod(if (portableHash) portableHash64(f) else xxhash64(f),
      lit(buckets.toLong))

  /** Corpus-level (slot, c) feature counts — the additive half the
    * streaming λ maintenance commits per batch
    * ([[graft.streaming.Streams]].dsirIngest): slot counts over a
    * batch union exactly to slot counts over the concatenation. */
  private[graft] def dsirSlotCounts(df: DataFrame, textCol: String,
      buckets: Int, portableHash: Boolean = true,
      charNgrams: Option[Int] = None): DataFrame =
    Par.fanOut(df)
      .select(explode(dsirFeats(col(textCol), charNgrams)).as("f"))
      .select(dsirSlotOf(col("f"), buckets, portableHash).as("slot"))
      .groupBy("slot").agg(count(lit(1)).as("c"))

  /** Per-doc (id, slot, cnt) feature counts. */
  private def dsirDocSlots(corpus: DataFrame, idCol: String,
      textCol: String, buckets: Int, portableHash: Boolean,
      charNgrams: Option[Int]): DataFrame =
    // feature explosion + per-feature md5 slot hash: the DSIR pass's
    // CPU mass, measured 8-10 s on ONE task over a single-file
    // layout ([[Par.fanOut]]; integer counts below)
    Par.fanOut(corpus).select(col(idCol).as("id"),
      explode(dsirFeats(col(textCol), charNgrams)).as("f"))
      .select(col("id"),
        dsirSlotOf(col("f"), buckets, portableHash).as("slot"))
      .groupBy("id", "slot").agg(count(lit(1)).as("cnt"))

  /** The shared λ + slot-ordered fold: smoothed log-ratio over the
    * FULL slot space (absent slots count 0 — smoothing still assigns
    * them a ratio, and an unseen-in-target feature must penalize,
    * not vanish), then each doc's Σ cnt·λ folded in slot order;
    * weightless docs kept at 0 via the id left-join. */
  private def dsirFold(corpusIds: DataFrame, docSlots: DataFrame,
      tc: DataFrame, cc: DataFrame, buckets: Int): DataFrame = {
    val spark = corpusIds.sparkSession
    // totals as WHOLE-FRAME window sums over the already-joined
    // buckets-row frame, not separate tc.agg/cc.agg scalar frames:
    // each scalar agg re-evaluated its side's ENTIRE feature pass
    // (explode + per-gram hash + count — the op's CPU mass) a second
    // time, because a scalar subtree shares no exchange with the
    // joined one (measured: 5 gram passes per dsirWeights call, 2 of
    // them the totals'). The window runs over ≤`buckets` rows in one
    // partition — trivially cheap at every scale — and every slot
    // appears EXACTLY once in the range join, so
    // sum(coalesce(c,0)) ≡ the old agg's sum — integer-exact.
    //
    // BOUND AUDIT (r17, the nbQualityScores lesson): this is the one
    // whole-frame window the engine keeps, and it is SAFE because its
    // frame is `spark.range(buckets)` — the row count is the caller's
    // λ-model width (≤ 10⁴-10⁵ by construction), NEVER corpus- or
    // vocabulary-sized. A window like this over an unbounded frame is
    // the single-partition chokepoint nbQualityScores had to remove.
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lambda = spark.range(buckets).select(col("id").as("slot"))
      .join(tc.select(col("slot"), col("c").as("c_t")), Seq("slot"), "left")
      .join(cc.select(col("slot"), col("c").as("c_c")), Seq("slot"), "left")
      .withColumn("tt", sum(coalesce(col("c_t"), lit(0L))).over(wAll))
      .withColumn("ct", sum(coalesce(col("c_c"), lit(0L))).over(wAll))
      .select(col("slot"),
        (log((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
          (col("tt") + lit(buckets.toLong)).cast("double")) -
         log((coalesce(col("c_c"), lit(0L)) + lit(1L)).cast("double") /
          (col("ct") + lit(buckets.toLong)).cast("double"))).as("lam"))
    val folded = docSlots.join(broadcast(lambda), Seq("slot"))
      .select(col("id"), col("slot"),
        (col("cnt").cast("double") * col("lam")).as("contrib"))
      .groupBy("id").agg(
        sort_array(collect_list(struct(col("slot"), col("contrib"))))
          .as("__arr"))
      .select(col("id"),
        expr("aggregate(__arr, 0D, (acc, s) -> acc + s.contrib)").as("w"))
    corpusIds
      .join(folded, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("w"), lit(0.0)), 6).as("weight_r"))
  }

  /** DSIR weights FROM THE STORE — the probe half of the streaming λ
    * maintenance: the corpus slot distribution comes from the
    * per-batch rows [[graft.streaming.Streams]].dsirIngest committed
    * (their slot rollup — integer-exact, so this is IDENTICAL to
    * [[dsirWeights]] over the concatenated stream, the st9 gate's
    * claim), the target distribution from its once-committed table;
    * only the docs being weighted pay a feature pass. */
  def dsirWeightsFromStore(corpus: DataFrame, idCol: String,
      textCol: String, store: ParquetTableStore,
      slotsTable: String = "dsir_slots",
      targetTable: String = "dsir_target",
      buckets: Int = 4096, portableHash: Boolean = true,
      charNgrams: Option[Int] = None): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = corpus.sparkSession
    require(store.exists(slotsTable) && store.exists(targetTable),
      s"dsirWeightsFromStore: λ model ($slotsTable, $targetTable) not " +
        "built — run the dsirIngest loop first")
    val targetAll = store.read(spark, targetTable)
    // the stored counts are only meaningful in the feature space they
    // were hashed in: a probe with a drifted slot width or n-gram
    // mode would misalign every slot and compute silently-wrong
    // weights — validate against the recorded family and refuse
    if (targetAll.columns.contains("buckets"))
      targetAll.select(col("buckets"), col("char_n"))
        .limit(1).collect().headOption.foreach { r =>
        val storedCharN =
          if (r.getInt(1) < 0) None else Some(r.getInt(1))
        require(r.getInt(0) == buckets && storedCharN == charNgrams,
          s"dsirWeightsFromStore: stored λ model was built with " +
            s"buckets=${r.getInt(0)}, charNgrams=$storedCharN but " +
            s"buckets=$buckets, charNgrams=$charNgrams was requested " +
            "— mismatched feature spaces; probe with the model's " +
            "knobs or rebuild the model")
      }
    val cc = store.read(spark, slotsTable)
      .groupBy("slot").agg(sum(col("c")).as("c"))
    val tc = targetAll.select("slot", "c")
    dsirFold(corpus.select(col(idCol).as("id")),
      dsirDocSlots(corpus, idCol, textCol, buckets, portableHash,
        charNgrams),
      tc, cc, buckets)
  }

  /** FEATURE-HASHED term-frequency vectors (the "hashing trick",
    * Weinberger et al. 2009): each doc becomes a dense `dim`-wide
    * float vector of token counts bucketed by token hash — the
    * deterministic, model-free text vectorization that lets every
    * vector operator here (IVF/PQ/LSH ANN, semantic dedup, MMR) run
    * over a text corpus with NO external embedding model. This is
    * the classical baseline, not a learned embedding: cosine over
    * hashed-TF vectors is bag-of-words similarity with hash-collision
    * noise ~1/dim, which is exactly what a lexical-ish vector side of
    * a hybrid (RRF) stack wants to contribute.
    *
    * Scale shape: one (id, slot)-keyed combinable count (map-side
    * partials), then one id-keyed assembly of ≤ `dim` entries per doc
    * — both exchanges carry integers, nothing is corpus-broadcast.
    * Determinism: xxhash64 is a fixed function of the token bytes;
    * counts are integers; the dense layout is index-ordered — the
    * vectors are bit-identical on any partitioning.
    *
    * Coverage note (the perplexityBuckets rule): a doc whose text
    * tokenizes EMPTY has no (id, slot) rows and therefore NO output
    * row — deliberately, because its would-be all-zeros vector has no
    * direction (cosine against it is 0/0) and would poison any
    * downstream ANN/centroid math. Callers that must account for
    * every doc (index completeness audits) left-join this result back
    * to their corpus and decide those docs' fate explicitly. */
  def hashedTfVector(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val slots = toks
      .select(col("id"), pmod(xxhash64(col("term")), lit(dim.toLong)).as("slot"))
      .groupBy("id", "slot").agg(count(lit(1)).as("cnt"))
    slots.groupBy("id").agg(
      map_from_entries(collect_list(struct(col("slot"), col("cnt")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("float"))
          .as("embedding"))
  }

  /** Fixed-width TOKEN-LENGTH HISTOGRAM: per-doc whitespace token
    * counts binned at `binWidth`, the last bin open-ended (the
    * corpus-QA length distribution every curation report starts
    * with). Output per non-empty bin: (bin, lo_tokens, n_docs,
    * cum_docs) — integer-only, so the gate needs no float
    * discipline at all.
    *
    * Scale shape: one map-side-combinable count aggregation reduces
    * the corpus to ≤ numBins rows; the cumulative sum then runs on
    * that tiny frame (single-partition window bounded by numBins,
    * the sm6 pattern). */
  def lengthHistogram(df: DataFrame, textCol: String, binWidth: Int,
      numBins: Int): DataFrame = {
    require(binWidth >= 1, s"binWidth must be positive, got $binWidth")
    require(numBins >= 2, s"numBins must be at least 2, got $numBins")
    val tok = tokenCountWs(col(textCol)).cast("long")
    val bin = least(floor(tok / lit(binWidth.toDouble)),
      lit(numBins - 1L)).cast("long")
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_docs"))
      .withColumn("lo_tokens", col("bin") * binWidth)
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .select("bin", "lo_tokens", "n_docs", "cum_docs")
  }
}
