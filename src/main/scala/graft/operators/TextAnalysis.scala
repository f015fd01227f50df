package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (whole-stage codegen; no UDFs), deterministic, and
  * engine-reproducible for oracle testing.
  *
  * Scale posture: `analyze` materializes the normalized text, the
  * token array, and each language score ONCE as intermediate columns
  * and derives everything else from them — the naive formulation
  * (every metric calling tokens() on the raw text) inlines the
  * 2-regex-pass normalization ~25× per row after optimizer project
  * collapsing, a pure CPU multiplier at 100 TB. The aliased
  * intermediates are referenced more than once, which blocks
  * CollapseProject from re-inlining them.
  */
object TextAnalysis {

  /** Small function-word profiles per language — the n-gram/stopword
    * heuristic core of a classic language identifier. Public-knowledge
    * word lists. */
  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que"))

  // ---- token-column-based primitives (the cheap path) ----

  /** Score of one language over a pre-computed token array = fraction
    * of tokens in its profile (exact int counts, one double division). */
  def langScoreOfTokens(toks: Column, lang: String): Column = {
    val hits = size(filter(toks, x =>
      profiles(lang).map(w => x === w).reduce(_ || _)))
    when(size(toks) === 0, 0.0)
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Argmax language from per-language score columns, deterministic
    * tie-break (alphabetically-first wins); "und" when all zero. */
  def langIdOfScores(scores: Map[String, Column]): Column = {
    val langs = scores.keys.toSeq.sorted
    val best = langs.init.zipWithIndex.foldRight(
        lit(langs.last): Column) { case ((l, i), elseCol) =>
      val laterLangs = langs.drop(i + 1)
      when(laterLangs.map(o => scores(l) >= scores(o)).reduce(_ && _),
        lit(l)).otherwise(elseCol)
    }
    when(langs.map(scores(_) === 0.0).reduce(_ && _), lit("und"))
      .otherwise(best)
  }

  /** Mean token length over a pre-computed token array. */
  def meanTokenLenOfTokens(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        size(toks).cast("double"))

  /** Polynomial rolling hash over a pre-computed token array. */
  def rollingFingerprintOfTokens(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * 31L + hash31(t)) % HashPrime31)

  /** Composite quality heuristic in [0,1] from already-computed
    * metrics: long enough, low punctuation, plausible mean word
    * length. Fixed double expression tree (deterministic). */
  def qualityOf(nTokens: Column, punctRatio: Column,
      meanTokenLen: Column): Column = {
    val lenScore = least(nTokens.cast("double") / 64.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio * 4.0)
    val wordScore =
      when(meanTokenLen >= 2.5 && meanTokenLen <= 10.0, 1.0).otherwise(0.5)
    lenScore * 0.4 + punctScore * 0.3 + wordScore * 0.3
  }

  // ---- raw-text convenience wrappers (standalone use) ----

  def langScore(textCol: Column, lang: String): Column =
    langScoreOfTokens(tokens(textCol), lang)

  def langId(textCol: Column): Column = {
    val toks = tokens(textCol)
    langIdOfScores(profiles.keys.map(l =>
      l -> langScoreOfTokens(toks, l)).toMap)
  }

  /** Unicode ranges for languages a whitespace stopword profile
    * cannot identify — zh writes no spaces, so its "tokens" never hit
    * a word list; ru/ja/ko are unambiguous by script alone. The
    * reference's actual corpus pair is zh/en
    * (/root/reference/utils/universal_translator.py). Ranges are
    * public Unicode block boundaries. */
  val scriptRanges: Map[String, String] = Map(
    "zh" -> "\\x{4e00}-\\x{9fff}", // CJK unified ideographs
    "ja" -> "\\x{3040}-\\x{30ff}", // hiragana + katakana
    "ko" -> "\\x{ac00}-\\x{d7af}", // hangul syllables
    "ru" -> "\\x{0400}-\\x{04ff}") // cyrillic

  /** Score of one script language = fraction of non-whitespace
    * characters of the RAW text inside its Unicode range (exact int
    * counts, one double division — same shape as
    * [[langScoreOfTokens]], directly comparable in the argmax). */
  def scriptRatio(textCol: Column, lang: String): Column = {
    val t = coalesce(textCol, lit(""))
    val total = length(regexp_replace(t, WsClass, ""))
    val hits = length(regexp_replace(t,
      s"[^${scriptRanges(lang)}]", ""))
    when(total === 0, 0.0)
      .otherwise(hits.cast("double") / total.cast("double"))
  }

  /** Multi-script language id over en/de/es/fr (token profiles) +
    * zh/ja/ko/ru (script ratios), through the same deterministic
    * alphabetical argmax fold as [[langId]]. A mixed zh/latin page
    * resolves to whichever signal carries more of the text — the
    * desired behavior for a crawl corpus. */
  def langIdMulti(textCol: Column): Column = {
    val toks = tokens(textCol)
    langIdOfScores(
      profiles.keys.map(l => l -> langScoreOfTokens(toks, l)).toMap ++
        scriptRanges.keys.map(l => l -> scriptRatio(textCol, l)).toMap)
  }

  /** DataFrame form of [[langIdMulti]] — use this one in pipelines.
    * The 8-language argmax CASE references every score several times;
    * inlined Column form that means re-running the regex passes per
    * comparison after project collapsing (~20× per row). This form
    * materializes the token array, the shared non-space denominator
    * and each score ONCE as intermediate columns (the same
    * CollapseProject barrier [[analyze]] uses) and folds over cheap
    * column refs. */
  def withLangIdMulti(df: DataFrame, textCol: String,
      outCol: String = "lang"): DataFrame = {
    val tokLangs = profiles.keys.toSeq.sorted
    val scrLangs = scriptRanges.keys.toSeq.sorted
    val t = coalesce(col(textCol), lit(""))
    val withInterm = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__nsp", length(regexp_replace(t, WsClass, "")))
    val withTok = tokLangs.foldLeft(withInterm)((d, l) =>
      d.withColumn(s"__s_$l", langScoreOfTokens(col("__toks"), l)))
    val withAll = scrLangs.foldLeft(withTok)((d, l) =>
      d.withColumn(s"__s_$l",
        when(col("__nsp") === 0, 0.0).otherwise(
          length(regexp_replace(t, s"[^${scriptRanges(l)}]", ""))
            .cast("double") / col("__nsp").cast("double"))))
    val langs = (tokLangs ++ scrLangs).sorted
    withAll
      .withColumn(outCol,
        langIdOfScores(langs.map(l => l -> col(s"__s_$l")).toMap))
      .drop(("__toks" +: "__nsp" +: langs.map(l => s"__s_$l")): _*)
  }

  /** Whitespace token count of the normalized text. */
  def wsTokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish regex token count: words / numbers / single punctuation,
    * the common pre-tokenizer shape. */
  def regexTokenCount(c: Column): Column =
    size(coalesce(
      regexp_extract_all(c, lit("""[\p{L}]+|[0-9]+|[^\p{L}0-9 \t\n\x0B\f\r]"""),
        lit(0)),
      array()))

  /** Pre-tokenizer pattern for mixed-script corpora, ordered
    * leftmost-first: one token per CJK ideograph / kana / hangul (the
    * standard zh/ja token approximation — a budget counter that
    * treats 中文处理 as ONE token undercounts zh by the document
    * length), then alphabetic word runs (latin incl. extensions,
    * greek, cyrillic — spelled as explicit ranges because the
    * intersection class that would subtract CJK from `\p{L}` is
    * Java-only, and the oracle's RE2 must compile the same pattern),
    * then digit runs, then any other single non-space char. */
  val cjkTokenPattern: String =
    "[\\x{2e80}-\\x{9fff}\\x{ac00}-\\x{d7af}\\x{f900}-\\x{faff}]|" +
      "[A-Za-z\\x{00c0}-\\x{024f}\\x{0370}-\\x{03ff}\\x{0400}-\\x{04ff}]+|" +
      "[0-9]+|[^ \\t\\n\\x0B\\f\\r]"

  /** Token count under [[cjkTokenPattern]] — the counter to use for
    * packing/chunking budgets on a multilingual corpus. */
  def cjkAwareTokenCount(c: Column): Column =
    size(coalesce(
      regexp_extract_all(coalesce(c, lit("")), lit(cjkTokenPattern),
        lit(0)),
      array()))

  /** Hashing-trick featurizer (T23; Weinberger 2009): each token maps
    * to feature index `hash31("fh:" + token) % dim` with a ±1 sign
    * from the second md5-derived hash's parity, and a document's
    * feature value is the signed occurrence sum — the fixed-width,
    * vocabulary-free vectorizer that needs NO dictionary pass, no
    * vocab broadcast, and no fit/transform split, which is why it is
    * the default featurizer at corpus scale (a learned vocab over
    * 100 TB is itself a big-data job; the hash IS the vocab). The
    * signed sum keeps collisions unbiased in expectation (the
    * Weinberger trick). Zero-sum features drop — they carry no
    * signal and sparsity is the point.
    * Plan shape: explode + narrow projection, ONE partial-agg
    * groupBy (id, idx) — shuffle volume is the nonzero feature
    * count, ≤ dim per document regardless of corpus size. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        (hash31(concat(lit("fh:"), col("__tok"))) % dim).as("idx"),
        when(hash60b(col("__tok")) % 2 === 1, 1L).otherwise(-1L)
          .as("__sgn"))
      .groupBy(col(idCol), col("idx"))
      .agg(sum(col("__sgn")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** Punctuation character ratio (exact counts, one double division). */
  def punctRatio(c: Column): Column = {
    val total = length(coalesce(c, lit("")))
    val punct = total - length(regexp_replace(coalesce(c, lit("")),
      """[\p{Punct}]""", ""))
    when(total === 0, 0.0)
      .otherwise(punct.cast("double") / total.cast("double"))
  }

  /** Stopword ratio against the english profile. */
  def stopwordRatio(c: Column): Column = langScore(c, "en")

  def meanTokenLen(c: Column): Column = meanTokenLenOfTokens(tokens(c))

  def qualityScore(c: Column): Column = {
    val toks = tokens(c)
    qualityOf(size(toks), punctRatio(c), meanTokenLenOfTokens(toks))
  }

  /** Content fingerprint: md5 of normalized text. */
  def contentFingerprint(c: Column): Column = md5(normalizeText(c))

  /** Order-sensitive rolling-hash fingerprint (polynomial fold). */
  def rollingHashFingerprint(c: Column): Column = rollingFingerprint(c)

  /** One-call enrichment: attach the standard analysis columns.
    * Normalization runs once per row, not once per metric. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val langs = profiles.keys.toSeq.sorted
    val withInterm = df
      .withColumn("__norm", normalizeText(col(textCol)))
      .withColumn("__toks",
        when(col("__norm") === "", array())
          .otherwise(split(col("__norm"), " ")))
    val withScores = langs.foldLeft(withInterm)((d, l) =>
      d.withColumn(s"__s_$l", langScoreOfTokens(col("__toks"), l)))
    // script-ratio scores for the multi-script id, materialized ONCE
    // like the token scores (inlining them into the argmax CASE would
    // re-run each regex per comparison)
    val scrLangs = scriptRanges.keys.toSeq.sorted
    val withScripts = scrLangs.foldLeft(
        withScores.withColumn("__nsp",
          length(regexp_replace(coalesce(col(textCol), lit("")),
            WsClass, ""))))((d, l) =>
      d.withColumn(s"__sc_$l",
        when(col("__nsp") === 0, 0.0).otherwise(
          length(regexp_replace(coalesce(col(textCol), lit("")),
            s"[^${scriptRanges(l)}]", "")).cast("double") /
            col("__nsp").cast("double"))))
    withScripts
      .withColumn("ws_tokens", size(col("__toks")).cast("long"))
      .withColumn("regex_tokens", regexTokenCount(col(textCol)).cast("long"))
      .withColumn("punct_ratio", punctRatio(col(textCol)))
      .withColumn("stopword_ratio", col("__s_en"))
      .withColumn("mean_token_len", meanTokenLenOfTokens(col("__toks")))
      .withColumn("quality",
        qualityOf(col("ws_tokens"), col("punct_ratio"),
          col("mean_token_len")))
      .withColumn("lang_id",
        langIdOfScores(langs.map(l => l -> col(s"__s_$l")).toMap))
      // the zh/ja/ko/ru-aware sibling of lang_id, decided identically
      // to withLangIdMulti (parity spec'd) from the same one-pass
      // intermediates
      .withColumn("lang_id_multi",
        langIdOfScores(
          langs.map(l => l -> col(s"__s_$l")).toMap ++
            scrLangs.map(l => l -> col(s"__sc_$l")).toMap))
      .withColumn("fingerprint", md5(col("__norm")))
      // native expression (graft.expressions.RollingFpArray): the HOF
      // fold interprets an md5 per token per row; this is one codegen'd
      // call doing the identical fold (bit-parity spec'd + oracle-
      // checked). Requires the GraftExtensions session config.
      .withColumn("rolling_fp",
        call_function("graft_rolling_fp", col("__toks")))
      .drop(("__norm" +: "__toks" +: "__nsp" +:
        (langs.map(l => s"__s_$l") ++
          scrLangs.map(l => s"__sc_$l"))): _*)
  }

  /** Benchmark decontamination: word-n-gram collision detection
    * between a (huge) training corpus and a (small) evaluation set —
    * the standard pre-training hygiene pass. Returns
    * (train_id, eval_id, n_shared) for every train/eval pair sharing
    * at least one distinct n-gram shingle hash.
    *
    * Scale shape: the train side reduces to distinct (doc, shingle-
    * hash) pairs — a narrow map + one local distinct — and the join
    * side that gets shuffled-or-broadcast is the EVAL set, which is
    * benchmark-sized (thousands of docs), so Spark broadcasts it and
    * the 100 TB train side streams through a BroadcastHashJoin with
    * no shuffle. The explicit broadcast() hint pins that plan. */
  def ngramContamination(train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    // graft_shingle_hashes returns the PER-DOC-DISTINCT shingle hash
    // set as one narrow native call, so exploding it yields distinct
    // (id, hv) rows directly — no interpreted HOF shingle pass and,
    // critically, no full-corpus distinct shuffle on the train side
    // (12.4 s -> 1.5 s at sf0.1; at 100 TB the difference is a
    // terabyte-scale exchange vs none)
    def shingleHashes(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(call_function("graft_shingle_hashes",
          tokens(col(textCol)), lit(n))).as("hv"))
    shingleHashes(train, "train_id")
      .join(broadcast(shingleHashes(eval_, "eval_id")), Seq("hv"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Unigram negative-log-likelihood scoring — the perplexity-style
    * quality filter (CCNet-family pipelines) reduced to its
    * deterministic core: corpus unigram LM, per-token surprisal
    * -ln p(tok) QUANTIZED to integer millis before any aggregation,
    * so the per-doc sums are exact integer sums (order-free) and the
    * result is bit-identical at any parallelism. Returns
    * (doc_id, n_toks, nll_milli_sum, avg_nll_milli) for docs with at
    * least one token.
    *
    * Scale shape: the raw token explode NEVER crosses the network —
    * it collapses map-side into per-(doc, token) counts before the
    * one shuffle, the vocab and the corpus total both derive from
    * that far smaller pair table, and the scoring join moves pairs
    * (distinct tokens per doc), not token instances. Per-token
    * surprisal times the pair count is integer-identical to summing
    * the instances, so the collapse is free of any parity cost. The
    * vocab side is left unhinted: AQE broadcasts it when it fits,
    * shuffles when a web-scale vocab doesn't. */
  def unigramNll(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pairTf = df.select(col(idCol),
        explode(tokens(col(textCol))).as("tk"))
      .groupBy(col(idCol), col("tk")).agg(count(lit(1)).as("dtf"))
      .localCheckpoint(eager = false)
    val vocab = pairTf.groupBy("tk").agg(sum("dtf").as("tf"))
    // total token instances ride the plan as a broadcast scalar off
    // the checkpointed pair table — no separate driver action
    val totalDf = pairTf.agg(
      sum("dtf").cast("double").as("__total"))
    pairTf.join(vocab, Seq("tk"))
      .crossJoin(broadcast(totalDf))
      .select(col(idCol), col("dtf"),
        floor(log(col("__total") / col("tf").cast("double"))
          * 1000.0d).cast("long").as("milli"))
      .groupBy(idCol)
      .agg(sum("dtf").as("n_toks"),
        sum(col("dtf") * col("milli")).as("nll_milli_sum"))
      .withColumn("avg_nll_milli", expr("nll_milli_sum div n_toks"))
  }

  /** Out-of-vocabulary rate per document against a trained vocabulary
    * — the tokenizer-coverage check a pipeline runs after
    * [[bpeMerges]]/vocab training and before committing to a
    * tokenizer: a rising OOV rate on fresh crawl data means the vocab
    * no longer fits the corpus. `vocab` is a one-column frame of
    * in-vocabulary tokens.
    *
    * Scale shape: the vocab is config-sized (10⁴–10⁵ entries) next to
    * the corpus, so it BROADCASTS onto the exploded token stream (an
    * O(1) hash probe per token — never array_contains' linear scan),
    * and the per-doc counts partial-aggregate map-side before the one
    * doc-keyed shuffle. Every doc is reported — empty docs as
    * (0, 0, 0), not dropped. oov_milli is exact integer arithmetic
    * (n_oov·1000 div n_toks). */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val v = vocab.select(col(vocab.columns.head).as("__tok"))
      .distinct().withColumn("__in", lit(1))
    Dedup.spread(df)
      .select(col(idCol), explode_outer(tokens(col(textCol)))
        .as("__tok"))
      .join(broadcast(v), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__tok")).as("n_toks"),
        count(when(col("__tok").isNotNull && col("__in").isNull, 1))
          .as("n_oov"))
      .withColumn("oov_milli",
        when(col("n_toks") === 0, lit(0L))
          .otherwise(expr("n_oov * 1000 div n_toks")))
  }

  /** Reliability-diagram bins for an integer score against a 0/1
    * label — the calibration companion to [[aucExact]] (AUC says the
    * ranking separates; calibration says WHERE the mass sits): rank-
    * based equal-population bins with the observed positive rate per
    * bin, all exact integers.
    *
    * Binning is deterministic under ties: the corpus collapses to the
    * distinct-score frame (same map-side-partial posture as
    * [[aucExact]]), each distinct score gets
    * bin = below·bins div total from a prefix-sum window over that
    * small frame, so every row of one score lands in one bin on any
    * engine and any partitioning — no ntile() over corpus rows, whose
    * tie placement is partition-order-dependent. Emits one row per
    * non-empty bin: (bin, n, n_pos, pos_milli, score_min,
    * score_max). */
  def calibrationBins(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1: $bins")
    val byScore = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(col(labelCol).cast("long")).as("__np"),
        count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("__below", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__tot", sum(col("__n")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("bin", expr(s"__below * $bins div __tot"))
      .groupBy("bin")
      .agg(sum(col("__n")).as("n"), sum(col("__np")).as("n_pos"),
        min(col("__s")).as("score_min"), max(col("__s")).as("score_max"))
      .withColumn("pos_milli", expr("n_pos * 1000 div n"))
      .select("bin", "n", "n_pos", "pos_milli", "score_min", "score_max")
  }

  /** TF-IDF top-`topK` terms per document: tf = in-doc term count,
    * df = number of documents containing the term, idf = ln(N/df).
    * The score is QUANTIZED to integer millis (floor(tf * idf * 1000))
    * before ranking, so row order never hinges on the last ulp of a
    * transcendental — the one place engine libm implementations may
    * legitimately differ — and the ranked output is exact-comparable.
    *
    * Scale shape: one explode of the token stream, tf via
    * groupBy(doc, term) with map-side combine, df via groupBy(term)
    * over the distinct (doc, term) pairs ALREADY AGGREGATED for tf
    * (no second pass over raw tokens), then a broadcast-sized term →
    * df join back and a per-doc window for top-k. N is a literal
    * computed once. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize tf once: both the df-count aggregation and the join
    // probe side consume it, and without the checkpoint Catalyst
    // re-derives each from the raw token explode (double tokenization)
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N rides the plan as a broadcast scalar instead of a separate
    // driver count() job — one fewer action, same double arithmetic
    val nDf = df.select(
      countDistinct(col(idCol)).cast("double").as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_milli").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDf))
      .withColumn("score_milli",
        floor(col("tf").cast("double")
          * log(col("__n") / col("df").cast("double"))
          * 1000.0d).cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK).drop("rn")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score_milli"))
  }

  /** Distribution-shape quality signals per document — the two
    * classic boilerplate/spam tells a length/punctuation score
    * misses: token-distribution ENTROPY (low = the same few tokens
    * over and over) and bigram REPETITION mass (share of the text
    * consumed by its single most frequent bigram, the Gopher-style
    * repetition rule). Entropy folds -(c/n)ln(c/n) over the doc's
    * token counts in token order and quantizes the SUM to integer
    * millis; repetition is exact integer arithmetic throughout
    * (max_count*1000 div total). Docs with < 2 tokens report
    * rep_milli 0.
    *
    * Scale shape: ONE narrow per-row kernel call (the native
    * graft_quality expression) — both signals are pure per-document
    * computations, so no explode, no shuffle, no join ever touches
    * the corpus. Requires one text per id (true of any document
    * table); for multi-row ids aggregate the text first. Bit-parity
    * with the relational [[qualitySignalsHof]] shape is spec'd. */
  def qualitySignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        call_function("graft_quality",
          graft.functions.tokens(col(textCol))).as("__qp"))
      .select(col(idCol),
        coalesce(element_at(col("__qp"), 1), lit(0L)).as("entropy_milli"),
        coalesce(element_at(col("__qp"), 2), lit(0L)).as("rep_milli"))

  /** The relational formulation of [[qualitySignals]] (explode →
    * groupBy → ordered HOF fold → anchored join-back) — kept as the
    * executable spec the native kernel is parity-tested against. */
  def qualitySignalsHof(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ent = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(transform(
          sort_array(collect_list(struct(col("term"), col("c")))),
          s => s.getField("c")).as("cs"),
        sum("c").as("n"))
      .select(col(idCol),
        floor(aggregate(col("cs"), lit(0.0d), (acc, c) =>
          acc - (c.cast("double") / col("n").cast("double"))
            * log(c.cast("double") / col("n").cast("double")))
          * lit(1000.0d)).cast("long").as("entropy_milli"))
    val rep = df
      .select(col(idCol),
        explode(call_function("graft_shingles",
          graft.functions.tokens(col(textCol)), lit(2))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max("c").as("mx"), sum("c").as("tot"))
      .select(col(idCol), expr("mx * 1000 div tot").as("rep_milli"))
    // anchor on the full doc set: a tokenless doc has no exploded
    // rows on either side, but it still IS a document — it reports
    // (0, 0), not a silently missing row
    df.select(col(idCol)).distinct()
      .join(ent, Seq(idCol), "left")
      .join(rep, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("entropy_milli"), lit(0L)).as("entropy_milli"),
        coalesce(col("rep_milli"), lit(0L)).as("rep_milli"))
  }

  /** BM25 document ranking for a bag of query terms — the lexical
    * retriever half of hybrid search (see operators.Retrieval). Per
    * (doc, term): idf(term) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    * with the Robertson-walker idf ln((N-df+0.5)/(df+0.5)+1); each
    * term score is quantized to integer millis BEFORE the per-doc sum
    * and ranking (same ulp-proofing as [[tfIdfTopTerms]] — the
    * parenthesization here is mirrored verbatim by the oracle SQL so
    * the pre-floor doubles are bit-identical).
    *
    * Scale shape: the token stream is filtered to the query terms
    * BEFORE the tf aggregation (the explode output shrinks to
    * |terms|-matching tokens immediately); doc lengths aggregate in
    * the same pass discipline as tf; df and the two scalars (N,
    * avgdl) are literal/broadcast-sized. One explode, two groupBys,
    * one broadcast join, a top-k. */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int): DataFrame = {
    val dl = df.select(col(idCol),
        size(tokens(col(textCol))).as("dl"))
      .localCheckpoint(eager = false)
    val n = dl.count()
    val totTokens = dl.agg(sum("dl")).head.getLong(0)
    val avgdl = totTokens.toDouble / n.toDouble
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq(idCol))
      .withColumn("score_milli", floor(
        log((lit(n.toDouble) - col("df") + lit(0.5d))
            / (col("df") + lit(0.5d)) + lit(1.0d))
          * (col("tf") * (lit(1.2d) + lit(1.0d)))
          / (col("tf") + lit(1.2d)
            * ((lit(1.0d) - lit(0.75d)) + lit(0.75d) * col("dl") / lit(avgdl)))
          * lit(1000.0d)).cast("long"))
      .groupBy(idCol)
      .agg(sum("score_milli").as("bm25_milli"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_milli").desc, col(idCol))
      .limit(topK)
  }

  /** Model-based quality filter: a linear classifier over exact
    * integer features, scored in one narrow pass — the fastText-
    * classifier ROLE (score every document, keep above threshold)
    * with interpretable stub coefficients standing in for trained
    * weights (this container has no model artifacts; production
    * swaps the weight vector, the plumbing is identical). Features:
    * capped token count (length prior), English function-word hits
    * (fluency), distinct-token count (lexical diversity), normalized
    * char length (penalizes unbroken blobs). Integer weights on
    * integer features — the score and the keep label are
    * engine-exact, no probability calibration floats anywhere. */
  def linearQualityScore(df: DataFrame, textCol: String,
      threshold: Long = 0L): DataFrame = {
    val toks = graft.functions.tokens(col(textCol))
    val fTokens = least(size(toks), lit(256)).cast("long")
    val fStop = size(filter(toks,
      t => t.isInCollection(profiles("en")))).cast("long")
    val fDistinct = size(array_distinct(toks)).cast("long")
    val fChars = length(graft.functions.normalizeText(col(textCol)))
      .cast("long")
    df.withColumn("f_tokens", fTokens)
      .withColumn("f_stop", fStop)
      .withColumn("f_distinct", fDistinct)
      .withColumn("f_chars", fChars)
      .withColumn("score",
        col("f_tokens") * 4 + col("f_stop") * 30 +
          col("f_distinct") * 8 - col("f_chars") - lit(200L))
      .withColumn("keep", (col("score") >= threshold).cast("int"))
  }

  /** Exact AUC of an integer score against a 0/1 label — the
    * evaluation harness for [[linearQualityScore]]-style quality
    * classifiers (does the score actually separate good from bad
    * docs?), computed as the Mann-Whitney U rank-sum with midrank tie
    * handling and emitted as an exact integer
    * `auc_micro = floor(10⁶ · U / (n_pos·n_neg))`.
    *
    * Distributed shape: one map-side-partial groupBy collapses the
    * corpus to (score, n_pos, n) — bounded by the number of DISTINCT
    * score values, which integer-quantized quality scores keep small
    * (thousands, not corpus-sized) — then a global-order prefix-sum
    * window over that collapsed frame (the q_a15_decile posture: the
    * window input is already aggregate-sized) and a 1-row total. The
    * doubled-midrank identity keeps every intermediate an exact
    * integer: Σ_s n_pos(s)·(2·below(s) + n(s) + 1) = 2·R_pos, so
    * AUC = (2R_pos − ... ) needs no floats; intermediates widen to
    * decimal(38,0) so 10⁶·n² stays exact far past BIGINT corpora.
    * Emits one row (n_pos, n_neg, auc_micro); auc_micro is null when
    * either class is empty. */
  def aucExact(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val byScore = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(col(labelCol).cast("long")).as("__np"),
        count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ranked = byScore.withColumn("__below",
      coalesce(sum(col("__n")).over(w), lit(0L)))
    ranked.agg(
        sum(dec(col("__np")) * (dec(col("__below")) * 2 +
          dec(col("__n")) + 1)).as("__r2"),
        sum(col("__np")).as("n_pos"),
        sum(col("__n") - col("__np")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(floor(
            (dec(lit(1000000L)) *
              (col("__r2") - dec(col("n_pos")) * (dec(col("n_pos")) + 1)))
            / (dec(col("n_pos")) * dec(col("n_neg")) * 2))
            .cast("long"))
          .as("auc_micro"))
  }

  /** Duplicate word-n-gram mass per document — the Gopher-family
    * repetition filter (Rae et al. 2021 §A1.1: "duplicate n-gram
    * fraction"): the share of a document's n-gram occurrences that
    * belong to an n-gram appearing more than once. A templated or
    * loop-generated page scores high; natural prose scores near 0
    * once n ≥ 2. Emits (id, n_grams, dup_grams, dup_milli) for every
    * input document (short docs with < n tokens report 0/0/0);
    * dup_milli is exact integer arithmetic (dup·1000 div total) so
    * the threshold decision is engine-independent.
    *
    * Requires one text per id (true of any document table — same
    * contract as [[qualitySignals]]); a multi-row id would count
    * cross-row grams as same-document repetition.
    *
    * Scale shape: the statistic is PER-DOCUMENT, so it never leaves
    * the row — sort the document's own shingle array and count
    * singleton runs (a gram is duplicated iff it equals a sorted
    * neighbor). Pure narrow projection: zero shuffle, zero join,
    * whole-stage codegen end to end; per-row state is one document's
    * gram array, the same doc-bounded shape as A8 group-concat.
    * (Round 6 retired the original explode → groupBy(id, gram) →
    * groupBy(id) → join-back formulation, which shuffled every gram
    * occurrence string twice and was 10% of the whole bench by
    * itself.) */
  def duplicateNgramStats(df: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1: $n")
    // materialize the sorted gram array before the lambda reads it —
    // a captured expression would re-sort per element (see
    // gopherRepetitionSignals' scaladoc)
    val g = col("__g")
    val m = size(g)
    // a sorted gram at position i is a singleton iff it differs from
    // both neighbors; dup mass = total - singletons
    val singles = size(filter(sequence(lit(1), m), i =>
      (i === 1 || element_at(g, i) =!= element_at(g, i - 1)) &&
        (i === m || element_at(g, i) =!= element_at(g, i + 1))))
    df.select(col(idCol),
        array_sort(call_function("graft_shingles",
          graft.functions.tokens(col(textCol)), lit(n))).as("__g"))
      .select(col(idCol),
        when(m === 0, lit(0L)).otherwise(m.cast("long")).as("n_grams"),
        when(m === 0, lit(0L)).otherwise((m - singles).cast("long"))
          .as("dup_grams"))
      .withColumn("dup_milli",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(expr("(dup_grams * 1000) div n_grams")))
  }

  /** DSIR-shaped importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much its hashed-unigram distribution looks like
    * a TARGET corpus (`target` marks the in-domain rows) relative to
    * the raw corpus. Per hash bucket b the likelihood ratio is
    * estimated add-1-smoothed,
    *   ratio_milli[b] = (t_b+1)·(R+B)·1000  div  (r_b+1)·(T+B),
    * and a document's weight is the count-weighted mean of its
    * buckets' ratios, w_milli = Σ c_b·ratio_milli[b] div Σ c_b.
    * DEVIATION from the paper, on purpose: the paper averages LOG
    * ratios; this uses the ratios themselves so every number is exact
    * integer arithmetic — reproducible across engines and runs, which
    * a transcendental log can't guarantee bit-wise. Selection then
    * takes top-w (or hash-thresholded) docs exactly as in the paper.
    *
    * Scale shape: bucket count tables are B rows (B ~ 2¹⁰–2²⁰) →
    * the ratio table BROADCASTS; the corpus side is explode →
    * partial-agg groupBy (id, b) → broadcast join → partial-agg
    * groupBy id. No corpus-sized shuffle key ever carries more than a
    * doc's own bucket counts.
    *
    * Integer bound: the 64-bit product (t_b+1)·(R+B)·1000 caps the
    * corpus at t_b·R < ~9·10¹⁵ — comfortable to ~10¹²-token corpora
    * with B ≥ 2¹⁰ (a bucket holds ~R/B tokens); past that raise
    * `buckets` (the product scales as R²/B) or move the ratio table
    * to decimal(38,0) — it is B rows, so the swap costs nothing. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      target: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val b = graft.functions.hash31(concat(lit("dsir:"), col("__tok")))
      .mod(buckets).as("__b")
    val tb = df.select(col(idCol), explode(graft.functions.tokens(col(textCol)))
        .as("__tok"), target.as("__t"))
      .select(col(idCol), b, col("__t"))
    val bucketCounts = tb.groupBy("__b")
      .agg(count(lit(1)).as("__r"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"))
    val totals = bucketCounts
      .agg(sum(col("__r")).as("__rtot"), sum(col("__tc")).as("__ttot"))
    val ratio = bucketCounts.crossJoin(broadcast(totals))
      .select(col("__b"),
        expr(s"((__tc + 1) * (__rtot + $buckets) * 1000) div " +
          s"((__r + 1) * (__ttot + $buckets))").as("__ratio_milli"))
    val docBuckets = tb.groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val w = docBuckets.join(broadcast(ratio), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_toks"),
        expr("sum(__c * __ratio_milli) div sum(__c)").as("w_milli"))
    df.select(col(idCol)).join(w, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("w_milli"), lit(0L)).as("w_milli"))
  }

  /** Jensen-Shannon divergence between TWO sub-corpora's
    * hashed-unigram distributions — the corpus-drift monitor of a
    * continuously refreshed training set (Lin 1991: JS is symmetric,
    * bounded by ln 2, and defined even where the supports differ,
    * exactly why it beats raw KL for snapshot-vs-snapshot
    * comparison). `left` marks side A's rows; everything else is
    * side B. A degenerate side (zero tokens) yields all-zero
    * divergences — same convention as [[jsDivergenceByGroup]]'s
    * empty-complement case — never NaN/Inf garbage.
    *
    * Token mass hashes into `buckets` fixed cells (same trick as
    * [[dsirWeights]] — the distribution table is B rows, never
    * vocabulary-sized). With per-bucket counts c,d and totals
    * N_a,N_b, the side-A integrand p·ln(p/m) reduces to the exact
    * rational 2·c·N_b / (c·N_b + d·N_a), so each bucket takes ONE
    * micro-floored ln of an exactly-derived double (the knNll
    * discipline) and everything else is int64 arithmetic:
    *   js_a_micro = max(0, Σ_c>0 c·⌊ln(2cN_b/(cN_b+dN_a))·10⁶⌋) div N_a
    * (the clamp only absorbs the ≤1-micro-per-token quantization
    * undershoot — true KL is never negative), likewise for B, and
    * js_micro is their midpoint. Int64 envelope: c·N_b < 2⁶³ caps
    * the corpus at ~3·10⁹ tokens per side before the products need
    * decimal(38,0) — same documented bound family as dsirWeights.
    *
    * Scale shape: explode → ONE partial-agg groupBy on the bucket id
    * (B result rows) → broadcast totals → single-row fold. The only
    * corpus-sized stage is the map-side-combined bucket count. */
  /** Per-document character-level Shannon entropy in micro-nats —
    * the cheap "text or noise" screen a crawl-quality stack runs
    * before anything tokenized (near-zero = repeated padding,
    * near-ln(alphabet) = random bytes; prose sits in a stable band).
    * H = ln n − (Σ cᵢ·ln cᵢ)/n over per-character counts; integer
    * discipline: ONE micro-floored ln per distinct (doc, char) count
    * plus one for n, exact int64 sums and a floor division
    * everywhere else (the [[jsDivergence]] convention), so the score
    * is engine-exact and never negative (⌊ln⌋ is monotone, so
    * Σcᵢ·⌊ln cᵢ⌋ ≤ n·⌊ln n⌋).
    *
    * Scale shape: one character explode → one (doc, char)
    * map-side-combined count → one per-doc rollup; no windows, no
    * joins. Documents with empty text vanish (no characters — no
    * distribution), matching the SQL unnest of an empty split. */
  def charEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def lnq(c: Column): Column =
      floor(log(c.cast("double")) * 1000000L).cast("long")
    val counts = df
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "")).as("__ch"))
      // Java's split keeps a trailing zero-width segment; DuckDB's
      // string_split does not — drop it so both engines count the
      // same multiset
      .filter(length(col("__ch")) > 0)
      .groupBy("doc_id", "__ch").agg(count(lit(1)).as("__c"))
    counts.groupBy("doc_id")
      .agg(sum(col("__c")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") * lnq(col("__c"))).as("__s"))
      .select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_distinct").cast("long").as("n_distinct"),
        (lnq(col("n_chars")) - expr("__s div n_chars"))
          .as("entropy_micro"))
  }

  def jsDivergence(df: DataFrame, textCol: String, left: Column,
      buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val b = graft.functions.hash31(concat(lit("js:"), col("__tok")))
      .mod(buckets).as("__b")
    val tb = df.select(left.as("__l"),
        explode(graft.functions.tokens(col(textCol))).as("__tok"))
      .select(col("__l"), b)
    // B-row result materialized ONCE — without the checkpoint the
    // totals branch would re-run the corpus explode + shuffle
    val bucketCounts = tb.groupBy("__b").agg(
      sum(when(col("__l"), 1L).otherwise(0L)).as("__c"),
      sum(when(col("__l"), 0L).otherwise(1L)).as("__d"))
      .localCheckpoint(eager = false)
    bucketCounts.crossJoin(broadcast(bucketCounts
        .agg(sum(col("__c")).as("__na"), sum(col("__d")).as("__nb"))))
      .agg(
        // the __nb/__na > 0 guards keep the ln argument positive when
        // one side is EMPTY (N_b = 0 with c > 0 makes the rational
        // 0/0): the degenerate term contributes 0 instead of a NaN
        // that ANSI cast-to-long would throw on
        sum(when(col("__c") > 0 && col("__nb") > 0, col("__c") *
          floor(log((lit(2d) * col("__c") * col("__nb")) /
            (col("__c") * col("__nb") + col("__d") * col("__na")))
            * 1e6).cast("long")).otherwise(0L)).as("__pa"),
        sum(when(col("__d") > 0 && col("__na") > 0, col("__d") *
          floor(log((lit(2d) * col("__d") * col("__na")) /
            (col("__c") * col("__nb") + col("__d") * col("__na")))
            * 1e6).cast("long")).otherwise(0L)).as("__pb"),
        sum(when(col("__c") > 0, 1L).otherwise(0L)).as("buckets_a"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("buckets_b"),
        max(col("__na")).as("n_tokens_a"),
        max(col("__nb")).as("n_tokens_b"))
      .select(
        coalesce(col("n_tokens_a"), lit(0L)).as("n_tokens_a"),
        coalesce(col("n_tokens_b"), lit(0L)).as("n_tokens_b"),
        col("buckets_a"), col("buckets_b"),
        // div-by-zero guard for the same degenerate sides (ANSI
        // `div` throws); an empty side reports zero divergence
        expr("CASE WHEN n_tokens_a > 0 THEN " +
          "greatest(__pa, 0L) div n_tokens_a ELSE 0L END")
          .as("js_a_micro"),
        expr("CASE WHEN n_tokens_b > 0 THEN " +
          "greatest(__pb, 0L) div n_tokens_b ELSE 0L END")
          .as("js_b_micro"))
      .withColumn("js_micro",
        expr("(js_a_micro + js_b_micro) div 2"))
  }

  /** Per-group [[jsDivergence]]: for EVERY group (source domain,
    * day, shard) the JS divergence between that group's hashed-unigram
    * distribution and the REST of the corpus — the "which domain
    * drifts most" monitor, one row per group. Same micro-floored-ln
    * discipline; the complement side is derived by subtraction from
    * the global bucket totals, so the whole family costs ONE
    * (group × bucket) count table (G·B rows — never corpus-sized)
    * plus a broadcast of the B-row global margins. Groups must not
    * be the whole corpus (an empty complement is undefined, emitted
    * as zeros). */
  def jsDivergenceByGroup(df: DataFrame, textCol: String,
      groupCol: String, buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val b = graft.functions.hash31(concat(lit("js:"), col("__tok")))
      .mod(buckets).as("__b")
    val tb = df.select(col(groupCol),
        explode(graft.functions.tokens(col(textCol))).as("__tok"))
      .select(col(groupCol), b)
    val gb = tb.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false)
    val margins = gb.groupBy("__b").agg(sum(col("__c")).as("__tb"))
    val totals = margins.agg(sum(col("__tb")).as("__tt"))
    // side A = the group (c, na); side B = everything else
    // (d = tb − c, nb = tt − na); buckets the group never touched
    // contribute only to B's entropy-free mass and cancel — the A/B
    // sums only need buckets where c > 0 resp. d > 0, and d > 0
    // buckets with c = 0 contribute ln-of-exact-rational terms that
    // sum per group, so the join stays on the G·B table + margins
    val na = gb.groupBy(col(groupCol)).agg(sum(col("__c")).as("__na"))
    // B-margin rows × G group rows — G·B rows, the monitoring table
    // itself, with each group's missing buckets riding as c = 0
    val joined = margins
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(na))
      .join(gb, Seq(groupCol, "__b"), "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__d", col("__tb") - col("__c"))
      .withColumn("__nb", col("__tt") - col("__na"))
    joined
      .groupBy(col(groupCol))
      .agg(
        max(col("__na")).as("n_tokens_a"),
        max(col("__nb")).as("n_tokens_b"),
        sum(when(col("__c") > 0, col("__c") *
          floor(log((lit(2d) * col("__c") * col("__nb")) /
            (col("__c") * col("__nb") + col("__d") * col("__na")))
            * 1e6).cast("long")).otherwise(0L)).as("__pa"),
        sum(when(col("__d") > 0, col("__d") *
          floor(log((lit(2d) * col("__d") * col("__na")) /
            (col("__c") * col("__nb") + col("__d") * col("__na")))
            * 1e6).cast("long")).otherwise(0L)).as("__pb"))
      .select(col(groupCol), col("n_tokens_a"), col("n_tokens_b"),
        when(col("n_tokens_a") > 0,
          expr("greatest(__pa, 0L) div n_tokens_a")).otherwise(0L)
          .as("js_a_micro"),
        when(col("n_tokens_b") > 0,
          expr("greatest(__pb, 0L) div n_tokens_b")).otherwise(0L)
          .as("js_b_micro"))
      .withColumn("js_micro", expr("(js_a_micro + js_b_micro) div 2"))
  }

  /** Byte-pair-encoding merge-table training (Sennrich et al. 2016)
    * as one declarative Spark DAG — the tokenizer-construction step
    * of an LLM data pipeline. Words (with corpus frequencies) start
    * as character sequences; each round counts adjacent symbol pairs
    * (frequency-weighted), picks the most frequent pair with a
    * DETERMINISTIC tie-break (count desc, then lexicographic), and
    * fuses that pair everywhere greedily left-to-right. Returns the
    * merge table (merge_rank, lhs, rhs, pair_count) — the artifact a
    * BPE tokenizer loads.
    *
    * Representation trick: a word's symbol sequence is one string
    * with every symbol wrapped in single spaces (" h  e  l  l  o "),
    * so "fuse pair (a,b) greedily left-to-right, non-overlapping" is
    * exactly one literal `replace(s, ' a  b ', ' ab ')` — the
    * invariant (each symbol space-wrapped, two spaces between
    * neighbors) survives every replace, and the same call is
    * available verbatim in the oracle engine.
    *
    * Scale shape: state lives at WORD granularity (vocab-sized, not
    * corpus-sized — the corpus collapses to (word, freq) in the first
    * aggregation, the classic BPE-training reduction). Each round is
    * a partial-agg pair count, a 1-row TakeOrdered argmax
    * cross-joined back (broadcast), and a narrow replace — no driver
    * collect anywhere; `nMerges` is bounded because each round adds
    * one plan stage. Real tokenizers train on exactly this shape with
    * 30k–100k merges via a loop over a persisted vocab table; the cap
    * here keeps the single-plan variant honest. */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 32,
      s"nMerges must be in [1, 32] for the single-plan variant: $nMerges")
    val words = df
      .select(explode(graft.functions.tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
    var cur = words.select(
        concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("__w"))),
            i => col("__w").substr(i, lit(1))), "  "),
          lit(" ")).as("__s"),
        col("__f"))
      .localCheckpoint(eager = false)
    val merges = collection.mutable.Buffer.empty[DataFrame]
    for (rank <- 1 to nMerges) {
      val syms = split(trim(col("__s")), "  ")
      val pairs = cur.select(col("__f"),
          when(size(syms) < 2, array()).otherwise(
            transform(sequence(lit(0), size(syms) - 2), j =>
              struct(element_at(syms, j + 1).as("lhs"),
                element_at(syms, j + 2).as("rhs")))).as("__ps"))
        .select(col("__f"), explode(col("__ps")).as("__p"))
      val best = pairs
        .groupBy(col("__p.lhs").as("lhs"), col("__p.rhs").as("rhs"))
        .agg(sum(col("__f")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .localCheckpoint(eager = false)
      merges += best.withColumn("merge_rank", lit(rank.toLong))
      cur = cur
        .crossJoin(broadcast(best.select(
          concat(lit(" "), col("lhs"), lit("  "), col("rhs"), lit(" "))
            .as("__pat"),
          concat(lit(" "), col("lhs"), col("rhs"), lit(" ")).as("__rep"))))
        .withColumn("__s", expr("replace(__s, __pat, __rep)"))
        .drop("__pat", "__rep")
        .localCheckpoint(eager = false)
    }
    merges.reduce(_ unionByName _)
      .select(col("merge_rank"), col("lhs"), col("rhs"),
        col("pair_count").cast("long").as("pair_count"))
  }

  /** C4-family boilerplate removal: split each document into units
    * (lines for a crawl corpus — `splitRegex` "\n"; sentences or
    * tokens for other corpora), drop every unit whose document
    * frequency exceeds `maxDfMilli`/1000 of the corpus (nav bars,
    * cookie banners, license footers — text that repeats across
    * unrelated pages is boilerplate, not content), and reassemble the
    * survivors in original order joined by `joinWith`. Emits
    * (id, n_units, n_kept, clean_text); a fully-boilerplate document
    * comes back with n_kept = 0 and clean_text = ''.
    *
    * The threshold is a corpus FRACTION (exact integer cross-multiply
    * df·1000 > maxDfMilli·n_docs, no division) so the same call is
    * scale-free: growing the corpus never reclassifies a unit whose
    * share didn't change.
    *
    * Scale shape: the boilerplate set is bounded by construction —
    * units above df > f·N number at most (total unit occurrences) /
    * (f·N), e.g. ≤ 1700·avg_units_per_doc distinct units at f = 0.06%
    * — so it BROADCASTS, and the corpus side is one narrow
    * split/explode plus the [[HotKeys.drop]] broadcast anti join: the
    * 100 TB side never shuffles until the per-document reassembly
    * groupBy (whose state is one document's own units, the same
    * bounded shape as A8 group-concat). The df count itself
    * partial-aggregates. */
  /** The rest of the Gopher repetition-filter family (Rae et al.
    * 2021 §A1.1) beyond [[duplicateNgramStats]]: per-document
    * duplicate-UNIT fractions and the heaviest-n-gram character
    * share, all exact integer milli. Emits (id, n_units,
    * dup_unit_milli, dup_unit_char_milli, top_ngram_char_milli):
    *   - dup_unit_milli: share of unit occurrences beyond the first
    *     of their value (Gopher "duplicate line fraction"; the unit
    *     is `splitRegex`-delimited — lines for a crawl corpus).
    *   - dup_unit_char_milli: same, weighted by unit characters.
    *   - top_ngram_char_milli: characters covered by the single
    *     heaviest word n-gram (count x char-length, a monotone
    *     variant of Gopher's most-frequent-n-gram fraction with a
    *     deterministic tie rule) over the normalized text length.
    *
    * Scale shape: like the round-6 [[duplicateNgramStats]], every
    * statistic is per-document, so nothing leaves the row — sorted
    * own-doc arrays, neighbor compares, and run-length arithmetic.
    * Pure narrow projection: zero shuffle at any corpus size.
    *
    * Expression discipline (the lesson this operator taught round 6):
    * every array referenced inside a higher-order-function lambda is
    * MATERIALIZED as its own projection column first. A captured
    * non-lambda expression is re-evaluated PER ELEMENT by Spark's
    * HOF evaluator, so nesting `array_sort(...)` inside a lambda
    * body turns an O(len·log) row into O(len³·log) — this exact
    * formulation ran 26 min on 500 sf0.01 docs before the rewrite.
    * Attribute reads are O(1); `withColumn` stages keep everything
    * in one whole-stage-codegen projection anyway. */
  def gopherRepetitionSignals(df: DataFrame, idCol: String,
      textCol: String, splitRegex: String = "\n", n: Int = 2)
      : DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1: $n")
    df.select(col(idCol),
        array_sort(filter(
          transform(split(col(textCol), splitRegex), x => trim(x)),
          x => x =!= "")).as("__u"),
        array_sort(call_function("graft_shingles",
          graft.functions.tokens(col(textCol)), lit(n))).as("__g"),
        length(graft.functions.normalizeText(col(textCol))).cast("long")
          .as("__norm_len"))
      .withColumn("__m", size(col("__u")))
      .withColumn("__mg", size(col("__g")))
      // a sorted occurrence is "beyond first" iff it equals its left
      // neighbor; character mass rides along the same compare
      .withColumn("__dup_idx",
        when(col("__m") < 2, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(2), col("__m")), i =>
            element_at(col("__u"), i) === element_at(col("__u"), i - 1))))
      // heaviest n-gram by char mass: run-length encode the sorted
      // gram array via its run-start boundaries
      .withColumn("__starts",
        when(col("__mg") === 0, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(1), col("__mg")), i =>
            i === 1 ||
              element_at(col("__g"), i) =!= element_at(col("__g"), i - 1))))
      .withColumn("__bounds", concat(col("__starts"), array(col("__mg") + 1)))
      .select(col(idCol),
        col("__m").cast("long").as("n_units"),
        (size(col("__dup_idx")).cast("long") * 1000L).as("__dup_x1000"),
        aggregate(col("__dup_idx"), lit(0L),
          (acc, i) => acc + length(element_at(col("__u"), i)))
          .as("__dup_chars"),
        aggregate(col("__u"), lit(0L), (acc, x) => acc + length(x))
          .as("__tot_chars"),
        when(col("__mg") === 0, lit(0L)).otherwise(array_max(
          transform(sequence(lit(1), size(col("__starts"))), j =>
            (element_at(col("__bounds"), j + 1) -
              element_at(col("__bounds"), j)).cast("long") *
              length(element_at(col("__g"),
                element_at(col("__bounds"), j))))))
          .as("__top_chars"),
        col("__norm_len"))
      .select(col(idCol), col("n_units"),
        when(col("n_units") === 0, lit(0L))
          .otherwise(expr("__dup_x1000 div n_units")).as("dup_unit_milli"),
        when(col("__tot_chars") === 0, lit(0L))
          .otherwise(expr("(__dup_chars * 1000) div __tot_chars"))
          .as("dup_unit_char_milli"),
        when(col("__norm_len") === 0, lit(0L))
          .otherwise(expr("(__top_chars * 1000) div __norm_len"))
          .as("top_ngram_char_milli"))
  }

  /** C4-style INTRA-document unit dedup ("deduplicate lines within a
    * page"): keep the first occurrence of each distinct unit inside
    * the document, preserve original order, reassemble with
    * `joinWith`. Complements [[dropBoilerplateUnits]], which removes
    * units repeated ACROSS documents. Emits (id, n_units, n_kept,
    * clean_text).
    *
    * Scale shape: per-document by definition → pure narrow
    * projection, zero shuffle. first-occurrence test is
    * `array_position(units, units(i)) == i` — quadratic in a doc's
    * OWN unit count (doc-bounded, never corpus-bounded), the price of
    * staying wholly inside codegen'd array expressions. */
  def dedupUnitsWithin(df: DataFrame, idCol: String, textCol: String,
      splitRegex: String = "\n", joinWith: String = " "): DataFrame =
    df.select(col(idCol),
        filter(transform(split(col(textCol), splitRegex), x => trim(x)),
          x => x =!= "").as("__u"))
      // __u is a materialized column, not a captured expression —
      // lambdas below read an attribute, they don't re-split the doc
      // per element (see gopherRepetitionSignals' scaladoc)
      .withColumn("__kept",
        when(size(col("__u")) === 0, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(1), size(col("__u"))), i =>
            array_position(col("__u"), element_at(col("__u"), i)) === i)))
      .select(col(idCol),
        size(col("__u")).cast("long").as("n_units"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(transform(col("__kept"),
          i => element_at(col("__u"), i)), joinWith).as("clean_text"))

  def dropBoilerplateUnits(df: DataFrame, idCol: String, textCol: String,
      splitRegex: String, maxDfMilli: Long, joinWith: String = " ")
      : DataFrame = {
    require(maxDfMilli >= 0 && maxDfMilli <= 1000,
      s"maxDfMilli must be a milli-fraction in [0, 1000]: $maxDfMilli")
    val unitArr = filter(
      transform(split(col(textCol), splitRegex), u => trim(u)),
      u => u =!= "")
    val units = df.select(col(idCol), posexplode(unitArr).as(Seq("__pos", "__u")))
    val nDocs = df.select(count(lit(1)).as("__n"))
    val boiler = units.select(col(idCol), col("__u")).distinct()
      .groupBy("__u").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") * 1000L > lit(maxDfMilli) * col("__n"))
      .select("__u")
    val kept = HotKeys.drop(units, boiler, Seq("__u"))
    val agg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
            s => s.getField("__u")),
          joinWith).as("clean_text"))
    df.select(col(idCol), size(unitArr).cast("long").as("n_units"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_units"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CORPUS-WIDE keep-first unit dedup (the RefinedWeb/C4 exact
    * line-dedup pass): a unit (line/sentence/token per `splitRegex`)
    * survives only at its globally FIRST occurrence — ordered by
    * (document id, position within document) — and every later copy,
    * in the same document or any other, is dropped. Complements
    * [[dropBoilerplateUnits]] (which removes units ABOVE a document
    * frequency, keeping zero copies) by keeping exactly one copy of
    * everything. Emits (id, n_units, n_kept, clean_text); a document
    * made entirely of later copies comes back n_kept = 0, clean_text
    * = ''.
    *
    * Scale shape: two key-shuffles, both partial-agg-able — the
    * first-occurrence argmin is `min(struct(id, pos))` per unit
    * (map-side partial min, so a unit appearing 10⁹ times shuffles
    * one candidate per map partition, not 10⁹ rows), and the
    * reassembly groupBy carries only a document's own kept units
    * (doc-bounded state, same shape as [[dropBoilerplateUnits]]).
    * The keep test is a left-semi join on (unit, id, pos) — no row
    * widening, no skew beyond the unit key itself. */
  def dedupUnitsAcross(df: DataFrame, idCol: String, textCol: String,
      splitRegex: String = "\n", joinWith: String = " "): DataFrame = {
    val unitArr = filter(
      transform(split(col(textCol), splitRegex), u => trim(u)),
      u => u =!= "")
    val units = df.select(col(idCol),
      posexplode(unitArr).as(Seq("__pos", "__u")))
    val first = units.groupBy("__u")
      .agg(min(struct(col(idCol), col("__pos"))).as("__f"))
      .select(col("__u"), col("__f").getField(idCol).as(idCol),
        col("__f").getField("__pos").as("__pos"))
    val kept = units.join(first, Seq("__u", idCol, "__pos"), "left_semi")
    val agg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
            s => s.getField("__u")),
          joinWith).as("clean_text"))
    df.select(col(idCol), size(unitArr).cast("long").as("n_units"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_units"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Bigram-LM negative log likelihood (the KenLM-lite step up from
    * [[unigramNll]]): add-1-smoothed conditional surprisal
    * −ln p(w₂|w₁) with p = (c(w₁w₂)+1) / (c(w₁·)+V), V = corpus
    * vocabulary size, per-bigram surprisal QUANTIZED to integer
    * millis (floor·1000) before summing so per-doc totals are exact
    * integer sums (same discipline as [[unigramNll]]/[[tfIdfTopTerms]]).
    * Emits (id, n_bigrams, nll_milli_sum, avg_nll_milli); docs with
    * fewer than two tokens come back 0/0/0.
    *
    * Scale shape: one bigram explode feeds the bigram counts, the
    * context counts (both partial-agg-able key shuffles), and the
    * scoring join; V is one driver scalar off the same materialized
    * gram table. Count tables are vocab-sized — AQE broadcasts them
    * when they fit, shuffles when a web-scale vocab doesn't. */
  def bigramNll(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val grams = df.select(col(idCol),
        explode(call_function("graft_shingles",
          tokens(col(textCol)), lit(2))).as("__g"))
      .localCheckpoint(eager = false)
    val big = grams.groupBy("__g").agg(count(lit(1)).as("__c12"))
    val ctx = grams
      .select(element_at(split(col("__g"), " "), 1).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val vocabSize = df.select(explode(tokens(col(textCol))).as("tk"))
      .distinct().count()
    val scored = grams.join(big, Seq("__g"))
      .withColumn("__w1", element_at(split(col("__g"), " "), 1))
      .join(ctx, Seq("__w1"))
      .select(col(idCol),
        floor(log((col("__c1") + lit(vocabSize)).cast("double")
            / (col("__c12") + lit(1L)).cast("double")) * 1000.0d)
          .cast("long").as("__m"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__m")).as("nll_milli_sum"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_milli_sum"), lit(0L)).as("nll_milli_sum"))
      .withColumn("avg_nll_milli",
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("nll_milli_sum div n_bigrams")))
  }

  /** Stupid-backoff bigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — THE distributed-LM
    * smoothing: no normalization pass, so counts shard and merge
    * freely): score `target` docs against an LM counted over `train`.
    * Per adjacent target bigram (u,v):
    *   seen in train  → NLL = ln(c(u·)/c(uv))          (conditional)
    *   unseen         → NLL = ln(1000·N / (α_milli·c(v)))  (backed-off
    *     unigram, α = α_milli/1000; OOV v falls to c(v)=1, i.e. the
    *     uniform floor — one deterministic rule, no second α hop)
    * Per-bigram surprisal quantized to integer millis (floor·1000)
    * before summing — same cross-engine discipline as [[bigramNll]].
    * Unlike [[bigramNll]] (self-scored, add-1), the train/target
    * split makes this the NOVELTY filter: n_backoff counts bigrams
    * the reference corpus never saw, and avg_nll_milli ranks target
    * docs by how unlike the reference distribution they are —
    * the perplexity-filter shape (score new crawl against a trusted
    * reference LM, keep the low-surprisal tail).
    *
    * Scale shape: count tables (bigram, context, unigram) are
    * vocab-sized partial-agg groupBys on the TRAIN side only; N rides
    * the plan as a broadcast one-row frame (no driver job). The
    * target side pays one bigram explode + the count joins (AQE
    * broadcasts vocab-sized sides when they fit) + one per-doc
    * groupBy. Emits (id, n_bigrams, n_backoff, nll_milli_sum,
    * avg_nll_milli); target docs under two tokens come back 0/0/0/0. */
  def stupidBackoffNll(train: DataFrame, target: DataFrame,
      idCol: String, textCol: String, alphaMilli: Long = 400L)
      : DataFrame = {
    val trainGrams = train.select(
        explode(call_function("graft_shingles",
          tokens(col(textCol)), lit(2))).as("__g"))
      .localCheckpoint(eager = false)
    val big = trainGrams.groupBy("__g").agg(count(lit(1)).as("__c12"))
    val ctx = trainGrams
      .select(element_at(split(col("__g"), " "), 1).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val trainToks = train.select(explode(tokens(col(textCol))).as("__w2"))
    val uni = trainToks.groupBy("__w2").agg(count(lit(1)).as("__cu"))
    val totalN = trainToks.agg(count(lit(1)).as("__n"))
    val scored = target.select(col(idCol),
        explode(call_function("graft_shingles",
          tokens(col(textCol)), lit(2))).as("__g"))
      .withColumn("__w1", element_at(split(col("__g"), " "), 1))
      .withColumn("__w2", element_at(split(col("__g"), " "), 2))
      .join(big, Seq("__g"), "left")
      .join(ctx, Seq("__w1"), "left")
      .join(uni, Seq("__w2"), "left")
      .crossJoin(broadcast(totalN))
      .select(col(idCol),
        col("__c12").isNull.cast("long").as("__backoff"),
        when(col("__c12").isNotNull,
          floor(log(col("__c1").cast("double")
            / col("__c12").cast("double")) * 1000.0d).cast("long"))
          .otherwise(
            floor(log((col("__n") * lit(1000L)).cast("double")
              / (lit(alphaMilli) * coalesce(col("__cu"), lit(1L)))
                .cast("double")) * 1000.0d).cast("long"))
          .as("__m"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__backoff")).as("n_backoff"),
        sum(col("__m")).as("nll_milli_sum"))
    target.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("nll_milli_sum"), lit(0L)).as("nll_milli_sum"))
      .withColumn("avg_nll_milli",
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("nll_milli_sum div n_bigrams")))
  }

  /** T26: interpolated Kneser-Ney bigram NLL (Kneser & Ney 1995;
    * Chen & Goodman 1999's absolute-discount interpolated form — the
    * canonical n-gram smoothing, against which stupid backoff is the
    * cheap approximation):
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·n1f(w1)/c1) · n1b(w2)/T
    *
    * with D the absolute discount (milli), n1f(w1) = distinct
    * continuations of w1, n1b(w2) = distinct contexts of w2 (the
    * continuation count that makes "Francisco" cheap after "San" but
    * expensive elsewhere — KN's defining idea), T = distinct bigram
    * types. Over a common denominator the probability is the exact
    * integer rational
    *
    *   [max(1000·c12 − D, 0)·T + D·n1f·max(n1b, 1)] / [1000·c1·T]
    *
    * so the per-gram NLL is ONE ln of an exact-int ratio,
    * milli-floored — the same determinism discipline as
    * [[stupidBackoffNll]]. An unseen context (no c1) scores the bare
    * continuation distribution max(n1b, 1)/T; unseen w2 floors at
    * one type. Int64 envelope: 1000·c1·T must stay below 2⁶³ —
    * c1·T ≤ 9.2·10¹⁵ (a 10⁹-token context set with 10⁶ bigram types
    * is safe by 1000×); beyond that, divide the shared T factor out
    * of both sides before the log.
    *
    * Plan shape: the four count tables are partial-agg groupBys over
    * the TRAIN side, persisted/reusable; the target side pays one
    * shingle explode + keyed joins (AQE-broadcast when vocab-sized)
    * + one per-doc groupBy. Same shape as stupid backoff — KN costs
    * two more count-table joins, not a new shuffle pattern. */
  def knNll(train: DataFrame, target: DataFrame, idCol: String,
      textCol: String, discountMilli: Long = 750L): DataFrame = {
    require(discountMilli > 0 && discountMilli < 1000,
      s"discountMilli must be in (0, 1000): $discountMilli")
    val trainGrams = train.select(
        explode(call_function("graft_shingles",
          tokens(col(textCol)), lit(2))).as("__g"))
      .localCheckpoint(eager = false)
    val big = trainGrams.groupBy("__g").agg(count(lit(1)).as("__c12"))
    val ctx = trainGrams
      .select(element_at(split(col("__g"), " "), 1).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val bigW = big
      .withColumn("__w1", element_at(split(col("__g"), " "), 1))
      .withColumn("__w2", element_at(split(col("__g"), " "), 2))
    val n1f = bigW.groupBy("__w1").agg(count(lit(1)).as("__n1f"))
    val n1b = bigW.groupBy("__w2").agg(count(lit(1)).as("__n1b"))
    val tot = big.agg(count(lit(1)).as("__t"))
    val d = lit(discountMilli)
    val scored = target.select(col(idCol),
        explode(call_function("graft_shingles",
          tokens(col(textCol)), lit(2))).as("__g"))
      .withColumn("__w1", element_at(split(col("__g"), " "), 1))
      .withColumn("__w2", element_at(split(col("__g"), " "), 2))
      .join(big, Seq("__g"), "left")
      .join(ctx, Seq("__w1"), "left")
      .join(n1f, Seq("__w1"), "left")
      .join(n1b, Seq("__w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        col("__c1").isNull.cast("long").as("__unseen"),
        when(col("__c1").isNotNull,
          floor(log((lit(1000L) * col("__c1") * col("__t"))
              .cast("double")
            / (greatest(lit(1000L) * coalesce(col("__c12"), lit(0L)) - d,
                lit(0L)) * col("__t")
              + d * col("__n1f") * greatest(coalesce(col("__n1b"),
                lit(1L)), lit(1L))).cast("double")) * 1000.0d)
            .cast("long"))
          .otherwise(
            floor(log(col("__t").cast("double")
              / greatest(coalesce(col("__n1b"), lit(1L)), lit(1L))
                .cast("double")) * 1000.0d).cast("long"))
          .as("__m"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__unseen")).as("n_unseen_ctx"),
        sum(col("__m")).as("nll_milli_sum"))
    target.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen_ctx"), lit(0L)).as("n_unseen_ctx"),
        coalesce(col("nll_milli_sum"), lit(0L)).as("nll_milli_sum"))
      .withColumn("avg_nll_milli",
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("nll_milli_sum div n_bigrams")))
  }

  /** Span-level decontamination — the surgical alternative to
    * dropping whole contaminated documents: every training-side
    * token covered by an n-gram that also appears in the eval corpus
    * is REMOVED and the survivors are reassembled in order. Keeps
    * the 99% of a page that is original while excising the quoted
    * benchmark answer. Emits (id, n_toks, n_removed, clean_text)
    * for every training row (n_removed = 0, text unchanged when
    * clean).
    *
    * Scale shape: the eval gram set BROADCASTS (eval corpora are
    * benchmark-sized — same posture as [[ngramContamination]], but
    * joined on the gram STRING so removal has no hash-collision
    * over-reach); the train side is a positional shingle explode →
    * broadcast left-semi → per-doc groupBy whose state is the doc's
    * own matched positions. Coverage expansion and token filtering
    * are array expressions on the reassembled row — doc-bounded,
    * zero extra shuffle. */
  def decontaminateSpans(train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1: $n")
    val evalGrams = eval_
      .select(explode(call_function("graft_shingles",
        tokens(col(textCol)), lit(n))).as("__g")).distinct()
    val matched = train.select(col(idCol),
        posexplode(call_function("graft_shingles",
          tokens(col(textCol)), lit(n))).as(Seq("__p", "__g")))
      .join(broadcast(evalGrams), Seq("__g"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("__p")).as("__starts"))
    train.select(col(idCol), tokens(col(textCol)).as("__t"))
      .join(matched, Seq(idCol), "left")
      .withColumn("__cov",
        when(col("__starts").isNull, array().cast("array<int>"))
          .otherwise(array_distinct(flatten(transform(col("__starts"),
            p => sequence(p, p + lit(n - 1)))))))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_toks"),
        size(col("__cov")).cast("long").as("n_removed"),
        when(size(col("__t")) === 0, lit(""))
          .otherwise(array_join(transform(
            filter(sequence(lit(1), size(col("__t"))),
              i => !array_contains(col("__cov"), i - 1)),
            i => element_at(col("__t"), i)), " "))
          .as("clean_text"))
  }

  /** Apply a trained BPE merge table ([[bpeMerges]]' output — the
    * other half of the tokenizer story: train once, encode the
    * corpus) to every document, via the native `graft_bpe` kernel
    * (one tight symbol-list loop per row; bit-identical to
    * [[bpeEncodeHof]], the spaced-string replace formulation kept as
    * the executable parity spec). Emits (id, n_toks, bpe_text) — the
    * post-merge symbol count (the number the token-budget planner
    * actually bills) and the encoded text with symbols space-joined.
    *
    * Scale shape: the merge table is tokenizer-sized (k rows, 30k–
    * 100k in production) → collapsed to ONE rank-sorted array row and
    * broadcast; the encode itself is then a pure narrow projection —
    * zero shuffle, per-row cost k·|doc|. When k·occurrences
    * dominates, encode the DISTINCT vocab once and dictionary-join
    * instead — that variant is the composition
    * `bpeEncode(distinct tokens) ⋈ corpus` and shares this kernel. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val mergeArr = merges.agg(
      transform(
        sort_array(collect_list(struct(col("merge_rank"),
          col("lhs"), col("rhs")))),
        s => array(s.getField("lhs"), s.getField("rhs"))).as("__ms"))
    df.select(col(idCol), graft.functions.tokens(col(textCol)).as("__t"))
      .crossJoin(broadcast(mergeArr))
      .withColumn("__syms",
        call_function("graft_bpe", col("__t"), col("__ms")))
      .select(col(idCol),
        size(col("__syms")).cast("long").as("n_toks"),
        array_join(col("__syms"), " ").as("bpe_text"))
  }

  /** The spaced-string replace formulation of [[bpeEncode]] — kept as
    * the executable spec the native kernel is parity-tested against
    * (TextOpsSpec), and as the bare-session fallback (no extensions
    * config needed). Each token is expanded to its space-wrapped
    * character sequence and the merges are replayed in rank order
    * with the same single-`replace` fusion the trainer used, so
    * train→encode round-trips bit-identically. */
  def bpeEncodeHof(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val mergeArr = merges.agg(
      sort_array(collect_list(struct(col("merge_rank"),
        concat(lit(" "), col("lhs"), lit("  "), col("rhs"), lit(" "))
          .as("pat"),
        concat(lit(" "), col("lhs"), col("rhs"), lit(" ")).as("rep"))))
        .as("__ms"))
    val spacedTok = (w: Column) => concat(lit(" "),
      array_join(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), "  "),
      lit(" "))
    val encTok = (w: Column) => array_join(
      split(trim(aggregate(col("__ms"), spacedTok(w),
        (acc, m) => replace(acc, m.getField("pat"), m.getField("rep")))),
        "  "),
      " ")
    df.select(col(idCol), graft.functions.tokens(col(textCol)).as("__t"))
      .crossJoin(broadcast(mergeArr))
      // __t / __enc are materialized columns, not captured
      // expressions — the lambdas read attributes, they don't
      // re-tokenize per element (see gopherRepetitionSignals)
      .withColumn("__enc", array_join(transform(col("__t"), encTok), " "))
      .select(col(idCol),
        when(size(col("__t")) === 0, lit(0L))
          .otherwise(size(split(col("__enc"), " ")).cast("long"))
          .as("n_toks"),
        col("__enc").as("bpe_text"))
  }

  /** Zipf rank-frequency SLOPE — the corpus-health fingerprint:
    * natural language follows freq ∝ rank^s with s ≈ −1 (Zipf 1949;
    * Piantadosi 2014 reviews why), while templated, synthetic or
    * boilerplate-heavy slices bend the log-log line (flat head =
    * copied spans, steep tail = tiny effective vocabulary), so the
    * least-squares slope of (ln rank, ln freq) over the top `topN`
    * terms is a one-number drift monitor a refresh loop can
    * threshold.
    *
    * All-integer law both engines replay exactly: milli-floored ln
    * per point (the knNll discipline — one libm call per term), then
    * num = n·Σxy − Σx·Σy and den = n·Σxx − (Σx)², and the slope as
    * an EXPLICIT toward-zero milli division (spelled sign-split,
    * because engines disagree on negative integer division and the
    * slope is negative by nature). Int64 envelope: topN ≤ 10⁴ with
    * corpora to 10⁹ tokens keeps every product under 2⁶³.
    *
    * Scale shape: one map-side-combined vocab count, a
    * TakeOrderedAndProject top-N cut, and a rank window over the N
    * surviving rows (bounded by topN, never vocabulary-sized). */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN >= 2, s"topN must be >= 2: $topN")
    val counts = df
      .select(explode(graft.functions.tokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("__f").desc, col("__tok").asc)
    val pts = counts
      .orderBy(col("__f").desc, col("__tok").asc).limit(topN)
      .withColumn("__r", row_number().over(wr))
      .select(
        floor(log(col("__r").cast("double")) * 1e3).cast("long")
          .as("x"),
        floor(log(col("__f").cast("double")) * 1e3).cast("long")
          .as("y"))
    pts.agg(count(lit(1)).as("n_terms"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("n_terms"),
        expr("n_terms * __sxy - __sx * __sy").as("num"),
        expr("n_terms * __sxx - __sx * __sx").as("den"))
      .withColumn("slope_milli", expr(
        "CASE WHEN den = 0 THEN 0L " +
          "WHEN num >= 0 THEN (num * 1000) div den " +
          "ELSE -(((-num) * 1000) div den) END"))
      .select("n_terms", "num", "den", "slope_milli")
  }

  /** Per-group tokenizer FERTILITY (Petrov et al. 2023, "Language
    * Model Tokenizers Introduce Unfairness Between Languages"):
    * tokens per 1000 characters for every group (language, domain)
    * under one trained tokenizer, plus the PREMIUM each group pays
    * vs the corpus-wide rate — the metric that prices how many more
    * tokens (≈ compute ≈ context window) a language burns under a
    * shared vocabulary, and the fairness check a multilingual
    * curation loop reads next to [[unimaxBudgets]]'s caps. Input is
    * a per-doc encoded frame (join [[bpeEncode]]'s n_toks with the
    * group and char-count columns).
    *
    * All-integer law: fertility_milli = Σtoks·1000 div Σchars;
    * premium_milli = group-micro-fertility div corpus-milli-fertility
    * — exact on both engines. Int64 envelope: Σtoks·10⁶ < 2⁶³ caps a
    * GROUP at ~9·10¹² tokens before the micro product needs
    * decimal(38,0) — the dsirWeights bound family.
    *
    * Scale shape: one keyed partial-agg groupBy (group-table-sized
    * result) + one broadcast corpus row. */
  def tokenizerFertility(encoded: DataFrame, groupCol: String,
      tokensCol: String, charsCol: String): DataFrame = {
    val g = encoded.groupBy(col(groupCol))
      .agg(sum(col(tokensCol)).as("n_toks"),
        sum(col(charsCol)).as("n_chars"))
    val tot = g.agg(sum(col("n_toks")).as("__tt"),
      sum(col("n_chars")).as("__tc"))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_toks"), col("n_chars"),
        expr("CASE WHEN n_chars > 0 THEN (n_toks * 1000) div n_chars" +
          " ELSE 0L END").as("fertility_milli"),
        expr("CASE WHEN n_chars > 0 AND __tc > 0 AND __tt > 0 THEN " +
          "((n_toks * 1000000) div n_chars) div ((__tt * 1000) div __tc)" +
          " ELSE 0L END").as("premium_milli"))
  }

  /** Dictionary / taxonomy phrase tagging: annotate each document
    * with every lexicon phrase (1..maxPhraseTokens normalized tokens)
    * it contains — the corpus-scale blocklist / topic-lexicon / brand
    * -safety primitive (FlashText's job, as a relational plan). A
    * phrase matches on normalized token boundaries, not substrings:
    * "java script" matches the bigram, never "javascript".
    *
    * Scale shape: the lexicon groups by token length on the DRIVER's
    * side of the plan (it is curated metadata, thousands of rows at
    * most — broadcast); the corpus explodes each length's shingles
    * ONCE and equi-joins the broadcast phrase set, so matching is
    * narrow fan-out + broadcast hash joins, one per phrase length,
    * with match counts aggregated per (doc, tag) before the union's
    * consumer. Nothing is ever all-pairs; doc text leaves the explode
    * only as matched rows. */
  def tagByLexicon(df: DataFrame, idCol: String, textCol: String,
      lexicon: DataFrame, phraseCol: String = "phrase",
      tagCol: String = "tag", maxPhraseTokens: Int = 3): DataFrame = {
    require(maxPhraseTokens >= 1,
      s"maxPhraseTokens must be positive: $maxPhraseTokens")
    val lex = lexicon.select(
        graft.functions.normalizeText(col(phraseCol)).as("__p"),
        col(tagCol).as(tagCol))
      .filter(col("__p") =!= "")
      .withColumn("__n", size(split(col("__p"), " ")))
      .localCheckpoint(eager = false)
    // tokens as a materialized column + the native shingle kernel —
    // see ngramDiversity for why functions.shingles would re-tokenize
    // per element here
    val perLen = (1 to maxPhraseTokens).map { n =>
      df.select(col(idCol),
          graft.functions.tokens(col(textCol)).as("__t"))
        .select(col(idCol),
          explode(call_function("graft_shingles", col("__t"),
            lit(n))).as("__g"))
        .join(broadcast(lex.filter(col("__n") === n)),
          col("__g") === col("__p"))
        .select(col(idCol), col(tagCol), col("__p").as("phrase"))
    }
    perLen.reduce(_ unionByName _)
      .groupBy(col(idCol), col(tagCol), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Distinct-n diversity (Li 2016 / Zhu 2018 "distinct-1/2/3"): per
    * group and n-gram order, the ratio of DISTINCT n-grams to total
    * n-gram occurrences — the corpus-level template/repetition monitor
    * (a synthetic or over-deduped slice shows a diversity cliff long
    * before per-doc repetition signals fire). Exact integers only:
    * diversity_milli = (distinct · 1000) div total.
    *
    * Scale shape: one shingle explode per order, then TWO keyed
    * aggregations — (group, n, gram) occurrence counts with map-side
    * partials absorbing hot grams, then the (group, n) rollup where
    * count(*) of the first output IS the distinct count (never a
    * count_distinct expand over raw occurrences). Gram strings leave
    * the explode only until the first groupBy; nothing is ever
    * per-pair. */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ > 0),
      s"n-gram orders must be positive: ${ns.mkString(",")}")
    // tokenize ONCE into a materialized column per branch, then the
    // native kernel shingles the attribute — functions.shingles here
    // would capture the tokenizer inside its transform lambda and
    // re-normalize the text per element (O(len²) regex work per doc)
    val exploded = ns.map { n =>
      df.select(col(groupCol),
          graft.functions.tokens(col(textCol)).as("__t"))
        .select(col(groupCol), lit(n.toLong).as("n"),
          explode(call_function("graft_shingles", col("__t"),
            lit(n))).as("__g"))
    }.reduce(_ unionByName _)
    exploded.groupBy(col(groupCol), col("n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol), col("n"))
      .agg(sum(col("__c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .withColumn("diversity_milli",
        expr("distinct_ngrams * 1000L div total_ngrams"))
  }

  /** Domain-blocklist tagging with REGISTRABLE-SUFFIX semantics — the
    * URL-filtering stage of a crawl pipeline (the UT1/adult-domain
    * blocklist pass of CCNet/RefinedWeb): an entry `example.com`
    * blocks `example.com` AND every subdomain (`a.b.example.com`),
    * because blocklists name registrable domains while crawls carry
    * full hosts. Substring/LIKE matching is wrong twice over — it
    * hits `notexample.com` and misses nothing it should — so the
    * match is on the host's DOT-SUFFIX CHAIN. The most specific
    * (longest) matching entry wins, so list curators can see which
    * rule fired.
    *
    * Emits every input row with `host` and `blocked_by` (null =
    * clean): tagging, not filtering, so the same frame feeds both
    * the survivor filter and the per-rule audit rollup.
    *
    * Scale shape: the blocklist is CONFIG, not data (UT1 is ~MBs) —
    * it rides into the plan as an array literal, and the whole
    * operator is one narrow codegen'd projection: split the host,
    * walk its ≤ label-count suffixes, first hit wins. Zero shuffle,
    * zero join. A table-sized blocklist would instead explode the
    * suffix chain and broadcast-semi-join — same law, one broadcast. */
  def tagByDomainBlocklist(df: DataFrame, idCol: String,
      urlCol: String, blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocklist must be non-empty")
    val blockedArr = array(
      blocked.map(b => lit(b.trim.toLowerCase)): _*)
    val host = regexp_replace(
      lower(regexp_extract(trim(coalesce(col(urlCol), lit(""))),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?([^/?#:]*)", 2)),
      """\.$""", "")
    val parts = split(col("host"), """\.""")
    val suffixes = transform(
      sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
    df.withColumn("host", host)
      .withColumn("blocked_by",
        when(col("host") === "", lit(null).cast("string"))
          .otherwise(get(
            filter(suffixes, s => array_contains(blockedArr, s)),
            lit(0))))
  }

  /** Per-benchmark CONTAMINATION REPORT — the table a decontam run
    * publishes before anyone signs off on an eval ("GSM8K: 3.1% of
    * eval docs share a 5-gram with training; 412 train docs to
    * drop"): one row per benchmark with eval-doc totals, hit counts
    * on both sides, pair count, and the eval-hit rate in exact milli.
    * This is [[ngramContamination]] rolled up by the eval frame's
    * benchmark column; benchmarks with zero hits still report (a
    * silent missing row reads as "clean" for the wrong reason).
    *
    * Scale shape: inherits the contamination join's posture — the
    * eval side is benchmark-sized and broadcast, the 100 TB train
    * side streams through unshuffled; the rollup aggregates the
    * pair table (hit-sized, not corpus-sized) by benchmark. */
  def contaminationReport(train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String, benchmarkCol: String,
      n: Int = 5, minShared: Long = 1): DataFrame = {
    val pairs = ngramContamination(train,
        eval_.select(col(idCol), col(textCol)), idCol, textCol, n)
      .filter(col("n_shared") >= minShared)
    val tags = eval_.select(col(idCol).as("eval_id"),
      col(benchmarkCol).as("benchmark"))
    val totals = tags.groupBy("benchmark")
      .agg(count(lit(1)).as("n_eval_docs"))
    val hits = pairs.join(broadcast(tags), Seq("eval_id"))
      .groupBy("benchmark")
      .agg(countDistinct(col("eval_id")).as("n_eval_hit"),
        countDistinct(col("train_id")).as("n_train_hit"),
        count(lit(1)).as("n_pairs"))
    totals.join(hits, Seq("benchmark"), "left")
      .na.fill(0L, Seq("n_eval_hit", "n_train_hit", "n_pairs"))
      .withColumn("eval_hit_milli",
        expr("n_eval_hit * 1000 div n_eval_docs"))
  }

  /** CCNet-style PER-GROUP score bucketing (Wenzek et al., LREC
    * 2020): rank every row's score WITHIN its group (language,
    * source) and cut the ranks into `nBuckets` equal-mass buckets —
    * CCNet's head/middle/tail perplexity terciles, the reason a
    * quality threshold tuned on English doesn't silently delete
    * Swahili. A global cut on the raw score is wrong whenever score
    * scales differ by group (LM perplexity always does); the
    * percentile transform makes the policy group-fair by
    * construction.
    *
    * All-integer law, deterministic on any engine: rank() (ties
    * share the MIN rank, so equal scores always land in the same
    * bucket), `prank_milli = (rank−1)·1000 div (n_g−1)` (single-row
    * group → 0), `bucket = min(prank_milli·nBuckets div 1000,
    * nBuckets−1)`. Bucket 0 holds the LOWEST scores — callers order
    * the score so that low = best (CCNet: low perplexity = head).
    *
    * Scale shape: one rank window + one count window, both keyed on
    * the group — a single shuffle; no global window anywhere. */
  def scoreBucketsByGroup(df: DataFrame, groupCol: String,
      scoreCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    val g = Window.partitionBy(col(groupCol))
    df.withColumn("__rk",
        rank().over(g.orderBy(col(scoreCol))).cast("long"))
      .withColumn("__n", count(lit(1)).over(g))
      .withColumn("prank_milli",
        when(col("__n") <= 1, lit(0L))
          .otherwise(expr("(__rk - 1) * 1000 div (__n - 1)")))
      .withColumn("bucket",
        least(expr(s"prank_milli * $nBuckets div 1000"),
          lit(nBuckets - 1L)))
      .drop("__rk", "__n")
  }

  /** Viterbi segmentation of the distinct-word table under a unigram
    * piece model — the shared E-step/encode kernel of
    * [[unigramLmVocab]]/[[unigramEncode]]. Each piece carries an
    * integer cost −⌊ln(score/Σscore)·10⁶⌋ (ONE micro-floored ln per
    * VOCAB piece — the knNll discipline; the DP then sums exact
    * ints), and the per-word DP picks the minimum-cost segmentation,
    * ties broken by the lexicographically smallest piece string — a
    * total order, so the segmentation is deterministic on any
    * engine. The whole DP runs as one codegen'd fold per word
    * (`aggregate` over positions, candidates = the ≤ maxPieceLen
    * suffix pieces); the vocab rides as a broadcast map literal.
    *
    * Input (__w, __f) distinct words with weights; output adds
    * `__seg` (the best segmentation, array of pieces). Vocab MUST
    * cover every single character of every word (both callers
    * guarantee it), so the DP always completes. */
  private def viterbiSegmented(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val tot = vocab.agg(sum(col("score")).as("__tot"))
    val cost = vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        expr("-CAST(FLOOR(LN(CAST(score AS DOUBLE) / " +
          "CAST(__tot AS DOUBLE)) * 1000000) AS BIGINT)").as("__c"))
    val vm = cost.agg(map_from_entries(
      collect_list(struct(col("piece"), col("__c")))).as("__vm"))
    words.crossJoin(broadcast(vm))
      .withColumn("__dp", expr(s"""
        aggregate(
          sequence(1, length(__w)),
          array(named_struct('c', 0L, 's', '')),
          (dp, j) -> dp || array(
            array_min(filter(
              transform(sequence(greatest(0, j - $maxPieceLen), j - 1),
                i -> named_struct(
                  'c', element_at(dp, i + 1).c +
                       try_element_at(__vm, substr(__w, i + 1, j - i)),
                  's', concat(element_at(dp, i + 1).s, ' ',
                       substr(__w, i + 1, j - i)))),
              x -> x.c IS NOT NULL))),
          dp -> element_at(dp, -1))"""))
      .select(col("__w"), col("__f"),
        split(ltrim(expr("__dp.s")), " ").as("__seg"))
  }

  /** Unigram-LM tokenizer training (Kudo 2018 "Subword
    * Regularization", the SentencePiece unigram algorithm in its
    * deterministic hard-EM form): seed vocabulary = every
    * word-internal substring up to `maxPieceLen` chars with its
    * weighted corpus count; ONE EM round — E-step Viterbi-segments
    * the distinct-word table under the seed model
    * ([[viterbiSegmented]]), M-step re-scores pieces by their
    * weighted usage in the best segmentations; prune keeps the top
    * `vocabSize` pieces by (usage desc, piece asc) plus every single
    * character not already kept (score 1) so encode coverage is
    * total. Emits the trained (piece, score) table — the other
    * mainstream vocab algorithm next to [[bpeMerges]], read against
    * it through [[tokenizerFertility]].
    *
    * Scale shape: training runs entirely on the DISTINCT word table
    * (dictionary-sized, not corpus-sized) — one explode+groupBy for
    * the seed, one broadcast-map DP pass, one usage groupBy, one
    * TakeOrdered prune. The corpus is read once for the word
    * counts. */
  def unigramLmVocab(df: DataFrame, textCol: String,
      maxPieceLen: Int = 3, vocabSize: Int = 32): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8]: $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val words = df
      .select(explode(graft.functions.tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .localCheckpoint(eager = false)
    val seed = words
      .select(col("__f"), explode(expr(s"""
        flatten(transform(sequence(1, length(__w)), i ->
          transform(sequence(i,
              least(length(__w), i + ${maxPieceLen - 1})), j ->
            substr(__w, i, j - i + 1))))""")).as("piece"))
      .groupBy("piece").agg(sum(col("__f")).as("score"))
    val usage = viterbiSegmented(words, seed, maxPieceLen)
      .select(col("__f"), explode(col("__seg")).as("piece"))
      .groupBy("piece").agg(sum(col("__f")).as("score"))
    val top = usage
      .orderBy(col("score").desc, col("piece").asc).limit(vocabSize)
    val chars = words.select(explode(expr(
        "transform(sequence(1, length(__w)), i -> substr(__w, i, 1))"))
        .as("piece")).distinct()
    top.unionByName(
      chars.join(top, Seq("piece"), "left_anti")
        .withColumn("score", lit(1L)))
  }

  /** WordPiece greedy MaxMatch encode (Schuster & Nakajima 2012; the
    * longest-match-first inference BERT's tokenizer applies, Devlin
    * 2019 — without the cosmetic `##` continuation marker, which our
    * trained vocabs don't carry): at each position consume the
    * LONGEST vocab piece prefixing the remaining word, never looking
    * back. The third tokenizer next to [[bpeEncode]] and
    * [[unigramEncode]] — same vocab surface (any (piece, score)
    * table with single-char coverage), same output surface (id,
    * n_toks, wp_text), so the three encodes A/B on one corpus.
    * Greedy differs from the unigram Viterbi exactly where a long
    * greedy prefix forces a worse tail — the classic MaxMatch
    * failure Viterbi repairs; shipping both makes that difference
    * measurable per corpus.
    *
    * Scale shape: identical to [[unigramEncode]] — the match is a
    * per-word fold over a broadcast piece set (membership only, no
    * costs), each DISTINCT word encodes once, the corpus
    * dictionary-joins. */
  def wordPieceEncode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 3): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8]: $maxPieceLen")
    val vs = vocab.agg(map_from_entries(
      collect_list(struct(col("piece"), lit(1)))).as("__vs"))
    val words = df
      .select(explode(graft.functions.tokens(col(textCol))).as("__w"))
      .distinct()
    val dict = words.crossJoin(broadcast(vs))
      .withColumn("__seg", split(ltrim(expr(s"""
        aggregate(
          sequence(1, length(__w)),
          named_struct('p', 0, 's', ''),
          (st, i) -> IF(st.p >= length(__w), st,
            element_at(
              transform(
                slice(filter(
                  transform(sequence($maxPieceLen, 1, -1), k ->
                    named_struct('k', k,
                      'pc', substr(__w, st.p + 1, k))),
                  c -> c.k <= length(__w) - st.p AND
                       try_element_at(__vs, c.pc) IS NOT NULL),
                  1, 1),
                f -> named_struct('p', st.p + f.k,
                  's', concat(st.s, ' ', f.pc))),
              1)),
          st -> st.s)""")), " "))
      .select(col("__w"), col("__seg"))
    reassembled(df, idCol, textCol, dict, "wp_text")
  }

  /** Shared encode tail of [[wordPieceEncode]]/[[unigramEncode]]:
    * dictionary-join the corpus to the per-word segmentations and
    * reassemble per document in token order (the A8 ordered-collect
    * discipline); absent docs (empty text) come back as (0, ""). */
  private def reassembled(df: DataFrame, idCol: String,
      textCol: String, dict: DataFrame, outCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(graft.functions.tokens(col(textCol)))
        .as(Seq("__p", "__w")))
    val per = toks.join(dict, Seq("__w"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("__p"), col("__seg"))))
        .as("__ps"))
      .select(col(idCol),
        expr("aggregate(__ps, 0L, (a, x) -> a + size(x.__seg))")
          .as("n_toks"),
        expr("array_join(flatten(transform(__ps, x -> x.__seg)), ' ')")
          .as(outCol))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_toks")).na.fill("", Seq(outCol))
  }

  /** Apply a trained unigram-LM vocab ([[unigramLmVocab]] output) to
    * every document — the encode half of the train→encode round
    * trip, mirroring [[bpeEncode]]'s surface: (id, n_toks,
    * uni_text). Each DISTINCT word is Viterbi-segmented ONCE under
    * the final model and the corpus is dictionary-joined (the
    * encode-the-vocab-then-join composition bpeEncode's scaladoc
    * names); per-document reassembly is the A8 ordered-collect
    * discipline. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 3): DataFrame = {
    val words = df
      .select(explode(graft.functions.tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
    val dict = viterbiSegmented(words, vocab, maxPieceLen)
      .select(col("__w"), col("__seg"))
    reassembled(df, idCol, textCol, dict, "uni_text")
  }
}
