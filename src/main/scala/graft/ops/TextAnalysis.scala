package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  * All pure column expressions (whole-stage-codegen'd, no UDFs) so they
  * stream through a 100 TB scan at full speed and push down column
  * pruning to the parquet reader.
  */
object TextAnalysis {

  /** Whitespace-token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: words + digits + punctuation runs, the classic
    * GPT-style pre-tokenizer regex approximated for codegen. Computed
    * by the native one-pass scanner ([[graft.functions
    * .TextStatExpressions.BpeTokenCount]]); [[tokenCountBpeRegex]]
    * keeps the regex formulation it is spec-pinned against.
    */
  def tokenCountBpe(text: Column): Column =
    graft.functions.TextStatExpressions.bpe_token_count(text)

  /** The composed-builtin regex formulation of [[tokenCountBpe]] —
    * the reference semantics the native scanner is parity-tested
    * against (and the form the DuckDB oracles replay verbatim).
    */
  def tokenCountBpeRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Character length. */
  def charCount(text: Column): Column = length(text)

  /** Mean word length — a cheap fluency signal. */
  def meanWordLen(text: Column): Column =
    round(length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCountWs(text), lit(1)).cast("double"), 4)

  /** Punctuation ratio: punctuation chars / total chars. */
  def punctRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(text), lit(1)).cast("double"), 4)

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  /** Stopword ratio: fraction of whitespace tokens that are common
    * English stopwords — a standard quality / language-ID feature.
    */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    round(size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double"), 4)
  }

  /** Composite quality score in [0,1]: length in a sane band, words not
    * degenerate, some stopwords present. Deterministic, tunable.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(20, 100000), 1.0).otherwise(0.0)
    val wordOk = when(tokenCountWs(text) >= lit(5), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) > lit(0.0), 1.0).otherwise(0.0)
    round((lenOk + wordOk + stopOk) / lit(3.0), 4)
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "los", "que", "de"),
    "fr" -> Seq("le", "la", "les", "est", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** N-gram-heuristic language ID: scores per-language marker words and
    * picks the max; "und" when nothing matches. Real pipelines would use
    * fastText — this keeps the same operator shape with a deterministic
    * codegen-friendly core.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val scores = markers.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isin(ws.map(lit(_)): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Canonical document fingerprint (OpenRefine-style): lowercase,
    * tokenize, distinct, sort, join, hash. Near-identical wording
    * collapses to one fingerprint — groupBy(fingerprint) is then an
    * exact-dedup shuffle at scale.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(
      split(lower(trim(text)), "\\s+"))), " "))

  /** One-pass DataFrame-level stats annotation: a single native
    * expression (TextStatsCounts, one char-level scan per row) computes
    * the token count, the stopword count, every language-marker count,
    * and the non-whitespace / punctuation code-point counts — replacing
    * a split + one interpreted higher-order `filter` per marker family
    * + two regexp scans, which together dominated the stats profile.
    *
    * Values are expression-for-expression identical to the scalar
    * helpers (same tokenization edges, rounding, and tie-breaks — see
    * TextStatsCounts' scaladoc for the replicated split/trim edge
    * cases).
    *
    * Adds: n_chars, n_tokens (long), mean_word_len, punct_ratio,
    * stopword_ratio, quality, lang_pred.
    */
  def annotateStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // layout: [n_toks, n_stop, s_<lang>..., n_nonws, n_punct]
    val families = stopwords +: markers.map(_._2)
    val nFam = families.size
    val st = col("__st")
    val nToks = element_at(st, 1)
    val nStop = element_at(st, 2)
    val sLang = markers.indices.map(i => element_at(st, 3 + i))
    val nNonWs = element_at(st, 2 + nFam)
    val nPunct = element_at(st, 3 + nFam)
    val best = greatest(sLang: _*)
    val langPred = markers.map(_._1).zip(sLang).foldRight(lit("und"): Column) {
      case ((lang, s), acc) => when(s === best && best > 0, lang).otherwise(acc)
    }
    val ratio = round(nStop.cast("double") /
      greatest(nToks, lit(1)).cast("double"), 4)
    val lenOk = when(length(t).between(20, 100000), 1.0).otherwise(0.0)
    val wordOk = when(nToks >= lit(5), 1.0).otherwise(0.0)
    val stopOk = when(ratio > lit(0.0), 1.0).otherwise(0.0)
    df.withColumn("__st",
        graft.functions.TextHashExpressions.text_stats_counts(t, families))
      .withColumn("n_chars", charCount(t))
      .withColumn("n_tokens", nToks)
      .withColumn("mean_word_len",
        round(nNonWs.cast("double") /
          greatest(nToks, lit(1)).cast("double"), 4))
      .withColumn("punct_ratio",
        round(nPunct.cast("double") /
          greatest(length(t), lit(1)).cast("double"), 4))
      .withColumn("stopword_ratio", ratio)
      .withColumn("quality", round((lenOk + wordOk + stopOk) / lit(3.0), 4))
      .withColumn("lang_pred", langPred)
      .drop("__st")
  }

  /** Fixed weights of the linear quality classifier [[qualityLr]] —
    * the shape of a fastText/CCNet-style quality model distilled to its
    * deterministic skeleton: a logistic regression over cheap text
    * statistics. Real pipelines learn these from labeled good/bad
    * corpora; the VALUES here are hand-set constants (documented, not
    * trained) so the operator is reproducible and oracle-checkable —
    * swap in trained weights without touching the plan shape.
    */
  val QualityLrBias = -2.0
  val QualityLrWStop = 6.0      // stopwords present -> fluent prose
  val QualityLrWLnTok = 0.35    // longer docs mildly preferred (log-damped)
  val QualityLrWMeanLen = -0.15 // very long "words" -> junk/URLs
  val QualityLrWPunct = -8.0    // punctuation-dense -> markup/code noise

  /** Linear (logistic) quality classifier: P(keep) = sigmoid(w . x)
    * over the [[annotateStats]] feature vector (stopword_ratio,
    * ln(1+n_tokens), mean_word_len, punct_ratio). Adds `quality_lr`
    * (rounded 4dp) and `kept` (score >= 0.5). One native stats pass +
    * pure arithmetic — fully codegen, no shuffle, linear at any scale.
    *
    * The logit consumes the ROUNDED 4dp ratio features, so any SQL
    * engine replaying the documented formulas reproduces the score
    * bit-for-bit (same contract as q_text_stats' features).
    */
  def qualityLr(df: DataFrame, textCol: String): DataFrame = {
    val ann = annotateStats(df, textCol)
    val logit = lit(QualityLrBias) +
      col("stopword_ratio") * lit(QualityLrWStop) +
      log1p(col("n_tokens")) * lit(QualityLrWLnTok) +
      col("mean_word_len") * lit(QualityLrWMeanLen) +
      col("punct_ratio") * lit(QualityLrWPunct)
    ann
      .withColumn("quality_lr",
        round(lit(1.0) / (lit(1.0) + exp(-logit)), 4))
      .withColumn("kept", col("quality_lr") >= 0.5)
  }

  /** Rolling content hash over whitespace tokens — an order-sensitive
    * fingerprint, unlike [[fingerprint]]. Chained hashing
    * h = xxhash(h, token) via aggregate(): ANSI-safe (no overflowing
    * arithmetic), all codegen built-ins.
    */
  def rollingHash(text: Column): Column =
    aggregate(split(trim(text), "\\s+"), lit(0L),
      (h, t) => xxhash64(h, t))

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the classic cheap LM-quality signal (docs
    * of rare/garbled tokens score low, template boilerplate scores
    * high). One explode + two aggregations: term frequencies shuffle as
    * (token, count) pairs; the frequency table then joins back to the
    * exploded tokens (broadcast when the vocab is small, hash join
    * otherwise) and re-aggregates per doc. Tokenization is the shared
    * lower/trim/split, so the oracle replays it exactly.
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__tf"))
    // corpus token total as a LAZY one-row broadcast (no explode: sum
    // of per-row token-array sizes in a single narrow scan) — an eager
    // count() here would run a whole extra explode-the-corpus job at
    // DataFrame-construction time
    val total = df.select(
      sum(size(split(lower(trim(col(textCol))), "\\s+")).cast("double")).as("__total"))
    toks.join(freq, Seq("__tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("__tf") / col("__total"))), 4).as("mean_logprob"),
        count(lit(1)).cast("long").as("n_tokens"))
  }

  /** C4-style line filtering (Raffel et al. 2020 §2.2, the public
    * cleaning rules): keep a line iff it ends in terminal punctuation,
    * has at least `minWords` words, and carries neither the lorem-ipsum
    * marker nor a curly brace (code). Returns per doc the cleaned text
    * (kept lines re-joined) plus line accounting.
    *
    * Deliberately a map-side higher-order filter, NOT an explode +
    * regroup: the lambda is interpreted per line (acceptable — a few
    * string predicates), but the text never shuffles, so the operator
    * rides a 100-TB scan for free; explode+collect would move every
    * line through an exchange just to reassemble it.
    */
  /** Shape a token array into `width`-token line strings — the shared
    * line-fixture primitive (SparkEntry's lined oracles, the boilerplate
    * stage of SCALE.md "Dup-heavy adversarial stress"). No emptiness
    * guard needed: split() yields at least one element even for "", so
    * the sequence bound is >= 0.
    */
  def lineChunks(toks: Column, width: Int): Column = {
    require(width > 0, "line width must be positive")
    transform(
      sequence(lit(0), ceil(size(toks) / lit(width.toDouble)).cast("int") - 1),
      i => array_join(slice(toks, i * width + 1, lit(width)), " "))
  }

  /** Text → width-token line chunks in ONE native pass — byte-exact
    * with `lineChunks(split(text, "\\s+"), width)` (spec-pinned) but
    * without the token array, per-line slices and interpreted joins
    * that made the lined-text fixtures a dominant per-row cost at
    * sf10. Prefer this form whenever the input is raw text.
    */
  def lineChunksText(text: Column, width: Int): Column =
    graft.functions.TextStatExpressions.line_chunks(text, width)

  /** Intra-document exact line dedup (the RefinedWeb/CCNet in-doc
    * cleanup): keep the FIRST occurrence of each line, drop repeats
    * within the same document — the in-doc complement of corpus-level
    * [[removeBoilerplateLines]] (a line repeated inside one doc is
    * repetition; a line repeated across many docs is boilerplate).
    * Pure map-side `array_distinct` (documented first-occurrence
    * order) — rides the scan, zero shuffle, trivially 100-TB-safe.
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String,
                          idCol: String): DataFrame = {
    val ls = split(col(textCol), "\n")
    df.select(col(idCol), ls.as("__ls"), array_distinct(ls).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  def c4LineFilter(df: DataFrame, textCol: String, idCol: String,
                   minWords: Int = 5): DataFrame = {
    val keep: Column => Column = l =>
      l.rlike("[.!?]$") &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !lower(l).contains("lorem ipsum") &&
        !l.contains("{")
    val lines = split(col(textCol), "\n")
    df.select(col(idCol),
        col(textCol), lines.as("__lines"),
        filter(lines, keep).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** CCNet-style perplexity partition (Wenzek et al. 2020 §4.3): rank
    * every document by its LM score and split the corpus into
    * head / middle / tail terciles — the standard "train on head+middle,
    * drop tail" curation decision. Score = [[unigramLogProb]]'s mean
    * log-prob (higher = more fluent = head).
    *
    * Scale shape: the cutoffs are ONE two-value percentile aggregate
    * broadcast back onto the scored stream — never a global
    * sort/ntile window (a corpus-wide single-partition window is the
    * classic 100 TB scale-killer; CCNet itself uses percentile
    * cutoffs, not ranks). Exact `percentile` keeps the oracle
    * bit-replayable; at extreme scale swap in `percentile_approx`
    * (same plan, sketch-merged cutoffs). Scores are 4dp-rounded
    * BEFORE the percentile, so the >= comparisons compare values at
    * 1e-4 granularity against cutoffs both engines interpolate from
    * identical doubles — a last-ulp interpolation difference cannot
    * flip a bucket.
    */
  def perplexitySplit(df: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val scored = unigramLogProb(df, textCol, idCol)
    // cutoffs rounded to the scores' own 4dp precision: engines lerp
    // percentiles differently in the last ulp (DuckDB's quantile_cont
    // computes lo*(1-f)+hi*f, inexact even when lo == hi; Spark's
    // lo+f*(hi-lo) is exact there), and a mass point sitting ON the
    // cutoff flips wholesale on that ulp (measured: 108 docs at sf0.1).
    // 4dp rounding is boundary-safe for terciles: the lerp fraction is
    // 0, 1/3, or 2/3, so a raw cutoff never lands on a .00005 edge.
    val cuts = scored.agg(
      round(percentile(col("mean_logprob"), lit(1.0 / 3)), 4).as("__c_lo"),
      round(percentile(col("mean_logprob"), lit(2.0 / 3)), 4).as("__c_hi"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("ppl_bucket",
        when(col("mean_logprob") >= col("__c_hi"), "head")
          .when(col("mean_logprob") >= col("__c_lo"), "middle")
          .otherwise("tail"))
      .drop("__c_lo", "__c_hi")
  }

  /** Corpus-frequency boilerplate line removal (the RefinedWeb/CCNet
    * cleanup step span-dedup does NOT cover): a line that appears in
    * at least `minDocs` DISTINCT documents is boilerplate (headers,
    * footers, cookie banners) and every occurrence is dropped; the
    * remaining lines are reassembled in order. Differs from
    * ExactSubstr span removal on both axes: the unit is a line (not a
    * k-token window) and the trigger is document frequency (not
    * occurrence count >1 — a line repeated inside ONE doc is
    * repetition, not boilerplate).
    *
    * Shuffle profile: only (id, line-index, md5) triples shuffle —
    * text never does. Doc frequency is a hash aggregate over 16-byte
    * line hashes; the boilerplate set is small by construction
    * (bounded by actual boilerplate, not corpus size) so the semi-join
    * back onto the hash stream broadcasts under AQE; reassembly drops
    * per-doc INDICES (a few ints) via an index-aware filter over the
    * doc's own line array — per-line lambda cost on a ~lines-per-doc
    * array, not the per-char/per-token explosion the span-remove
    * rewrite had to kill.
    */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             minDocs: Int): DataFrame = {
    require(minDocs > 1, "minDocs must be > 1 (1 would drop every line)")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__i", "__l")))
      .select(col(idCol), col("__i"), md5(col("__l")).as("__h"))
    val boiler = lines.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val dropIdx = lines.join(boiler, Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("__i")).as("__drop"))
    val ls = split(col(textCol), "\n")
    df.join(dropIdx, Seq(idCol), "left")
      .select(col(idCol), ls.as("__ls"),
        coalesce(col("__drop"), array().cast("array<int>")).as("__drop"))
      .withColumn("__kept",
        filter(col("__ls"), (_, i) => !array_contains(col("__drop"), i)))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** Interpolated-bigram LM score (the CCNet/KenLM-style perplexity
    * quality filter, reduced to order 2): per doc, the mean over its
    * bigrams of ln(lambda * c(uv)/c(u) + (1-lambda) * c(v)/N), counts
    * from the corpus's own distribution. Captures word-ORDER fluency
    * that [[unigramLogProb]] cannot (scrambled text keeps its unigram
    * score but collapses here); low scores = boilerplate/garble.
    *
    * Shuffle profile: every stream that shuffles or joins carries
    * 64-bit xxhash64 DIGESTS of the grams/tokens, never the strings
    * (round-16: the q_decon_report digest-key transplant) — the LM
    * only ever needs gram/token IDENTITY for counting, so the
    * (id, gram-string) rows that made this the worst text-family
    * shuffle become fixed-width (id, gram_h, prev_h, cur_h) longs,
    * and the three frequency joins become long-keyed equi-joins. The
    * house collision posture applies (2^-64 per pair; a collision
    * merges two counts, the same exposure every hash-keyed dedup
    * entry documents). At 100 TB the vocab/bigram tables are far
    * smaller than the corpus and AQE broadcasts them when they fit;
    * the corpus total is a lazy one-row broadcast. Docs under 2 tokens
    * have no bigrams: n_bigrams = 0, score null.
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    lambda: Double = 0.7): DataFrame = {
    val low = lower(trim(col(textCol)))
    val toks = df.select(col(idCol), explode(split(low, "\\s+")).as("__tok"))
    // unigram counts keyed by token digest: the hash rides the
    // map-side partial aggregate, so the shuffle carries (long, count)
    val uniFreq = toks.groupBy(xxhash64(col("__tok")).as("__th"))
      .agg(count(lit(1)).as("__uc"))
    val total = df.select(sum(size(split(low, "\\s+")).cast("double")).as("__n"))
    // NOT word_shingles: that expression dedupes (set semantics for
    // Jaccard) and an LM needs every occurrence. Positional construct
    // instead — explode the start indices, index the token array
    // (codegen builtins throughout, the Corpus.chunk pattern). Docs
    // under 2 tokens produce no starts; they rejoin as null below.
    // Digests are taken HERE, in the map-side projection: the gram id
    // is the chained xxhash64 over (prev, cur) — order-sensitive, so
    // ("a b","c") and ("a","b c") stay distinct inputs — and the
    // prev/cur token digests use the same single-arg hash uniFreq
    // keys by.
    val grams = df
      .select(col(idCol), split(low, "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - 1)).as("__i"))
      .select(col(idCol),
        xxhash64(element_at(col("__toks"), col("__i")),
          element_at(col("__toks"), col("__i") + 1)).as("__gh"),
        xxhash64(element_at(col("__toks"), col("__i"))).as("__ph"),
        xxhash64(element_at(col("__toks"), col("__i") + 1)).as("__ch"))
    // Pre-aggregate per (doc, gram) multiplicity BEFORE the frequency
    // joins: a gram repeated m times in a doc contributes m * s(g) to
    // the mean, so the join/shuffle stream shrinks from O(corpus
    // bigram occurrences) to O(distinct doc-grams) — natural text
    // repeats bigrams enough that the three equi-joins and the final
    // per-doc aggregate all ride the smaller stream, and the gram
    // counts come from the same aggregate (sum of multiplicities).
    // prev/cur digests are functions of the gram digest, so keying
    // the group by all three adds no cardinality — it just carries
    // them through without a first()-style pick.
    val docGrams = grams
      .groupBy(col(idCol), col("__gh"), col("__ph"), col("__ch"))
      .agg(count(lit(1)).as("__m"))
    val gramFreq = docGrams.groupBy(col("__gh")).agg(sum(col("__m")).as("__gc"))
    val scored = docGrams
      .join(gramFreq, Seq("__gh"))
      .join(uniFreq.select(col("__th").as("__ph"), col("__uc").as("__pc")), Seq("__ph"))
      .join(uniFreq.select(col("__th").as("__ch"), col("__uc").as("__cc")), Seq("__ch"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round((sum(col("__m") * log(
          lit(lambda) * (col("__gc") / col("__pc")) +
          lit(1.0 - lambda) * (col("__cc") / col("__n")))) /
          sum(col("__m"))), 4).as("lm_logprob"),
        sum(col("__m")).cast("long").as("n_bigrams"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** Readability scores (Flesch 1948 reading ease + Flesch-Kincaid
    * 1975 grade level) with a deterministic syllable heuristic:
    * syllables = vowel-group count ([aeiouy]+ runs in the lowered
    * text), floored at one per word so vowel-less scripts degrade to
    * the one-syllable-per-word baseline instead of dividing by zero;
    * sentences = [.!?]+ run count, floored at 1. The classic
    * text-difficulty gate of a curation pipeline (e.g. "keep
    * grade 6-12 prose"), entirely codegen row expressions riding the
    * scan — no joins, no shuffles beyond the caller's.
    *
    * Both scores floor-quantize to 4dp (the midpoint-safe
    * convention): the formulas are double ratios and round(x, n)
    * HALF_UPs a decimal string Spark-side vs the binary double in
    * SQL.
    */
  def readability(df: DataFrame, textCol: String,
                  idCol: String): DataFrame = {
    val low = lower(col(textCol))
    val words = size(split(trim(col(textCol)), "\\s+")).cast("double")
    val sents = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
      .cast("double")
    val syls = greatest(regexp_count(low, lit("[aeiouy]+")).cast("double"),
      words)
    def q4(c: Column) = Quantize.q(c, 4)
    df.select(col(idCol),
      words.cast("long").as("n_words"),
      sents.cast("long").as("n_sentences"),
      syls.cast("long").as("n_syllables"),
      q4(lit(206.835) - lit(1.015) * (words / sents) -
        lit(84.6) * (syls / words)).as("flesch_ease"),
      q4(lit(0.39) * (words / sents) + lit(11.8) * (syls / words) -
        lit(15.59)).as("fk_grade"))
  }

  /** Collocation mining by pointwise mutual information (Church &
    * Hanks 1990): adjacent word pairs that co-occur far more than
    * their unigram frequencies predict — PMI = ln(c(ab) * N /
    * (c(a) * c(b))) with N the corpus token count — the standard
    * phrase/multi-word-expression detector (a vocab-building step:
    * high-PMI pairs become single tokens). `minCount` drops the
    * hapax pairs whose PMI is maximal but meaningless (the known
    * low-frequency bias of PMI); the top `topN` by (4dp-rounded PMI,
    * pair) surface.
    *
    * Scale shape: identical to [[bigramLogProb]]'s count economics —
    * bigrams pre-aggregate per (doc, gram) map-side, then only
    * (gram, count) / (token, count) pairs shuffle; the corpus total
    * is a one-row broadcast and the top-N is a TakeOrdered, so no
    * stage ever carries text.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Int,
                   topN: Int): DataFrame = {
    require(minCount >= 1 && topN >= 1, "minCount, topN >= 1")
    val low = lower(trim(col(textCol)))
    val toks = df.select(explode(split(low, "\\s+")).as("__tok"))
    val uniFreq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__uc"))
    val total = toks.agg(count(lit(1)).cast("double").as("__n"))
    val grams = df
      .select(split(low, "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - 1)).as("__i"))
      .select(element_at(col("__toks"), col("__i")).as("word_a"),
        element_at(col("__toks"), col("__i") + 1).as("word_b"))
    grams.groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .join(uniFreq.select(col("__tok").as("word_a"),
        col("__uc").as("__ca")), Seq("word_a"))
      .join(uniFreq.select(col("__tok").as("word_b"),
        col("__uc").as("__cb")), Seq("word_b"))
      .crossJoin(broadcast(total))
      .select(col("word_a"), col("word_b"), col("n_pair"),
        round(log(col("n_pair") * col("__n") /
          (col("__ca") * col("__cb"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("word_a"), col("word_b"))
      .limit(topN)
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models", Table A1): duplicate-line fraction and
    * duplicate word-n-gram fractions — boilerplate/spam detectors that
    * complement the cross-document dedup family. Entirely map-side
    * column expressions (split / array_distinct / word_shingles): the
    * corpus streams through, nothing shuffles, so the operator rides a
    * 100 TB scan for free.
    *
    * dup fraction = 1 - distinct/total; a doc shorter than k words
    * counts as one whole-text k-gram (word_shingles' short-doc rule),
    * giving 0 by construction.
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String,
                      grams: Seq[Int] = Seq(2, 3)): DataFrame = {
    val lines = split(col(textCol), "\n")
    val withLines = df
      .select(col(idCol), col(textCol),
        size(lines).as("__nl"), size(array_distinct(lines)).as("__dl"),
        size(split(lower(trim(col(textCol))), "\\s+")).as("__nw"))
      .withColumn("n_lines", col("__nl").cast("long"))
      .withColumn("dup_line_frac",
        round(lit(1.0) - col("__dl").cast("double") / col("__nl"), 4))
    grams.foldLeft(withLines) { (d, k) =>
        val total = greatest(col("__nw") - (k - 1), lit(1)).cast("double")
        d.withColumn(s"dup_${k}gram_frac",
          round(lit(1.0) -
            size(Dedup.shingles(col(textCol), k)).cast("double") / total, 4))
      }
      .drop("__nl", "__dl", "__nw", textCol)
  }

  /** Tokenizer fertility per language — chars per (BPE-ish) token,
    * the multilingual budgeting metric: a language whose fertility is
    * half the corpus mean costs twice the tokens per unit of text, so
    * mix planning in TOKENS (the unit training consumes —
    * [[Corpus.takeTokenBudget]]) diverges from planning in bytes
    * exactly by this table. Map-side token counting rides the scan;
    * one narrow (lang) aggregation.
    */
  def fertility(df: DataFrame, textCol: String, langCol: String): DataFrame =
    df.select(col(langCol),
        length(col(textCol)).cast("double").as("__chars"),
        greatest(tokenCountBpe(col(textCol)), lit(1)).cast("double")
          .as("__toks"))
      .groupBy(col(langCol))
      .agg(
        round(avg(col("__chars") / col("__toks")), 4).as("chars_per_token"),
        sum(col("__toks")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_docs"))

  /** Feature-hashing text embedding (the "hashing trick", Weinberger
    * et al. 2009): each lowercase token is hashed to a dimension
    * (md5 prefix mod `dim`) with a hash-derived ±1 sign, and the doc's
    * embedding is the signed bag-of-words sum — the deterministic,
    * vocabulary-free dense representation that gives a corpus an
    * embedding column WITHOUT a model call (and the classic baseline
    * the model-embedding path is benchmarked against). Integer-valued
    * components, so every downstream dot/norm is exact in double and
    * any engine replays retrieval rankings bit-for-bit.
    *
    * Shuffle profile: tokens hash map-side; one (id, dim) aggregation
    * whose rows are 12 bytes, then a per-id map assembly — text never
    * shuffles, and the output array is `dim` doubles regardless of
    * vocabulary size.
    */
  def hashEmbedding(df: DataFrame, textCol: String, idCol: String,
                    dim: Int): DataFrame = {
    require(dim > 0, "embedding dim must be positive")
    // ONE native scan per row ([[graft.functions.TextHashExpressions
    // .HashEmbedding]]): the embedding is a pure per-doc function, so
    // the previous explode → (id, dim) aggregate → map-assembly
    // pipeline shuffled the corpus's whole token stream twice for
    // values that never needed to leave the scan (spec-pinned
    // byte-identical, [[hashEmbeddingComposed]]). Null-text docs drop,
    // exactly as explode dropped them.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.TextHashExpressions
        .hash_embedding(col(textCol), dim).as("embedding"))
  }

  /** The composed-builtin formulation of [[hashEmbedding]] — the
    * reference semantics the native scan is parity-tested against
    * (and the shape the DuckDB oracles replay).
    */
  private[graft] def hashEmbeddingComposed(df: DataFrame, textCol: String,
                    idCol: String, dim: Int): DataFrame = {
    require(dim > 0, "embedding dim must be positive")
    val tok = explode(split(lower(trim(col(textCol))), "\\s+"))
    val h = md5(col("__tok"))
    val sums = df.select(col(idCol), tok.as("__tok"))
      .select(col(idCol),
        (conv(substring(h, 1, 4), 16, 10).cast("int") % dim).as("__d"),
        when(conv(substring(h, 5, 1), 16, 10).cast("int") % 2 === 0, 1.0)
          .otherwise(-1.0).as("__s"))
      .groupBy(col(idCol), col("__d")).agg(sum(col("__s")).as("__v"))
    sums.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__d"), col("__v"))))
        .as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          d => coalesce(element_at(col("__m"), d), lit(0.0)))
          .as("embedding"))
  }

  /** Zipf fit — corpus-health anomaly signal: least-squares slope and
    * R² of ln(freq) ~ ln(rank) over the ranked vocabulary. Natural
    * language sits near slope -1 (Zipf's law); template/generated
    * spam flattens the head, boilerplate floods single ranks, OCR
    * noise fattens the singleton tail — all of which move the slope
    * or collapse the fit's R² long before a human reads a sample.
    *
    * Scale shape: one (token, count) shuffle (vocab-sized, not
    * corpus-sized), then ONE window over the vocabulary for the rank
    * (explicitly vocab-bounded: vocabularies top out in the tens of
    * millions — a single-partition sort of (count, token) pairs —
    * while the corpus is billions of DOCS; never rank the corpus this
    * way), and a scalar regression aggregate. Ties rank
    * deterministically by (freq desc, token asc) so every engine
    * feeds the regression identical (rank, freq) points; the closed-
    * form aggregates then differ only by float summation order, which
    * the 4dp rounding absorbs. Degenerate vocabularies are total:
    * a single-rank vocabulary yields NULL slope, and an all-equal-
    * frequency vocabulary yields slope 0 with NULL r2 (corr is
    * undefined there — guarded to NULL on both engines rather than
    * Spark NaN vs DuckDB NULL).
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).cast("double").as("__f"))
    val ranked = freq.withColumn("__r",
      row_number().over(Window.orderBy(col("__f").desc, col("__tok")))
        .cast("double"))
    val lnR = log(col("__r"))
    val lnF = log(col("__f"))
    ranked.agg(
      round(when(var_pop(lnR) > 0, covar_pop(lnR, lnF) / var_pop(lnR)), 4)
        .as("zipf_slope"),
      // r2 as covar^2/(varR*varF) rather than corr()^2: ANSI-mode corr
      // throws DIVIDE_BY_ZERO internally on a zero-variance input, and
      // the explicit form puts both engines on the same float path
      round(when(var_pop(lnR) > 0 && var_pop(lnF) > 0,
        pow(covar_pop(lnR, lnF), 2) / (var_pop(lnR) * var_pop(lnF))), 4)
        .as("r2_loglog"),
      count(lit(1)).as("n_vocab"))
  }

  /** Query spell suggestion — corpus-vocabulary edit-distance
    * correction (the search-box companion of [[bm25TopK]]): for each
    * query term, the k nearest vocabulary words by (Levenshtein ASC,
    * corpus frequency DESC, word ASC) within `maxDist` edits.
    * Frequency as the tie-break is what makes the suggestion useful:
    * among equally-close candidates the common word wins.
    *
    * Scale shape: the vocabulary aggregation is the only corpus-sized
    * shuffle (token, count rows); the query terms broadcast, and a
    * length-difference prefilter (|len(w)| − len(t)| <= maxDist — a
    * Levenshtein lower bound) drops most of the vocabulary before the
    * O(n·m) distance evaluates. WindowGroupLimit bounds the per-term
    * top-k sort.
    */
  def spellSuggest(df: DataFrame, textCol: String, terms: Seq[String],
                   k: Int, maxDist: Int = 2): DataFrame = {
    require(terms.nonEmpty, "no terms to correct")
    require(k > 0 && maxDist >= 0, "k positive, maxDist non-negative")
    val vocab = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val spark = df.sparkSession
    import spark.implicits._
    val probe = terms.toDF("term")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      .orderBy(col("dist"), col("freq").desc, col("word"))
    vocab.crossJoin(broadcast(probe))
      .filter(abs(length(col("word")) - length(col("term"))) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), col("word")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("term"), col("word"), col("dist"), col("freq"), col("rank"))
  }

  /** Search-result snippet extraction — per matching doc, the
    * `window`-token bucket with the most query-term hits (ties →
    * earliest bucket), rendered as the snippet text. Fixed-stride
    * buckets rather than a sliding argmax keep the choice a pure
    * integer function (replayable anywhere) and the scan one pass.
    *
    * Scale shape: the position explode filters to query-term HITS in
    * the scan stage (hit rows, not token rows, shuffle), the argmax is
    * a WindowGroupLimit-bounded rank over per-doc bucket counts, and
    * the snippet slice joins back to the tokenized doc by id.
    */
  def snippets(df: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], window: Int = 16): DataFrame = {
    require(terms.nonEmpty, "no query terms")
    require(window > 0, "window must be positive")
    val toks = df.select(col(idCol),
      split(lower(trim(col(textCol))), "\\s+").as("__toks"))
    val best = toks
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__p", "__t")))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), floor(col("__p") / window).as("__b"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("n_hits").desc, col("__b"))))
      .filter(col("__rn") === 1)
    best.join(toks, Seq(idCol))
      .select(col(idCol), col("n_hits"),
        array_join(slice(col("__toks"),
          (col("__b") * window + 1).cast("int"), lit(window)), " ").as("snippet"))
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene
    * practical-scoring variant with idf = ln(1 + (N-df+0.5)/(df+0.5)))
    * — the LEXICAL search surface beside the embedding-ANN family:
    * score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    * top-k docs by (rounded score DESC, id ASC).
    *
    * Scale shape: a substring prefilter drops no-query-term docs
    * before the tokenize, the token explode filters to QUERY terms in
    * the scan stage (the posting-list slice, not the corpus
    * vocabulary), doc length rides the (id, term) aggregate so
    * postings never join a corpus-sized length table, per-term df and
    * the one-row corpus stats broadcast, `maxPostingsPerTerm` bounds
    * each term's posting list (WindowGroupLimit), and the global
    * top-k is TakeOrderedAndProject (per-partition heaps + k-row
    * merge — never a single-partition rank window). Scores round to
    * 4dp BEFORE ranking so the ordering is reproducible across
    * engines; doc-length sums are exact (integer-valued doubles), so
    * avgdl is too.
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxPostingsPerTerm: Int = 0): DataFrame = {
    require(query.nonEmpty, "empty query")
    // corpus stats (avgdl, N) come from ONE full-corpus pass that
    // aggregates to a single broadcast row — never a corpus-row shuffle
    val lens = df.select(
      size(split(lower(trim(col(textCol))), "\\s+")).cast("double").as("len"))
    val stats = lens.agg(sum(col("len")).as("__sl"), count(lit(1)).as("__n"))
      .select((col("__sl") / col("__n")).as("__avgdl"),
        col("__n").cast("double").as("__N"))
    // posting slice: a cheap substring prefilter drops every doc with
    // no query term BEFORE the tokenize/explode (contains is a
    // necessary condition for whitespace-token equality, so this is a
    // pure optimization), and doc length rides the aggregate so the
    // postings never join a corpus-sized lens table
    val candidates = df
      .filter(query.map(t => lower(col(textCol)).contains(t)).reduce(_ || _))
      .select(col(idCol).as("id"),
        split(lower(trim(col(textCol))), "\\s+").as("__toks"))
    val tf = candidates
      .select(col("id"), size(col("__toks")).cast("double").as("__len"),
        explode(col("__toks")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), min(col("__len")).as("len"))
    bm25ScoredTopK(tf, stats, k, k1, b, maxPostingsPerTerm)
      .withColumnRenamed("id", idCol)
  }

  /** BM25 scoring core over a PRE-BUILT posting slice — shared by the
    * corpus-scan [[bm25TopK]] and the persisted
    * [[graft.streaming.IncrementalTextIndex]] (which never rescans
    * text). `tf` = (id, term, tf) for the QUERY terms only; `lens` =
    * (id, len) for the whole corpus. Same shuffle/broadcast shape as
    * documented on [[bm25TopK]]; identical arithmetic, so both
    * callers produce bit-identical rankings.
    */
  private[graft] def bm25FromPostings(tf: DataFrame, lens: DataFrame,
                                      k: Int, k1: Double,
                                      b: Double): DataFrame = {
    val stats = lens.agg(sum(col("len")).as("__sl"), count(lit(1)).as("__n"))
      .select((col("__sl") / col("__n")).as("__avgdl"),
        col("__n").cast("double").as("__N"))
    bm25ScoredTopK(tf.join(lens, Seq("id")), stats, k, k1, b,
      maxPostingsPerTerm = 0)
  }

  /** BM25 scoring core over length-annotated postings — shared by the
    * corpus-scan [[bm25TopK]] and the persisted-index
    * [[bm25FromPostings]]. `tfl` = (id, term, tf, len) for the QUERY
    * terms; `stats` = one (avgdl, N) row (broadcast). Identical
    * arithmetic on both call paths, so rankings stay bit-identical.
    *
    * `maxPostingsPerTerm` > 0 bounds each term's posting list to its
    * top-M entries by (tf DESC, len ASC, id ASC) — impact ordering on
    * EXACT integer-valued keys, so any engine replays the cap
    * bit-identically (a float score order would wobble on the last
    * ulp across engines). Document frequency is computed BEFORE the
    * cap (true df; idf must not drift as the cap binds). This is the
    * standard static index-pruning contract: per-term cost tracks the
    * cap, not the corpus — without it a stop-word-frequency query
    * term drags the whole corpus through the scoring join. The
    * row_number-over-(term)-filter pair lowers to WindowGroupLimit
    * (per-partition top-M heaps), asserted by PlanRegressionSpec.
    */
  private[graft] def bm25ScoredTopK(tfl: DataFrame, stats: DataFrame,
                                    k: Int, k1: Double, b: Double,
                                    maxPostingsPerTerm: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val dfreq = tfl.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val capped =
      if (maxPostingsPerTerm <= 0) tfl
      else tfl.withColumn("__pr",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("term"))
            .orderBy(col("tf").desc, col("len").asc, col("id").asc)))
        .filter(col("__pr") <= maxPostingsPerTerm).drop("__pr")
    val scored = capped.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        log((col("__N") - col("__df") + 0.5) / (col("__df") + 0.5) + 1) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("__avgdl"))))
      .groupBy(col("id")).agg(round(sum(col("__s")), 4).as("score"))
    val top = scored.orderBy(col("score").desc, col("id")).limit(k)
    // rank assignment runs AFTER the limit — the window sees k rows
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id"))).cast("long"))
      .select(col("id"), col("score"), col("rank"))
  }

  /** The Gopher document-quality rule bundle (Rae et al. 2021,
    * appendix A1.1) — the OTHER standard pretraining filter next to
    * [[c4LineFilter]]: C4 prunes LINES, Gopher gates whole DOCUMENTS
    * on shape statistics. A doc is kept iff ALL hold:
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10] characters
    *   - symbol-to-word ratio ('#' chars + '...' runs) <= 0.1
    *   - < 90% of lines start with a bullet (-, *, •)
    *   - < 30% of lines end with an ellipsis
    *   - >= 80% of words contain an alphabetic character
    *   - >= `minStop` (Gopher: 2) distinct members of the stop-word
    *     probe set {the, be, to, of, and, that, have, with} appear
    * Output: per doc, every individual statistic (ratios 6dp — small
    * integer divisions, bit-identical cross-engine) plus the
    * conjunction `keep` — surfacing WHY a doc fails, the audit shape
    * every curation pipeline wants, not just the verdict bit.
    *
    * Scale shape: ONE map-side pass — all statistics are codegen
    * string/array expressions over the row; no shuffle, no joins, no
    * state. Filters compose downstream (`.filter(col("keep"))`).
    */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minStop: Int = 2): DataFrame = {
    import graft.functions.GopherStatsExpression._
    // all nine counters in ONE native scan (no word/line arrays, no
    // regex — the composed form below was 6.2×/decade at sf10 from
    // per-doc allocation); the ratios are the same arithmetic on top,
    // bit-identical by the exactness notes in the expression's doc.
    // element_at is 1-based, the slot constants 0-based.
    def slot(i: Int) = element_at(col("__g"), i + 1)
    df.select(col(idCol), gopher_stats(col(textCol)).as("__g"))
      .select(col(idCol),
        slot(N_WORDS).as("n_words"),
        Quantize.q(when(slot(N_WORDS) > 0,
          slot(SUM_WORD_LEN).cast("double") / slot(N_WORDS)), 6)
          .as("mean_word_len"),
        Quantize.q(when(slot(N_WORDS) > 0,
          (slot(N_HASH) + slot(N_ELL3)).cast("double") / slot(N_WORDS)), 6)
          .as("symbol_ratio"),
        Quantize.q(when(slot(N_LINES) > 0,
          slot(N_BULLET).cast("double") / slot(N_LINES)).otherwise(0.0), 6)
          .as("bullet_ratio"),
        Quantize.q(when(slot(N_LINES) > 0,
          slot(N_ELLIPSIS).cast("double") / slot(N_LINES)).otherwise(0.0), 6)
          .as("ellipsis_ratio"),
        Quantize.q(when(slot(N_WORDS) > 0,
          slot(N_ALPHA_WORDS).cast("double") / slot(N_WORDS)), 6)
          .as("alpha_ratio"),
        bit_count(slot(STOP_MASK)).cast("long").as("n_stop"))
      .withColumn("keep",
        coalesce(
          col("n_words").between(minWords, maxWords) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("bullet_ratio") < 0.9 &&
            col("ellipsis_ratio") < 0.3 &&
            col("alpha_ratio") >= 0.8 &&
            col("n_stop") >= minStop,
          lit(false)))
  }

  /** The composed-builtin formulation of [[gopherRules]] — the
    * reference semantics the native counter is parity-tested against
    * (and the form the DuckDB oracle replays).
    */
  private[graft] def gopherRulesComposed(df: DataFrame, textCol: String,
                  idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minStop: Int = 2): DataFrame = {
    val low = lower(trim(col(textCol)))
    val words = split(low, "\\s+")
    val lines = split(col(textCol), "\n")
    val stopProbe = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    df.select(col(idCol), col(textCol), low.as("__low"),
        when(length(low) === 0, array().cast("array<string>"))
          .otherwise(words).as("__w"),
        filter(lines, l => length(trim(l)) > 0).as("__l"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        Quantize.q(when(size(col("__w")) > 0,
          aggregate(col("__w"), lit(0L), (a, w) => a + length(w))
            .cast("double") / size(col("__w"))), 6).as("mean_word_len"),
        Quantize.q(when(size(col("__w")) > 0,
          ((length(col("__low")) -
            length(regexp_replace(col("__low"), "#", ""))) +
           (length(col("__low")) -
            length(regexp_replace(col("__low"), "\\.\\.\\.", ""))) / 3)
            .cast("double") / size(col("__w"))), 6).as("symbol_ratio"),
        Quantize.q(when(size(col("__l")) > 0,
          size(filter(col("__l"), l => trim(l).rlike("^[-*•]")))
            .cast("double") / size(col("__l"))).otherwise(0.0), 6)
          .as("bullet_ratio"),
        Quantize.q(when(size(col("__l")) > 0,
          size(filter(col("__l"),
              l => trim(l).rlike("(\\.\\.\\.|…)$")))
            .cast("double") / size(col("__l"))).otherwise(0.0), 6)
          .as("ellipsis_ratio"),
        Quantize.q(when(size(col("__w")) > 0,
          size(filter(col("__w"), w => w.rlike("[a-z]")))
            .cast("double") / size(col("__w"))), 6).as("alpha_ratio"),
        stopProbe.map(w => array_contains(col("__w"), w).cast("int"))
          .reduce(_ + _).cast("long").as("n_stop"))
      .withColumn("keep",
        // coalesce: an empty doc has NULL word statistics — that's a
        // reject, not an unknown
        coalesce(
          col("n_words").between(minWords, maxWords) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("bullet_ratio") < 0.9 &&
            col("ellipsis_ratio") < 0.3 &&
            col("alpha_ratio") >= 0.8 &&
            col("n_stop") >= minStop,
          lit(false)))
  }
}
