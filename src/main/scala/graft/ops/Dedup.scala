package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact:        1 shuffle on a 16-byte hash (not the full text).
  *  - minhash LSH:  shingle -> K minhashes -> B bands; candidate pairs
  *                  come from an equi-join on (band, bandHash) — a plain
  *                  hash shuffle, never an O(n^2) cross join. Only
  *                  candidates pay the exact-Jaccard verification.
  *  - simhash:      64-bit signature; near-dups = signatures equal on
  *                  rotated 16-bit blocks (Hamming<=k via block equality)
  *                  — again equi-join-shaped.
  *  - ngram-jaccard: exact verification kernel, used standalone on small
  *                  candidate sets or downstream of LSH.
  *
  * Everything is built-in column expressions (codegen) + equi-joins, so
  * Catalyst/AQE handle skew, partial aggregation, and broadcast choices.
  */
object Dedup {

  // ---- exact ----

  /** Exact dedup: keep the row with min(idCol) per identical text.
    * Hashing first keeps the shuffle narrow (hash, id) instead of
    * shuffling full document bodies.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keepers = df
      .select(md5(col(textCol)).as("__h"), col(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Exact duplicate-group stats: one row per duplicated text. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Dedup-savings report — the planning view run BEFORE committing to
    * a dedup pass: per duplicate-group size, how many groups exist,
    * how many docs a min-id-keeper dedup would remove, and how many
    * chars of storage that frees (group total minus the keeper's
    * size, keeper = the min-`idCol` member via min_by — the same
    * keeper rule [[exactDedup]] applies, so the report predicts that
    * operator exactly). Size-1 groups appear with zero savings so the
    * output doubles as the full group-size histogram.
    *
    * Shuffle profile: one (16-byte hash, id, size) aggregation, then a
    * tiny re-aggregation on the group size — text never shuffles.
    */
  def dedupSavings(df: DataFrame, textCol: String, idCol: String,
                   sizeCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(count(lit(1)).as("n_copies"),
        sum(col(sizeCol)).as("__bytes"),
        min_by(col(sizeCol), col(idCol)).as("__keep_bytes"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_copies") - 1).as("n_removable_docs"),
        sum(col("__bytes") - col("__keep_bytes")).as("n_removable_chars"))

  /** Suffix/prefix overlap pairs — the pagination-stitch detector: doc
    * B continues doc A when A's last k (normalized) tokens equal B's
    * first k (split crawls, "next page" captures, chunked re-uploads).
    * Neither whole-document hashing (texts differ) nor MinHash (low
    * global Jaccard) catches this shape; window-level ExactSubstr
    * would flag the k shared tokens but not WHICH docs chain. Returns
    * (id_a, id_b) with id_a's suffix matching id_b's prefix; feed into
    * [[clusterPairs]] to recover full page chains. Docs under k tokens
    * have no anchor and are omitted.
    *
    * Shuffle profile: one equi-join on 8-byte boundary hashes — each
    * doc contributes exactly ONE (id, prefix-hash, suffix-hash) row
    * (xxhash64 over the boundary token slice), so the join input is
    * narrower than the corpus itself; text never shuffles. Degenerate all-same-boundary corpora (every doc opens
    * with the same template) surface as hot join keys, which AQE
    * splits; the output is then honestly quadratic because the overlap
    * relation itself is.
    */
  def overlapPairs(df: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame = {
    require(k > 0, "overlap window must be positive")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    // boundary identity = xxhash64 over the token SLICE (round 16):
    // the md5(array_join(...)) form built a joined string plus a
    // 32-char hex per side per doc — the profiler's dominant phase —
    // where the join only ever needs window EQUALITY; hashing the
    // array directly skips both materializations and the join keys
    // become 8-byte longs (house collision posture, 2^-64 per pair)
    val v = df
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol),
        xxhash64(slice(col("__toks"), 1, k)).as("__pre"),
        xxhash64(slice(col("__toks"), -k, k)).as("__suf"))
      // pinned (round 17): the self-join consumes this subtree TWICE,
      // re-running the tokenize + boundary hashing over the full text
      // per side (measured sf0.1: taskSum ≈ 1.3 s across 8 tasks for
      // a ~1 s entry, the duplicated scan the dominant term). The pin
      // is (id, 2 longs) ≈ 24 B/doc — O(docs), NOT the O(corpus-
      // tokens) window stream duplicateSpans rightly refuses to pin —
      // always cheaper to materialize than tokenizing the corpus a
      // second time.
      .localCheckpoint()
    v.select(col(idCol).as("id_a"), col("__suf"))
      .join(v.select(col(idCol).as("id_b"), col("__pre")),
        col("__suf") === col("__pre"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Exact duplicate-SPAN stats (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", ExactSubstr): per
    * document, how many of its k-token sliding windows occur MORE THAN
    * ONCE anywhere in the corpus — catches verbatim boilerplate /
    * quotation overlap that whole-document hashing misses and MinHash
    * only scores in aggregate. Docs shorter than k tokens have no
    * window and are omitted.
    *
    * Shuffle profile: windows travel as (id, md5) — 16-byte hashes,
    * never text. The corpus-wide occurrence count is a hash AGGREGATE
    * (partial/final, no sort) filtered to hashes seen more than once —
    * duplicated windows are the rare case, so that side is small and
    * AQE broadcasts the flag join back onto the window stream. The old
    * shape (count() OVER (PARTITION BY hash)) forced a full sort of
    * every window row — the spill hazard at corpus scale.
    */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int): DataFrame = {
    require(k > 0, "window must be positive")
    val wins = spanWindows(df, textCol, idCol, k)
    val flagged = wins.join(
      dupWindowHashes(wins).withColumn("__dup", lit(1L)), Seq("__h"), "left")
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_windows"))
      .withColumn("dup_window_frac",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4))
  }

  /** (id, start, hash) for every k-token window of every doc — the
    * map-side explode both ExactSubstr halves consume. Callers
    * reference it twice (window stream + dup-hash aggregate), which
    * recomputes the tokenize+md5 map work. Considered and kept: the
    * alternatives are worse at corpus scale — persisting the window
    * stream materializes O(corpus-tokens) 28-byte rows (more bytes
    * than re-reading the source text), and the single-aggregation
    * shape (groupBy(hash).agg(count, collect_list(id, start))) puts a
    * window's entire occurrence list into ONE aggregation buffer, an
    * OOM on a boilerplate window repeated across millions of docs,
    * where the count-then-semi-join shape stays skew-safe via partial
    * aggregation. Recompute is map-side-only CPU and scales flat.
    */
  private[ops] def spanWindows(df: DataFrame, textCol: String, idCol: String,
                               k: Int): DataFrame =
    // per-window hashes come from ONE native pass over the token
    // array (two-seed XXH64 chain over per-token hashes → 16-byte
    // key, the md5 path's strength): the explode-then-slice+join+md5
    // form materialized a slice array, a joined string and a 32-char
    // hex string per window — measured as the dominant cost of both
    // ExactSubstr halves and the span decontaminator at sf10. Equal
    // joined strings ⟺ equal token sequences (tokens never contain
    // the joiner), so the duplicated-window SET is unchanged.
    // conditional spread of the (id, tokens) projection (round 17,
    // guide §2.5/§6): a single-split scan runs the tokenize + native
    // window hashing as ONE task. The projection is IDENTICAL to
    // removeDuplicateSpans' excision-side `toks`, so when both halves
    // spread, ReuseExchange serves tokenization once from one shuffle.
    normalizedToks(df, textCol, idCol)
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(
        graft.functions.TextHashExpressions.window_hashes128(col("__toks"), k)))
      .select(col(idCol), (col("pos") + 1).as("__start"), col("col").as("__h"))

  /** Shared (id, normalized-token-array) projection of the span
    * family, spread when the scan is serial — one definition so the
    * window stream and the excision side stay byte-identical subtrees
    * (exchange reuse).
    */
  private[ops] def normalizedToks(df: DataFrame, textCol: String,
                                  idCol: String): DataFrame =
    // NO serial-scan spread here — both variants were MEASURED and
    // lost (same-JVM A/B, round 17): shuffling the token arrays read
    // 0.75-0.82x (per-token string objects serialize bigger than the
    // flat text), and shuffling raw text read 0.95-1.05x (the span
    // family's serial floor is the scan+split itself, and the native
    // window hashing it would parallelize is already cheap)
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__toks"))

  /** Hashes occurring more than once corpus-wide: one partial/final
    * hash aggregate over 16-byte hashes, then the >1 filter — small by
    * construction (bounded by actual duplication, not corpus size).
    */
  private def dupWindowHashes(wins: DataFrame): DataFrame =
    wins.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select(col("__h"))

  /** Exact duplicate-span REMOVAL (the action half of ExactSubstr —
    * [[duplicateSpans]] is the audit half): drop every token covered by
    * ANY k-token window that occurs more than once corpus-wide, and
    * reassemble the remaining tokens. Operates on the normalized
    * (lowercased, whitespace-split) token stream, like the detector.
    *
    * Shuffle profile (span-merge shape): window hashes travel as
    * (id, start, md5) — never text. Only the STARTS of duplicated
    * windows shuffle (O(duplicated windows), bounded by actual
    * duplication); reassembly is then a single native codegen pass per
    * row ([[graft.functions.SpanRemoveExpressions.SpanRemoveTokens]]:
    * sort the doc's dup starts, walk tokens once, re-join survivors) —
    * the token stream never explodes into rows and text never shuffles
    * at all (the tiny starts side joins back onto the doc scan; AQE
    * broadcasts it when duplication is rare). The first shape exploded
    * every doc into (id, pos, token) rows and rebuilt docs with a
    * corpus-wide collect_list — O(tokens) shuffled rows and the worst
    * sf1 scaler in the suite; the second merged segments with
    * interpreted filter/zip_with/transform lambdas — per-element boxed
    * allocation that made wall-time hostage to heap geometry (25.7 s at
    * 8 GiB vs 593 s at 32 GiB on the sf10 dup-heavy stress fixture; see
    * the Expression's doc). Docs shorter than k tokens pass through
    * untouched.
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           k: Int): DataFrame = {
    require(k > 0, "window must be positive")
    val toks = normalizedToks(df, textCol, idCol)
    val wins = spanWindows(df, textCol, idCol, k)
    // starts of windows whose hash repeats corpus-wide — semi-join
    // against the small dup-hash set (hash-agg, no sort; see
    // duplicateSpans). (id, start) is unique by construction, so no
    // distinct is needed; the expression sorts per row, so no
    // array_sort either.
    val dupStarts = wins
      .join(dupWindowHashes(wins), Seq("__h"), "left_semi")
      .select(col(idCol), col("__start"))
    exciseSpans(toks, dupStarts, idCol, k)
  }

  /** Shared excision tail of the three span editors
    * ([[removeDuplicateSpans]], [[collapseLoops]],
    * [[Corpus.decontaminateSpans]]): collect each doc's removal
    * starts, run the native one-pass reassembly, surface the
    * (id, clean_text, n_tokens, n_removed) contract. `toks` is the
    * (id, __toks) normalized-token projection; `removeStarts` is
    * (id, __start) rows of 1-based k-window starts to excise.
    */
  private[ops] def exciseSpans(toks: DataFrame, removeStarts: DataFrame,
                               idCol: String, k: Int): DataFrame = {
    val starts = removeStarts.groupBy(col(idCol))
      .agg(collect_list(col("__start")).as("__starts"))
    toks.join(starts, Seq(idCol), "left")
      .withColumn("__rm", graft.functions.SpanRemoveExpressions.span_remove_tokens(
        col("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")), k))
      .select(col(idCol),
        // NULL text -> NULL __toks -> NULL struct from the
        // null-intolerant expression; surface "" (the reassembly of
        // zero tokens), matching the oracle's COALESCE(clean_text, '').
        // n_tokens/n_removed stay NULL on both sides.
        coalesce(col("__rm").getField("clean_text"), lit(""))
          .as("clean_text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        col("__rm").getField("n_removed").cast("long").as("n_removed"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, "Winnowing: Local
    * Algorithms for Document Fingerprinting" — the MOSS algorithm):
    * per doc, the distinct minima of every `w` consecutive k-token
    * window hashes. The guarantee: any verbatim overlap of at least
    * w + k - 1 tokens between two docs shares at least one
    * fingerprint, while the stored set is ~ 2/(w+1) of the window
    * stream — the sub-linear-storage exact-overlap index between
    * whole-doc hashing (misses partial overlap) and full ExactSubstr
    * windows (stores every position).
    *
    * Shuffle profile: NONE — fingerprint selection is doc-local, so
    * the whole pass (tokenize, window md5s, sliding min over complete
    * w-windows, per-doc distinct) runs inside the scan stage via the
    * one-pass [[graft.functions.TextHashExpressions.WinnowFingerprints]]
    * expression, and only the selected ~2/(w+1) fingerprints become
    * rows. The first formulation exploded the O(tokens) window stream
    * and selected with a count + sliding-min window pair — a full
    * sort exchange of the window stream per call, the only sort
    * shuffle in the dedup family, and the measured bound on
    * [[containmentNearDups]] at stress scale. Docs without a complete
    * w-window (under w + k - 1 tokens) are omitted, as before.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, "window sizes must be positive")
    // conditional spread (round 17, guide §2.5/§6): the whole winnow
    // pass is doc-local map work fused into the scan stage — serial
    // on a single-split input
    Similarity.spreadSerialScan(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(graft.functions.TextHashExpressions.winnow_fingerprints(
          col(textCol), k, w)).as("__fp"))
  }

  /** Containment near-dup pairs — Broder 1997's ASYMMETRIC resemblance
    * c(A in B) = |S(A) ∩ S(B)| / |S(A)| over k-shingle sets: the
    * short-doc-embedded-in-long-doc duplication that symmetric Jaccard
    * structurally misses (a 50-token quote inside a 5000-token page
    * has Jaccard ~1% but containment ~100%, so MinHash-LSH never
    * surfaces it at any sane threshold). Candidates come from shared
    * winnowing fingerprints ([[winnowFingerprints]]): any verbatim
    * overlap of winnowW + winnowK - 1 tokens shares a fingerprint
    * (the Schleimer et al. guarantee), so a contained passage at least
    * that long ALWAYS surfaces — a deterministic recall floor, not an
    * LSH probability curve. Verification computes exact containment
    * from the materialized shingle sets, both directions per
    * candidate pair in one pass.
    *
    * Shuffle profile: the candidate join moves (fingerprint, id) rows
    * — winnowing keeps ~2/(winnowW+1) of window positions, all 16-byte
    * hashes; the verify stage hash-joins shingle sets onto candidates
    * only. `maxFpDocs` is the hot-fingerprint guard rail (the
    * minhashCandidates maxBucket pattern): fingerprints carried by
    * more docs drop WHOLESALE, a deterministic candidate subset for
    * boilerplate-heavy corpora.
    *
    * Output: (id_in, id_of, containment) rows with
    * c(id_in in id_of) >= threshold — id_in is the contained side.
    */
  def containmentNearDups(df: DataFrame, textCol: String, idCol: String,
                          threshold: Double, shingleK: Int = 3,
                          winnowK: Int = 5, winnowW: Int = 4,
                          maxFpDocs: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    require(maxFpDocs > 1, "maxFpDocs must allow at least one pair")
    // the selection pass is the operator's dominant CPU (an md5 per
    // token position inside the one-pass expression) and BOTH candidate
    // join sides consume it, with no exchange left for Spark to reuse
    // since selection went scan-stage — so stage the (id, fp) rows once
    // (local checkpoint, memory-and-disk, ~2/(w+1) of the window stream
    // in hash-width rows) instead of re-running the corpus scan per
    // side. Measured on the dup-heavy stress fixtures: at sf10 this is
    // the fastest variant (28.0 s vs 32.4 s for the count-window cap,
    // whose sort exchange AQE happens to reuse for the join, and
    // 30.3 s uncheckpointed); at sf3 the ~5 s materialization overhead
    // makes it slower (16.3 vs 11.3 s) — the checkpoint is the
    // scale-path choice because it guarantees ONE selection pass
    // regardless of exchange-reuse luck, and the gap grows with data.
    // fingerprint IDENTITY travels as xxhash64 of the md5 hex
    // (round 16): selection stays md5-based inside the expression —
    // the oracle replays that exact min — but the staged pin, the
    // hot-cap aggregate and the candidate self-join only need
    // equality, so they carry 8-byte longs instead of 32-char hex
    // strings (~5× narrower pin; house collision posture, 2^-64 per
    // fingerprint pair, a collision can only ADD a candidate the
    // exact verify rejects)
    val fps = winnowFingerprints(df, textCol, idCol, winnowK, winnowW)
      .select(col(idCol), xxhash64(col("__fp")).as("__fp"))
      .localCheckpoint()
    val kept =
      if (maxFpDocs == Int.MaxValue) fps
      else {
        // hot-fingerprint set is SMALL by construction (<= total
        // fps / maxFpDocs, realistically just the boilerplate
        // carriers), so a partial-agg count + broadcast ANTI join caps
        // without the count-window's sort exchange over the stream
        val hot = fps.groupBy(col("__fp")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxFpDocs).select(col("__fp"))
        fps.join(broadcast(hot), Seq("__fp"), "left_anti")
      }
    val cands = kept.select(col("__fp"), col(idCol).as("id_a"))
      .join(kept.select(col("__fp"), col(idCol).as("id_b")), Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // verify on HASHED shingle sets (round 16, the all-pairs r15
    // carry): containment needs only |S(A)∩S(B)| and the set sizes,
    // so the sets travel as ascending distinct xxhash64 arrays (~8×
    // narrower than shingle strings through the two payload joins)
    // and the intersect is one primitive merge scan instead of
    // array_intersect's per-pair hash set. Cardinalities match the
    // string-set form mod the documented 2^-64 collision posture —
    // a colliding shingle pair merges consistently on every doc, so
    // numerator and denominator shift together.
    val sets = df.select(col(idCol),
      graft.functions.TextHashExpressions.sorted_token_hashes(
        shingles(col(textCol), shingleK)).as("__set"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb")), Seq("id_b"))
      // hashed sets are distinct by construction, so the merge-scan
      // cardinality is the true |S(A) ∩ S(B)|; double division is
      // ANSI-safe (sets are non-empty: word_shingles yields >= 1)
      .withColumn("__inter",
        graft.functions.TextHashExpressions.sorted_intersect_size(
          col("__sa"), col("__sb")).cast("double"))
      .select(explode(array(
        struct(col("id_a").as("id_in"), col("id_b").as("id_of"),
          round(col("__inter") / size(col("__sa")), 4).as("containment")),
        struct(col("id_b").as("id_in"), col("id_a").as("id_of"),
          round(col("__inter") / size(col("__sb")), 4).as("containment"))))
        .as("__r"))
      .select(col("__r.id_in").as("id_in"), col("__r.id_of").as("id_of"),
        col("__r.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** The ACTION half of containment dedup ([[containmentNearDups]] is
    * the detector): drop a doc iff it is contained (>= threshold) in a
    * doc that DOMINATES it under the total order (shingle-set size
    * DESC, id ASC) — the keep-longest rule for excerpt/quote/
    * pagination duplication. Dominance makes the rule well-founded:
    * every set of docs connected by qualifying pairs keeps its
    * (size, -id)-maximal member, because nothing dominates it — so a
    * containment CYCLE (mutual near-dups, or A-in-B / B-in-C / C-in-A
    * triangles, which asymmetric thresholds permit) can never
    * annihilate a whole cluster. Special cases fall out: a chain
    * A ⊂ B ⊂ C of growing docs keeps only C; exact dups (equal sizes,
    * mutual containment) keep the smallest id. A naive
    * drop-if-contained-in-ANY rule lacks this guarantee — in a
    * triangle every member is contained in a dropped member and all
    * three vanish.
    *
    * Shuffle profile: the detector's, plus two id-width hash joins of
    * the pair list onto the (id, set-size) table and one anti-join
    * back onto the corpus.
    */
  def dropContained(df: DataFrame, textCol: String, idCol: String,
                    threshold: Double, shingleK: Int = 3,
                    winnowK: Int = 5, winnowW: Int = 4,
                    maxFpDocs: Int = Int.MaxValue): DataFrame = {
    val p = containmentNearDups(df, textCol, idCol, threshold, shingleK,
      winnowK, winnowW, maxFpDocs)
    // dominance needs only the set CARDINALITY — size over the
    // distinct shingle array directly, no set table materialized
    val sizes = df.select(col(idCol),
      size(shingles(col(textCol), shingleK)).as("__sz"))
    val drops = p
      .join(sizes.select(col(idCol).as("id_in"), col("__sz").as("__sz_in")), Seq("id_in"))
      .join(sizes.select(col(idCol).as("id_of"), col("__sz").as("__sz_of")), Seq("id_of"))
      .filter(col("__sz_of") > col("__sz_in") ||
        (col("__sz_of") === col("__sz_in") && col("id_of") < col("id_in")))
      .select(col("id_in").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Collapse immediate phrase loops within a doc — the
    * generated-text/OCR artifact cleaner: a k-token window whose hash
    * equals the hash k positions earlier is a verbatim immediate
    * repeat ("the cat the cat the cat" at k=2), and every such
    * occurrence after the first is excised via the same native
    * reassembly as [[removeDuplicateSpans]]. Unlike the corpus-wide
    * ExactSubstr (cross-doc duplication) this is strictly intra-doc,
    * so the WHOLE operator is one map-side pass: repeat starts come
    * from the one-row [[graft.functions.SpanRemoveExpressions
    * .LoopRepeatStarts]] expression (verbatim slice equality — the
    * exact semantics the earlier per-doc `lag(k)`-of-md5 window
    * approximated) feeding [[graft.functions.SpanRemoveExpressions
    * .SpanRemoveTokens]] directly. Zero exchanges (plan-guarded): the
    * first formulation exploded the window stream, paid a doc-keyed
    * sort exchange for the lag, and joined the starts back for
    * reassembly.
    */
  def collapseLoops(df: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame = {
    require(k > 0, "phrase window must be positive")
    val fns = graft.functions.SpanRemoveExpressions
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__toks"))
      .withColumn("__rm", fns.span_remove_tokens(col("__toks"),
        fns.loop_repeat_starts(col("__toks"), k), k))
      .select(col(idCol),
        // NULL text -> NULL __toks -> NULL struct; surface "" like
        // exciseSpans (oracle COALESCE(clean_text, '')), counts NULL
        coalesce(col("__rm").getField("clean_text"), lit(""))
          .as("clean_text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        col("__rm").getField("n_removed").cast("long").as("n_removed"))
  }

  // ---- shingles / n-grams ----

  /** Distinct word k-shingles of a text column (first-occurrence
    * order) — the single-pass codegen-adjacent WordShingles expression;
    * one definition shared by signature computation and Jaccard
    * verification.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.TextHashExpressions.word_shingles(text, k)

  // ---- MinHash + LSH ----

  /** K minhash values from a shingle-array column: min over shingles
    * under K independent seeded XXH64 hash functions — the custom
    * codegen Expression (one pass, primitive min array). The
    * composed-builtin alternative (K aggregate() lambdas) is
    * interpreted per element x per hash and was the dominant LSH cost.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    graft.functions.TextHashExpressions.minhash_signature(shingleArr, numHashes)

  /** (id, distinct-shingle-array) projection — the staged input for
    * signature computation and exact-Jaccard verification.
    */
  def shingleTable(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    // shingling is the dominant per-row map cost of every consumer
    // (MinHash signatures, containment verify, novelty grams) and it
    // fuses into the scan stage — which a single-split input executes
    // as ONE task. Conditional spread of the narrow (id, text)
    // projection (round 17, guide §2.5/§6): no-op on multi-split scans
    // and on callers that already repartitioned.
    Similarity.spreadSerialScan(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), shingles(col(textCol), k).as("shingle_set"))

  /** Candidate near-dup pairs via banded LSH over minhash signatures:
    * rows agreeing on any band land in the same bucket; the bucket
    * equi-join yields candidates. `bands` must divide numHashes.
    * Returns (idCol_a, idCol_b) with a < b, distinct.
    */
  /** Per-band bucket hashes of a minhash signature: band b's bucket is
    * an XXH64 chain over its rowsPerBand signature slice (one codegen
    * pass — the composed transform/concat_ws/xxhash64 tree ran as
    * interpreted nested lambdas building strings per band). Shared by
    * batch LSH candidates and the incremental signature store so both
    * sides of any future join agree on bucketing.
    */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.TextHashExpressions.band_buckets(sig, bands, rowsPerBand)

  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 3, numHashes: Int = 16,
                        bands: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val rowsPerBand = numHashes / bands
    val sig = shingleTable(df, textCol, idCol, shingleK)
      .select(col(idCol), minhashSignature(col("shingle_set"), numHashes).as("__sig"))
    val banded = sig.select(col(idCol),
      posexplode(bandBuckets(col("__sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
    // Optional hot-bucket guard for boilerplate-heavy corpora: a shared
    // template can dominate every band's minima, putting ~all template
    // carriers into ONE bucket whose self-join is Θ(bucket²) candidate
    // pairs that mostly FAIL exact-Jaccard verification (the template
    // matches, the unique text doesn't). Buckets above maxBucket are
    // dropped WHOLESALE (not sampled) — the candidate set stays a
    // deterministic subset of the uncapped one, and a pair survives iff
    // some band still buckets it below the cap. The unconditioned fix
    // is pipeline order: removeDuplicateSpans FIRST, then MinHash on
    // cleaned text (measured in SCALE.md); the cap is the guard rail
    // for residual hot keys. Default Int.MaxValue = exact banding.
    // Window count, not a groupBy + self-semi-join: the join shape
    // evaluates `banded` twice (probe side + count side) with no
    // exchange reuse across the partial aggregate, re-running the
    // dominant tokenize+shingle+minhash map work over the whole corpus
    // whenever the cap is on. The window computes bucket sizes and
    // filters in ONE scan, shuffling the narrow (id, band, bucket)
    // stream once on the same (band, bucket) key the candidate
    // self-join needs anyway.
    val kept =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__bsz", count(lit(1)).over(
          Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("__bsz") <= maxBucket)
        .drop("__bsz")
    val a = kept.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = kept.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard from two materialized distinct-shingle arrays:
    * |A ∩ B| / |A ∪ B| — single hash-set pass (custom Expression),
    * not the interpreted array_intersect + array_union pair.
    */
  def jaccardFromSets(sa: Column, sb: Column): Column =
    graft.functions.TextHashExpressions.jaccard_sets(sa, sb)

  /** Full MinHash-LSH near-dup pipeline: candidates -> exact-Jaccard
    * verify -> pairs above threshold. Shingle sets are materialized
    * once per document and joined to the candidate pairs (hash join on
    * the id columns at scale), so the quadratic stage only does array
    * intersections, never re-tokenization.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, shingleK: Int = 3,
                      numHashes: Int = 16, bands: Int = 4,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands = minhashCandidates(df, textCol, idCol, shingleK, numHashes,
      bands, maxBucket)
    val sets = shingleTable(df, textCol, idCol, shingleK)
    cands
      .join(sets.select(col(idCol).as("id_a"), col("shingle_set").as("__sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("shingle_set").as("__sb")), Seq("id_b"))
      .withColumn("jaccard", jaccardFromSets(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Approximate most-similar-documents search — the TEXT-side
    * analogue of embedding ANN ([[Similarity.lshTopK]]): banded-MinHash
    * buckets pair the probe set with the corpus (equi-join, no cross
    * join), candidates re-rank by exact Jaccard, top-k per probe.
    *
    * Recall follows the banding curve: a corpus doc with Jaccard J to
    * the probe is missed with probability (1 - J^rows)^bands — at the
    * default 16x2, <= 8e-8 for J >= 0.8, ~1% at J = 0.5, and near-
    * certain for unrelated docs, which is the point: only genuinely
    * similar docs surface, each probe meets ~corpus/2^bucket-bits
    * candidates, and the shuffles carry (band, bucket, id) rows only.
    */
  def jaccardTopK(corpus: DataFrame, probes: DataFrame, textCol: String,
                  idCol: String, k: Int, shingleK: Int = 3,
                  numHashes: Int = 32, bands: Int = 16): DataFrame =
    jaccardTopKFromShingles(
      shingleTable(corpus, textCol, idCol, shingleK),
      shingleTable(probes, textCol, idCol, shingleK),
      idCol, k, numHashes, bands)

  /** [[jaccardTopK]] over PRE-SHINGLED sides: both frames are
    * `(idCol, shingle_set)` as produced by [[shingleTable]]. Callers
    * that already pay for a shingle table (e.g. an exact-gate contract
    * alongside the search) stage it once — `localCheckpoint()` it and
    * pass it here — instead of re-tokenizing the corpus inside the
    * search: the shingle scan is the dominant linear cost, and this
    * query plan otherwise rebuilds it for both the banding and the
    * verify side.
    */
  def jaccardTopKFromShingles(corpusShingles: DataFrame, probeShingles: DataFrame,
                              idCol: String, k: Int,
                              numHashes: Int = 32, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    def banded(sh: DataFrame, as: String): DataFrame =
      sh.select(col(idCol).as(as),
        posexplode(bandBuckets(
          minhashSignature(col("shingle_set"), numHashes), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
    val cands = banded(corpusShingles, "corpus_id")
      .join(banded(probeShingles, "probe_id"), Seq("band", "bucket"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .select(col("probe_id"), col("corpus_id")).distinct()
    val cs = corpusShingles
      .select(col(idCol).as("corpus_id"), col("shingle_set").as("__cs"))
    val ps = probeShingles
      .select(col(idCol).as("probe_id"), col("shingle_set").as("__ps"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("jaccard").desc, col("corpus_id"))
    cands.join(cs, Seq("corpus_id")).join(ps, Seq("probe_id"))
      .withColumn("jaccard", round(jaccardFromSets(col("__ps"), col("__cs")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("corpus_id"),
        col("rank").cast("long").as("rank"), col("jaccard"))
  }

  // ---- SimHash ----

  /** 64-bit SimHash from a token array: per-bit majority vote of
    * token hashes — custom codegen Expression, one pass per row.
    */
  def simhash64(tokens: Column): Column =
    graft.functions.TextHashExpressions.simhash64(tokens)

  /** (id, simhash signature) per document. */
  def simhashTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // conditional spread (round 17, guide §2.5/§6): tokenize + the
    // 64-bin simhash accumulation are scan-fused map work — serial on
    // a single-split input
    Similarity.spreadSerialScan(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        simhash64(split(lower(trim(col(textCol))), "\\s+")).as("simhash"))

  /** SimHash near-dup candidates with Hamming distance <= maxHamming
    * via the generalized pigeonhole: split the 64-bit signature into
    * `nBlocks` equal blocks with per-block radius
    * q = floor(maxHamming / nBlocks) — if every block of a pair
    * differed in more than q bits the total would exceed
    * nBlocks*(q+1)-1 >= maxHamming, so every qualifying pair agrees
    * within q bits on SOME block, and a per-block equi-join finds it
    * with no cross join.
    *
    *  - q = 0 (maxHamming < nBlocks): plain block-equality join —
    *    8x8-bit for hamming <= 7, the classic shape.
    *  - q = 1 (maxHamming < 2*nBlocks): probe expansion (HmSearch /
    *    HEngine style) — the probe side also emits every single-bit
    *    flip of each block (bits+1 variants), so equality catches
    *    blocks differing in <= 1 bit. This buys DOUBLE-width blocks
    *    for the same radius: hamming <= 7 rides 4x16-bit blocks whose
    *    65536-value buckets collide ~256x less than 8-bit ones, at the
    *    cost of a 17x wider (but narrow: three longs + an int) probe
    *    stream — the candidate JOIN volume, the quadratic term, drops
    *    by orders of magnitude on collision-prone corpora.
    *
    * Radii beyond q = 1 (e.g. maxHamming = 7 with 2 blocks) would need
    * C(32,2)+ flip variants and are rejected; raise nBlocks instead.
    *
    * `maxBucket` is the hot-bucket guard rail for adversarial
    * boilerplate corpora (the minhashCandidates pattern): buckets
    * above the cap drop wholesale, yielding a deterministic subset —
    * a pair survives iff some block still buckets it below the cap.
    */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3, nBlocks: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    require(64 % nBlocks == 0, "nBlocks must divide 64")
    require(maxHamming >= 0, "maxHamming must be non-negative")
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val q = maxHamming / nBlocks
    require(q <= 1,
      s"per-block radius $q unsupported (maxHamming=$maxHamming, " +
        s"nBlocks=$nBlocks); need maxHamming <= 2*nBlocks-1 — raise nBlocks")
    val bits = 64 / nBlocks
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val sig = simhashTable(df, textCol, idCol)
    val blocked = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until nBlocks).map(b =>
        shiftrightunsigned(col("simhash"), b * bits).bitwiseAND(lit(mask))): _*))
        .as(Seq("block", "block_val")))
    // Optional hot-bucket guard (the minhashCandidates maxBucket
    // pattern): an adversarial corpus of near-identical signatures
    // puts ~all carriers into ONE (block, value) bucket whose
    // self-join is Θ(bucket²). Buckets above maxBucket are dropped
    // WHOLESALE from the BUILD side — deterministic-subset semantics
    // (a pair survives iff one of its blocks still buckets below the
    // cap) — which bounds join output at O(probe rows × maxBucket);
    // probe rows aimed at a dropped bucket simply find nothing.
    val kept =
      if (maxBucket == Int.MaxValue) blocked
      else blocked
        .withColumn("__bsz", count(lit(1)).over(
          Window.partitionBy(col("block"), col("block_val"))))
        .filter(col("__bsz") <= maxBucket)
        .drop("__bsz")
    // probe side: at q=1 every block value additionally probes its
    // single-bit flips, so a <=1-bit block difference still equi-joins
    val a = (if (q == 0) kept
             else kept.select(col(idCol), col("simhash"), col("block"),
               explode(array((Seq(col("block_val")) ++ (0 until bits).map(k =>
                 col("block_val").bitwiseXOR(lit(1L << k)))): _*))
                 .as("block_val")))
      .select(col("block"), col("block_val"),
        col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = kept.select(col("block"), col("block_val"),
      col(idCol).as("id_b"), col("simhash").as("sig_b"))
    // A qualifying pair agrees (within q bits) on SEVERAL blocks — a
    // true near-dup on most of them — so the per-block joins emit it
    // up to nBlocks times. Uncapped, keep only the copy from the FIRST
    // agreeing block — unique by construction — instead of a trailing
    // distinct(): that turns an O(candidates) dedup exchange into a
    // codegen'd bitwise filter evaluated before the hamming check
    // (multi-index hashing's standard dedup, Norouzi et al., CVPR'12).
    // CAPPED, the first agreeing block may be a dropped hot bucket
    // while a later block survives — the signature-computed filter
    // would wrongly reject the survivor — so the guard-rail path keeps
    // every emission and dedups with distinct(), affordable exactly
    // because the cap bounded the stream.
    val xor = col("sig_a").bitwiseXOR(col("sig_b"))
    val firstAgree = (nBlocks - 1 to 0 by -1).foldLeft(lit(-1)) { (acc, j) =>
      when(bit_count(shiftrightunsigned(xor, j * bits).bitwiseAND(lit(mask)))
        <= q, lit(j)).otherwise(acc)
    }
    val joined = a.join(b, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
    val deduped =
      if (maxBucket == Int.MaxValue) joined.filter(firstAgree === col("block"))
      else joined
    val out = deduped
      .withColumn("hamming", bit_count(xor))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    if (maxBucket == Int.MaxValue) out else out.distinct()
  }

  /** Duplicate clusters from near-dup pairs: connected components via
    * iterative min-label propagation. Pairwise output (the *NearDups /
    * *Candidates families) under-counts duplication — A~B and B~C make
    * one removable group {A,B,C}; this resolves each member to
    * cluster_id = min id in its component, the canonical keeper.
    *
    * Each round is a neighbor-min equi-join + aggregation on ids
    * (narrow rows) followed by one pointer-jump self-join (every node
    * also adopts the label OF its label), which halves remaining chain
    * depth per round — convergence is O(log diameter) rounds, not
    * O(diameter), so even a pathological million-node path needs ~20
    * rounds, and `maxRounds` (default 64 — enough for any graph that
    * fits in 2^64 ids) is a hard guard that fails loudly instead of
    * spinning the driver. The driver-side loop moves only a single
    * converged? count per round — the edge and label sets never leave
    * the executors.
    *
    * Input: (id_a, id_b) pairs, any orientation. Output: (id,
    * cluster_id) for every id that appears in a pair.
    */
  def clusterPairs(pairs: DataFrame,
                   idA: String = "id_a", idB: String = "id_b",
                   maxRounds: Int = 64,
                   localEdgeCap: Long = 1000000L): DataFrame = {
    require(maxRounds > 0, "maxRounds must be positive")
    // pair generation upstream may be expensive (LSH, crossJoin
    // kernels) — pin the edge set so each propagation round reads the
    // materialized ids instead of replaying the whole dedup pipeline
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .cache()
    // Small-graph shortcut: a HIGH-DIAMETER small graph (entity-
    // resolution chains) costs log2(diameter) distributed rounds of
    // pure job overhead, while the whole edge set fits in a bounded
    // driver buffer (cap x 16 bytes). Union-find with min-id roots
    // computes the IDENTICAL min-label closure in one pass. Long ids
    // only (the repo-wide id convention); anything else — or any
    // graph bigger than the cap — takes the distributed loop, which
    // is the 100-TB path.
    val integralIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val nEdges = edges.count() // also materializes the cache
    if (integralIds && nEdges <= localEdgeCap) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      edges.collect().foreach { row =>
        val a = find(row.getLong(0)); val b = find(row.getLong(1))
        if (a != b) { val root = math.min(a, b)
          parent(math.max(a, b)) = root; parent(root) = root }
        else parent(a) = a
      }
      val ids = parent.keys.toArray.sorted
      val out = edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(ids.map(i =>
          org.apache.spark.sql.Row(i, find(i))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
      edges.unpersist()
      return out
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxRounds) {
        labels.unpersist(); edges.unpersist()
        throw new IllegalStateException(
          s"clusterPairs did not converge in $maxRounds rounds — " +
            "pointer-jumped propagation needs ~log2(component diameter) " +
            "rounds, so this indicates a bug or a graph far beyond the " +
            "guard; raise maxRounds explicitly if the latter")
      }
      // every node adopts min(own label, neighbors' labels)
      val afterNbr = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("__nl")).as("__minNbr"))
        .join(labels, Seq("id"))
        .select(col("id"), least(col("cluster_id"), col("__minNbr")).as("cluster_id"))
        .cache()
      // pointer jump: also adopt the label OF the current label (labels
      // are always node ids of the same component, so the lookup always
      // hits) — this is the path-halving step that makes high-diameter
      // chains converge in O(log d) rounds instead of O(d)
      val computed = afterNbr
        .join(afterNbr.select(col("id").as("__lid"), col("cluster_id").as("__ll")),
          col("cluster_id") === col("__lid"))
        .select(col("id"), least(col("cluster_id"), col("__ll")).as("cluster_id"))
      // cache pins each round's result, but the PLAN still stacks one
      // join per round — on a high-diameter component that blows up
      // planning/stack depth, so truncate lineage every few rounds
      // (localCheckpoint: tiny (id, cluster_id) rows, reclaimed by the
      // ContextCleaner once unreferenced)
      val next =
        if (round % 3 == 2) computed.localCheckpoint()
        else computed.cache()
      val changed = next.join(labels.withColumnRenamed("cluster_id", "__old"), Seq("id"))
        .filter(col("cluster_id") =!= col("__old")).limit(1).count()
      afterNbr.unpersist() // next is materialized by the count above
      labels.unpersist()
      labels = next
      round += 1
      converged = changed == 0
    }
    edges.unpersist()
    // hand back a lineage-free frame and release the loop's cache entry:
    // cached frames live in the CacheManager until explicitly unpersisted,
    // so returning `labels` cached would leak across repeated calls
    val out = labels.localCheckpoint()
    labels.unpersist()
    out
  }

  /** Cluster-representative selection — the step a dedup pipeline runs
    * AFTER [[clusterPairs]]: within each near-dup cluster keep exactly
    * one document, the one with the highest `qualityCol` (ties broken
    * by lowest id, so the choice is total and deterministic); documents
    * in no cluster are their own singleton and always kept. Real
    * curation pipelines keep the best-quality member, not the lowest
    * id — min-id keeping silently biases the corpus toward whatever
    * crawled first.
    *
    * Input: `docs` with (idCol, qualityCol); `clusters` = (id,
    * cluster_id) as produced by [[clusterPairs]] (clustered ids only).
    * Output: (idCol, cluster_id, kept) for EVERY input doc.
    *
    * Scale shape: the join and the per-cluster argmax window both move
    * only (id, cluster_id, quality) rows — the text never shuffles —
    * and cluster cardinality ~= corpus cardinality (singletons
    * dominate), so the window's hash partitioning is as balanced as the
    * id space itself.
    */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame,
                         idCol: String = "doc_id",
                         qualityCol: String = "n_chars"): DataFrame = {
    val lab = docs.select(col(idCol), col(qualityCol))
      .join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    lab.withColumn("kept", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("kept"))
  }
}
