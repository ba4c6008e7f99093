package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage: join two tables on a string key allowing small
  * typos (edit distance <= d), without ever materializing the
  * all-pairs comparison space.
  *
  * Candidate generation is the SymSpell / FastSS deletion-neighborhood
  * scheme (Schulz & Mihov 2002 "Fast string correction with
  * Levenshtein automata" lineage): block each string on every variant
  * reachable by deleting up to d characters. Two strings within edit
  * distance d ALWAYS share a delete-variant (delete the edited
  * positions from whichever side carries them), so the blocking is
  * provably complete — a plain equi-join on the variant key recovers
  * every qualifying pair, and a row-local `levenshtein` check removes
  * the false candidates the pigeonhole admits.
  *
  * Scale shape: each row fans out to O(len^d) variant keys (len+1 at
  * d=1 — bounded, map-side explode), the candidate join is a hash
  * equi-join on the variant string, and verification is codegen
  * row-local. NO cartesian anywhere (plan-guarded); the shuffle keys
  * are short strings, the payload two ids. Skewed blocks (very common
  * name fragments) ride AQE skew-join splitting like any other hot
  * key. The naive alternative — crossJoin + levenshtein — is O(n*m)
  * and unrunnable at corpus scale.
  */
object FuzzyJoin {

  /** All strings reachable from `s` by deleting up to `maxDist`
    * characters (including `s` itself), as an array Column — pure
    * Spark `transform`/`sequence` arithmetic, no UDF, so any engine
    * replays it exactly. maxDist 1 or 2.
    */
  def deleteVariants(s: Column, maxDist: Int): Column = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")
    // delete-1 neighborhood: drop the character at 0-based position i
    // = (1-based) prefix of length i ++ suffix from i+2. The empty-
    // string guard matters: Spark's sequence(0, -1) counts DOWN
    // (default step -1), which would fabricate variants
    def del1(e: Column): Column = when(length(e) === 0,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), length(e) - 1),
        i => concat(e.substr(lit(1), i), e.substr(i + 2, length(e)))))
    val d1 = del1(s)
    if (maxDist == 1) array_union(array(s), d1)
    else {
      // delete-2 = delete-1 of every delete-1 variant; array_union
      // dedups the overlapping paths
      val d2 = flatten(transform(d1, v => del1(v)))
      array_union(array_union(array(s), d1), d2)
    }
  }

  /** Join `left` and `right` where
    * `levenshtein(left(leftCol), right(rightCol)) <= maxDist`.
    * Output: every column of both sides plus `dist`, with exact
    * brute-force multiplicity — duplicated input rows each produce
    * their pair, because the blocking runs over DISTINCT key strings
    * and the verified key pairs are equi-joined back onto the
    * original frames. Both key columns must be non-null (null keys
    * match nothing, as in SQL equality).
    *
    * Scale note: only the two key-string columns ever enter the
    * variant exchange and the candidate dedup — wide payload columns
    * (document text, blobs) ride the final equi-joins untouched, so
    * callers may pass wide rows safely (plan-guarded).
    */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
                       leftCol: String, rightCol: String,
                       maxDist: Int): DataFrame = {
    // the output carries every column of both sides — overlapping
    // names would make them unreferenceable downstream
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left/right column names must be disjoint, both have: $overlap")
    // phase 1: candidate generation over distinct KEY STRINGS only.
    val pairs = candidateKeyPairs(left, right, leftCol, rightCol, maxDist)
      .withColumn("dist", levenshtein(col(leftCol), col(rightCol)))
      .filter(col("dist") <= maxDist)
    // phase 2: verified key pairs rejoin the original frames — plain
    // hash equi-joins on the key strings, preserving brute-force join
    // multiplicity exactly
    left.join(pairs, Seq(leftCol)).join(right, Seq(rightCol))
  }

  /** Deduped (leftCol, rightCol) candidate key pairs surviving the
    * delete-variant blocking — everything BEFORE the levenshtein
    * verify. The variant fan-out, its equi-join, and the shared-
    * variant dedup all carry two short strings — never the callers'
    * payload. Its candidate multiplicity is measured in SCALE.md
    * "Candidate-pair economics (round 11)": a quadratic candidate
    * equi-join is invisible to plan-shape guards.
    */
  private def candidateKeyPairs(left: DataFrame, right: DataFrame,
                                leftCol: String, rightCol: String,
                                maxDist: Int): DataFrame = {
    // spread the distinct key sets before the variant explode (round
    // 17, guide §2.5 input skew): the keys arrive via AQE-coalesced
    // exchanges that pack by BYTES, and a few hundred KB of short
    // strings carrying an O(n·len^d) explode + equi-join + dedup ran
    // as ONE task (measured sf0.1: 8 tasks over 5 stages, taskSum ≈
    // 1.3 s on 32 cores). The spread keys on xxhash64(key), NOT the
    // key itself: distinct() already hash-partitions on the key with
    // the same partition count, so a same-key repartition is elided
    // as statically redundant (EnsureRequirements) and AQE then
    // coalesces the distinct's own exchange back to one read — the
    // derived key makes the explicit-count exchange survive.
    val lk = Similarity.spread(
        left.select(col(leftCol)).filter(col(leftCol).isNotNull)
          .distinct(), xxhash64(col(leftCol)))
      .withColumn("__variant",
        explode(deleteVariants(col(leftCol), maxDist)))
    val rk = Similarity.spread(
        right.select(col(rightCol)).filter(col(rightCol).isNotNull)
          .distinct(), xxhash64(col(rightCol)))
      .withColumn("__variant",
        explode(deleteVariants(col(rightCol), maxDist)))
    lk.join(rk, "__variant")
      .drop("__variant")
      // a pair sharing k variants appears k times: distinct BEFORE the
      // levenshtein verify so each candidate is checked once
      .distinct()
  }
}
