package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.{column => gcol, expression => gexpr}
import org.apache.spark.sql.functions._

import graft.functions.{DamerauLevenshteinExpr, JaroWinklerExpr}

/**
 * Edit-distance similarity self-join (fuzzy entity matching /
 * record-linkage dedup): all pairs within Levenshtein distance
 * `maxDist`, found WITHOUT the all-pairs cross join — the PassJoin
 * scheme (Li, Deng, Feng 2011): partition every string into
 * `maxDist + 1` segments; by pigeonhole, `maxDist` edits cannot touch
 * all segments, so any match shares at least one segment VERBATIM —
 * at a position shifted by at most `maxDist`. Candidates come from an
 * equi-join on (segment index, partner length, substring); only
 * candidates pay the Levenshtein verification.
 *
 * Duplication: exact duplicates are collapsed AUTOMATICALLY — the
 * segment machinery runs over DISTINCT strings only, then pairs
 * re-expand to row ids (cross products of the two id groups, plus the
 * within-group dist-0 pairs). Same answer; the segment-block and
 * verification mass shrink by the duplication factor SQUARED
 * (measured before the collapse: 5k rows over 600 distinct names →
 * ~200k pairs, 26-31 s; the same pairs now cost the 600-string join
 * plus output-mass expansion). The OUTPUT is still the pair list — a
 * million-copy string genuinely contains ~0.5e12 dist-0 pairs; cap
 * upstream if you don't want them. The remaining cliff: a UNIVERSAL
 * affix ("-doc", ".html", "https://www.") that swallows a whole
 * segment makes that segment's block corpus-sized (measured 18 s vs
 * sub-second without it at 5k strings) — strip fixed formatting
 * before joining; the edit distance you want is over the
 * distinguishing part anyway.
 *
 * Pinned semantics: classic unit-cost Levenshtein (Spark's
 * `levenshtein`, identical to DuckDB/Postgres), output one row per
 * unordered pair `(id1 < id2, dist ≤ maxDist)`; null/too-short
 * handling below. Completeness is the PassJoin theorem — the gate
 * verifies it against a literal all-pairs oracle.
 *
 * Scale posture: the indexed side emits `k+1` segments per string;
 * the probe side emits ≤ `(k+1)·(2k+1)²` substrings per string —
 * small constants, so the join input is O(n), and the equi-join keys
 * on (i, l, substring) — hot keys only where many strings genuinely
 * share segment content (real near-dup mass). Verification is
 * per-candidate, never per-pair-of-corpus. Strings shorter than
 * `maxDist + 1` cannot be segmented; they join against everything
 * within `±maxDist` length through a tiny broadcast block (their
 * count is bounded by the alphabet — document corpora have
 * essentially none).
 */
object Fuzzy {

  /**
   * All unordered pairs of `df` rows whose `strCol` values are within
   * Levenshtein distance `maxDist`. Output: (id1, id2, dist). Rows with
   * a null id or a null string never pair; identical ids never pair
   * with themselves.
   */
  def selfJoin(df: DataFrame, idCol: String, strCol: String,
               maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val strs = strings(df, idCol, strCol, minLen = 0)
    // collapse exact duplicates: segments/probes/verification run over
    // DISTINCT strings (min-id representative); pairs re-expand after
    val distinctPairs =
      distinctSelfJoin(strs.groupBy(col("__ms"))
        .agg(min(col("__mid")).as("__id"))
        .select(col("__id"), col("__ms").as("__s")), maxDist)
    expand(strs, distinctPairs, "dist", lit(0))
  }

  /**
   * Jaro-Winkler similarity self-join: unordered pairs with
   * `sim ≥ threshold` under pinned BLOCKING — candidates share their
   * FIRST character and differ in length by at most `lengthBand`.
   * Unlike [[selfJoin]]'s PassJoin (whose segment theorem is
   * complete), JW admits no lossless blocking: the block rule is part
   * of the operator's SEMANTICS (the record-linkage convention — a
   * first-character edit is rare in entity names, and JW ≥ 0.9 pairs
   * differing by >2 in length are rarer), and an external engine
   * reproduces the result exactly by replaying the same predicates.
   * EXPLICIT CONTRACT: pairs whose first characters differ — including
   * case-differing first letters ("smith"/"Smith") — are OUT of the
   * result BY DESIGN, however high their JW similarity; likewise pairs
   * beyond the length band. Record linkage on mixed-case names should
   * set `caseFold = true`, which folds the first-character BLOCK KEY
   * to lower case (the kernel itself stays case-sensitive — fold the
   * strings upstream if case-insensitive SIMILARITY is wanted).
   *
   * The similarity kernel is the DuckDB-pinned
   * [[graft.functions.StringSimilarity.jaroWinkler]] (native codegen'd
   * expression). Empty/null strings never pair (JW of an empty string
   * is 0 by that convention), nor do rows with a null id. Exact
   * duplicates are collapsed before the block join and re-expanded
   * (the [[selfJoin]] recipe): identical strings pair at sim 1.0.
   *
   * Output: (id1, id2, sim) with id1 < id2.
   *
   * Scale posture: the block join keys on (first char, length) — the
   * probe side explodes the `2·band+1` candidate lengths, so keys are
   * fine-grained and the verification mass is per-block, never
   * all-pairs. Skew ceiling: one (char, length) cell of near-identical
   * mass — the same hot-block regime as every similarity join here;
   * cap upstream if a cell is corpus-sized.
   */
  def jaroWinklerSelfJoin(df: DataFrame, idCol: String, strCol: String,
                          threshold: Double, lengthBand: Int = 2,
                          caseFold: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1], got $threshold")
    require(lengthBand >= 0, s"lengthBand >= 0, got $lengthBand")
    blockedSelfJoin(df, idCol, strCol, lengthBand, caseFold,
      gcol(JaroWinklerExpr(gexpr(col("__sa")), gexpr(col("__sb")))),
      col("sim") >= threshold, "sim", lit(1.0))
  }

  /**
   * Damerau-Levenshtein self-join: every distinct-id pair with FULL
   * (transposition-aware, unrestricted) edit distance ≤ `maxDist`
   * under the SAME pinned blocking contract as
   * [[jaroWinklerSelfJoin]] (shared first character + length within
   * `lengthBand`; out-of-block pairs are out of the result BY
   * DESIGN — note a first-character edit moves a pair out of the
   * block). The kernel is the DuckDB-pinned byte-level
   * [[graft.functions.StringSimilarity.damerauLevenshtein]] (native
   * codegen'd expression). Empty/null strings and null ids never
   * pair. Exact duplicates pair at distance 0 without paying the
   * kernel (the [[selfJoin]] distinct-collapse recipe).
   *
   * `lengthBand` defaults to `maxDist` — any pair within distance d
   * differs in length by at most d, so the default band loses nothing
   * the distance filter would keep.
   *
   * Output: (id1, id2, dist) with id1 < id2.
   *
   * Scale posture: identical to [[jaroWinklerSelfJoin]] — per-block
   * verification on (first char, length) keys, never all-pairs.
   */
  def damerauSelfJoin(df: DataFrame, idCol: String, strCol: String,
                      maxDist: Long, lengthBand: Int = -1,
                      caseFold: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"maxDist >= 0, got $maxDist")
    blockedSelfJoin(df, idCol, strCol,
      if (lengthBand < 0) maxDist.toInt else lengthBand, caseFold,
      gcol(DamerauLevenshteinExpr(gexpr(col("__sa")), gexpr(col("__sb")))),
      col("dist") <= maxDist, "dist", lit(0L))
  }

  /**
   * Two-relation Jaro-Winkler join — record linkage proper: every
   * (left, right) pair with `sim ≥ threshold` under the SAME pinned
   * blocking contract as [[jaroWinklerSelfJoin]] (shared first
   * character — case-folded for the block key iff `caseFold` — and
   * length within `lengthBand`; out-of-block pairs are out of the
   * result BY DESIGN). Same DuckDB-pinned codegen'd kernel, same
   * distinct-string collapse on both sides (duplicate strings pay the
   * kernel once and re-expand to ids). Rows with a null id, a null
   * string or an empty string on either side never pair: a linkage
   * pair without an id cannot be acted on.
   *
   * Output: (left_id, right_id, sim) — no ordering constraint between
   * the id spaces (they are different relations).
   *
   * Scale posture: both (id, string) relations are checkpointed; the
   * block join keys on (char, left-length) with the right side
   * exploding its `2·band+1` candidate lengths — per-block
   * verification, never all-pairs; the id re-expansion is two
   * string-keyed equi joins.
   */
  def jaroWinklerJoin(left: DataFrame, leftIdCol: String, leftStrCol: String,
                      right: DataFrame, rightIdCol: String,
                      rightStrCol: String, threshold: Double,
                      lengthBand: Int = 2, caseFold: Boolean = false)
  : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1], got $threshold")
    require(lengthBand >= 0, s"lengthBand >= 0, got $lengthBand")
    val l = strings(left, leftIdCol, leftStrCol, minLen = 1)
      .select(col("__mid").as("__lid"), col("__ms").as("__ls"))
    val r = strings(right, rightIdCol, rightStrCol, minLen = 1)
      .select(col("__mid").as("__rid"), col("__ms").as("__rs"))
    blocked(l.select(col("__ls")).distinct(), "__ls",
        r.select(col("__rs")).distinct(), "__rs", lengthBand, caseFold)
      .withColumn("sim",
        gcol(JaroWinklerExpr(gexpr(col("__ls")), gexpr(col("__rs")))))
      .filter(col("sim") >= threshold)
      .select(col("__ls"), col("__rs"), col("sim"))
      .join(l, Seq("__ls"))
      .join(r, Seq("__rs"))
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"),
        col("sim"))
  }

  /** The rows with a non-null id and a non-null string of at least
   *  `minLen` characters, as (`__mid`, `__ms`) behind one lazy local
   *  checkpoint: the collapse and the re-expansion read it, not `df`. */
  private def strings(df: DataFrame, idCol: String, strCol: String,
                      minLen: Int): DataFrame =
    df.filter(col(idCol).isNotNull && col(strCol).isNotNull &&
        length(col(strCol)) >= minLen)
      .select(col(idCol).as("__mid"), col(strCol).as("__ms"))
      .localCheckpoint(false)

  /** The pinned block join: same first character (lower-cased iff
   *  `caseFold`) on (`__c`, `__la`), the `right` side exploding its
   *  candidate lengths `[max(1, l − band), l + band]`. */
  private def blocked(left: DataFrame, ls: String, right: DataFrame,
                      rs: String, band: Int, caseFold: Boolean): DataFrame = {
    def first(s: String): Column = {
      val c = substring(col(s), 1, 1)
      if (caseFold) lower(c) else c
    }
    left.withColumn("__c", first(ls)).withColumn("__la", length(col(ls)))
      .join(right.withColumn("__c", first(rs))
        .withColumn("__la", explode(sequence(
          greatest(lit(1), length(col(rs)) - band), length(col(rs)) + band))),
        Seq("__c", "__la"))
  }

  /** The blocked self-join over each distinct string's min-id
   *  representative: `kernel` over (`__sa`, `__sb`) scores the in-block
   *  pairs with `__ida < __idb` as `name`, `cut` keeps the matches. */
  private def blockedSelfJoin(df: DataFrame, idCol: String, strCol: String,
                              band: Int, caseFold: Boolean, kernel: Column,
                              cut: Column, name: String,
                              same: Column): DataFrame = {
    val strs = strings(df, idCol, strCol, minLen = 1)
    val d = strs.groupBy(col("__ms")).agg(min(col("__mid")).as("__id"))
    val distinctPairs = blocked(
        d.select(col("__id").as("__ida"), col("__ms").as("__sa")), "__sa",
        d.select(col("__id").as("__idb"), col("__ms").as("__sb")), "__sb",
        band, caseFold)
      .filter(col("__ida") < col("__idb"))
      .withColumn(name, kernel)
      .filter(cut)
      .select(col("__sa").as("__s1"), col("__sb").as("__s2"), col(name))
    expand(strs, distinctPairs, name, same)
  }

  /** Distinct-string pairs (`__s1`, `__s2`, `score`) back to id pairs
   *  (id1 < id2): every id of `__s1` × every id of `__s2` at the pair's
   *  score, plus the pairs of rows sharing one string at `same`. */
  private def expand(strs: DataFrame, pairs: DataFrame, score: String,
                     same: Column): DataFrame = {
    val cross = pairs
      .join(strs.select(col("__ms").as("__s1"), col("__mid").as("__ia")),
        Seq("__s1"))
      .join(strs.select(col("__ms").as("__s2"), col("__mid").as("__ib")),
        Seq("__s2"))
      .select(least(col("__ia"), col("__ib")).as("id1"),
        greatest(col("__ia"), col("__ib")).as("id2"), col(score))
    val dup = strs.as("a").join(strs.as("b"),
        col("a.__ms") === col("b.__ms") && col("a.__mid") < col("b.__mid"))
      .select(col("a.__mid").as("id1"), col("b.__mid").as("id2"),
        same.as(score))
    cross.unionByName(dup)
  }

  /** The PassJoin kernel over a relation of DISTINCT strings
   *  (`__id`, `__s`): all unordered pairs within distance `maxDist`
   *  (≥ 1 by construction — no two input strings are equal), as
   *  (`__s1`, `__s2`, dist) where `__s1` is the lesser-id member. */
  private def distinctSelfJoin(df: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist
    val base = df
      .select(col("__id"), col("__s"), length(col("__s")).as("__l"))
      .localCheckpoint(false)
    val long = base.filter(col("__l") >= k + 1)
    val short = base.filter(col("__l") <= k)

    // ---- indexed side: the k+1 segments of each string ----
    // segment lengths differ by <= 1: first (k+1-r) of length q, rest q+1
    val q = ((col("__l") - pmod(col("__l"), lit(k + 1))) / (k + 1)).cast("int")
    val r = pmod(col("__l"), lit(k + 1)).cast("int")
    def segStart(i: org.apache.spark.sql.Column) =
      i * q + greatest(lit(0), i - (lit(k + 1) - r))
    def segLen(i: org.apache.spark.sql.Column) =
      q + when(i >= lit(k + 1) - r, 1).otherwise(0)
    val indexed = long
      .withColumn("__i", explode(sequence(lit(0), lit(k))))
      .withColumn("__seg",
        col("__s").substr(segStart(col("__i")) + 1, segLen(col("__i"))))
      .filter(length(col("__seg")) >= 1)
      .select(col("__id").as("__ida"), col("__s").as("__sa"),
        col("__i"), col("__l").as("__la"), col("__seg").as("__sub"))

    // ---- probe side: for each partner length l in [m-k, m+k] and
    //      segment index i, every substring of that segment's length
    //      within the +-k position window ----
    val probe0 = long
      .withColumnRenamed("__l", "__m")
      .withColumn("__la", explode(sequence(
        greatest(lit(k + 1), col("__m") - k), col("__m") + k)))
      .withColumn("__i", explode(sequence(lit(0), lit(k))))
    val ql = ((col("__la") - pmod(col("__la"), lit(k + 1))) / (k + 1)).cast("int")
    val rl = pmod(col("__la"), lit(k + 1)).cast("int")
    val pl = col("__i") * ql +
      greatest(lit(0), col("__i") - (lit(k + 1) - rl))
    val wl = ql + when(col("__i") >= lit(k + 1) - rl, 1).otherwise(0)
    val probe = probe0
      .withColumn("__w", wl)
      .withColumn("__jlo", greatest(lit(0), pl - k))
      .withColumn("__jhi", least(col("__m") - col("__w"), pl + k))
      .filter(col("__w") >= 1 && col("__jhi") >= col("__jlo"))
      .withColumn("__j", explode(sequence(col("__jlo"), col("__jhi"))))
      .select(col("__id").as("__idb"), col("__s").as("__sb"),
        col("__i"), col("__la"),
        col("__s").substr(col("__j") + 1, col("__w")).as("__sub"))

    val longPairs = indexed.join(probe, Seq("__i", "__la", "__sub"))
      .filter(col("__ida") =!= col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"),
        when(col("__ida") < col("__idb"), col("__sa")).otherwise(col("__sb")).as("__s1"),
        when(col("__ida") < col("__idb"), col("__sb")).otherwise(col("__sa")).as("__s2"))
      .distinct()

    // ---- short strings: cannot be segmented; broadcast against all
    //      partners within +-k length (tiny side by construction) ----
    val shortPairs = broadcast(short.select(col("__id").as("__ida"),
        col("__s").as("__sa"), col("__l").as("__la")))
      .join(base.select(col("__id").as("__idb"), col("__s").as("__sb"),
        col("__l").as("__lb")),
        abs(col("__la") - col("__lb")) <= k && col("__ida") =!= col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"),
        when(col("__ida") < col("__idb"), col("__sa")).otherwise(col("__sb")).as("__s1"),
        when(col("__ida") < col("__idb"), col("__sb")).otherwise(col("__sa")).as("__s2"))
      .distinct()

    longPairs.unionByName(shortPairs).distinct()
      .withColumn("dist", levenshtein(col("__s1"), col("__s2")))
      .filter(col("dist") <= k)
      .select(col("__s1"), col("__s2"), col("dist"))
  }
}
