package graft.join

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FuzzySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference all-pairs result via Spark's own levenshtein. */
  private def brute(names: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (i1, s1) <- names; (i2, s2) <- names
      if i1 < i2
      d = lev(s1, s2) if d <= k
    } yield (i1, i2, d)).toSet
  }

  private def run(names: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    Fuzzy.selfJoin(names.toDF("id", "s"), "id", "s", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("selfJoin: hand-checked pairs at k=1") {
    val names = Seq(1L -> "spark", 2L -> "spork", 3L -> "sparkk",
      4L -> "hadoop", 5L -> "spark")
    assert(run(names, 1) == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 5L, 0),
      (2L, 5L, 1), (3L, 5L, 1)))
  }

  test("selfJoin: complete vs brute force on adversarial strings (k=1 and k=2)") {
    // deterministic pseudo-random word soup incl. shared prefixes,
    // shared suffixes, mid-string edits, repeats, and length spreads
    val alphabet = "abcd"
    val names = (0L until 160L).map { i =>
      val len = (i % 7 + 2).toInt
      val s = new StringBuilder
      var h = i * 2654435761L
      for (_ <- 0 until len) {
        s += alphabet(((h >>> 16) % 4).toInt.abs)
        h = h * 6364136223846793005L + 1442695040888963407L
      }
      i -> s.toString
    }
    for (k <- Seq(1, 2))
      assert(run(names, k) == brute(names, k), s"mismatch at k=$k")
  }

  test("selfJoin: duplicated corpus — collapse + re-expand equals brute force") {
    // every string repeated 4x under fresh ids: the distinct-string
    // kernel must re-expand to ALL cross pairs (carrying the distance)
    // plus the in-group dist-0 pairs — exact parity with all-pairs
    val seed = Seq("spark", "spork", "sparkk", "hadoop", "flink",
      "blink", "ab", "ba", "b")
    val names = for {
      (s, si) <- seed.zipWithIndex; c <- 0 until 4
    } yield (si * 100L + c) -> s
    for (k <- Seq(1, 2))
      assert(run(names, k) == brute(names, k), s"mismatch at k=$k")
  }

  test("selfJoin: short strings (below k+1 chars) still pair completely") {
    val names = Seq(1L -> "a", 2L -> "b", 3L -> "ab", 4L -> "abc",
      5L -> "", 6L -> "xyz")
    // "" is length 0: distance to "a"/"b" is 1, to "ab" is 2
    assert(run(names, 2) == brute(names.filter(_._2 != null), 2))
  }

  test("selfJoin: nulls never match") {
    val names = Seq((1L, "abc"), (2L, null), (3L, "abd"))
      .toDF("id", "s")
    val out = Fuzzy.selfJoin(names, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 3L)))
  }

  test("jaroWinkler kernel: DuckDB-pinned reference values") {
    import graft.functions.StringSimilarity.jaroWinkler
    assert(jaroWinkler("martha", "marhta") == 0.9611111111111111)
    assert(jaroWinkler("dixon", "dicksonx") == 0.8133333333333332)
    assert(jaroWinkler("jellyfish", "smellyfish") == 0.8962962962962964)
    assert(jaroWinkler("Customer", "Custoner") == 0.95)
    assert(jaroWinkler("abc", "abc") == 1.0)
    assert(jaroWinkler("abc", "xyz") == 0.0)
    assert(jaroWinkler("", "") == 0.0)   // the pinned DuckDB convention
    assert(jaroWinkler("", "a") == 0.0)
  }

  test("damerauLevenshtein kernel: DuckDB-pinned reference values " +
    "(full DL over bytes)") {
    import graft.functions.StringSimilarity.{damerauLevenshtein => dl}
    def d(a: String, b: String) =
      dl(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(d("CA", "ABC") == 2L)   // UNRESTRICTED: OSA would give 3
    assert(d("ab", "ba") == 1L)    // adjacent transposition
    assert(d("kitten", "sitting") == 3L)
    assert(d("", "abc") == 3L && d("", "") == 0L)
    assert(d("x", "x") == 0L)
    // BYTE granularity (DuckDB convention): é is two UTF-8 bytes
    assert(d("héllo", "hello") == 2L)
  }

  test("damerauSelfJoin: blocking, distance cut, duplicate expansion") {
    val df = Seq(
      (1L, "apple"), (2L, "aple"),     // dist 1, same block
      (3L, "apple"),                   // exact dup of 1
      (4L, "zpple"),                   // dist 1 from apple but other block
      (5L, "apricot")                  // same block, dist > 2
    ).toDF("id", "s")
    val out = Fuzzy.damerauSelfJoin(df, "id", "s", maxDist = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out((1L, 2L)) == 1L && out((2L, 3L)) == 1L)
    assert(out((1L, 3L)) == 0L) // exact duplicates at distance 0
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L)) // block miss
    assert(!out.keySet.exists(p => p._1 == 5L || p._2 == 5L)) // too far
    assert(out.size == 3)
  }

  test("jaroWinklerSelfJoin: blocking, threshold, duplicate expansion") {
    val names = Seq(1L -> "martha", 2L -> "marhta", 3L -> "martha",
      4L -> "zartha", 5L -> "marthaxxxx", 6L -> "m")
      .toDF("id", "s")
    val out = Fuzzy.jaroWinklerSelfJoin(names, "id", "s", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // (1,2) and (2,3) similar; (1,3) exact dup at 1.0; 4 blocked out by
    // first char despite high JW; 5 blocked out by length band; 6 too
    // different
    assert(out.keySet == Set(1L -> 2L, 2L -> 3L, 1L -> 3L))
    assert(out(1L -> 2L) == 0.9611111111111111)
    assert(out(2L -> 3L) == 0.9611111111111111)
    assert(out(1L -> 3L) == 1.0)
  }

  test("jaroWinklerSelfJoin: caseFold widens the first-char block only") {
    val names = Seq(1L -> "martha", 2L -> "Martha", 3L -> "marhta")
      .toDF("id", "s")
    // default: "martha"/"Martha" are in different first-char blocks
    val strict = Fuzzy.jaroWinklerSelfJoin(names, "id", "s", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set(1L -> 3L))
    // caseFold: blocks merge, but the KERNEL stays case-sensitive —
    // jw("martha","Martha") = 5 matches/6, 0 transpositions, no prefix
    val folded = Fuzzy.jaroWinklerSelfJoin(names, "id", "s", threshold = 0.8,
        caseFold = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(folded.keySet == Set(1L -> 2L, 1L -> 3L, 2L -> 3L))
    assert(folded(1L -> 2L) < 1.0) // case still counts in the similarity
  }

  test("jaroWinklerJoin: two-table linkage, blocking, duplicate expansion") {
    val left = Seq(1L -> "martha", 2L -> "zeta").toDF("id", "s")
    val right = Seq(10L -> "marhta", 11L -> "Martha", 12L -> "martha",
      13L -> "marhta").toDF("id", "s")
    val out = Fuzzy.jaroWinklerJoin(left, "id", "s", right, "id", "s",
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // marhta appears twice on the right: both ids pair (the distinct-
    // string collapse re-expands); Martha is blocked by case
    assert(out.keySet == Set(1L -> 10L, 1L -> 12L, 1L -> 13L))
    assert(out(1L -> 10L) == 0.9611111111111111)
    assert(out(1L -> 10L) == out(1L -> 13L))
    assert(out(1L -> 12L) == 1.0)
    // caseFold merges blocks; jw("martha","Martha") = 0.888... so the
    // pair appears at 0.85 but (correctly) not at 0.9
    val folded = Fuzzy.jaroWinklerJoin(left, "id", "s", right, "id", "s",
      threshold = 0.85, caseFold = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded.contains(1L -> 11L))
  }

  test("self-joins: a null id never pairs, not even through a shared " +
    "string") {
    // the null-id row shares "abc" with id 1: re-expanded, it must not
    // turn the distinct pair ("abc", "abd") into a (2, 2) self-pair
    val rows = Seq[(Option[Long], String)](Some(1L) -> "abc",
      None -> "abc", Some(2L) -> "abd", Some(3L) -> "xyz").toDF("id", "s")
    def ids(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(Fuzzy.selfJoin(rows, "id", "s", 1)) == Set(1L -> 2L))
    assert(ids(Fuzzy.damerauSelfJoin(rows, "id", "s", 1L)) == Set(1L -> 2L))
    assert(ids(Fuzzy.jaroWinklerSelfJoin(rows, "id", "s", 0.5)) ==
      Set(1L -> 2L))
    // two relations: a pair without an id cannot be acted on
    val right = Seq(10L -> "abc").toDF("id", "s")
    assert(ids(Fuzzy.jaroWinklerJoin(rows, "id", "s", right, "id", "s", 0.5)) ==
      Set(1L -> 10L, 2L -> 10L))
  }

  test("blocked joins equal an all-pairs oracle replaying the block " +
    "predicates (lengthBand 0/2, caseFold both ways)") {
    import graft.functions.StringSimilarity.{damerauLevenshtein, jaroWinkler}
    // seeded soup: mixed-case first letters, a small alphabet and a
    // 40-string pool drawn with replacement (repeats), empty and null
    // strings
    val rnd = new scala.util.Random(20261022L)
    val pool = Seq.fill(40) {
      val len = rnd.nextInt(7)
      if (len == 0) "" else "aAbB"(rnd.nextInt(4)).toString +
        Seq.fill(len - 1)("abc"(rnd.nextInt(3))).mkString
    }
    val rows = (0L until 120L).map { id =>
      id -> (if (rnd.nextInt(20) == 0) null else pool(rnd.nextInt(pool.size)))
    }
    val df = rows.toDF("id", "s")
    val (lRows, rRows) = rows.partition(_._1 < 60L)
    def inBlock(a: String, b: String, band: Int, fold: Boolean): Boolean = {
      def first(x: String) =
        if (fold) x.substring(0, 1).toLowerCase else x.substring(0, 1)
      a != null && b != null && a.nonEmpty && b.nonEmpty &&
        first(a) == first(b) && (a.length - b.length).abs <= band
    }
    def dl(a: String, b: String) =
      damerauLevenshtein(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    for (band <- Seq(0, 2); fold <- Seq(false, true)) {
      val ctx = s"band=$band caseFold=$fold"
      val pairs = for {
        (i1, s1) <- rows; (i2, s2) <- rows
        if i1 < i2 && inBlock(s1, s2, band, fold)
      } yield (i1, i2, s1, s2)
      val jwWant = pairs.map(p => (p._1, p._2, jaroWinkler(p._3, p._4)))
        .filter(_._3 >= 0.8).toSet
      val jwGot = Fuzzy.jaroWinklerSelfJoin(df, "id", "s", 0.8, band, fold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(jwGot == jwWant, ctx)
      assert(jwWant.nonEmpty, ctx)
      val dlWant = pairs.map(p => (p._1, p._2, dl(p._3, p._4)))
        .filter(_._3 <= 1L).toSet
      val dlGot = Fuzzy.damerauSelfJoin(df, "id", "s", 1L, band, fold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(dlGot == dlWant, ctx)
      assert(dlWant.nonEmpty, ctx)
      val linkWant = (for {
        (i1, s1) <- lRows; (i2, s2) <- rRows if inBlock(s1, s2, band, fold)
      } yield (i1, i2, jaroWinkler(s1, s2))).filter(_._3 >= 0.8).toSet
      val linkGot = Fuzzy.jaroWinklerJoin(lRows.toDF("id", "s"), "id", "s",
          rRows.toDF("id", "s"), "id", "s", 0.8, band, fold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(linkGot == linkWant, ctx)
      assert(linkWant.nonEmpty, ctx)
    }
  }
}
