package graft.props

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.TestSpark
import graft.cdc.CDC
import graft.join.Joins
import graft.llm.Dedup

/** Property tests (SURVEY.md §5 test plan): join cardinality, CDC
 *  partition-of-changes, dedup idempotence. Seeded ScalaCheck
 *  generators sampled directly (no scalatestplus bridge in the
 *  offline cache); small sizes — each case runs Spark jobs. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val keysGen: Gen[List[Long]] =
    Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 15L)))

  test("semi + anti counts partition the left side") {
    for ((l, r) <- samples(keysGen, 5).zip(samples(keysGen, 5).reverse)) {
      val left = l.toDF("k")
      val right = r.toDF("k")
      val semi = Joins.join(left, right, Seq("k"), "semi").count()
      val anti = Joins.join(left, right, Seq("k"), "anti").count()
      assert(semi + anti == l.size.toLong, s"l=$l r=$r")
    }
  }

  test("CDC of identical snapshots is empty; change types partition the key space") {
    for ((a, b) <- samples(keysGen, 5).zip(samples(keysGen, 5).reverse)) {
      val prev = a.distinct.map(k => (k, s"v$k")).toDF("k", "v")
      val cur = b.distinct.map(k => (k, s"v${k % 3}")).toDF("k", "v")
      assert(CDC.changes(cur, cur, Seq("k"), Seq("v"), None).count() == 0)
      val changes = CDC.changes(cur, prev, Seq("k"), Seq("v"), None)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      val (as, bs) = (a.distinct.toSet, b.distinct.toSet)
      assert(changes.filter(_._2 == "INSERT").keySet == bs -- as, s"a=$a b=$b")
      assert(changes.filter(_._2 == "DELETE").keySet == as -- bs, s"a=$a b=$b")
      assert(changes.filter(_._2 == "UPDATE").keySet.subsetOf(as & bs), s"a=$a b=$b")
    }
  }

  test("exact dedup is idempotent and keeps one row per key") {
    for (ks <- samples(keysGen.suchThat(_.nonEmpty), 5)) {
      val df = ks.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "id")
      val once = Dedup.exact(df, Seq("k"), "id")
      assert(once.count() == ks.distinct.size.toLong)
      assert(Dedup.exact(once, Seq("k"), "id").count() == once.count())
    }
  }

  test("jaccard is bounded in [0,1] and jaccard(x,x)=1 for non-empty shingle sets") {
    val textGen = Gen.listOfN(6, Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString))
      .map(_.mkString(" "))
    for ((t1, t2) <- samples(textGen, 5).zip(samples(textGen, 5).reverse)) {
      val r = Seq((t1, t2)).toDF("a", "b")
        .select(
          Dedup.jaccard(Dedup.shingles(col("a")), Dedup.shingles(col("b"))).as("j"),
          Dedup.jaccard(Dedup.shingles(col("a")), Dedup.shingles(col("a"))).as("jself"))
        .collect()(0)
      val j = r.getDouble(0)
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getDouble(1) == 1.0)
    }
  }

  test("prefix-filtered jaccard join equals naive all-pairs on random corpora") {
    // Small vocabulary forces shared shingles + near-threshold scores —
    // the regime where an unsound prefix/size filter would drop pairs.
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(25, docGen)
    // multiple thresholds: exercises the ⌈τn⌉ prefix-length boundary
    // (τ·n integer vs not) — the spot where an off-by-one would lose pairs
    for ((corpus, caseIdx) <- samples(corpusGen, 3).zipWithIndex;
         tau <- Seq(0.3, 0.5, 0.75)) {
      val df = corpus.zipWithIndex
        .map { case (t, i) => (i.toLong, t, (i % 2).toString) }
        .toDF("id", "text", "grp")
      val fast = Dedup.ngramJaccardPairs(df, "id", "text", Seq("grp"), 3, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = df.select(col("grp"), col("id"), Dedup.hashedShingles(col("text"), 3).as("sh"))
      val naive = sh.as("a").join(sh.as("b"),
          col("a.grp") === col("b.grp") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
        .filter(col("j") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == naive, s"case $caseIdx tau=$tau corpus=$corpus")
    }
  }

  test("components: every node maps to the min id of its transitive cluster") {
    val edgeGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)).suchThat(p => p._1 != p._2)))
    for (edges <- samples(edgeGen, 4)) {
      val pairs = edges.toDF("id1", "id2")
      val got = Dedup.components(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference union-find on the driver
      val parent = collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("components: the driver finish equals the distributed loop row " +
    "for row, schema included (long, string, null and empty pair lists)") {
    def check(pairs: DataFrame, driverFinish: Boolean): Unit = {
      val driver = Dedup.components(pairs)
      val loop = Dedup.components(pairs, "id1", "id2", 20, 0L)
      val local = driver.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(local == driverFinish, driver.queryExecution.analyzed.treeString)
      assert(driver.schema == loop.schema)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(driver) == rows(loop), pairs.collect().toSeq)
    }
    val longGen = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L))))
    samples(longGen, 4).foreach(ps => check(ps.toDF("id1", "id2"), true))
    // "｡" (U+FF61) sorts before "😀" (U+1F600) as UTF-8 bytes — Spark's
    // string order — but after it as UTF-16 code units (String.compareTo)
    val words = Seq("a", "b", "é", "｡", "😀", "😀a", "z")
    val strGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf(words), Gen.oneOf(words))))
    samples(strGen, 4).foreach(ps => check(ps.toDF("id1", "id2"), true))
    check(Seq(("😀", "｡")).toDF("id1", "id2"), true)
    assert(Dedup.components(Seq(("😀", "｡")).toDF("id1", "id2"))
      .collect().map(_.getString(1)).toSet == Set("｡"))
    val nullGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.option(Gen.choose(0L, 6L)), Gen.option(Gen.choose(0L, 6L)))))
    samples(nullGen.suchThat(_.exists(p => p._1.isEmpty || p._2.isEmpty)), 4)
      .foreach(ps => check(ps.toDF("id1", "id2"), false))
    check(Seq((Some(2L), None), (Some(2L), Some(1L)), (None, Some(3L)))
      .toDF("id1", "id2"), false)
    check(Seq.empty[(Long, Long)].toDF("id1", "id2"), true)
  }

  private val vocabGen: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private val docGen: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, vocabGen)).map(_.mkString(" "))

  test("dedupLines equals the naive first-occurrence computation on random corpora") {
    for (i <- 0 until 4) {
      val texts = samples(Gen.listOfN(8, Gen.choose(1, 4)
        .flatMap(n => Gen.listOfN(n, vocabGen).map(_.mkString("\n")))), 1).head
        .zipWithIndex.map { case (t, j) => (j.toLong, t) }
      val got = graft.llm.Dedup.dedupLines(texts.toDF("id", "text"), "id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // naive: keep a line only at its global first (id, pos) sighting
      val seen = scala.collection.mutable.Set[String]()
      val want = texts.flatMap { case (id, t) =>
        val kept = t.split("\n").filter(l => seen.add(l))
        if (kept.isEmpty) None else Some(id -> kept.mkString("\n"))
      }.toMap
      assert(got == want, s"case $i: $texts")
    }
  }

  test("contaminationHits equals naive distinct-shingle intersection counting") {
    for (i <- 0 until 4) {
      val corpus = samples(Gen.listOfN(6, docGen), 1).head.zipWithIndex
        .map { case (t, j) => (j.toLong, t) }
      val bench = samples(Gen.listOfN(2, docGen), 1).head.zipWithIndex
        .map { case (t, j) => (100L + j, t) }
      def sh(t: String): Set[String] =
        t.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSet
      val benchGrams = bench.flatMap(b => sh(b._2)).toSet
      val want = corpus.map { case (id, t) => id -> (sh(t) & benchGrams).size.toLong }
        .filter(_._2 > 0).toMap
      val got = graft.llm.Dedup.contaminationHits(
        corpus.toDF("id", "text"), bench.toDF("id", "text"), "id", "text", n = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"case $i: corpus=$corpus bench=$bench")
    }
  }

  test("bloom semi/anti equal plain semi/anti on random key sets with nulls") {
    val nullableKeys: Gen[List[Option[Long]]] =
      Gen.choose(0, 25).flatMap(n => Gen.listOfN(n,
        Gen.frequency(9 -> Gen.choose(0L, 12L).map(Some(_)),
          1 -> Gen.const(Option.empty[Long]))))
    for (((l, r), i) <- samples(nullableKeys, 6)
        .zip(samples(nullableKeys, 6).reverse).zipWithIndex) {
      val left = l.zipWithIndex.map { case (k, j) => (j.toLong, k) }.toDF("id", "k")
      val right = r.toDF("k")
      val cols = left.columns.map(col).toIndexedSeq
      val wantSemi = left.join(right, Seq("k"), "left_semi").select(cols: _*)
        .collect().toSeq.map(_.toString).sorted
      val gotSemi = graft.join.Bloom.semiJoin(left, right, Seq("k"), 100)
        .collect().toSeq.map(_.toString).sorted
      assert(gotSemi == wantSemi, s"case $i semi: l=$l r=$r")
      val wantAnti = left.join(right, Seq("k"), "left_anti").select(cols: _*)
        .collect().toSeq.map(_.toString).sorted
      val gotAnti = graft.join.Bloom.antiJoin(left, right, Seq("k"), 100)
        .collect().toSeq.map(_.toString).sorted
      assert(gotAnti == wantAnti, s"case $i anti: l=$l r=$r")
    }
  }

  test("sessionize agrees with a sequential per-key fold on random timelines") {
    val timesGen: Gen[List[Long]] =
      Gen.choose(1, 15).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 60L)))
    for ((ts, i) <- samples(timesGen, 8).zipWithIndex) {
      val gap = 7L
      val df = ts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("id", "t")
      val got = graft.agg.GroupBy.sessionize(
          df.withColumn("u", lit(1L)), Seq("u"), "t", gap)
        .orderBy("t", "id").collect()
        .map(r => r.getLong(1) -> r.getLong(3))
      // reference folds over the INPUT times (not sessionize's own
      // output, which would mask dropped/duplicated rows)
      var (last, sess) = (Long.MinValue, 0L)
      val want = ts.sorted.map { t =>
        if (last == Long.MinValue || t - last > gap) sess += 1
        last = t; t -> sess
      }
      assert(got.toSeq == want, s"case $i ts=$ts")
    }
  }

  test("madOutlierFilter agrees with a naive driver-side median/MAD on random groups") {
    val valsGen: Gen[List[Double]] =
      Gen.choose(1, 20).flatMap(n => Gen.listOfN(n,
        Gen.choose(-50, 50).map(_.toDouble)))
    for ((vs, i) <- samples(valsGen, 6).zipWithIndex) {
      val df = vs.zipWithIndex.map { case (v, j) => ("g", j.toLong, v) }
        .toDF("g", "id", "v")
      val got = graft.quality.Quality
        .madOutlierFilter(df, Seq("g"), "v", k = 1.5)
        .select("id").as[Long].collect().toSet
      // naive: discrete median at rank ceil(n/2) of the sorted values
      def disc(xs: Seq[Double]): Double =
        xs.sorted.apply(math.ceil(xs.size / 2.0).toInt - 1)
      val med = disc(vs)
      val mad = disc(vs.map(x => math.abs(x - med)))
      val want = vs.zipWithIndex
        .filter { case (v, _) => math.abs(v - med) <= 1.5 * mad }
        .map(_._2.toLong).toSet
      assert(got == want, s"case $i vs=$vs med=$med mad=$mad")
    }
  }

  test("normalizePerKey zscore matches the exact-sum formula on random groups") {
    val valsGen: Gen[List[Double]] =
      Gen.choose(2, 15).flatMap(n => Gen.listOfN(n,
        Gen.choose(-1000, 1000).map(_ / 4.0))) // quarter steps: exact in (18,4)
    for ((vs, i) <- samples(valsGen, 6).zipWithIndex) {
      val df = vs.zipWithIndex.map { case (v, j) => ("g", j.toLong, v) }
        .toDF("g", "id", "v")
      val got = graft.agg.GroupBy.normalizePerKey(df, Seq("g"), "v", "zscore", "z")
        .orderBy("id").select("z").collect()
      val n = vs.size.toDouble
      val mean = vs.sum / n // quarter-step values: sums are exact doubles
      val variance = vs.map(x => x * x).sum / n - mean * mean
      if (variance <= 0)
        assert(got.forall(_.isNullAt(0)), s"case $i vs=$vs")
      else
        vs.zip(got).foreach { case (v, r) =>
          val want = (v - mean) / math.sqrt(variance)
          assert(math.abs(r.getDouble(0) - want) < 1e-9, s"case $i v=$v vs=$vs")
        }
    }
  }

  test("rollingByTime agrees with a naive O(n^2) frame scan on random timelines") {
    val evGen: Gen[List[(Long, Double)]] =
      Gen.choose(1, 15).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 40L), Gen.choose(0, 100).map(_ / 4.0))))
    for ((ev, i) <- samples(evGen, 6).zipWithIndex) {
      val look = 10L
      val df = ev.zipWithIndex.map { case ((t, v), j) => (1L, j.toLong, t, v) }
        .toDF("u", "id", "t", "v")
      val got = graft.agg.GroupBy.rollingByTime(df, Seq("u"), "t", "v", look)
        .select("id", "roll_n", "roll_sum").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      ev.zipWithIndex.foreach { case ((t, _), j) =>
        val frame = ev.filter { case (t2, _) => t2 >= t - look && t2 <= t }
        val want = (frame.size.toLong, frame.map(_._2).sum)
        assert(got(j.toLong) == want, s"case $i ev=$ev row=$j")
      }
    }
  }

  test("packSequences reconstructs the corpus: texts and token totals conserved") {
    val docGen2: Gen[List[(String, Long)]] =
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.alphaLowerStr.map(_.take(5) + "x"), Gen.choose(1L, 9L))))
    for ((docs, i) <- samples(docGen2, 6).zipWithIndex) {
      val df = docs.zipWithIndex.map { case ((txt, tok), j) =>
        ("g", j.toLong, txt, tok) }.toDF("grp", "id", "text", "tok")
      val seqs = graft.llm.Sampling.packSequences(df, Seq("grp"), "id",
        "tok", "text", budget = 10L)
        .orderBy("shard").collect()
      // every document appears exactly once, in id order across shards
      val rebuilt = seqs.flatMap(_.getString(2).split("<eos>", -1)).toSeq
      assert(rebuilt == docs.map(_._1), s"case $i docs=$docs")
      assert(seqs.map(_.getLong(3)).sum == docs.map(_._2).sum, s"case $i")
      assert(seqs.map(_.getLong(4)).sum == docs.size.toLong, s"case $i")
    }
  }

  test("stripHtml on generated markup: no tags survive, inner text is preserved in order") {
    import org.apache.spark.sql.functions.col
    val word = Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
    val tag = Gen.oneOf("p", "div", "SPAN", "b")
    val piece = Gen.oneOf(
      word.map(w => (s"<!-- $w -->", "")),
      Gen.zip(tag, word).map { case (t, w) => (s"<$t>$w</$t>", w) },
      Gen.zip(Gen.oneOf("script", "SCRIPT", "style"), word)
        .map { case (t, w) => (s"<$t>var $w=1;</$t>", "") },
      word.map(w => (w, w)))
    val docGen = Gen.listOfN(6, piece)
    for (pieces <- samples(docGen, 12)) {
      val html = pieces.map(_._1).mkString(" ")
      val expected = pieces.map(_._2).filter(_.nonEmpty).mkString(" ")
      val got = Seq(html).toDF("t")
        .select(graft.llm.TextAnalysis.stripHtml(col("t")))
        .collect()(0).getString(0)
      assert(got == expected, s"html=$html")
      assert(!got.matches(".*<[a-zA-Z!/][^>]*>.*"), s"tag survived in: $got")
    }
  }

  test("extractDomain recovers the generated host through scheme/case/userinfo/port/path noise") {
    import org.apache.spark.sql.functions.col
    val hostGen = Gen.listOfN(2, Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString))
      .map(_.mkString("."))
    val urlGen = for {
      host <- hostGen
      scheme <- Gen.oneOf("http", "HTTPS", "ftp")
      www <- Gen.oneOf("", "www.", "WWW.")
      user <- Gen.oneOf("", "u@", "u:pw@")
      port <- Gen.oneOf("", ":80", ":8443")
      path <- Gen.oneOf("", "/", "/a/b?q=1#f")
    } yield (s"$scheme://$user$www$host$port$path", host)
    for ((url, host) <- samples(urlGen, 40)) {
      val got = Seq(url).toDF("u")
        .select(graft.llm.TextAnalysis.extractDomain(col("u")))
        .collect()(0).getString(0)
      assert(got == host, s"url=$url")
    }
  }

  test("chunkByTokens covers every token; consecutive chunks overlap as configured") {
    for (doc <- samples(docGen.suchThat(_.nonEmpty), 6)) {
      val toks = doc.split("\\s+").toSeq
      val out = graft.llm.TextAnalysis.chunkByTokens(
        Seq((1L, doc)).toDF("id", "text"), "id", "text", chunkTokens = 4, overlap = 2)
        .orderBy("chunk_id").collect().map(_.getString(2))
      // re-derive the token stream: drop the 2-token overlap after chunk 0
      val rebuilt = out.head.split(" ").toSeq ++
        out.tail.toSeq.flatMap(c => c.split(" ").toSeq.drop(2))
      assert(rebuilt == toks, s"doc=$doc chunks=${out.toSeq}")
    }
  }
}
