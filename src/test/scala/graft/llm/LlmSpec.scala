package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LlmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("minHashSignature: column form replays the permutation " +
    "formula (min over (2i+1)h + 12582917i + 1 mod P)") {
    val sig = Seq(Tuple1(Seq(10L, 20L)))
      .toDF("h")
      .select(Dedup.minHashSignature(col("h"), k = 2).as("s"))
      .head.getSeq[Long](0)
    // i=0: min(h+1) = 11; i=1: min(3h + 12582918) = 12582948 (no wrap)
    assert(sig == Seq(11L, 12582948L))
  }

  test("minHashSignatures: aggregation form equals the column form " +
    "on the same hashed shingles; thin docs produce no signature") {
    val d = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox leaps"), (3L, "too short")).toDF("id", "t")
    val viaAgg = Dedup.minHashSignatures(d, "id", "t", k = 8, shingleN = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = d
      .select(col("id"), Dedup.hashedShingles(col("t"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), Dedup.minHashSignature(col("sh"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg == viaCol)
    assert(viaAgg.keySet == Set(1L, 2L)) // "too short" has no 3-shingle
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy cat", "a"), // near-dup of 1
    (3L, "completely different text about spark engines here", "a"),
    (4L, "the quick brown fox jumps over the lazy dog", "b")) // exact dup of 1
    .toDF("id", "text", "grp")

  test("exact dedup keeps min-id representative per key") {
    val out = Dedup.exact(docs, Seq("text"), "id")
    assert(out.count() == 3)
    assert(out.filter(col("id") === 4L).count() == 0) // 4 collapses into 1
  }

  test("shingles: n-grams distinct, short docs yield empty set") {
    val sh = Seq(("a b c d", 1), ("a b", 2)).toDF("t", "i")
      .select(Dedup.shingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(sh(0) == Set("a b c", "b c d"))
    assert(sh(1) == Set.empty)
  }

  test("minhash LSH finds planted near-dups and exact dups, skips distinct docs") {
    val pairs = Dedup.minHashDedup(docs, "id", "text",
      k = 32, bands = 8, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs equal, near-dups close in hamming") {
    val hs = docs.select(col("id"), Dedup.simHash(col("text"), 16).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 6)
    assert(ham(hs(1L), hs(2L)) < ham(hs(1L), hs(3L)))
  }

  test("simHashSignatures (hash-once aggregate form) matches the Column form") {
    val expr = docs.select(col("id"), Dedup.simHash(col("text"), 16).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggd = Dedup.simHashSignatures(docs, "id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == aggd)
  }

  test("hammingPairs: generic banded pairing over full-64-bit signatures, nulls excluded") {
    // bit 63 set -> negative longs: band extraction and bit_count(xor)
    // must treat the signature as a bit pattern, not a number
    val sigs = Seq(
      (1L, Some(-1L)),  // all 64 bits set
      (2L, Some(-2L)),  // hamming 1 from id 1
      (3L, Some(0L)),   // hamming 64 from id 1
      (4L, None)        // undecodable -> excluded, not crashed on
    ).toDF("id", "sig")
    val pairs = Dedup.hammingPairs(sigs, "id", "sig",
        bits = 64, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1)))
  }

  test("simHashPairs still matches the naive all-pairs join after the hammingPairs refactor") {
    val sigs = Dedup.simHashSignatures(docs, "id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val naive = (for {
      (i1, s1) <- sigs; (i2, s2) <- sigs if i1 < i2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (i1, i2, h)).toSet
    val banded = Dedup.simHashPairs(docs, "id", "text",
        bits = 16, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == naive && naive.nonEmpty)
  }

  test("ngram jaccard pairs respect blocking columns") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text",
      blockCols = Seq("grp"), shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 1-4 cross blocks; 3 not similar
  }

  test("LSH hot-bucket cap bounds candidate pairs for mass-duplicated docs") {
    // 1200 identical docs: every band bucket holds all 1200 → uncapped
    // LSH would emit ~719k distinct pairs. With the cap the degenerate
    // buckets are dropped entirely (recall trade, documented).
    val mass = (0 until 1200).map(i => (i.toLong, "the same boilerplate page text here"))
      .toDF("id", "text")
    val capped = Dedup.minHashCandidates(mass, "id", "text",
      k = 32, bands = 8, shingleN = 3, maxBucketSize = 100)
    assert(capped.count() == 0)
    // a healthy corpus is untouched by the default cap
    val pairs = Dedup.minHashCandidates(docs, "id", "text", k = 32, bands = 8, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("prefix-filtered jaccard join equals naive all-pairs on a generated corpus") {
    // 60 docs from a small vocabulary (forces shared shingles and many
    // near-boundary jaccards), incl. planted near-dups and short docs.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val texts = (0 until 60).map { i =>
      val len = 4 + (i * 7) % 9
      val base = (0 until len).map(k => vocab((i * 3 + k * 5) % vocab.size))
      val mutated = if (i % 4 == 0) base.updated(0, vocab((i + 1) % vocab.size)) else base
      (i.toLong, mutated.mkString(" "), (i % 2).toString)
    }
    val df = texts.toDF("id", "text", "grp")
    val fast = Dedup.ngramJaccardPairs(df, "id", "text",
      blockCols = Seq("grp"), shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Naive oracle: per-block all-pairs over the same hashed shingle sets.
    val sh = df.select(col("grp"), col("id"),
      Dedup.hashedShingles(col("text"), 3).as("sh"))
    val naive = sh.as("a").join(sh.as("b"),
        col("a.grp") === col("b.grp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == naive)
    assert(naive.nonEmpty) // the corpus really planted qualifying pairs
  }

  test("containmentPairs equals naive all-pairs; asymmetry holds") {
    // planted containments: doc i contained in doc i+20 (a superset
    // text), plus the shared-vocabulary noise of the jaccard corpus
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = (0 until 20).map { i =>
      val len = 4 + (i * 5) % 7
      (i.toLong,
        (0 until len).map(k => vocab((i * 3 + k) % vocab.size)).mkString(" "))
    }
    val supers = base.map { case (i, t) =>
      (i + 20, t + " " + vocab((i.toInt + 2) % vocab.size) + " " +
        vocab((i.toInt + 4) % vocab.size) + " " + t)
    }
    val df = (base ++ supers).toDF("id", "text")
    val fast = Dedup.containmentPairs(df, "id", "text",
      shingleN = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // naive oracle over the same hashed shingle sets
    val sh = df.select(col("id"),
      Dedup.hashedShingles(col("text"), 2).as("sh"))
    val naive = sh.as("a").join(sh.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("s"), col("b.id").as("d"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
          .as("o"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(col("a.sh")).cast("double")).as("c"))
      .filter(col("c") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(fast == naive)
    // every planted (i, i+20) is found with containment 1.0, and the
    // reverse direction is NOT fully contained (supersets are bigger)
    (0L until 20L).foreach { i =>
      assert(fast.exists(p => p._1 == i && p._2 == i + 20 && p._4 == 1.0),
        s"missing planted containment $i -> ${i + 20}")
    }
    assert(naive.nonEmpty)
  }

  // Each components pin runs on both finishes: the default (these
  // graphs are small enough for the driver finish) and cap = 0, which
  // forces the distributed label-propagation loop.
  private val finishes: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "driver" -> ((p, n) => Dedup.components(p, maxIter = n)),
    "loop" -> ((p, n) => Dedup.components(p, "id1", "id2", n, 0L)))

  test("connected components: chains collapse to min-id clusters") {
    // two clusters — a 5-node PATH (worst case for label propagation:
    // needs diameter rounds) and a 2-node pair — plus untouched ids
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L))
      .toDF("id1", "id2")
    for ((finish, components) <- finishes) {
      val comp = components(pairs, 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(comp(_) == 1L), finish)
      assert(comp(10L) == 10L && comp(11L) == 10L, finish)
      assert(comp.size == 7, finish) // only ids appearing in pairs
      // maxIter bounds the loop's rounds (partial labels are safe);
      // with pointer jumping one round covers 4 hops (init fuses hop
      // 1, the neighbor-min adds one, the label-of-label shortcut
      // doubles), so the 5-path fully collapses in ONE round. The
      // driver finish ignores maxIter: it always converges.
      val bounded = components(pairs, 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bounded(5L) == 1L, finish)
    }
  }

  test("connected components: a LONG path (diameter past the default " +
    "maxIter) converges with linear plan growth — the round-14 " +
    "exponential-lineage / broken-observe regression pin") {
    // 35-node path: needs ~34 propagation rounds. Before round 14 this
    // (a) OOM'd the driver — each round's logical plan embedded the
    // previous TWICE (2^rounds tree) — and (b) stopped early at the
    // true convergence signal: the observe() metric on a lazily-
    // checkpointed plan resolved 0 while labels were still changing.
    val pairs = (1 until 35)
      .map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    for ((finish, components) <- finishes) {
      val comp = components(pairs, 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 35L).forall(comp(_) == 1L), s"$finish: ${comp.toSeq.sorted.take(8)}")
    }
  }

  test("connected components: the driver finish runs the 35-node path " +
    "in at most 3 jobs; the loop runs one or more per round") {
    // ids no other test uses: a leaked edge cache from an earlier
    // test's identical plan would be reused and hide a leak here
    val pairs = (1 until 35)
      .map(i => (i + 9000L, i + 9001L)).toDF("id1", "id2")
    // (jobs run, RDDs still persisted afterwards)
    val (driver, driverLeft) = TestSpark.jobsDuring(Dedup.components(pairs, maxIter = 64))
    val (loop, loopLeft) = TestSpark.jobsDuring(Dedup.components(pairs, "id1", "id2", 64, 0L))
    assert(driver >= 1 && driver <= 3, s"driver finish ran $driver jobs")
    assert(loop > 3, s"loop ran $loop jobs")
    // lifecycle: the edge list is released on both paths; only the
    // loop's returned checkpoint stays persisted
    assert(driverLeft.isEmpty, driverLeft)
    assert(loopLeft.size == 1, loopLeft)
  }

  test("connected components: a lazily-checkpointed UPSTREAM edge " +
    "frame survives the loop's per-round block drops — the round-15 " +
    "gridClusters regression pin") {
    // Before round 15's fix, the loop's checkpoint-block release
    // matched the FIRST LogicalRDD anywhere in the label plan — for
    // an edge list built on a checkpointed input (exactly what
    // Spatial.gridClusters feeds in on its loop path, when the dense
    // cells overflow its driver finish) that was the INPUT's checkpoint,
    // and dropping its blocks killed every later round with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The path needs >2 rounds so
    // the upstream frame is re-read after the first drop, and the
    // downstream join re-reads it after components returns.
    for ((finish, components) <- finishes) {
      val upstream = (1 until 12)
        .map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
        .localCheckpoint(false)
      val comp = components(upstream, 64)
      val joined = comp.join(upstream, comp("node") === upstream("id1"))
        .count() // upstream blocks must still exist here
      assert(joined == 11L, finish)
      val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 12L).forall(labels(_) == 1L), finish)
    }
  }

  test("dropNearDuplicates keeps the min-id doc per cluster plus unpaired docs") {
    val pairs = Seq((2L, 1L), (2L, 4L)).toDF("id1", "id2") // cluster {1,2,4}
    val out = Dedup.dropNearDuplicates(docs, pairs, "id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L)) // 1 is canonical; 3 was never paired
  }

  test("cosine similarity and brute-force top-k ordering") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L, 2L, 3L)) // by descending cosine
  }

  test("hardNegatives: band excludes positives and floor, self excluded, k cut") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // query
      (1L, Array(0.99f, 0.14f, 0.0f)), // near-dup: cos ≈ .990 — above band
      (2L, Array(1.0f, 1.0f, 0.0f)),   // cos ≈ .707 — above band
      (3L, Array(1.0f, 2.0f, 0.0f)),   // cos ≈ .447 — IN band
      (4L, Array(1.0f, 4.0f, 0.0f)),   // cos ≈ .243 — IN band
      (5L, Array(0.0f, 1.0f, 0.0f)),   // cos = 0 — below floor
      (6L, Array(-1.0f, 0.0f, 0.0f))   // cos = −1 — below floor
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 5, maxCos = 0.5, minCos = 0.1)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 4L)) // band only, cos desc
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(out.forall(r => { val c = r.getDouble(3); c >= 0.1 && c < 0.5 }))
    // k cut: with a wide-open band the self row still never appears
    val all = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 3, maxCos = 1.1, minCos = -1.0)
      .collect()
    assert(all.length == 3 && !all.map(_.getLong(2)).contains(0L))
  }

  test("centroidSilhouette: firmly-placed points score 1, a " +
    "mis-clustered point scores -1, single cluster nulls") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f)),
      (3L, 0, Array(0.0f, 1.0f)), // belongs with cluster 1
      (4L, 1, Array(0.0f, 1.0f)), (5L, 1, Array(0.0f, 1.0f)))
      .toDF("vec_id", "cluster", "embedding")
    val out = graft.llm.Similarity
      .centroidSilhouette(vecs, "vec_id", "embedding", "cluster")
      .collect().map(r => r.getLong(0) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    // point 3 sits EXACTLY on cluster 1's centroid: b = 0, a > 0 ->
    // s = -1; points 4/5 likewise on their own centroid: a = 0 -> 1
    assert(out(4L).get == 1.0 && out(5L).get == 1.0)
    assert(out(3L).get == -1.0)
    // points 1/2: own centroid pulled off-axis by point 3, other
    // centroid orthogonal -> strongly positive but below 1
    assert(out(1L).get > 0.5 && out(1L).get < 1.0)
    assert(out(2L).get == out(1L).get)
    // single cluster: no other centroid -> null silhouette
    val solo = graft.llm.Similarity.centroidSilhouette(
      vecs.filter($"cluster" === 0), "vec_id", "embedding", "cluster")
      .collect()
    assert(solo.forall(_.isNullAt(4)))
  }

  test("centroidSilhouette: ragged vector lengths fail fast with a " +
    "diagnostic (a short cluster's centroid would silently null " +
    "every comparison)") {
    val ragged = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f, 0.5f)),
      (3L, 1, Array(0.0f, 1.0f))).toDF("vec_id", "cluster", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Similarity.centroidSilhouette(
        ragged, "vec_id", "embedding", "cluster")
    }
    assert(e.getMessage.contains("uniform vector length") &&
      e.getMessage.contains("2..3"))
  }

  test("prototypePrune: per-cluster rank by centroid cosine, exact knife-edge drop") {
    // two clean clusters on the axes; within each, vectors at growing
    // angles from the centroid — prototypicality order is by angle
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.2f)), (2L, Array(1.0f, 0.6f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.3f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = Similarity.prototypePrune(vecs, "vec_id", "embedding",
        cents, dropNum = 1, dropDen = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // cluster 0 has n=3: rank*2 > 3 keeps ranks 2,3 — the knife edge
    // drops ONLY rank 1 (the most prototypical, vec 0)
    assert(out(0L) == (0L, 1L, 3L, false))
    assert(out(1L) == (0L, 2L, 3L, true))
    assert(out(2L) == (0L, 3L, 3L, true))
    // cluster 1 has n=2: rank*2 > 2 keeps rank 2 only
    assert(out(10L) == (1L, 1L, 2L, false))
    assert(out(11L) == (1L, 2L, 2L, true))
    // dropNum = 0 keeps everything
    val keepAll = Similarity.prototypePrune(vecs, "vec_id", "embedding",
      cents, dropNum = 0, dropDen = 2).collect()
    assert(keepAll.forall(_.getBoolean(4)))
  }

  test("rrfFuse: consensus outranks single-source heads, exact 1/(k+r) sums") {
    // query 1: doc 5 is #1 lexically but absent semantically; doc 6 is
    // mid-rank in BOTH sources — consensus must win under RRF
    val lex = Seq((1L, 5L, 1L), (1L, 6L, 2L), (1L, 7L, 3L))
      .toDF("qid", "id", "rank")
    val sem = Seq((1L, 6L, 2L), (1L, 8L, 1L), (1L, 7L, 10L))
      .toDF("qid", "id", "rank")
    val out = Similarity.rrfFuse(Seq(lex, sem), "qid", "id", "rank",
        kRrf = 60, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._3)
    def c(r: Long) = 1.0 / (60.0 + r.toDouble)
    // doc6: 1/62 + 1/62 ≈ .0323 beats doc5's single 1/61 ≈ .0164
    assert(out.map(_._1).toSeq == Seq(6L, 7L, 5L, 8L))
    assert(out(0)._2 == c(2) + c(2))        // fold order: lex then sem
    assert(out(1)._2 == c(3) + c(10))       // doc7 in both
    assert(out(2)._2 == c(1))               // doc5 lex-only
    assert(out(3)._2 == c(1))               // doc8 sem-only — TIES doc5
    // equal scores tie-break by id: doc5 (id 5) before doc8 (id 8)
    assert(out(2)._1 < out(3)._1)
  }

  test("lsh buckets: identical vectors share a bucket; topk subsets brute force") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-5.0f, 1.0f, -2.0f))).toDF("vec_id", "embedding")
    val buckets = vecs.select(Similarity.lshBuckets(col("embedding"), 8, dims = 3).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets(0) == buckets(1))
    val ann = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 2, bits = 8, dims = 3)
      .collect().map(_.getLong(2)).toSet
    assert(ann.contains(1L))
  }

  test("IVF top-k: clustered probe recovers exact neighbors on separable data") {
    // Two well-separated clusters around (10,0,0) and (0,10,0).
    val vecs = ((0 until 10).map(i => (i.toLong, Array(10f + i * 0.1f, i * 0.05f, 0f))) ++
      (10 until 20).map(i => (i.toLong, Array(0f, 10f + i * 0.1f, i * 0.05f))))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id").isin(0L, 15L))
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nlist = 2, nprobe = 1, iters = 3, dims = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ivf.toSet == exact.toSet) // probing 1 of 2 clean clusters is lossless
    // all neighbors of query 0 come from its own cluster
    assert(ivf.filter(_._1 == 0L).forall(_._3 < 10L))
  }

  test("IVF centroids are bit-identical across partitioning (exact decimal means)") {
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 31 + d * 7) % 13 - 6) / 3.0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.ivfCentroids(vecs.repartition(1), "vec_id", "embedding",
      nlist = 4, iters = 2, dims = 4)
    val b = Similarity.ivfCentroids(vecs.repartition(7), "vec_id", "embedding",
      nlist = 4, iters = 2, dims = 4)
    assert(a.flatten.map(java.lang.Double.doubleToLongBits).toSeq ==
      b.flatten.map(java.lang.Double.doubleToLongBits).toSeq)
    // pre-trained quantizer path gives the same answer as the one-shot API
    val q = vecs.filter(col("vec_id") < 2)
    val viaWith = Similarity.ivfTopKWith(vecs, q, "vec_id", "embedding",
      k = 2, centroids = a, nprobe = 2).collect().toSet
    val oneShot = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      k = 2, nlist = 4, nprobe = 2, iters = 2, dims = 4).collect().toSet
    assert(viaWith == oneShot)
  }

  test("streaming dedup drops repeated keys within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val t0 = new java.sql.Timestamp(1700000000000L)
    val deduped = graft.streaming.Streaming.dedupStream(
      stream.toDF.toDF("k", "ts"), Seq("k"), "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    stream.addData((1L, t0), (1L, t0), (2L, t0))
    q.processAllAvailable()
    stream.addData((1L, t0), (3L, t0)) // 1 repeats across batches → dropped
    q.processAllAvailable(); q.stop()
    val ks = spark.sql("SELECT k FROM dedup_stream").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq == Seq(1L, 2L, 3L))
  }

  test("text analysis: counts, ratios, langid, fingerprint determinism") {
    val df = Seq("the cat and the dog, el perro!").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.uniqueTokenCount(col("text")).as("u"),
      TextAnalysis.bpeTokenCount(col("text")).as("b"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()(0)
    assert(r.getAs[Long]("n") == 7L)
    assert(r.getAs[Long]("u") == 6L)   // "the" twice
    assert(r.getAs[Long]("b") == 9L)   // 7 words + comma + bang
    assert(r.getAs[String]("lang") == "en") // "the"+"and" beat "el"
    // deterministic across evaluations
    val fp2 = df.select(TextAnalysis.fingerprint(col("text"))).collect()(0).getLong(0)
    assert(r.getAs[Long]("fp") == fp2)
  }

  test("noveltyRate: hand-derived df=1 fractions, short docs emit no row") {
    val corpus = Seq(
      (1L, "a b c d e f"),       // grams: abcde, bcdef
      (2L, "a b c d e"),         // gram:  abcde  (shared with doc 1)
      (3L, "x y z w v"),         // gram:  xyzwv  (unique)
      (4L, "too short")          // < 5 tokens: no grams, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyRate(corpus, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 1L, 0.5)))  // bcdef novel, abcde shared
    assert(out(2L) == ((1L, 0L, 0.0)))
    assert(out(3L) == ((1L, 1L, 1.0)))
    // repeated gram within ONE doc still has df=1: every occurrence novel
    val rep = Seq((1L, "p q r s t p q r s t p q r s t")).toDF("doc_id", "text")
    val r1 = TextAnalysis.noveltyRate(rep, "doc_id", "text", n = 5)
      .collect()(0)
    assert(r1.getLong(1) == 11L && r1.getLong(2) == 11L)
  }

  test("token stats ignore whitespace split artifacts (empty/leading/trailing)") {
    // split() artifacts: "" → [""], leading/trailing runs add empty
    // tokens. The statistics family must count REAL tokens only, and
    // whitespace-variant texts must share one fingerprint.
    val df = Seq("", "   ", "a b", " a b", "a b ", "\ta  b\n").toDF("text")
    val rows = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.uniqueTokenCount(col("text")).as("u"),
      TextAnalysis.meanTokenLength(col("text")).as("m"),
      TextAnalysis.stopwordRatio(col("text"), Seq("a")).as("s"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(0L, 0L, 2L, 2L, 2L, 2L))
    assert(rows.map(_.getAs[Long]("u")).toSeq == Seq(0L, 0L, 2L, 2L, 2L, 2L))
    assert(rows.map(_.getAs[Double]("m")).toSeq == Seq(0.0, 0.0, 1.0, 1.0, 1.0, 1.0))
    assert(rows.map(_.getAs[Double]("s")).toSeq == Seq(0.0, 0.0, 0.5, 0.5, 0.5, 0.5))
    assert(rows.drop(2).map(_.getAs[Long]("fp")).distinct.length == 1)
  }

  test("text cleaning: normalize, PII redaction, repetition ratio") {
    val r = Seq("  Mail me\tat Bob.Smith+x@corp.example.COM  or call +1 (555) 123-4567 NOW  ")
      .toDF("text")
      .select(
        TextAnalysis.normalize(col("text")).as("n"),
        TextAnalysis.redactPii(col("text")).as("p")).collect()(0)
    assert(r.getString(0) == "mail me at bob.smith+x@corp.example.com or call +1 (555) 123-4567 now")
    assert(r.getString(1).contains("<EMAIL>") && r.getString(1).contains("<PHONE>"))
    assert(!r.getString(1).contains("corp.example"))
    val rep = Seq(
      ("a b c a b c a b c", "loopy"),   // "a b c" repeats
      ("all words here are different ones", "clean"),
      ("x", "short"))
      .toDF("text", "kind")
      .select(col("kind"), TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(rep("loopy") > 0.5)
    assert(rep("clean") == 0.0)
    assert(rep("short") == 0.0) // sub-n text: defined 0, no divide-by-zero
  }

  test("repetition concentration: top-ngram and dup-ngram char fractions, hand-computed") {
    val rows = Seq(
      // 2-grams: "a b"x3, "b a"x2 -> top = "a b", 3 occurrences x 3 chars over 11 chars
      (1L, "a b a b a b"),
      // counts tie at 2: "aa b" (len 4) vs "c d" (len 3); lexicographically
      // smallest wins -> "aa b", 2 x 4 chars over 17
      (2L, "aa b aa b c d c d"),
      (3L, "all words here are different ones"),
      (4L, "x")) // sub-n text: defined 0, no divide-by-zero
      .toDF("id", "text")
    val out = rows.select(col("id"),
        TextAnalysis.topNgramCharFraction(col("text"), 2).as("top2"),
        TextAnalysis.dupNgramCharFraction(col("text"), 1).as("dup1"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 9.0 / 11)
    assert(out(2L)._1 == 8.0 / 17)
    // every 2-gram unique -> count 1; smallest gram "all words" (9 chars) / 33
    assert(out(3L)._1 == 9.0 / 33)
    assert(out(4L) == ((0.0, 0.0)))
    // dup 1-grams of doc 1: "a"x3 + "b"x3 -> 6 duplicated chars / 11
    assert(out(1L)._2 == 6.0 / 11)
    assert(out(3L)._2 == 0.0) // all distinct words -> nothing duplicated
  }

  test("web cleaning: HTML strip, domain extraction, blocklist, NFC composition") {
    val html = "<html><!-- note --><head><script>if (a < b) { x(); }</script>" +
      "<STYLE>.c { }</STYLE></head><body><h1>Title</h1>Fish &amp; chips " +
      "<SCRIPT>track();</SCRIPT>" +
      "&lt;b&gt; &amp;lt;literal&amp;gt; &#39;q&#39;&nbsp;end</body></html>"
    val stripped = Seq(html).toDF("t")
      .select(TextAnalysis.stripHtml(col("t"))).collect()(0).getString(0)
    // script/style CONTENT dropped (even with a '<' inside, even
    // UPPERCASE legacy tags), entities decoded once: double-escaped
    // "&amp;lt;" surfaces as the TEXT "&lt;"
    assert(stripped == "Title Fish & chips <b> &lt;literal&gt; 'q' end")

    val doms = Seq(
      ("https://www.EXample.com/path?q=1", "strip-www-lower"),
      ("http://sub.site.org:8080/x", "keep-sub-drop-port"),
      ("ftp://files.host.net/f", "any-scheme"),
      ("https://user:pw@spam.bad:8443/x", "strip-userinfo-port"),
      ("https://x@y@spam.bad/z", "strip-double-at"),
      ("https://spam.bad:80x/z", "strip-garbage-port"),
      ("https://[::1]:8080/admin", "ipv6-literal-port"),
      ("http://u@[2001:db8::1]/x", "ipv6-literal-userinfo"),
      ("not a url", "unparsable"),
      (null, "null"))
      .toDF("url", "kind")
      .select(col("kind"), TextAnalysis.extractDomain(col("url")).as("d"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(doms("strip-www-lower").contains("example.com"))
    assert(doms("keep-sub-drop-port").contains("sub.site.org"))
    assert(doms("any-scheme").contains("files.host.net"))
    assert(doms("strip-userinfo-port").contains("spam.bad"))
    // WHATWG-lenient resolution targets: both must land on spam.bad
    assert(doms("strip-double-at").contains("spam.bad"))
    assert(doms("strip-garbage-port").contains("spam.bad"))
    assert(doms("unparsable").isEmpty && doms("null").isEmpty)
    // bracketed IPv6 literals have no registered domain: null, never a
    // mangled '[' key (the port strip would otherwise cut inside the
    // bracket host)
    assert(doms("ipv6-literal-port").isEmpty)
    assert(doms("ipv6-literal-userinfo").isEmpty)

    val kept = TextAnalysis.domainBlocklistFilter(
      Seq("https://spam.bad/x", "https://evil@spam.bad/y",
        "https://ok.good/y", "garbage")
        .toDF("url"), "url", Seq("SPAM.BAD"))
      .collect().map(_.getString(0)).toSet
    // blocklist is case-normalized, immune to the userinfo bypass
    // (https://x@spam.bad must NOT slip through); unparsable rows KEPT
    assert(kept == Set("https://ok.good/y", "garbage"))
    // keepDomainAs retains the single-derivation column
    val withDom = TextAnalysis.domainBlocklistFilter(
      Seq("https://a.site/x").toDF("url"), "url", Nil,
      keepDomainAs = Some("domain")).collect()(0)
    assert(withDom.getString(1) == "a.site")

    val nfc = Seq("cafe\u0301 e\u0301 A\u030A plain", null).toDF("t")
      .select(TextAnalysis.nfcNormalize(col("t"))).collect()
    // DECOMPOSED combining marks compose: 3 marks disappear into
    // caf\u00e9 / \u00e9 / \u00c5 and the ASCII tail is untouched
    assert(nfc(0).getString(0) == "caf\u00e9 \u00e9 \u00c5 plain")
    assert(nfc(0).getString(0).length == 14)
    assert(nfc(1).isNullAt(0))
  }

  test("rareTokenRatio: hand-computed corpus frequencies, empty docs score rare (1.0)") {
    val corpus = Seq((1L, "a a b"), (2L, "a c"), (3L, "a b d"), (4L, ""))
      .toDF("doc_id", "text")
    // dfs: a->3, b->2, c->1, d->1, ""->1 (empty text tokenizes to one
    // empty token; its df is 1 so it counts rare — matching the oracle
    // and the documented lowest-quality score for empty docs)
    val r = TextAnalysis.rareTokenRatio(corpus, "doc_id", "text", minDf = 2L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 0L, 0.0)))
    assert(r(2L) == ((2L, 1L, 0.5)))
    assert(r(3L) == ((3L, 1L, 1.0 / 3.0)))
    assert(r(4L)._3 == 1.0) // single rare empty-string token
  }

  test("quality score rewards running text over punctuation soup") {
    val r = Seq(
      ("the cat is on the mat and it is happy with this that", "good"),
      ("!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "bad"))
      .toDF("text", "kind")
      .select(col("kind"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r("good") > r("bad"))
  }

  test("ANSI guards: empty docs in jaccard blocks don't throw DIVIDE_BY_ZERO") {
    // Two sub-shingle-length docs sharing a block: both shingle sets are
    // empty, the size prefilter passes them, and an unguarded 0/0 would
    // kill the query under Spark 4's default ANSI mode.
    val tiny = Seq((1L, "a b", "x"), (2L, "c", "x"), (3L, "", "x")).toDF("id", "text", "grp")
    val pairs = Dedup.ngramJaccardPairs(tiny, "id", "text",
      blockCols = Seq("grp"), shingleN = 3, threshold = 0.5).collect()
    assert(pairs.isEmpty) // empty sets are NOT similar (jaccard = 0.0)
    assert(Seq(("", "")).toDF("a", "b")
      .select(Dedup.jaccard(Dedup.shingles(col("a")), Dedup.shingles(col("b"))))
      .collect()(0).getDouble(0) == 0.0)
  }

  test("vector utilities: unit-norm and int8 quantization round-trip") {
    val df = Seq(Array(3.0, 4.0, 0.0), Array(0.0, 0.0, 0.0)).toDF("v")
    val out = df.select(
      Similarity.normalizeVec(col("v")).as("u"),
      Similarity.quantizeInt8(col("v")).as("qz")).collect()
    val u = out(0).getSeq[Double](0)
    assert(math.abs(math.sqrt(u.map(x => x * x).sum) - 1.0) < 1e-12)
    assert(out(1).getSeq[Double](0) == Seq(0.0, 0.0, 0.0)) // zero vec unchanged
    val qz = out(0).getStruct(1)
    val q = qz.getSeq[Int](0); val scale = qz.getDouble(1)
    assert(q == Seq(95, 127, 0)) // 3/4*127 rounded, 127, 0
    // dequantized cosine close to original
    val deq = q.map(_ * scale)
    val cos = deq.zip(Seq(3.0, 4.0, 0.0)).map { case (a, b) => a * b }.sum /
      (math.sqrt(deq.map(x => x * x).sum) * 5.0)
    assert(cos > 0.999)
    assert(out(1).getStruct(1).getDouble(1) == 0.0) // zero vec scale
  }

  test("quantizedTopK equals bruteForceTopK when candidates cover the corpus") {
    val rnd = new scala.util.Random(99L)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // candidates = corpus size: the coarse cut removes nothing, so the
    // re-rank must reproduce brute force exactly
    val full = Similarity.quantizedTopK(vecs, queries, "vec_id", "embedding",
      k = 5, candidates = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact)
    // a tight cut keeps the contract shape: 5 ranked rows per query
    val tight = Similarity.quantizedTopK(vecs, queries, "vec_id", "embedding",
      k = 5, candidates = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight.length == 4 * 5 &&
      tight.groupBy(_._1).values.forall(_.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("ANSI guards: empty text metrics and zero-norm cosine don't throw") {
    val r = Seq("").toDF("text").select(
      TextAnalysis.punctRatio(col("text")).as("p"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(!r.getDouble(1).isNaN)
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f), 0), // zero vector: norm = 0
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    assert(vecs.select(Similarity.cosine(
      col("embedding").cast("array<double>"), col("embedding").cast("array<double>")))
      .collect().forall(!_.getDouble(0).isNaN)) // 0-vec scores 0.0, not 0/0
    // float arrays work WITHOUT an explicit cast (kernel coerces)
    assert(vecs.filter(col("vec_id") === 1L)
      .select(Similarity.cosine(col("embedding"), col("embedding")))
      .collect()(0).getDouble(0) == 1.0)
    val topk = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 2).collect()
    assert(topk.length == 2) // zero-norm query ranks everything at 0.0
    val nd = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      blockCols = Seq("label"), threshold = 0.5).collect()
    assert(nd.isEmpty) // pairs with the zero vector score 0.0 < threshold
  }

  test("embeddingNearDup hot-block budget: a giant block splits, bounding per-row comparisons") {
    // 200 near-identical vectors in ONE block: unbudgeted = 19 900 pairs
    val rows = (0L until 200L).map { i =>
      (i, Array(1.0, 0.001 * i, 0.0), "hot")
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val all = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      Seq("label"), threshold = 0.9, saltFactor = 4, maxBlockSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size == 199 * 200 / 2) // cap above block size: output = naive
    val capped = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      Seq("label"), threshold = 0.9, saltFactor = 4, maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // split into 4 sub-blocks: only within-sub-block pairs survive —
    // strictly bounded work, subset of the naive output, deterministic
    assert(capped.subsetOf(all))
    assert(capped.nonEmpty && capped.size < all.size)
    // expected pair budget: sum over sub-blocks of ~(B/4 choose 2) x 4
    // = roughly a quarter of naive; allow generous slack for hash skew
    assert(capped.size <= all.size / 2, s"capped=${capped.size} all=${all.size}")
    val again = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      Seq("label"), threshold = 0.9, saltFactor = 4, maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == capped) // hash-assigned sub-blocks are deterministic
  }

  test("multimodal: per-partition feature extraction and frame sampling") {
    val media = Multimodal.attach(
      Seq((1L, "hello world"), (2L, "")).toDF("id", "payload"),
      "id", col("payload"), "text/plain")
    assert(media.schema.fieldNames.toSeq == Multimodal.mediaSchema.fieldNames.toSeq)
    assert(media.schema.map(_.dataType.simpleString) ==
      Multimodal.mediaSchema.map(_.dataType.simpleString))
    import spark.implicits._
    val feats = Multimodal.extractFeatures(media.as[Multimodal.MediaRecord], dim = 4)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 11L)
    assert(feats(1L).digest == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(feats(1L).features.length == 4)
    assert(feats(2L).n_bytes == 0L)
    val frames = Multimodal.sampleFrames(media, n = 3)
    assert(frames.count() == 6)
    assert(frames.filter(col("media_id") === 1L).orderBy("frame_index")
      .collect().map(_.getLong(2)).toSeq == Seq(0L, 3L, 7L)) // offsets across 11 bytes
    val resized = Multimodal.resize(media.as[Multimodal.MediaRecord], 16, 16)
      .collect().map(r => r.media_id -> r).toMap
    assert(resized(1L).content.length == 4) // 16*16/64 fake bytes-per-pixels
    assert(resized(1L).meta.width.contains(16) && resized(1L).meta.height.contains(16))
    assert(resized(2L).content.length == 4) // empty payload still shapes correctly
  }

  test("multimodal: REAL image decode — synthesized PNGs yield exact pixel features") {
    import Multimodal._
    // 2x2 PNG with known pixels: red, green | blue, white
    def png(pixels: Seq[Seq[Int]]): Array[Byte] = {
      val h = pixels.length; val w = pixels.head.length
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bytes = png(Seq(Seq(0xff0000, 0x00ff00), Seq(0x0000ff, 0xffffff)))
    val media = Multimodal.attach(
      Seq((1L, bytes), (2L, Array[Byte](1, 2, 3)), (3L, Array.empty[Byte]))
        .toDF("id", "payload"), "id", col("payload"), "image/png")
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
        media.as[MediaRecord], dim = 3, decoder = new ImageIoDecoder)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    // dim=3 -> ONE spatial bucket: features = channel means / 255 =
    // R: (255+0+0+255)/4/255, G: (0+255+0+255)/4/255, B: (0+0+255+255)/4/255
    assert(feats(1L) == Seq(0.5f, 0.5f, 0.5f))
    assert(feats(2L) == Seq(0f, 0f, 0f)) // unparsable -> zero vector, not a crash
    assert(feats(3L) == Seq(0f, 0f, 0f)) // empty -> zero vector
    // dim=6 -> TWO spatial buckets (top row / bottom row on a 2x2):
    val f6 = Multimodal.extractFeatures(
        media.as[MediaRecord], dim = 6, decoder = new ImageIoDecoder)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(f6(1L) == Seq(0.5f, 0.5f, 0f, 0.5f, 0.5f, 1f))

    // REAL resize: 2x2 -> 4x4 nearest neighbor replicates each source
    // pixel into a 2x2 block; the PNG re-encode is lossless, so decode
    // of the resized payload recovers the exact block structure
    val resized = Multimodal.resize(
        media.as[MediaRecord], 4, 4, resizer = new ImageIoResizer)
      .collect().map(r => r.media_id -> r).toMap
    assert(resized(1L).meta.width.contains(4) && resized(1L).meta.height.contains(4))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(1L).content))
    assert(back.getWidth == 4 && back.getHeight == 4)
    assert((back.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((back.getRGB(1, 1) & 0xffffff) == 0xff0000)
    assert((back.getRGB(3, 0) & 0xffffff) == 0x00ff00)
    assert((back.getRGB(0, 3) & 0xffffff) == 0x0000ff)
    assert((back.getRGB(3, 3) & 0xffffff) == 0xffffff)
    // unparsable payloads pass through unchanged
    assert(resized(2L).content.toSeq == Seq[Byte](1, 2, 3))
  }

  test("multimodal: image dHash — exact pooling, bit layout, near-dup pairing") {
    import Multimodal._
    import spark.implicits._
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    def rec(id: Long, bytes: Array[Byte]) = MediaRecord(id, bytes,
      MediaMeta("image/png", None, None, None))

    // 3x2 image at grid resolution (pooling = identity), hand-derived:
    // row 0: 20>10 -> 1, 5>20 -> 0 ; row 1: 7>7 -> 0, 9>7 -> 1
    val px = Array(Array(10, 20, 5), Array(7, 7, 9))
    val small = rgbPng(3, 2, (x, y) => gray(px(y)(x)))
    val h32 = imageDHash(Seq(rec(1L, small)).toDS(), gridW = 3, gridH = 2)
      .collect().head
    assert(h32.dhash_bits.contains("1001"))
    assert(h32.dhash.contains(9L)) // bits 0 and 3
    assert(h32.width.contains(3) && h32.height.contains(2))

    // 6x4 image pooling to the same 3x2 grid: each 2x2 block averages
    // with integer floor ((10+11+12+13)/4 = 11), then same comparisons
    val blocks = Array(Array(Array(10, 11, 12, 13), Array(20, 20, 20, 20),
      Array(5, 5, 5, 6)), Array(Array(7, 7, 7, 7), Array(7, 7, 7, 7),
      Array(9, 9, 9, 9)))
    val pooled = rgbPng(6, 4, (x, y) => {
      val b = blocks(y / 2)(x / 2); gray(b((y % 2) * 2 + (x % 2)))
    })
    // blocks avg to 11,20,5 / 7,7,9 -> 20>11 -> 1, 5>20 -> 0, 0, 1
    val hp = imageDHash(Seq(rec(2L, pooled)).toDS(), gridW = 3, gridH = 2)
      .collect().head
    assert(hp.dhash_bits.contains("1001"))

    // default 9x8 grid: 64-bit hash, bit 63 reachable (sign-safe);
    // identical images pair at hamming 0, a one-cell edit at hamming
    // <= its affected comparisons, unparsable payloads drop to null
    // and are excluded from pairing
    def img(seed: Long, bump: (Int, Int) => Int = (_, _) => 0) =
      rgbPng(9, 8, (x, y) =>
        gray((((seed * 31 + x * 7 + y * 13) % 256).toInt + bump(x, y)).min(255)))
    val ds = Seq(
      rec(1L, img(5L)), rec(2L, img(5L)),                       // exact dups
      rec(3L, img(5L, (x, y) => if (x == 4 && y == 2) 120 else 0)), // one cell bumped
      rec(4L, img(77L)),                                        // unrelated
      rec(5L, "not a png".getBytes("UTF-8"))                    // undecodable
    ).toDS()
    val hashes = imageDHash(ds)
    val byId = hashes.collect().map(h => h.media_id -> h).toMap
    assert(byId(1L).dhash_bits.get.length == 64)
    assert(byId(1L).dhash == byId(2L).dhash)
    assert(byId(5L).dhash.isEmpty && byId(5L).dhash_bits.isEmpty)
    val pairs = Dedup.hammingPairs(
        hashes.toDF(), "media_id", "dhash", bits = 64,
        maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)))
    val withEdit = pairs.filter(p => p._1 == 1L && p._2 == 3L)
    // the bumped cell changes at most its two adjacent comparisons
    assert(withEdit.isEmpty || withEdit.head._3 <= 2)
    assert(!pairs.exists(p => p._2 == 4L || p._2 == 5L))
  }

  test("multimodal: audio envelope fingerprint — exact integer bucketing, hand-derived") {
    import Multimodal._
    import spark.implicits._
    // 8 frames, 4 buckets: bucket mean |amp| = 100, 0, 50, 200 vs
    // global mean 87.5 -> bits 1,0,0,1 (negative samples exercise abs)
    val wav = pcmWav(Array[Short](100, -100, 0, 0, 50, 50, -200, 200))
    val ds = Seq(
      MediaRecord(1L, wav, MediaMeta("audio/wav", None, None, None)),
      MediaRecord(2L, Array[Byte](9, 9, 9), MediaMeta("audio/wav", None, None, None))
    ).toDS()
    val fps = audioFingerprint(ds, buckets = 4)
      .collect().map(f => f.media_id -> f).toMap
    assert(fps(1L).fp_bits.contains("1001"))
    assert(fps(1L).fp.contains(9L)) // bits 0 and 3
    assert(fps(1L).n_frames.contains(8L))
    assert(fps(2L).fp.isEmpty && fps(2L).fp_bits.isEmpty) // unparsable -> null row
  }

  test("multimodal: audio fingerprint bucket compare is overflow-exact past 16M frames") {
    import Multimodal._
    // the per-bucket decision sums(b)·nFrames vs globalSum·counts(b)
    // overflows a long once 32768·nFrames² > 2^63 (~16.8M frames);
    // the 128-bit compare must agree with BigInt on exactly those
    val n = 20_000_000L // frames: past the long-overflow threshold
    val perBucket = n / 4
    // bucket sums at full 16-bit scale: products reach ~1.3e28 » 2^63
    val sums = Array(32768L * perBucket, 0L, 16384L * perBucket, 32000L * perBucket)
    val globalSum = sums.sum
    (0 until 4).foreach { b =>
      val exact = BigInt(sums(b)) * BigInt(n) > BigInt(globalSum) * BigInt(perBucket)
      assert(productGreater(sums(b), n, globalSum, perBucket) == exact,
        s"bucket $b: sums=${sums(b)}")
    }
    // adversarial: equal 128-bit products must NOT compare greater,
    // and a ±1 nudge must flip exactly the right way
    val a = 3_037_000_499L // ~sqrt(2^63): a·a overflows, a·a == a·a
    assert(!productGreater(a, a, a, a))
    assert(productGreater(a + 1, a, a, a))
    assert(!productGreater(a - 1, a, a, a))
    // cross-check vs BigInt on values whose low 64 bits invert order
    assert(productGreater(1L << 62, 4L, 3L, 1L << 61) ==
      (BigInt(1L << 62) * 4 > BigInt(3) * BigInt(1L << 61)))
  }

  test("multimodal: REAL WAV decode — synthesized PCM yields exact bucketed RMS") {
    import Multimodal._
    // 16-bit signed little-endian mono, 8 frames: four at amplitude
    // 16384 (= 0.5 normalized), four silent
    def wav(samples: Seq[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val bytes = wav(Seq[Short](16384, -16384, 16384, -16384, 0, 0, 0, 0))
    val media = Multimodal.attach(
      Seq((1L, bytes), (2L, Array[Byte](9, 9, 9))).toDF("id", "payload"),
      "id", col("payload"), "audio/wav")
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
        media.as[MediaRecord], dim = 2, decoder = new WavDecoder)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    // bucket 0 = frames 0-3 (|0.5| each -> RMS 0.5), bucket 1 = silence
    assert(feats(1L) == Seq(0.5f, 0.0f))
    assert(feats(2L) == Seq(0f, 0f)) // unparsable -> zero vector

    // UNSIGNED 8-bit PCM: 0x80 is the zero midpoint, 0xC0 is +0.5
    val fmtU = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val pcmU = Array[Byte](0xC0.toByte, 0x40.toByte, 0x80.toByte, 0x80.toByte)
    val bosU = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcmU), fmtU, 4L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bosU)
    val mediaU = Multimodal.attach(Seq((3L, bosU.toByteArray)).toDF("id", "payload"),
      "id", col("payload"), "audio/wav")
    val fU = Multimodal.extractFeatures(
        mediaU.as[MediaRecord], dim = 2, decoder = new WavDecoder)
      .collect()(0).features.toSeq
    assert(fU == Seq(0.5f, 0.0f))
  }

  test("readability: pinned sentence/syllable rules and FK order") {
    val r = Seq("The cat sat. The dog ran away! Ok?").toDF("text").select(
      TextAnalysis.tokenCount(col("text")).as("w"),
      TextAnalysis.sentenceCount(col("text")).as("s"),
      TextAnalysis.syllableCount(col("text")).as("y"),
      TextAnalysis.fleschKincaidGrade(col("text")).as("g")).collect()(0)
    assert(r.getAs[Long]("w") == 8L)
    assert(r.getAs[Long]("s") == 3L)
    // syllables: the=1 cat=1 sat.=1 the=1 dog=1 ran=1 away!=2(a,ay) ok?=1
    assert(r.getAs[Long]("y") == 9L)
    val exp = 0.39 * (8.0 / 3.0) + 11.8 * (9.0 / 8.0) - 15.59
    assert(r.getAs[Double]("g") == exp)
    // no terminal punctuation: still 1 sentence; empty text: null grade
    val r2 = Seq("just a fragment", "").toDF("text").select(
      TextAnalysis.sentenceCount(col("text")).as("s"),
      TextAnalysis.fleschKincaidGrade(col("text")).as("g")).collect()
    assert(r2(0).getAs[Long]("s") == 1L && !r2(0).isNullAt(1))
    assert(r2(1).isNullAt(1))
  }

  test("hapaxRate: singleton-vocabulary fraction per slice") {
    val df = Seq(("s1", "a a b c"), ("s1", "b d"), ("s2", "x x x"))
      .toDF("source", "text")
    val out = TextAnalysis.hapaxRate(df, Seq("source"), "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // s1 vocab {a:2, b:2, c:1, d:1}: 4 types, 2 hapax, 6 tokens
    assert(out("s1") == ((4L, 2L, 6L, 0.5)))
    assert(out("s2") == ((1L, 0L, 3L, 0.0)))
  }
}
