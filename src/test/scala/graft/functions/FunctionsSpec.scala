package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("registered SQL functions work from spark.sql") {
    Functions.register(spark)
    Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0)).toDF("k", "v", "w")
      .createOrReplaceTempView("fn_test")
    val r = spark.sql(
      "SELECT graft_weighted_mean(v, w) AS wm FROM fn_test GROUP BY k")
      .collect()(0).getDouble(0)
    assert(r == 17.5)
  }

  test("native vector kernels are bit-identical to the Column-function folds") {
    import org.apache.spark.sql.functions._
    val vecs = (0 until 200).map { i =>
      (Array.tabulate(16)(d => math.sin(i * 17 + d) * 3),
        Array.tabulate(16)(d => math.cos(i * 11 + d) * 2))
    }.toDF("a", "b")
    val oldDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val oldSq = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val rows = vecs.select(
      VectorExpressions.dot(col("a"), col("b")).as("nd"), oldDot.as("od"),
      VectorExpressions.sqDist(col("a"), col("b")).as("ns"), oldSq.as("os")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("vector kernels null semantics match zip_with: mismatch/null element → null") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0))),             // length mismatch
      (None: Option[Array[Double]], Some(Array(1.0))),       // null input
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))))        // clean
      .toDF("a", "b")
    val out = df.select(VectorExpressions.dot(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 11.0)
    // null element inside an array (via the SQL surface)
    Functions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0d, null), array(1.0d, 2.0d)) n")
      .collect()(0).isNullAt(0))
    assert(spark.sql("SELECT graft_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) n")
      .collect()(0).getDouble(0) == 25.0)
  }

  test("GraftExtensions injects the native functions for cluster deployments") {
    import org.apache.spark.sql.{GraftShims, SparkSessionExtensions}
    val ext = new SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    GraftShims.applyExtensionFunctions(spark, ext)
    assert(spark.sql("SELECT graft_dot(array(2.0d, 3.0d), array(4.0d, 5.0d)) n")
      .collect()(0).getDouble(0) == 23.0)
    assert(spark.sql("SELECT graft_sqdist(array(0.0d), array(2.0d)) n")
      .collect()(0).getDouble(0) == 4.0)
    assert(spark.sql("SELECT graft_jaro_winkler('martha', 'marhta') n")
      .collect()(0).getDouble(0) == 0.9611111111111111)
    assert(spark.sql("SELECT graft_libm_log(1.0d) n")
      .collect()(0).getDouble(0) == 0.0)
  }

  test("native text kernels: NFC and BPE match reference implementations, stay codegen'd, register in SQL") {
    import org.apache.spark.sql.functions._
    // codegen path (projection over a real plan) vs driver-side truth
    val texts = Seq("cafe\u0301 A\u030A decomposed", "already composed \u00e9",
      "", "it's 42 tokens?")
    val df = texts.toDF("t").repartition(2)
    val out = df.select(col("t"),
      graft.llm.TextAnalysis.nfcNormalize(col("t")).as("n"),
      graft.llm.TextAnalysis.bpeTokenCountExact(col("t")).as("c"),
      graft.llm.TextAnalysis.bpeTokenize(col("t")).as("toks")).collect()
    out.foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) ==
        java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
      assert(r.getLong(2) == Bpe.tokenCount(t, Bpe.DefaultVocab))
      assert(r.getSeq[String](3) == Bpe.encode(t, Bpe.DefaultVocab))
    }
    // the projection stays inside a WholeStageCodegen span (no UDF
    // black box breaking the pipeline)
    val planDf = df.select(graft.llm.TextAnalysis.nfcNormalize(col("t")),
      graft.llm.TextAnalysis.bpeTokenCountExact(col("t")))
    planDf.collect() // finalize the adaptive plan before inspecting it
    val plan = planDf.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen span marker in plan rendering —
    // the projection carrying both kernels must sit inside one
    assert(plan.contains("*(1) Project [graft_nfc"))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // nulls propagate natively
    val nul = Seq[Option[String]](None).toDF("t")
      .select(graft.llm.TextAnalysis.nfcNormalize(col("t")),
        graft.llm.TextAnalysis.bpeTokenCountExact(col("t")),
        graft.llm.TextAnalysis.bpeTokenize(col("t"))).collect()(0)
    assert(nul.isNullAt(0) && nul.isNullAt(1) && nul.isNullAt(2))
    // SQL surface
    Functions.register(spark)
    assert(spark.sql("SELECT graft_nfc('café') n").collect()(0)
      .getString(0) == "café")
    assert(spark.sql("SELECT graft_bpe_count('the engine reads') n").collect()(0)
      .getLong(0) == Bpe.tokenCount("the engine reads", Bpe.DefaultVocab))
    assert(spark.sql("SELECT graft_bpe_tokenize('the') n").collect()(0)
      .getSeq[String](0) == Bpe.encode("the", Bpe.DefaultVocab))
  }

  test("Tables.registerAll exposes the star schema to SQL") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l JOIN orders o
        |ON l.l_orderkey = o.o_orderkey""".stripMargin).collect()(0).getLong(0)
    assert(n > 0)
  }

  test("Tables.registerAll finds tables under a file:/// URI directory") {
    spark.catalog.dropTempView("nation")
    val uri = "file://" + new java.io.File("perfbench/data").getAbsolutePath
    assert(uri.startsWith("file:///"))
    graft.core.Tables.registerAll(spark, uri)
    assert(spark.sql("SELECT count(*) FROM nation").collect()(0).getLong(0) == 25L)
  }

  test("CentroidRanks matches the composed array_min/array_sort struct form") {
    import org.apache.spark.sql.functions._
    val cents = (0 until 8).map(j =>
      Array.tabulate(16)(d => math.sin(j * 31 + d) * 2)).toSeq
    val vecs = (0 until 100).map(i =>
      Tuple1(Array.tabulate(16)(d => math.cos(i * 13 + d) * 3))).toDF("v")
    // composed reference: full argsort by (sqdist, index) via struct sort
    val composed = array_sort(array(cents.zipWithIndex.map { case (c, j) =>
      struct(VectorExpressions.sqDist(col("v"), typedlit(c.toSeq)).as("d"),
        lit(j).as("j"))
    }: _*))
    val rows = vecs.select(
      VectorExpressions.centroidRanks(col("v"), cents).as("ranks"),
      transform(composed, s => s.getField("j")).as("expected")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), "rank order diverged")
    }
    // null vector and dimension mismatch -> null
    val edge = Seq((Some(Array(1.0, 2.0)), 1), (None, 2)).toDF("v", "i")
      .select(VectorExpressions.centroidRanks(col("v"), cents).as("r")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("TryToInt/TryToLong match try_cast corner-by-corner, without exceptions") {
    import org.apache.spark.sql.functions._
    val cases = Seq("12", " 12 ", "\t+5\n", "-7", "12.5", "1-URGENT", "junk",
      "", " ", "+", "-", "2147483647", "2147483648", "-2147483648",
      "9223372036854775807", "9223372036854775808", "999999999999999999999999")
      .map(Option(_)) :+ Option.empty[String]
    val df = cases.map(Tuple1(_)).toDF("s")
    val rows = df.select(
      ParseExpressions.tryToInt(col("s")).as("ki"),
      expr("try_cast(s AS INT)").as("ti"),
      ParseExpressions.tryToLong(col("s")).as("kl"),
      expr("try_cast(s AS BIGINT)").as("tl"),
      col("s")).collect()
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), s"int mismatch for input ${r.get(4)}")
      assert(r.get(2) == r.get(3), s"long mismatch for input ${r.get(4)}")
    }
    // registered for SQL too
    Functions.register(spark)
    graft.functions.VectorExpressions.register(spark)
    assert(spark.sql("SELECT graft_try_int('  42 ')").head().getInt(0) == 42)
    assert(spark.sql("SELECT graft_try_long('x')").head().isNullAt(0))
  }

  test("HyperplaneSig matches the composed per-bit dot-sign sum") {
    import org.apache.spark.sql.functions._
    val planes = graft.llm.Similarity.planesFor(10, 16)
    val vecs = (0 until 100).map(i =>
      Tuple1(Array.tabulate(16)(d => math.sin(i * 7 + d) - 0.3))).toDF("v")
    val composed = planes.zipWithIndex.map { case (pl, p) =>
      when(VectorExpressions.dot(col("v"), typedlit(pl.toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = vecs.select(
      VectorExpressions.hyperplaneSig(col("v"), planes).as("sig"),
      composed.as("expected")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("deflate ratio: exact vs direct zlib, codegen'd, ordered by repetitiveness") {
    import org.apache.spark.sql.functions._
    def direct(t: String): Double = {
      val bytes = t.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      total.toDouble / bytes.length
    }
    val rep = "spam spam spam " * 50
    val mixed = (1 to 120).map(i => s"w${i * 2654435761L % 997}").mkString(" ")
    val df = Seq(rep, mixed).toDF("t").repartition(2)
    val out = df.select(col("t"),
      graft.llm.TextAnalysis.compressionRatio(col("t")).as("r")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out(rep) == direct(rep))
    assert(out(mixed) == direct(mixed))
    // the signal: boilerplate compresses far below varied text
    assert(out(rep) < 0.2 && out(rep) < out(mixed) / 2)
    // stays inside whole-stage codegen (no UDF black box)
    val planDf = df.select(graft.llm.TextAnalysis.compressionRatio(col("t")))
    planDf.collect()
    val plan = planDf.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_deflate_ratio"))
    assert(!plan.contains("ScalaUDF"))
    // null and empty input -> null (no signal), natively
    val edge = Seq(Option(""), Option.empty[String]).toDF("t")
      .select(graft.llm.TextAnalysis.compressionRatio(col("t"))).collect()
    assert(edge.forall(_.isNullAt(0)))
    // SQL surface through the extension injection
    assert(spark.sql(s"SELECT graft_deflate_ratio('aaaaaaaaaaaaaaaaaaaa') r")
      .collect()(0).getDouble(0) == direct("aaaaaaaaaaaaaaaaaaaa"))
  }
}
