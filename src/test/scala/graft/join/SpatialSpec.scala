package graft.join

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SpatialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gridClusters: 8-adjacent dense cells merge, isolated dense " +
    "cell labels itself, sparse points are noise") {
    val pts = Seq(
      (1L, 1L, 1L), (2L, 2L, 3L),        // cell (0,0): dense
      (3L, 11L, 12L), (4L, 13L, 14L),    // cell (1,1): dense, diagonal
      (5L, 55L, 55L), (6L, 57L, 51L),    // cell (5,5): dense, isolated
      (7L, 99L, 99L)                     // cell (9,9): sparse -> noise
    ).toDF("id", "x", "y")
    val out = Spatial.gridClusters(pts, "id", "x", "y",
      cellSize = 10L, minPts = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out(1L) == ((0L, 0L, Some("0:0"))))
    assert(out(4L) == ((1L, 1L, Some("0:0")))) // merged diagonally
    assert(out(5L)._3.contains("5:5") && out(6L)._3.contains("5:5"))
    assert(out(7L) == ((9L, 9L, None))) // noise
  }

  // Points for a list of cells (cellSize 10): `per` points in each,
  // ids from `firstId` on.
  private def inCells(cells: Seq[(Long, Long)], per: Int, firstId: Long): DataFrame =
    cells.flatMap { case (cx, cy) => (0 until per).map(k => (cx * 10 + k, cy * 10 + 9 - k)) }
      .zipWithIndex.map { case ((x, y), i) => (firstId + i, x, y) }
      .toDF("id", "x", "y")

  // A serpentine corridor of `n` cells: rows of 8 cells, alternating
  // direction, each joined to the next by one cell at its end.
  private def corridor(n: Int, x0: Long, y0: Long): Seq[(Long, Long)] =
    (0 until n).map { i =>
      val (row, k) = (i / 9, i % 9)
      if (k == 8) (x0 + (if (row % 2 == 0) 7L else 0L), y0 + 2L * row + 1)
      else (x0 + (if (row % 2 == 0) k.toLong else 7L - k), y0 + 2L * row)
    }

  private def clusters(df: DataFrame): Map[Long, Option[String]] =
    df.collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap

  private def local(df: DataFrame): Boolean = df.queryExecution.analyzed.exists(
    _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** The driver finish (default cap) and the forced loop (cap = 0)
   *  give the same rows and schema (nullability included); returns the
   *  driver finish's rows. */
  private def parity(pts: DataFrame, minPts: Long, what: String): Map[Long, Option[String]] = {
    val driver = Spatial.gridClusters(pts, "id", "x", "y", 10L, minPts)
    val loop = Spatial.gridClusters(pts, "id", "x", "y", 10L, minPts, 0L)
    assert(local(driver) && !local(loop), what)
    assert(driver.schema == loop.schema, what)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val d = rows(driver)
    assert(d == rows(loop), what)
    assert(d.length == d.distinct.length, what) // one row per point
    clusters(driver)
  }

  test("gridClusters: the driver finish equals the distributed rounds " +
    "row for row and in schema on seeded random point sets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // dense-ish random blobs over negative and positive coordinates
      val pts = (1 to 150).map(i =>
        (i.toLong, rnd.nextInt(120).toLong - 60, rnd.nextInt(120).toLong - 60))
        .toDF("id", "x", "y")
      val out = parity(pts, 3L, s"seed $seed")
      assert(out.size == 150 && out.values.exists(_.nonEmpty), s"seed $seed")
      assert(out.values.flatten.exists(_.startsWith("-")), s"seed $seed")
    }
    // all noise: no dense cell, so every cluster is null
    val sparse = (1 to 40).map(i => (i.toLong, i * 37L, i * 53L)).toDF("id", "x", "y")
    assert(parity(sparse, 2L, "all noise").values.forall(_.isEmpty))
    // empty input
    val empty = Seq.empty[(Long, Long, Long)].toDF("id", "x", "y")
    assert(parity(empty, 1L, "empty").isEmpty)
  }

  test("gridClusters: a snaking corridor is one cluster and isolated " +
    "dense cells label themselves, on both finishes") {
    val snake = corridor(34, -3L, -5L)
    val isolated = Seq((40L, 40L), (43L, 40L), (40L, 43L))
    val pts = inCells(snake ++ isolated, 2, 1L)
    val out = parity(pts, 2L, "corridor")
    val labels = snake.map(c => s"${c._1}:${c._2}")
    val snakeIds = 1L to 2L * snake.size
    assert(snakeIds.map(out).distinct == Seq(Some(labels.min)))
    val isoIds = (2L * snake.size + 1) to (2L * (snake.size + isolated.size))
    assert(isoIds.map(out).distinct.size == isolated.size)
    assert(isoIds.grouped(2).zip(isolated).forall { case (ids, (cx, cy)) =>
      ids.forall(out(_).contains(s"$cx:$cy"))
    })
  }

  test("gridClusters: rows with a null id, x or y are dropped on both " +
    "finishes, and a null cell labels nothing") {
    val pts = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(1L), Some(1L)), (Some(2L), Some(2L), Some(3L)),
      (None, Some(4L), Some(4L)), (Some(3L), None, Some(5L)),
      (Some(4L), Some(6L), None), (Some(5L), Some(15L), Some(15L)))
      .toDF("id", "x", "y")
    val out = parity(pts, 2L, "nulls")
    assert(out == Map(1L -> Some("0:0"), 2L -> Some("0:0"), 5L -> None))
    // with ANSI off an unparseable x casts to a null cell: a dense one
    // labels none of its points
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    val text = lax.createDataFrame(Seq((1L, "abc", "1"), (2L, "abc", "2"),
      (3L, "1", "1"), (4L, "2", "2"))).toDF("id", "x", "y")
    assert(parity(text, 2L, "null cell") ==
      Map(1L -> None, 2L -> None, 3L -> Some("0:0"), 4L -> Some("0:0")))
  }

  test("gridClusters: cluster labels are the minimum in Spark's string " +
    "order, not the numeric minimum") {
    // cells 9:0 .. 12:0 -> "10:0" (numerically 9:0 is smallest);
    // cells -2:5 .. 1:5 -> "-1:5" (numerically -2:5 is smallest)
    val right = (9L to 12L).map(cx => (cx, 0L))
    val left = (-2L to 1L).map(cx => (cx, 5L))
    val out = parity(inCells(right ++ left, 2, 1L), 2L, "label order")
    assert((1L to 8L).forall(out(_).contains("10:0")), out)
    assert((9L to 16L).forall(out(_).contains("-1:5")), out)
  }

  test("gridClusters: the driver finish builds a 40-cell corridor in at " +
    "most 2 jobs and leaves only the base checkpoint persisted") {
    // ids no other test uses, so no cached plan is shared
    val pts = inCells(corridor(40, 100L, 100L), 2, 7000L)
    var driver: DataFrame = null
    val (driverJobs, driverLeft) = TestSpark.jobsDuring {
      driver = Spatial.gridClusters(pts, "id", "x", "y", 10L, 2L)
    }
    val (loopJobs, _) = TestSpark.jobsDuring(
      Spatial.gridClusters(pts, "id", "x", "y", 10L, 2L, 0L))
    assert(driverJobs >= 1 && driverJobs <= 2, s"driver finish ran $driverJobs jobs")
    assert(loopJobs > driverJobs, s"loop ran $loopJobs jobs")
    val read = driver.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(driverLeft.size == 1 && driverLeft == read, s"$driverLeft vs $read")
    assert(clusters(driver).values.toSet == Set(Some("100:100")))
  }

  test("radiusJoin: exact d² predicate, cross-cell neighbors found, " +
    "negative coordinates, brute-force agreement") {
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L),     // d=5 exactly
      (3L, 10L, 0L), (4L, -4L, -3L),              // negatives, d(1,4)=5
      (5L, 100L, 100L)).toDF("id", "x", "y")
    val out = Spatial.radiusJoin(
      pts.toDF("a_id", "x", "y"), pts.toDF("b_id", "x", "y"),
      "a_id", "x", "y", "b_id", "x", "y", radius = 5L)
      .filter($"a_id" < $"b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // brute force over the same points
    val raw = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 10L, 0L),
      (4L, -4L, -3L), (5L, 100L, 100L))
    val want = (for {
      (i, xi, yi) <- raw; (j, xj, yj) <- raw if i < j
      d2 = (xi - xj) * (xi - xj) + (yi - yj) * (yi - yj) if d2 <= 25
    } yield (i, j) -> d2).toMap
    assert(out == want)
    assert(out((1L, 2L)) == 25L) // boundary inclusive
    assert(out.contains((1L, 4L)))
    intercept[IllegalArgumentException] {
      Spatial.radiusJoin(pts, pts, "id", "x", "y", "id", "x", "y", 5L)
    }
  }
}
