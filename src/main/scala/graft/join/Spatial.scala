package graft.join

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.DriverFinish

/**
 * Spatial radius join on planar integer coordinates — "every right
 * point within r of each left point" without the cross join Spark
 * would plan for a raw distance predicate. Coordinates are integers
 * in the caller's unit (project lat/lon upstream — equirectangular
 * meters, or micro-degrees for small extents); all candidate and
 * distance arithmetic is exact integer, so any engine agrees on the
 * result set bit-for-bit.
 */
object Spatial {

  /**
   * Grid-bucketed radius join: space is tiled into `r × r` cells;
   * each LEFT point probes its cell's 3×3 neighborhood (every point
   * within r of it lies there by the triangle inequality), the join
   * is an EQUI-join on the cell id, and the exact
   * `dx² + dy² ≤ r²` predicate filters in the same stage.
   *
   * Replication: the RIGHT side materializes once per own cell (no
   * replication); the LEFT side explodes ×9 (its neighborhood) —
   * put the smaller/denser side left if asymmetric. Self-joins pass
   * the same frame twice; pairs include both orientations and the
   * self-pair (filter `leftId < rightId` downstream for unordered
   * pairs).
   *
   * Output: (leftId, rightId, d2) — the squared distance, exact.
   *
   * Scale posture: one cell-keyed equi-join; per-cell cost is local
   * density × 9, never the global point count. Degenerate density
   * (everything in one cell) degrades to that cell's quadratic — the
   * caller's unit/radius choice is the lever, same contract as the
   * 1-D binned range join.
   */
  def radiusJoin(left: DataFrame, right: DataFrame,
                 leftId: String, lx: String, ly: String,
                 rightId: String, rx: String, ry: String,
                 radius: Long): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    require(leftId != rightId,
      "leftId and rightId must be distinct output names (alias upstream)")
    val r2 = radius * radius
    def cell(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(radius))) / lit(radius)).cast("long")
    val l = left
      .filter(col(lx).isNotNull && col(ly).isNotNull)
      .select(col(leftId).as("__lid"),
        col(lx).cast("long").as("__lx"), col(ly).cast("long").as("__ly"))
      .withColumn("__dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("__lid"), col("__lx"), col("__ly"),
        struct((cell(col("__lx")) + col("__dx")).as("cx"),
          (cell(col("__ly")) + col("__dy")).as("cy")).as("__cell"))
    val r = right
      .filter(col(rx).isNotNull && col(ry).isNotNull)
      .select(col(rightId).as("__rid"),
        col(rx).cast("long").as("__rx"), col(ry).cast("long").as("__ry"))
      .withColumn("__cell",
        struct(cell(col("__rx")).as("cx"), cell(col("__ry")).as("cy")))
    val d2 = (col("__lx") - col("__rx")) * (col("__lx") - col("__rx")) +
      (col("__ly") - col("__ry")) * (col("__ly") - col("__ry"))
    l.join(r, Seq("__cell"))
      .filter(d2 <= r2)
      .select(col("__lid").as(leftId), col("__rid").as(rightId),
        d2.as("d2"))
  }

  /**
   * Grid-density clustering (DBSCAN-lite, fully relational): points
   * bucket into `cellSize` grid cells, cells with ≥ `minPts` points
   * are DENSE, 8-adjacent dense cells merge into one cluster
   * (connected components, min-cell-label representative — a total
   * order), and every point gets its cell's cluster label — points
   * in sparse cells are NOISE (null cluster). The spatial-clustering
   * answer that needs no pairwise distances: density and adjacency
   * are both grid-local.
   *
   * Output: one row per input point — (idCol, cell_x, cell_y,
   * cluster nullable string "cx:cy" of the component's min cell).
   *
   * Scale posture: ONE corpus pass buckets and checkpoints; density
   * collapse is map-side, and everything after it runs on the DENSE
   * CELL list (bounded by area/cellSize², not by points). A dense-cell
   * list within the broadcast threshold is one fetch plus a driver
   * union-find over its 8-adjacency ([[graft.core.DriverFinish]], the
   * kernel behind [[graft.llm.Dedup.components]]'s driver finish),
   * whatever its corridor length; only larger grids pay the
   * distributed rounds (a cell-keyed self-join for the edges, then
   * [[graft.llm.Dedup.components]]). Either way the label join back is
   * (cell_x, cell_y)-keyed, and isolated dense cells label themselves.
   * Choose cellSize ≈ the neighborhood radius: this clusters at grid
   * resolution, merging anything 8-adjacent.
   */
  def gridClusters(df: DataFrame, idCol: String, xCol: String,
                   yCol: String, cellSize: Long, minPts: Long)
  : DataFrame =
    // per-cell size: the two cell coordinates plus the row overhead
    gridClusters(df, idCol, xCol, yCol, cellSize, minPts,
      DriverFinish.cap(df.sparkSession, 8L + 2L * 8L))

  /** [[gridClusters]] with an explicit driver-finish dense-cell cap;
   *  `cap` ≤ 0 always runs the distributed rounds, components' loop
   *  included. */
  private[graft] def gridClusters(df: DataFrame, idCol: String, xCol: String,
                                  yCol: String, cellSize: Long, minPts: Long,
                                  cap: Long): DataFrame = {
    require(cellSize > 0, s"cellSize must be > 0, got $cellSize")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val base = df.filter(col(idCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(idCol),
        floor(col(xCol).cast("double") / cellSize).cast("long").as("__cx"),
        floor(col(yCol).cast("double") / cellSize).cast("long").as("__cy"))
      .localCheckpoint(false)
    val dense = base.groupBy(col("__cx"), col("__cy"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minPts)
      .select(col("__cx"), col("__cy"))
    val labeled = DriverFinish.fetch(dense, cap) match {
      case Some(cells) => driverLabels(df.sparkSession, cells)
      case None => loopLabels(dense, cap)
    }
    base.join(labeled, Seq("__cx", "__cy"), "left")
      .select(col(idCol), col("__cx").as("cell_x"),
        col("__cy").as("cell_y"), col("cluster"))
  }

  private val neighbors = for {
    dx <- -1L to 1L; dy <- -1L to 1L if dx != 0 || dy != 0
  } yield (dx, dy)

  /** (__cx, __cy, cluster) for the fetched dense cells: union-find over
   *  the "cx:cy" labels of 8-adjacent cells, so each cluster is its
   *  component's minimum label in Spark's string order, as the loop's. */
  private def driverLabels(spark: SparkSession, cells: Array[Row]): DataFrame = {
    // a null coordinate (x or y cast to null) joins back to no point
    val label = cells.iterator.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case c @ (cx, cy) => c -> s"$cx:$cy" }.toMap
    // a self-edge per cell keeps isolated dense cells
    val edges = label.iterator.flatMap { case ((cx, cy), l) =>
      Iterator((l, l)) ++ neighbors.iterator
        .flatMap { case (dx, dy) => label.get((cx + dx, cy + dy)) }
        .map(n => (l, n))
    }
    val root = DriverFinish.unionFind(StringType, edges).toMap
    val rows = label.iterator.map { case ((cx, cy), l) => Row(cx, cy, root(l)) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("__cx", LongType, nullable = false),
      StructField("__cy", LongType, nullable = false),
      StructField("cluster", StringType, nullable = false))))
  }

  /** The distributed finish: a cell-keyed self-join builds the
   *  8-adjacency edges and [[graft.llm.Dedup.components]] labels them. */
  private def loopLabels(denseCells: DataFrame, cap: Long): DataFrame = {
    val dense = denseCells
      .withColumn("__cell", concat(col("__cx"), lit(":"), col("__cy")))
      .localCheckpoint(false)
    val probes = dense
      .select(col("__cell").as("__c1"), col("__cx"), col("__cy"))
      .withColumn("__o", explode(array(neighbors.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy"))
      }: _*)))
      .select(col("__c1"),
        (col("__cx") + col("__o.dx")).as("__nx"),
        (col("__cy") + col("__o.dy")).as("__ny"))
    val edges = probes.join(
        dense.select(col("__cell").as("__c2"), col("__cx").as("__nx"),
          col("__cy").as("__ny")),
        Seq("__nx", "__ny"))
      .filter(col("__c1") < col("__c2"))
      .select(col("__c1").as("id1"), col("__c2").as("id2"))
    // grid adjacency can snake: if the graph is too big for the
    // driver finish, the label-propagation diameter is the longest
    // dense-cell corridor, far past the dedup-cluster default
    val comp =
      if (cap > 0) graft.llm.Dedup.components(edges, maxIter = 100)
      else graft.llm.Dedup.components(edges, "id1", "id2", 100, 0L)
    dense.select(col("__cell"), col("__cx"), col("__cy"))
      .join(comp.select(col("node").as("__cell"), col("component")),
        Seq("__cell"), "left")
      .select(col("__cx"), col("__cy"),
        coalesce(col("component"), col("__cell")).as("cluster"))
  }
}
