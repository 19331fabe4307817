package graft.agg

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/**
 * The exact bivariate-moment fold behind graft's Pearson and OLS
 * operators, in two parts. The collapse sums `n, Σx, Σy, Σxy, Σx²,
 * Σy²` as exact decimals, so the sums are order-independent and
 * engine-identical; the closing is the pinned IEEE chain the DuckDB
 * oracles replay bit for bit:
 * `vx = n·Σx² − (Σx)²`, `cov = n·Σxy − Σx·Σy`, `slope = cov / vx`,
 * `intercept = (Σy − slope·Σx) / n`, `corr = cov / (√vx·√vy)`.
 * Callers keep their own null filter, guards and output names.
 */
private[graft] object Moments {

  /** The collapse's column names, which [[closing]] reads back. */
  private val Names = Seq("__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")

  /** The six sums as unaliased aggregates, named for [[closing]]:
   *  `x` and `y` already on their decimal grids, each product through
   *  `product` (a widening cast where the product type would round). */
  private[graft] def sums(x: Column, y: Column,
                         product: Column => Column = identity)
  : Seq[(String, Column)] =
    Names.zip(Seq(count(lit(1)), sum(x), sum(y), sum(product(x * y)),
      sum(product(x * x)), sum(product(y * y))))

  /** [[sums]] as one aggregation over `grouped`. */
  private[graft] def collapse(grouped: RelationalGroupedDataset,
                              x: Column, y: Column,
                              product: Column => Column = identity)
  : DataFrame = {
    val aggs = sums(x, y, product).map { case (name, c) => c.as(name) }
    grouped.agg(aggs.head, aggs.tail: _*)
  }

  /** The closing over the collapse's columns. */
  private[graft] def closing(
      toDouble: Column => Column = _.cast("double")): Closing = {
    val Seq(n, sx, sy, sxy, sxx, syy) = Names.map(col)
    Closing(n, sx, sy, sxy, sxx, syy, toDouble)
  }

  /** The pinned chain over six exact sums: `count` casts plainly to
   *  double, the five others through `toDouble` (a plain cast, or a
   *  truncating snap where the sums run past 2⁵³ grid units). */
  final case class Closing(count: Column, sumX: Column, sumY: Column,
                           sumXY: Column, sumXX: Column, sumYY: Column,
                           toDouble: Column => Column) {
    val n: Column = count.cast("double")
    val sx: Column = toDouble(sumX)
    val sy: Column = toDouble(sumY)
    val vx: Column = n * toDouble(sumXX) - sx * sx
    val vy: Column = n * toDouble(sumYY) - sy * sy
    val cov: Column = n * toDouble(sumXY) - sx * sy
    val slope: Column = cov / vx
    val intercept: Column = (sy - slope * sx) / n
    val corr: Column = cov / (sqrt(vx) * sqrt(vy))
  }
}
