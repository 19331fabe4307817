package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/**
 * The exact decimal snaps graft's operators share. A double becomes
 * exact by rounding it HALF_UP on its shortest decimal string onto a
 * fixed grid — Spark's double→decimal cast — which is what keeps
 * results bit-identical across engines. The Column form runs inside
 * plans; the Scala forms serve the row-at-a-time streaming recurrences
 * and literal parameters, and agree with the cast value for value.
 */
private[graft] object Snap {

  /** Exact long on the value's `scale` grid: `round(v·10^scale)` via
   *  a decimal cast (half-up, engine-identical) then an exact decimal
   *  shift. */
  private[graft] def unscaled(c: Column, scale: Int): Column =
    (c.cast(s"decimal(18,$scale)") *
      lit(math.pow(10, scale).toLong).cast("decimal(18,0)")).cast("long")

  /** A wide decimal `c` truncated toward zero onto the 10⁻ˢᶜᵃˡᵉ grid,
   *  then cast once to double. Truncate explicitly: a bare rescaling
   *  cast rounds HALF_UP in Spark but truncates in DuckDB, while
   *  subtracting the remainder is exact decimal arithmetic in both.
   *  Keep the grid units under 2⁵³, where every engine's
   *  decimal→double cast is single-rounded. */
  private[graft] def truncated(c: Column, scale: Int): Column =
    (c - (c % lit(java.math.BigDecimal.ONE.movePointLeft(scale))))
      .cast(s"decimal(38,$scale)").cast("double")

  /** `unscaled(v, 2)` for one Scala double: `BigDecimal.valueOf` takes
   *  the shortest decimal string, as the cast does. */
  private[graft] def cents(v: Double): Long = java.math.BigDecimal.valueOf(v)
    .setScale(2, java.math.RoundingMode.HALF_UP)
    .unscaledValue().longValueExact()

  /** A smoothing constant or threshold pinned to the 10⁻⁹ grid, so a
   *  parameter like 0.3 enters every engine's arithmetic as the same
   *  double. */
  private[graft] def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.doubleValue
}
