package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Snap.unscaled

/**
 * Sequential ledger matching, set-based. The classic "match consumption
 * against supply in arrival order" ETL primitives (FIFO cost basis,
 * credit burn-down, inventory lot depletion) look inherently
 * sequential — the textbook implementation walks both ledgers with two
 * cursors — but the FIFO rule has a closed form: on the cumulative-
 * quantity axis, lot i owns the half-open interval
 * `[cumLot_{i−1}, cumLot_i)` and demand j owns
 * `[cumDemand_{j−1}, cumDemand_j)`; FIFO matches exactly their
 * intersections. That turns the cursor walk into two windows and one
 * interval-overlap join — distributed, deterministic, and exact.
 */
object Ledger {

  /**
   * FIFO lot matching per key: every unit of demand consumes the
   * oldest remaining lot units. Emits one row per (lot, demand) pair
   * that exchanges a positive quantity:
   * `matched = min(cumLot_i, cumDemand_j) − max(cumLot_{i−1},
   * cumDemand_{j−1})` on the integer quantity grid — so
   * `Σ matched per lot ≤ lot qty`, `Σ matched per demand ≤ demand
   * qty`, and both hold with equality wherever supply/demand suffices.
   * Demand beyond total supply (and supply never demanded) simply
   * emits no row — reconcile with an anti-join upstream if you need
   * the shortfall itself.
   *
   * Ordering contract: lots and demands are each consumed in
   * `(orderCol, idCol)` ascending order — idCol must be unique per
   * key (an event/line id), making the order total and the output
   * engine-independent. Rows with qty ≤ 0 are ignored.
   *
   * Output: (keys…, lot_id, demand_id, matched) with `matched` a LONG
   * on the `qtyScale` grid (divide by 10^qtyScale for units).
   *
   * Scale posture: one key exchange per side for the cumulative
   * windows, then a key-equi join whose per-key blow-up is bounded by
   * matches, not pairs — FIFO intersections per key are at most
   * `n_lots + n_demands − 1`, so the join output is LINEAR in the
   * ledger even though the predicate is a range. Skewed keys (one
   * account with millions of rows) ride AQE skew handling; the
   * interval structure also admits bucketing by cum-range (the
   * binned-range-join path) if a single key's ledger outgrows a task.
   */
  def fifoMatch(lots: DataFrame, demands: DataFrame, keys: Seq[String],
                lotOrder: String, lotId: String, lotQty: String,
                demandOrder: String, demandId: String, demandQty: String,
                qtyScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "fifoMatch needs key columns")
    def cumSide(df: DataFrame, ord: String, id: String, qty: String,
                idOut: String, lo: String, hi: String): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ord).asc, col(idOut).asc)
      df.select(keys.map(col) :+ col(ord) :+ col(id).as(idOut) :+
          unscaled(col(qty), qtyScale).as("__q"): _*)
        .filter(col("__q") > 0)
        .withColumn(hi, sum(col("__q")).over(w))
        .withColumn(lo, col(hi) - col("__q"))
        .drop(ord, "__q")
    }
    val l = cumSide(lots, lotOrder, lotId, lotQty, "lot_id", "__llo", "__lhi")
    val dm = cumSide(demands, demandOrder, demandId, demandQty,
      "demand_id", "__dlo", "__dhi")
    l.join(dm, keys)
      .filter(col("__llo") < col("__dhi") && col("__dlo") < col("__lhi"))
      .select(keys.map(col) ++ Seq(col("lot_id"), col("demand_id"),
        (least(col("__lhi"), col("__dhi")) -
          greatest(col("__llo"), col("__dlo"))).as("matched")): _*)
  }
}
