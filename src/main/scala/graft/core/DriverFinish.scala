package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * The small-input finish of graft's iterative operators: when an
 * operator's whole working set fits in the session's own "small enough
 * to ship whole" line (`spark.sql.autoBroadcastJoinThreshold`), one
 * limited collect brings it to the driver and a local kernel replaces
 * the distributed rounds; anything larger keeps the rounds, so the
 * operator's scale posture is unchanged.
 */
private[graft] object DriverFinish {

  /** The most rows of `rowBytes` each the driver finish takes: the
   *  broadcast threshold over the per-row size (a caller's estimate
   *  charges the row overhead Spark's own size estimate does,
   *  EstimationUtils.getSizePerRow: 8 bytes plus the columns'
   *  `defaultSize`). 0 when the threshold is ≤ 0 (broadcasts off). */
  def cap(spark: SparkSession, rowBytes: Long): Long = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) 0L else threshold / rowBytes
  }

  /** Every row of `df` when it has at most `cap` rows, fetched in one
   *  limited collect of cap + 1 rows; None on overflow or when
   *  `cap` ≤ 0. */
  def fetch(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }

  /** Id types whose collected values are equal exactly when Spark's
   *  grouping keys are — [[unionFind]] hashes them. Floats (NaN and
   *  -0.0 normalization), binary (array identity), collated strings
   *  and the rest stay on the distributed loops. */
  def hashable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** Union-find over undirected `edges` of non-null [[hashable]] ids of
   *  `idType`: (node, root) for every node, in first-seen order, where
   *  root is the node's component minimum. A merge keeps the smaller
   *  root in Spark's ordering for the type (catalyst values: UTF8String
   *  byte order for strings, not String.compareTo's UTF-16 order). A
   *  self-edge (v, v) adds an isolated node. */
  def unionFind(idType: DataType, edges: Iterator[(Any, Any)]): IndexedSeq[(Any, Any)] = {
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
    val toKey = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    val slots = collection.mutable.HashMap.empty[Any, Int]
    val ids = collection.mutable.ArrayBuffer.empty[Any]
    val keys = collection.mutable.ArrayBuffer.empty[Any]
    val parent = collection.mutable.ArrayBuffer.empty[Int]
    def slot(v: Any): Int = slots.getOrElseUpdate(v, {
      ids += v; keys += toKey(v); parent += parent.length; parent.length - 1
    })
    def find(i: Int): Int = { // path halving
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val (x, y) = (find(slot(a)), find(slot(b)))
      if (x != y) { if (ord.lt(keys(x), keys(y))) parent(y) = x else parent(x) = y }
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }
}
