package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: its name, the build of its frame and its DuckDB
 *  oracle. `graft.Verify` runs `build(spark, sfDir)` and writes the
 *  frame, which must hash-equal the oracle's result over the same
 *  tables. */
private[graft] final case class Gate(name: String,
                                     build: (SparkSession, String) => DataFrame,
                                     oracle: Oracle)

/** How a gate's frame is checked. */
private[graft] sealed trait Oracle

private[graft] object Oracle {

  /** DuckDB SQL over the scale-factor tables, the same on every run.
   *  Built on first use: a few oracles call library code (the LSH
   *  hyperplanes, the stopword list) that running the gates alone
   *  never loads. */
  final class Sql(text: => String) extends Oracle {
    lazy val sql: String = text
  }

  object Sql {
    def apply(text: => String): Sql = new Sql(text)
  }

  /** SQL that inlines values only the gate's own run computes (trained
   *  centroids, waterfilled thresholds): `None` until the gate has run
   *  in this JVM. */
  final case class AfterRun(sql: () => Option[String]) extends Oracle

  /** No oracle: only a non-empty frame is checked. */
  case object RowsOnly extends Oracle
}
