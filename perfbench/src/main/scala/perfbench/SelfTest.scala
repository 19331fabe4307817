package perfbench

import scala.util.Using

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

/** Checks of the benchmark itself (run with `--mode selftest`):
 *  the same seed gives the same inputs, another seed reorders the rows but
 *  leaves every oracle answer unchanged, and the output check rejects a
 *  corrupted result. Prints one `ok`/`FAIL` line per check. */
object SelfTest {
  def run(o: Main.Opts): Int = {
    val src = s"${o.root}/perfbench/data"
    val (a, b, c) = (s"${o.work}/a", s"${o.work}/b", s"${o.work}/c")
    var failures = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Exception => println(s"  $e"); false }
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }

    val (da, db, dc) = (Inputs.generate(src, a, o.seed), Inputs.generate(src, b, o.seed),
      Inputs.generate(src, c, o.seed + 1))
    check("same seed gives the same input digest")(da == db)
    check("another seed gives another input digest")(da != dc)

    Using.resource(Duck.connect()) { d =>
      def order(dir: String) = Duck.longs(d, "SELECT hash(string_agg(event_id::VARCHAR, ',' ORDER BY f, r)) " +
        s"FROM (SELECT event_id, filename AS f, file_row_number AS r FROM read_parquet('$dir/events.parquet/*.parquet', filename = true, file_row_number = true))").head
      check("another seed changes row order")(order(a) != order(c))
    }

    // Every static oracle answer is identical on both seeds' inputs.
    Using.resource(new Oracle(a, s"${o.work}/check-a")) { oa =>
      Using.resource(Duck.connect()) { d =>
        Inputs.tables.foreach { t =>
          Duck.exec(d, s"CREATE VIEW $t AS SELECT * FROM read_parquet('$c/$t.parquet/*.parquet')")
        }
        val gates = Main.workloads.values.flatten.toSeq.distinct.sorted
        gates.flatMap(g => Oracle.sqlFor(g).map(g -> _)).foreach { case (g, q) =>
          val out = s"${o.work}/answer-$g"
          Duck.exec(d, s"COPY (SELECT * FROM ($q) AS w) TO '$out.parquet' (FORMAT PARQUET)")
          check(s"oracle answer of $g does not depend on the seed")(
            oa.compare(s"SELECT * FROM read_parquet('$out.parquet')", s"SELECT * FROM ($q) AS w").isEmpty)
        }
      }
    }

    // The output check accepts the true result and rejects corrupted ones.
    val spark = Main.session(2, o.work)
    try Using.resource(new Oracle(a, s"${o.work}/check")) { oracle =>
      val name = "q01_groupby_agg"
      val df = Oracle.gate(name)(spark, a).cache()
      val sql = Oracle.sqlFor(name)
      check(s"output check accepts the true $name result")(oracle.check(name, df, sql).isEmpty)
      val n = df.count().toInt
      check(s"output check rejects $name with one row dropped")(
        oracle.check(name, df.limit(n - 1), sql).nonEmpty)
      val num = df.schema.fields.find(_.dataType.isInstanceOf[NumericType]).get
      val bumped = num.dataType match {
        case DoubleType | FloatType => col(num.name) * lit(1.0 + 1e-12)
        case _ => col(num.name) + lit(1)
      }
      check(s"output check rejects $name with ${num.name} changed")(
        oracle.check(name, df.withColumn(num.name, bumped.cast(num.dataType)), sql).nonEmpty)
    } finally spark.stop()

    println(if (failures == 0) "harness checks passed" else s"harness checks: $failures failed")
    if (failures == 0) 0 else 1
  }
}
