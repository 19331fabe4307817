package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.sql.{Connection, DriverManager}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Embedded DuckDB, reached through the `duckdb_jdbc` driver that the
 *  library already depends on. */
private object Duck {
  def connect(): Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    exec(c, "SET threads TO 1")
    c
  }

  def exec(c: Connection, sql: String): Unit =
    Using.resource(c.createStatement())(_.execute(sql))

  def longs(c: Connection, sql: String): Seq[Long] =
    Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(sql)
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map(rs.getLong)
    }

  def columns(c: Connection, sql: String): Seq[String] =
    Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(s"DESCRIBE SELECT * FROM ($sql) AS q")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    }

  def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""
}

/** Seeded benchmark inputs: every table of `src` is rewritten into
 *  `dst/<table>.parquet/` with its rows in a seed-dependent order and
 *  split into four files at seed-dependent row boundaries. The rows
 *  themselves never change, so every oracle result is the same for every
 *  seed. */
object Inputs {
  val tables: Seq[String] = graft.core.Tables.names
  private val FilesPerTable = 4

  /** Writes the inputs and returns a digest of the files written. */
  def generate(src: String, dst: String, seed: Long): String = {
    Using.resource(Duck.connect()) { c =>
      tables.filter(t => new File(s"$src/$t.parquet").isFile).foreach { t =>
        val rng = new scala.util.Random(seed * 1000003L + t.hashCode)
        val salt = rng.nextInt(Int.MaxValue)
        Duck.exec(c, s"""CREATE OR REPLACE TEMP TABLE perm AS
          |SELECT * EXCLUDE (file_row_number),
          |  row_number() OVER (ORDER BY hash(file_row_number, $salt), file_row_number) - 1 AS __r
          |FROM read_parquet('$src/$t.parquet', file_row_number = true)""".stripMargin)
        val n = Duck.longs(c, "SELECT count(*) FROM perm").head
        // A fixed number of files, so scan parallelism is the same for every
        // seed; each inner boundary moves by up to a quarter of a file.
        val cuts = (0 to FilesPerTable).map { i =>
          val jitter = if (i == 0 || i == FilesPerTable) 0.0 else (rng.nextDouble() - 0.5) / 2
          math.round(n * (i + jitter) / FilesPerTable)
        }.distinct
        val dir = new File(s"$dst/$t.parquet")
        dir.mkdirs()
        cuts.sliding(2).zipWithIndex.foreach { case (w, i) =>
          val (a, b) = (w.head, w.last)
          Duck.exec(c, s"""COPY (SELECT * EXCLUDE (__r) FROM perm
            |WHERE __r >= $a AND __r < $b ORDER BY __r)
            |TO '${dir.getPath}/part-$i.parquet' (FORMAT PARQUET)""".stripMargin)
        }
      }
    }
    digest(dst)
  }

  /** SHA-256 over the relative names and bytes of every file under `dir`. */
  def digest(dir: String): String = {
    val root = Path.of(dir)
    val md = MessageDigest.getInstance("SHA-256")
    Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    }.foreach { p =>
      md.update(root.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Checks a gate's frame against its DuckDB oracle over the same inputs.
 *  The comparison is order-insensitive: both sides are compared as
 *  multisets of rows over the same column names (`EXCEPT ALL` both ways).
 *  Gates without an oracle must return at least one row. Each oracle
 *  query runs once per distinct SQL text and its answer is kept. */
final class Oracle(inDir: String, scratch: String) extends AutoCloseable {
  private val c = Duck.connect()
  Duck.exec(c, "SET threads TO 2")
  Inputs.tables.filter(t => new File(s"$inDir/$t.parquet").isDirectory).foreach { t =>
    Duck.exec(c, s"CREATE VIEW $t AS SELECT * FROM read_parquet('$inDir/$t.parquet/*.parquet')")
  }
  private val answers = scala.collection.mutable.Map.empty[String, String]

  /** None when the frame matches, otherwise the reason it does not. */
  def check(name: String, df: DataFrame, sql: Option[String]): Option[String] = {
    val out = s"$scratch/$name"
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val got = s"SELECT * FROM read_parquet('$out/*.parquet')"
    sql match {
      case None =>
        val n = Duck.longs(c, s"SELECT count(*) FROM ($got) AS g").head
        if (n > 0) None else Some("no rows")
      case Some(q) =>
        val want = answers.getOrElseUpdate(q, {
          val tbl = s"oracle_${answers.size}"
          Duck.exec(c, s"CREATE TEMP TABLE $tbl AS SELECT * FROM ($q) AS w")
          tbl
        })
        compare(got, s"SELECT * FROM $want")
    }
  }

  /** None when the two relations hold the same multiset of rows. */
  def compare(got: String, want: String): Option[String] = {
    val (gc, wc) = (Duck.columns(c, got).sorted, Duck.columns(c, want).sorted)
    if (gc != wc) return Some(s"columns ${gc.mkString(",")} vs ${wc.mkString(",")}")
    val cols = gc.map(Duck.quote).mkString(", ")
    val Seq(ng, nw, extra, missing) = Duck.longs(c, s"""WITH
      |g AS (SELECT $cols FROM ($got) AS g0), w AS (SELECT $cols FROM ($want) AS w0)
      |SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
      |  (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w) AS e),
      |  (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g) AS m)""".stripMargin)
    if (extra == 0 && missing == 0) None
    else Some(s"rows $ng vs $nw: $extra unexpected, $missing missing")
  }

  def close(): Unit = c.close()
}

object Oracle {
  /** The oracle SQL of a gate, read after the gate ran (some gates derive
   *  their oracle from the run, e.g. trained centroids). */
  def sqlFor(name: String): Option[String] = graft.SparkEntry.oracleSql.get(name)

  def gate(name: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(name)
}
