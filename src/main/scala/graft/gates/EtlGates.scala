package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.{Filters => F, Transforms => T}
import graft.agg.GroupBy
import graft.join.Joins
import graft.cdc.CDC
import graft.scd.SCD
import graft.core.Parquet

import GateSupport._
import Oracle.Sql

/** goetl's ETL surface: Transforms, Filters, Joins (as-of, range,
 *  salted, fuzzy), GroupBy and Aggregators, window functions, Sketches,
 *  Encode, CDC, SCD, Sources and Sinks, the DAG executor and the plan
 *  guards. */
private[graft] object EtlGates {

  val gates: Seq[Gate] = Seq(
    // ---- §2.4 aggregation: multi-key groupBy w/ count/sum/avg/min/max ----
    Gate("q01_groupby_agg", (s, dir) => {
      GroupBy("l_returnflag", "l_linestatus")
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(dsum("l_extendedprice").as("sum_price"))
        .agg((sum(col("l_discount").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_disc"))
        .min("l_quantity", "min_qty")
        .max("l_extendedprice", "max_price")
        .apply(t(s, dir, "lineitem"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | min(l_quantity) AS min_qty, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // ---- §2.4 global aggregate: one aggregator over all input, 1 row ----
    Gate("q02_global_agg", (s, dir) => {
      GroupBy.global(
        count(lit(1)).as("n_rows"),
        dsum("l_extendedprice").as("total_price"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"),
        count_distinct(col("l_orderkey")).as("n_orders")
      )(t(s, dir, "lineitem"))
    }, Sql(
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin)),

    // ---- §2.2 filters: in/between/contains/startsWith/regex/combinators ----
    Gate("q03_filter_chain", (s, dir) => {
      t(s, dir, "part").filter(
        F.and(
          F.in("p_type", "ECONOMY", "PROMO"),
          F.between("p_size", 5, 30),
          F.or(F.contains("p_name", "widget"), F.startsWith("p_name", "large")),
          F.not(F.endsWith("p_brand", "#13")),
          F.matchesRegex("p_name", "^[a-z]+ [a-z]+$"),
          F.notNull("p_brand"),
          F.greaterThan("p_retailprice", 901.0)))
    }, Sql(
      """SELECT * FROM part
        |WHERE p_type IN ('ECONOMY','PROMO')
        |  AND p_size BETWEEN 5 AND 30
        |  AND (p_name LIKE '%widget%' OR p_name LIKE 'large%')
        |  AND NOT (p_brand LIKE '%#13')
        |  AND regexp_matches(p_name, '^[a-z]+ [a-z]+$')
        |  AND p_brand IS NOT NULL AND p_brand <> ''
        |  AND p_retailprice > 901.0""".stripMargin)),

    // ---- §2.2 transforms: select/rename/addField/casts/trim/upper/lower ----
    Gate("q04_transforms", (s, dir) => {
      t(s, dir, "customer")
        .transform(T.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal", "c_nationkey"))
        .transform(T.toUpper("c_name"))
        .transform(T.toLower("c_mktsegment"))
        .transform(T.addField("bal_bucket",
          when(col("c_acctbal") < 0, "negative")
            .when(col("c_acctbal") < 5000, "low").otherwise("high")))
        .transform(T.addField("nation_str", col("c_nationkey").cast("string")))
        .transform(T.removeFields("c_nationkey"))
        .transform(T.rename(Map("c_name" -> "name", "c_mktsegment" -> "segment")))
    }, Sql(
      """SELECT c_custkey, upper(c_name) AS name, lower(c_mktsegment) AS segment,
        | c_acctbal,
        | CASE WHEN c_acctbal < 0 THEN 'negative'
        |      WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_bucket,
        | CAST(c_nationkey AS VARCHAR) AS nation_str
        |FROM customer""".stripMargin)),

    // ---- §2.2 ParseTime + §2.6 JSON path extraction + date parts ----
    Gate("q05_time_json", (s, dir) => {
      t(s, dir, "events")
        .transform(T.addField("k", get_json_object(col("props"), "$.k").cast("long")))
        .transform(T.addField("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
        .transform(T.parseTime("ts_str", "yyyy-MM-dd HH:mm:ss"))
        .select(
          col("event_id"),
          col("k"),
          col("ts_str").as("ts_sec"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"))
    }, Sql(
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec,
        | CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        | CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h
        |FROM events""".stripMargin)),

    // ---- §2.3 inner join (multi-table, then agg) ----
    Gate("q06_join_inner", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(Joins.join(li, o, Seq("l_orderkey"), "inner"))
    }, Sql(
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // ---- §2.3 left join (all customers, order counts incl. zero) ----
    Gate("q07_join_left", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      Joins.join(c, o, Seq("c_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), lit(0.0))
            .as("total_spent"))
    }, Sql(
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        | COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.3 full outer join w/ unmatched rows on both sides ----
    Gate("q08_join_full", (s, dir) => {
      val left = t(s, dir, "part").filter(col("p_partkey") < 120)
        .select(col("p_partkey").as("pk"), col("p_name"))
      val right = t(s, dir, "lineitem").filter(col("l_partkey").between(80, 200))
        .groupBy(col("l_partkey").as("pk")).agg(count(lit(1)).as("n_li"))
      Joins.join(left, right, Seq("pk"), "full")
    }, Sql(
      """SELECT COALESCE(l.pk, r.pk) AS pk, l.p_name, r.n_li
        |FROM (SELECT p_partkey AS pk, p_name FROM part WHERE p_partkey < 120) l
        |FULL JOIN (SELECT l_partkey AS pk, count(*) AS n_li FROM lineitem
        |           WHERE l_partkey BETWEEN 80 AND 200 GROUP BY 1) r
        |  ON l.pk = r.pk""".stripMargin)),

    // ---- §2.3 semi/anti join (exists / not-exists) ----
    Gate("q09_join_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      val semi = Joins.join(c, o, Seq("c_custkey"), "semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val anti = Joins.join(c, o, Seq("c_custkey"), "anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      semi.unionByName(anti)
    }, Sql(
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ---- §2.3 lookup/enrichment: broadcast dim join, no fact shuffle ----
    Gate("q10_lookup", (s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      Joins.lookup(Joins.lookup(li, sup, Seq("s_suppkey")),
          nat.withColumnRenamed("n_nationkey", "s_nationkey"), Seq("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), dsum("l_extendedprice").as("revenue"))
    }, Sql(
      """SELECT n_name, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin)),

    // ---- §2.5 union (multi-parent fan-in ⇒ UNION ALL by name) ----
    Gate("q11_union", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          lit("customer").as("src"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          lit("supplier").as("src"))
      Joins.unionAll(Seq(c, sup))
    }, Sql(
      """SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier""".stripMargin)),

    // ---- §2.5 window functions: row_number/rank/running sum, top-k/group ----
    Gate("q12_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // (shipdate, orderkey, linenumber) alone is NOT unique per
      // supplier in the fixture (one collision at sf0.1) — l_quantity
      // closes the chain over every column the output consults, making
      // rn/running_qty an engine-independent multiset
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("running_qty",
          sum(col("l_quantity").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .filter(col("rn") <= 5)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("running_qty"))
    }, Sql(
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, running_qty FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_qty
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_suppkey
        |              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) WHERE rn <= 5""".stripMargin)),

    // ---- §2.5 sort + limit (top-k) ----
    Gate("q13_sort_limit", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- §2.5 distinct ----
    Gate("q14_distinct", (s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }, Sql(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // ---- §2.2 ConvertType / convenience casts (incl. failure→null) ----
    Gate("q15_casts", (s, dir) => {
      t(s, dir, "orders")
        .transform(T.addField("qty_int", col("o_totalprice").cast("long")))
        .transform(T.addField("key_str", col("o_orderkey").cast("string")))
        // exception-free parse kernel: try_cast's TRY wrapper throws
        // per failing row (~8× on an all-invalid column like this one);
        // equivalence with try_cast is unit-tested corner-by-corner
        .transform(T.addField("prio_num",
          graft.functions.ParseExpressions.tryToInt(col("o_orderpriority"))))
        .select(col("o_orderkey"), col("qty_int"), col("key_str"), col("prio_num"))
    }, Sql(
      """SELECT o_orderkey, CAST(trunc(o_totalprice) AS BIGINT) AS qty_int,
        | CAST(o_orderkey AS VARCHAR) AS key_str,
        | TRY_CAST(o_orderpriority AS INT) AS prio_num
        |FROM orders""".stripMargin)),

    // ---- tumbling-window event aggregation (batch form of §2.11) ----
    Gate("q16_event_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    }, Sql(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- §2.7 CDC: snapshot diff, INSERT/UPDATE/DELETE via full join ----
    Gate("q17_cdc", (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val prev = base.filter(col("o_orderkey") % 10 <= 7)
        .withColumn("o_totalprice", dec.cast("double"))
      val cur = base.filter(col("o_orderkey") % 10 >= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, (dec + lit(BigDecimal("10.00"))).cast("double"))
            .otherwise(dec.cast("double")))
      CDC.changes(cur, prev, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"), changeTimestamp = None)
    }, Sql(
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS tp FROM orders),
        |prev AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(tp AS DOUBLE) AS o_totalprice FROM base WHERE o_orderkey % 10 <= 7),
        |cur AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(CASE WHEN o_orderkey % 3 = 0 THEN tp + 10.00 ELSE tp END AS DOUBLE)
        |          AS o_totalprice
        |        FROM base WHERE o_orderkey % 10 >= 1),
        |j AS (SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_custkey ELSE c.o_custkey END AS o_custkey,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_orderstatus ELSE c.o_orderstatus END AS o_orderstatus,
        |        CASE WHEN c.o_orderkey IS NULL THEN p.o_totalprice ELSE c.o_totalprice END AS o_totalprice,
        |        CASE WHEN p.o_orderkey IS NULL THEN 'INSERT'
        |             WHEN c.o_orderkey IS NULL THEN 'DELETE'
        |             WHEN NOT (c.o_totalprice IS NOT DISTINCT FROM p.o_totalprice
        |                   AND c.o_orderstatus IS NOT DISTINCT FROM p.o_orderstatus) THEN 'UPDATE'
        |        END AS change_type
        |      FROM cur c FULL JOIN prev p ON c.o_orderkey = p.o_orderkey)
        |SELECT * FROM j WHERE change_type IS NOT NULL""".stripMargin)),

    // ---- §2.8 SCD Type 2: close-and-insert row versioning ----
    Gate("q18_scd2", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      val dimCur = c.filter(col("c_custkey") % 4 =!= 0)
        .withColumn("effective_from", lit("2020-01-01"))
        .withColumn("effective_to", lit("9999-12-31"))
        .withColumn("is_current", lit(true))
      // Historical rows: must be ignored by the current-only index.
      val dimHist = c.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("ANCIENT"))
        .withColumn("effective_from", lit("2015-01-01"))
        .withColumn("effective_to", lit("2019-12-31"))
        .withColumn("is_current", lit(false))
      val source = c.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 3 === 0, lit("SEG_NEW")).otherwise(col("c_mktsegment")))
      SCD.scd2(source, dimCur.unionByName(dimHist),
        Seq("c_custkey"), Seq("c_mktsegment"), today = "2024-06-01")
    }, Sql(
      """WITH c AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |src AS (SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS c_mktsegment
        |        FROM c WHERE c_custkey % 2 = 0),
        |dimcur AS (SELECT c_custkey, c_name, c_mktsegment FROM c WHERE c_custkey % 4 <> 0),
        |j AS (SELECT s.c_custkey, s.c_name, s.c_mktsegment,
        |             d.c_custkey AS dk, d.c_name AS dname, d.c_mktsegment AS dseg
        |      FROM src s LEFT JOIN dimcur d ON s.c_custkey = d.c_custkey)
        |SELECT dk AS c_custkey, dname AS c_name, dseg AS c_mktsegment,
        |       '2020-01-01' AS effective_from, '2024-06-01' AS effective_to,
        |       FALSE AS is_current
        |  FROM j WHERE dk IS NOT NULL AND dseg IS DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, '2024-06-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NOT NULL AND dseg IS DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT dk, dname, dseg, '2020-01-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NOT NULL AND dseg IS NOT DISTINCT FROM c_mktsegment
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, '2024-06-01', '9999-12-31', TRUE
        |  FROM j WHERE dk IS NULL""".stripMargin)),

    // ---- §2.8 SCD Type 3: previous_-value columns + version bump ----
    Gate("q19_scd3", (s, dir) => {
      val c = t(s, dir, "customer")
      val source = c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_mktsegment")
      val dim = c.filter(col("c_custkey") % 4 =!= 0)
        .select(col("c_custkey"),
          concat(lit("OLD_"), col("c_mktsegment")).as("c_mktsegment"),
          (col("c_custkey") % 3 + 1).cast("int").as("version"))
      SCD.scd3(source, dim, Seq("c_custkey"), Seq("c_mktsegment"))
    }, Sql(
      """WITH src AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
        |             WHERE c_custkey % 2 = 0),
        |dim AS (SELECT c_custkey, 'OLD_' || c_mktsegment AS c_mktsegment,
        |               CAST(c_custkey % 3 + 1 AS INT) AS version
        |        FROM customer WHERE c_custkey % 4 <> 0)
        |SELECT s.c_custkey, s.c_name, s.c_mktsegment,
        |  CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment END AS previous_c_mktsegment,
        |  CAST(CASE WHEN d.c_custkey IS NOT NULL THEN d.version + 1 ELSE 1 END AS INT) AS version
        |FROM src s LEFT JOIN dim d ON s.c_custkey = d.c_custkey""".stripMargin)),

    // ---- §2.1/§2.10 CSV + JSONL source/sink roundtrip (identity) ----
    Gate("q31_roundtrip", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val nation = t(s, dir, "nation")
      val tmp = gateTempDir(s, "graft_q31")
      Sinks.csv(nation, s"$tmp/csv", header = true, delimiter = "|")
      val fromCsv = Sources.csv(s, s"$tmp/csv",
        Sources.CsvOptions(header = true, delimiter = "|"),
        schema = Some(nation.schema))
      Sinks.jsonl(fromCsv, s"$tmp/jsonl")
      Sources.jsonl(s, s"$tmp/jsonl", schema = Some(nation.schema))
    }, Sql("SELECT * FROM nation")),

    // ---- §2.10+ Z-ORDERED parquet layout: every output file covers a
    //      compact window in BOTH z dimensions (multi-dim scan pruning
    //      at 100 TB); content is layout-invariant — the oracle reads
    //      the same rows straight from the source table ----
    // layout-only operator: the written rows ARE the source rows
    Gate("q83_zorder_roundtrip", (s, dir) => {
      import graft.sinks.Sinks
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val tmp = gateTempDir(s, "graft_q83")
      Sinks.parquetZOrdered(o, tmp, Seq("o_custkey", "o_totalprice"),
        files = 8)
      Parquet.read(s, tmp)
    }, Sql(
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders")),

    // ---- §2.10+ zstd parquet roundtrip — the petabyte-corpus codec
    //      (better ratio than snappy at comparable scan speed);
    //      exercises the codec plumbing end-to-end ----
    // codec is storage-only: content equals the source table
    Gate("q103_zstd_roundtrip", (s, dir) => {
      import graft.sinks.Sinks
      val tmp = gateTempDir(s, "graft_q103")
      Sinks.parquet(t(s, dir, "supplier"), tmp, compression = "zstd")
      Parquet.read(s, tmp)
    }, Sql("SELECT * FROM supplier")),

    // ---- §2.1+ SCHEMA EVOLUTION: an old batch written without a
    //      column, a new batch with it — mergeSchema reconciles; old
    //      rows surface null for the later column (the append-only
    //      lakehouse contract) ----
    // pre-evolution rows carry null for the later column
    Gate("q97_schema_evolution", (s, dir) => {
      val tmp = gateTempDir(s, "graft_q97")
      val nation = t(s, dir, "nation")
      nation.filter(col("n_nationkey") < 10)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$tmp/b=1")
      nation.filter(col("n_nationkey") >= 10)
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$tmp/b=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select("n_nationkey", "n_name", "n_regionkey")
    }, Sql(
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation WHERE n_nationkey < 10
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey >= 10""".stripMargin)),

    // ---- §2.1/§2.10 hive-partitioned parquet roundtrip: write
    //      partitionBy(lang), read back filtered — the partition
    //      filter must prune directories at PLANNING time (guarded:
    //      PartitionFilters non-empty, pruned scan), the 100 TB
    //      layout for coarse selective dimensions ----
    // partition pruning is layout-only: content equals a plain filter
    Gate("q91_partitioned_scan", (s, dir) => {
      import graft.sinks.Sinks
      val tmp = gateTempDir(s, "graft_q91")
      Sinks.parquet(t(s, dir, "documents"), tmp, partitionBy = Seq("lang"))
      Parquet.read(s, tmp)
        .filter(col("lang").isin("en", "de"))
        .select("doc_id", "lang", "source", "n_chars")
    }, Sql(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('en', 'de')""".stripMargin)),

    // ---- §2.3+ DYNAMIC partition pruning: fact partitioned on the
    //      join key, dim filtered at runtime — the fact scan's
    //      PartitionFilters carry a dynamicpruning subquery (guarded),
    //      so only the dim's partitions are ever read. THE join
    //      pattern for date/status-partitioned 100 TB facts ----
    // DPP is execution-strategy-only: content equals the plain join
    Gate("q92_dynamic_pruning", (s, dir) => {
      import graft.sinks.Sinks
      val tmp = gateTempDir(s, "graft_q92")
      Sinks.parquet(t(s, dir, "orders"), tmp,
        partitionBy = Seq("o_orderpriority"))
      val fact = Parquet.read(s, tmp)
        .select("o_orderpriority", "o_totalprice")
      val dim = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderstatus")).distinct()
        .filter(col("o_orderstatus") === "F")
      fact.join(dim, Seq("o_orderpriority"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
    }, Sql(
      """SELECT f.o_orderpriority, d.o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders f
        |JOIN (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        |      WHERE o_orderstatus = 'F') d USING (o_orderpriority)
        |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.1/§2.10 ORC source/sink roundtrip (identity; ORC ships
    //      with Spark — warehouse migrations routinely carry it) ----
    Gate("q70_orc_roundtrip", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val region = t(s, dir, "region")
      val tmp = gateTempDir(s, "graft_q70")
      Sinks.orc(region, tmp, compression = "zlib")
      Sources.orc(s, tmp, columns = Seq("r_regionkey", "r_name"))
    }, Sql("SELECT r_regionkey, r_name FROM region")),

    // ---- §2.1/§2.10 XML roundtrip (Spark 4 built-in source; explicit
    //      read schema — XML carries none, so the roundtrip must pin
    //      types; gzip-compressed shards) ----
    Gate("q77_xml_roundtrip", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val nation = t(s, dir, "nation")
      val tmp = gateTempDir(s, "graft_q77")
      Sinks.xml(nation, tmp, rowTag = "nation", compression = "gzip")
      Sources.xml(s, tmp, rowTag = "nation",
        schemaDdl = Some(nation.schema.toDDL))
        .select(nation.columns.map(col).toIndexedSeq: _*)
    }, Sql("SELECT * FROM nation")),

    // ---- §2.1/§2.10 raw-text roundtrip (gzip shards — the corpus
    //      interchange format; doc text has no newlines, so one doc =
    //      one line survives the trip exactly) ----
    Gate("q71_text_roundtrip", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val tmp = gateTempDir(s, "graft_q71")
      Sinks.text(t(s, dir, "documents").select("text"), tmp,
        compression = "gzip")
      Sources.text(s, tmp)
    }, Sql("SELECT text AS value FROM documents")),

    // ---- §2.1/§2.10 JDBC end-to-end: write to an embedded Derby
    //      database, read back through the partitioned JDBC scan ----
    Gate("q72_jdbc_roundtrip", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      val url = s"jdbc:derby:memory:graft_${dir.replaceAll("[^a-zA-Z0-9]", "_")};create=true"
      Sinks.jdbcAppend(t(s, dir, "nation"), url, "nation_rt", mode = "overwrite")
      Sources.jdbc(s, url, "nation_rt",
        partitioning = Some(Sources.JdbcPartitioning("n_nationkey", 0L, 25L, 4)))
    }, Sql("SELECT * FROM nation")),

    // ---- §2.10 JDBC UPSERT executed for real: embedded DuckDB parses
    //      exactly the Postgres `INSERT … ON CONFLICT` the builder
    //      emits (Derby, q72's engine, cannot). Steps: seed the EVEN
    //      suppliers into a PK'd table; re-upsert them under DO
    //      NOTHING (every row must conflict, zero inserts — telemetry
    //      checked); then DO UPDATE upsert of ALL suppliers with
    //      shifted acctbal and a renamed name column — evens take the
    //      UPDATE path (acctbal moves, name does NOT — it is not in
    //      the update set), odds take the INSERT path (both move).
    //      The readback hash only matches if partial-column update
    //      semantics executed correctly (reference
    //      `writers/postgresql.go:529-663`). ----
    // evens kept their seeded name (UPDATE only moves s_acctbal);
    // odds arrived via the INSERT path carrying both shifted columns
    Gate("q104_jdbc_upsert", (s, dir) => {
      import graft.sources.Sources
      import graft.sinks.Sinks
      // UNIQUE path per invocation: a repeated invocation on the same
      // path would race the PREVIOUS run's async DuckDB instance
      // shutdown (triggered when its last connection closed); a fresh
      // file sidesteps the instance cache entirely. Best-effort
      // cleanup below keeps /tmp from accumulating.
      val dbPath = s"/tmp/graft_duck_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${System.nanoTime}.db"
      val url = s"jdbc:duckdb:$dbPath"
      // ANCHOR connection held for the whole gate: embedded DuckDB
      // (1.0.0) caches one database instance per path in-process and
      // shuts it down when the LAST connection closes; a step opening
      // a fresh connection can race that async shutdown/checkpoint and
      // observe a stale or empty database (seen in practice as evens
      // taking the INSERT path, or an empty readback). Pinning one
      // connection keeps every step — and the readback — on the same
      // live instance. Server-grade targets (Postgres) have no such
      // instance lifecycle; the anchor is embedded-engine scaffolding,
      // not operator semantics.
      graft.sources.DuckDbDialect.registered
      val anchor = java.sql.DriverManager.getConnection(url)
      try {
        Sinks.jdbcCreateTable(url, "supplier_up",
          "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
          primaryKey = Seq("s_suppkey"), replace = true)
        val sup = t(s, dir, "supplier")
        // single writer partition: embedded DuckDB uses optimistic
        // concurrency — parallel INSERT transactions on one table abort
        // each other (against a server-grade target, partitions scale
        // out to its comfortable concurrent-writer count instead)
        val evens = sup.filter(col("s_suppkey") % 2 === 0).coalesce(1)
        Sinks.jdbcAppend(evens, url, "supplier_up", mode = "append")
        val ig = Sinks.jdbcUpsert(evens, url, "supplier_up",
          Sinks.ConflictIgnore(Seq("s_suppkey")))
        require(ig.inserted == 0 && ig.conflicted == evens.count(),
          s"DO NOTHING upsert must conflict on every seeded row, got $ig")
        val shifted = sup
          .withColumn("s_acctbal", col("s_acctbal") + 100.0)
          .withColumn("s_name", concat(col("s_name"), lit("_v2")))
          .coalesce(1)
        val up = Sinks.jdbcUpsert(shifted, url, "supplier_up",
          Sinks.ConflictUpdate(Seq("s_suppkey"), Seq("s_acctbal")))
        require(up.failedRows == 0 && up.failedBatches == 0,
          s"DO UPDATE upsert must not fail rows, got $up")
        // materialize the readback WHILE the instance is pinned — the
        // returned frame must not lazily re-open DuckDB after the
        // anchor closes
        val back = Sources.jdbc(s, url, "supplier_up")
        val rows = back.collect().toSeq
        s.createDataFrame(java.util.Arrays.asList(rows: _*), back.schema)
      } finally {
        anchor.close()
        // BEST-EFFORT cleanup: the close above starts DuckDB's async
        // shutdown, whose final checkpoint can recreate files after an
        // immediate unlink — deleteOnExit backstops whatever survives
        // (per-run names mean nothing ever reads these again)
        Seq(dbPath, dbPath + ".wal", dbPath + ".tmp").foreach { p =>
          val f = new java.io.File(p)
          f.delete(); f.deleteOnExit()
        }
      }
    }, Sql(
      """SELECT s_suppkey,
        | CASE WHEN s_suppkey % 2 = 0 THEN s_name
        |      ELSE s_name || '_v2' END AS s_name,
        | s_nationkey,
        | s_acctbal + 100.0 AS s_acctbal
        |FROM supplier""".stripMargin)),

    // ---- §2.13 DAG orchestration: sources → join → aggregate ----
    Gate("q33_dag", (s, dir) => {
      import graft.dag.{DagBuilder, DagExecutor}
      val dag = new DagBuilder("d1", "demo")
        .addSource("orders", () => t(s, dir, "orders"))
        .addSource("customer", () => t(s, dir, "customer"))
        .addJoin("joined", "customer", "orders", (c, o) =>
          Joins.join(c, o.withColumnRenamed("o_custkey", "c_custkey"),
            Seq("c_custkey"), "inner"))
        .addTransform("agg", Seq("joined"), df =>
          df.groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("revenue")))
        .build()
      val result = new DagExecutor(4).execute(dag)
      require(result.success, "DAG execution failed")
      result.outputs("agg")
    }, Sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)),

    // ---- §2.13 DAG retry machinery END-TO-END: a task that fails
    //      twice then succeeds must produce the normal result after
    //      exactly maxAttempts runs (happy path gated by q33) ----
    Gate("q73_dag_retry", (s, dir) => {
      import graft.dag._
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      val dag = new DagBuilder("d2", "retry-demo")
        .addSource("customer", () => t(s, dir, "customer"))
        .add(TaskDef("flaky", Seq("customer"), ins => {
          if (attempts.incrementAndGet() < 3)
            throw new RuntimeException("transient failure")
          ins("customer").groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        }, retry = RetryConfig(maxRetries = 2)))
        .build()
      val res = new DagExecutor(2).execute(dag)
      require(res.success, "retry DAG failed")
      require(attempts.get() == 3, s"expected 3 attempts, saw ${attempts.get()}")
      res.outputs("flaky")
    }, Sql(
      "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1")),

    // ---- §2.12 custom Aggregator[IN,BUF,OUT] via udaf (exact decimal
    //      accumulation → partition-order-independent result) ----
    Gate("q34_custom_agg", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.agg.Aggregators.weightedMean(
          col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
    }, Sql(
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- §2.4+ hierarchical subtotals: ROLLUP with grouping_id ----
    Gate("q35_rollup", (s, dir) => {
      GroupBy("l_returnflag", "l_linestatus").rollup
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // ---- §2.4+ pivot: one column per pivoted value ----
    Gate("q36_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum("l_quantity"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
    }, Sql(
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- custom operator: as-of (point-in-time) join ----
    Gate("q37_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      Joins.asOf(clicks, views, Seq("user_id"), "ts", "ts")
    }, Sql(
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts, r.value AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin)),

    // ---- custom operator: binned range (interval-containment) join ----
    Gate("q38_range_join", (s, dir) => {
      val points = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      val intervals = t(s, dir, "part")
        .select(col("p_partkey"),
          (col("p_retailprice") - 5.0).as("lo"),
          (col("p_retailprice") + 5.0).as("hi"))
      Joins.rangeJoin(points, intervals, "l_extendedprice", "lo", "hi",
          binWidth = 10.0)
        .select("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice")
    }, Sql(
      """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice
        |FROM lineitem JOIN part
        |  ON l_extendedprice >= p_retailprice - 5.0
        | AND l_extendedprice <= p_retailprice + 5.0""".stripMargin)),

    // ---- §2.12 weighted mean, expression form (the at-scale path:
    //      partial aggregation inside whole-stage codegen) ----
    // identical math to q34 — the expression form must match the udaf
    Gate("q40_weighted_mean_expr", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.agg.Aggregators.weightedMeanExpr(
          col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
    }, Sql(
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- §2.5 set operations: INTERSECT / EXCEPT ----
    Gate("q41_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
      val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
      Joins.intersect(f, oo).withColumn("op", lit("both"))
        .unionByName(Joins.except(f, oo).withColumn("op", lit("f_only")))
    }, Sql(
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
        |UNION ALL
        |SELECT o_custkey, 'f_only' AS op FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)""".stripMargin)),

    // ---- §2.3 right join (all parts kept, lineitem stats optional) ----
    Gate("q42_join_right", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("n_li"))
        .filter(col("p_partkey") <= 100)
      val p = t(s, dir, "part").select("p_partkey", "p_name")
      Joins.join(li, p, Seq("p_partkey"), "right")
    }, Sql(
      """SELECT p.p_partkey, li.n_li, p.p_name
        |FROM (SELECT l_partkey AS p_partkey, count(*) AS n_li FROM lineitem
        |      GROUP BY 1 HAVING l_partkey <= 100) li
        |RIGHT JOIN (SELECT p_partkey, p_name FROM part) p USING (p_partkey)""".stripMargin)),

    // ---- §2.4+ CUBE with grouping_id ----
    Gate("q43_cube", (s, dir) => {
      GroupBy("l_returnflag", "l_linestatus").cube
        .count("n")
        .agg(dsum("l_extendedprice").as("sum_price"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // ---- §2.8 SCD Type 1 (overwrite: source verbatim, per reference) ----
    Gate("q44_scd1", (s, dir) => {
      SCD.scd1(t(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select("c_custkey", "c_name", "c_mktsegment"))
    }, Sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey % 3 = 0""".stripMargin)),

    // ---- §2.3+ skew-salted join: must produce exactly the plain
    //      join's result (the salt is a physical detail) ----
    // identical to the unsalted join — the salt must not change results
    Gate("q51_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_orderstatus")
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(Joins.saltedJoin(li, o, Seq("l_orderkey"), "inner", saltFactor = 8))
    }, Sql(
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // ---- §3.1 linear pipeline facade (chain-order stages) ----
    Gate("q52_pipeline", (s, dir) => {
      graft.core.Pipeline.from(t(s, dir, "customer"))
        .transform(T.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .filter(col("c_acctbal") > 0)
        .transform(T.addField("tier",
          when(col("c_acctbal") > 5000, "gold").otherwise("basic")))
        .transform(T.toLower("c_mktsegment"))
        .build()
    }, Sql(
      """SELECT c_custkey, c_name, c_acctbal, lower(c_mktsegment) AS c_mktsegment,
        | CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'basic' END AS tier
        |FROM customer WHERE c_acctbal > 0""".stripMargin)),

    // ---- §2.3+/LLM ops: Bloom-pruned incremental dedup — the seen
    //      side is too big to broadcast at scale, but its MEMBERSHIP
    //      fits a few MB of bloom bits; filter misses bypass the
    //      shuffle entirely, candidates settle in the exact anti join.
    //      Output is EXACTLY the plain anti join (fpp is perf-only) ----
    // bloom prune is performance-only: the result is the plain anti
    // join. NOT EXISTS (not NOT IN) so null texts survive like Spark's
    // left_anti does
    Gate("q81_bloom_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.join.Bloom.antiJoin(docs,
        docs.filter(col("doc_id") % 5 === 0).select("text"),
        Seq("text"), expectedItems = 100000, fpp = 0.01)
    }, Sql(
      """SELECT * FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id % 5 = 0 AND s.text = d.text)""".stripMargin)),

    // ---- §2.10/§2.3+ bucketed co-located join END-TO-END: write both
    //      sides bucketed+sorted on the key through the catalog, join
    //      the bucketed tables, aggregate. The salt-free shuffle-free
    //      plan property is asserted in JoinsSpec; here the oracle
    //      verifies the whole write→read→join path's RESULTS ----
    // ---- §2.4+ shuffle-free aggregation on a bucketed table: the
    //      bucket layout satisfies the groupBy's distribution, so the
    //      aggregate runs with NO exchange (plan-guarded) — the
    //      repeatedly-aggregated 100 TB fact pattern ----
    // bucketing must not change join results
    // bucket layout is execution-only: content equals a plain groupBy
    Gate("q93_bucketed_agg", (s, dir) => {
      import graft.sinks.Sinks
      val liT = s"graft_bkt_agg_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Sinks.parquetBucketed(t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"),
        liT, 8, Seq("l_orderkey"))
      s.table(liT).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty"))
    }, Sql(
      """SELECT l_orderkey, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1""".stripMargin)),

    Gate("q59_bucketed_join", (s, dir) => {
      import graft.sinks.Sinks
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val liT = s"graft_bkt_li_$sfx"
      val oT = s"graft_bkt_o_$sfx"
      Sinks.parquetBucketed(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice"), liT, 8, Seq("l_orderkey"))
      Sinks.parquetBucketed(t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        oT, 8, Seq("l_orderkey"))
      GroupBy("o_orderstatus")
        .count("n_items")
        .agg(dsum("l_extendedprice").as("revenue"))
        .apply(s.table(liT).join(s.table(oT), "l_orderkey"))
    }, Sql(
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // ---- §2.5+ time-RANGE rolling aggregates per key: each event's
    //      count/exact-sum/mean over its user's previous hour — the
    //      feature-engineering frame a ROWS window gets wrong ----
    // RANGE frame over epoch micros; decimal window sum is exact and
    // order-independent, so the double surfaces hash-identically
    Gate("q87_rolling_time", (s, dir) => {
      graft.agg.GroupBy.rollingByTime(
        t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value", lookback = 3600L * 1000000)
        .select("event_id", "user_id", "roll_n", "roll_sum", "roll_mean")
    }, Sql(
      """SELECT event_id, user_id,
        | count(*) OVER w AS roll_n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   / count(value) OVER w AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- §2.5+ batch sessionization: per-user session ids via
    //      gaps-and-islands (30-min gap) — labels every event instead
    //      of collapsing to session aggregates like q32 ----
    // lag marks session starts (strict > gap), running sum numbers
    // them; ties share the default RANGE frame in both engines
    Gate("q89_sessionize", (s, dir) => {
      graft.agg.GroupBy.sessionize(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", gap = 30L * 60 * 1000000)
        .select("event_id", "user_id", "session_id")
    }, Sql(
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS session_id
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
        |      FROM events)""".stripMargin)),

    // ---- §2.6+ per-group feature normalization: z-score from EXACT
    //      decimal sums (engine-reproducible, unlike a double stddev
    //      aggregate) and min-max, null group keys included ----
    // exact decimal Σx/Σx² per partition → one deterministic double
    // mean/sqrt each side; the variance guard branches on the SAME
    // double, so both engines take the same null path
    Gate("q88_normalize", (s, dir) => {
      val base = t(s, dir, "events").select("event_id", "event_type", "value")
      val z = graft.agg.GroupBy.normalizePerKey(
        base, Seq("event_type"), "value", "zscore", out = "z")
      graft.agg.GroupBy.normalizePerKey(
        z, Seq("event_type"), "value", "minmax", out = "mm")
    }, Sql(
      """SELECT event_id, event_type, value,
        |  CASE WHEN n = 0 OR (sx2 / n - (sx / n) * (sx / n)) <= 0 THEN NULL
        |       ELSE (value::DOUBLE - sx / n)
        |            / sqrt(sx2 / n - (sx / n) * (sx / n)) END AS z,
        |  CASE WHEN hi = lo THEN NULL
        |       ELSE (value::DOUBLE - lo) / (hi - lo) END AS mm
        |FROM (SELECT event_id, event_type, value,
        |        CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
        |        CAST(sum(CAST(value AS DECIMAL(18,4))
        |                 * CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx2,
        |        count(value) OVER w AS n,
        |        min(value::DOUBLE) OVER w AS lo,
        |        max(value::DOUBLE) OVER w AS hi
        |      FROM events
        |      WINDOW w AS (PARTITION BY event_type))""".stripMargin)),

    // ---- §2.1+ NESTED schema pruning: struct columns in parquet,
    //      one subfield selected — the scan must read ONLY that leaf
    //      (ReadSchema plan-guarded), the nested-payload layout every
    //      multimodal/metadata corpus carries at 100 TB ----
    // struct layout is scan-only: content equals the flat projection
    Gate("q94_nested_pruning", (s, dir) => {
      val tmp = gateTempDir(s, "graft_q94")
      t(s, dir, "events").select(col("event_id"),
          struct(col("event_type"), col("user_id"),
            struct(col("value"), col("props")).as("deep")).as("meta"))
        .write.mode("overwrite").parquet(tmp)
      Parquet.read(s, tmp)
        .select(col("event_id"), col("meta.deep.value").as("value"))
    }, Sql("SELECT event_id, value FROM events")),

    // ---- capstone: star-schema revenue rollup — fact⋈fact⋈dim⋈dim
    //      with broadcast dims, exact decimal revenue, partial aggs
    //      end-to-end (the TPC-H-shaped analytics the engine is for) ----
    // decimal revenue folds exactly in any order; one double cast at
    // the end — hash-identical across engines
    Gate("q100_star_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "P")
        .select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_items"),
          sum(rev).cast("double").as("revenue"))
    }, Sql(
      """SELECT n_name, c_mktsegment, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus <> 'P'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.12 CollectErrors e2e: a dirty column (every 7th row
    //      unparsable) through the checked-cast pipeline — good rows
    //      come out converted, failing rows route to the error frame
    //      (the reference's CollectErrors contract under the gate) ----
    // double -> string -> double roundtrips losslessly in both
    // engines (shortest-roundtrip rendering), so good rows carry the
    // ORIGINAL price value; unparsable rows leave via the error frame
    Gate("q99_collect_errors", (s, dir) => {
      import org.apache.spark.sql.types.DoubleType
      val dirty = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("N/A"))
          .otherwise(col("o_totalprice").cast("string")).as("price"))
      // persist (NOT an eager localCheckpoint): one materialization
      // serves all three counts of the split check, and because
      // lineage stays intact the blocks can be released right here —
      // a checkpoint would pin them until GC, accumulating block-
      // manager storage across repeated gate/bench invocations in one
      // session. The returned frame recomputes from the parquet scan.
      val base = dirty.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (good, errs) =
        T.collectErrors(Seq(T.CheckedCast("price", DoubleType)))(base)
      // the split must be a partition: every input row is in exactly
      // one frame (checked here so the gate exercises BOTH outputs)
      val partitioned = good.count() + errs.count() == base.count()
      base.unpersist(blocking = false)
      require(partitioned, "collectErrors lost or duplicated rows")
      good
    }, Sql(
      """SELECT o_orderkey, o_totalprice AS price FROM orders
        |WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // ---- §2.6 nested JSON: serialize → parse with explicit schema →
    //      flatten; roundtrip must reproduce the source columns ----
    // from_json(to_json(x)) == x for the selected columns
    Gate("q64_json_flatten", (s, dir) => {
      val withJson = t(s, dir, "events").select(col("event_id"),
        to_json(struct(col("event_type"), col("user_id"),
          struct(col("value"), col("props")).as("nested"))).as("payload"))
      withJson
        .transform(T.parseJson("payload",
          "event_type STRING, user_id BIGINT, nested STRUCT<value: DOUBLE, props: STRING>"))
        .transform(T.flatten("payload"))
        .transform(T.flatten("nested"))
        .select("event_id", "event_type", "user_id", "value", "props")
    }, Sql(
      "SELECT event_id, event_type, user_id, value, props FROM events")),

    // ---- §2.4+ exact discrete percentiles per group (p50/p90/p99) ----
    // same window formula as the Spark side: non-null values ranked,
    // rank ceil(p*n) computed in decimal (exact, no double drift)
    Gate("q66_percentiles", (s, dir) => {
      GroupBy.percentilesDisc(
        t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        ps = Seq(0.5, 0.9, 0.99), out = "price_at_p")
    }, Sql(
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT l_returnflag, CAST(v.p AS DOUBLE) AS p, l_extendedprice AS price_at_p
        |FROM r CROSS JOIN (VALUES (0.5), (0.9), (0.99)) v(p)
        |WHERE rn = CAST(ceil(CAST(v.p AS DECIMAL(18,12)) * n) AS INT)""".stripMargin)),

    // ---- §2.4+ deterministic LISTAGG (sorted collect + join) ----
    Gate("q67_string_agg", (s, dir) => {
      GroupBy.stringAgg(t(s, dir, "nation"), Seq("n_regionkey"),
        "n_name", sep = "|", out = "nations")
    }, Sql(
      """SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS nations
        |FROM nation GROUP BY 1""".stripMargin)),

    // ---- §2.5 window-function breadth: rank/dense_rank/lag/lead/ntile ----
    Gate("q65_window_funcs", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // ---- §2.1 HTTP source THROUGH DSv2 (`spark.read.format(
    //      "graft-http")`) against a LIVE loopback server serving the
    //      nation table as offset-paginated JSONL — pages planned as
    //      InputPartitions, executor-side Jackson parse; materialized
    //      while the server is up (the server is the fixture, not
    //      part of the lazy plan's lifetime) ----
    // transport is the operator under test: content is just nation
    Gate("q115_http_source", (s, dir) => {
      val nation = t(s, dir, "nation")
      val rows = nation.orderBy("n_nationkey").toJSON.collect()
      val tmp = gateTempDir(s, "graft_q115")
      val (server, base) = jsonlPageServer(rows, pageSize = 10)
      try {
        s.read.format("graft-http").schema(nation.schema)
          .option("url", base)
          .option("pages", ((rows.length + 9) / 10).toString)
          .option("pageSize", "10")
          .load()
          .write.parquet(s"$tmp/out")
      } finally server.stop(0)
      Parquet.read(s, s"$tmp/out")
    }, Sql("SELECT * FROM nation")),

    // ---- feature eng: decile-label order prices by their own exact
    //      discrete percentiles (edges broadcast, label is a fold) ----
    // edges replay the q66 percentile recipe (rank ceil(p·n) in
    // decimal); bin = 1 + edges strictly below the value
    Gate("q128_quantile_bins", (s, dir) =>
      graft.agg.GroupBy.binByQuantiles(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice", (1 to 9).map(_ / 10.0)), Sql(
      """WITH rk AS (SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n FROM orders WHERE o_totalprice IS NOT NULL),
        |ed AS (SELECT v FROM rk CROSS JOIN (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),
        |         (0.6),(0.7),(0.8),(0.9)) p(p)
        |       WHERE rn = CAST(ceil(CAST(p.p AS DECIMAL(18,12)) * n) AS INT))
        |SELECT o.o_orderkey, o.o_totalprice,
        |  CASE WHEN o.o_totalprice IS NOT NULL
        |       THEN 1 + (SELECT count(*) FROM ed WHERE o.o_totalprice > ed.v) END AS bin
        |FROM orders o""".stripMargin)),

    // ---- data cleaning: per-type winsorization at the exact
    //      discrete 5th/95th percentiles ----
    // exact discrete percentile edges (the q66 decimal-rank rule) +
    // explicit WHEN clamp — no least/greatest null-semantics risk
    Gate("q145_winsorize", (s, dir) =>
      graft.agg.GroupBy.winsorize(t(s, dir, "events"),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_w")), Sql(
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |e AS (SELECT event_type,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.05 AS DECIMAL(18,12)) * n) AS INT) THEN value END) AS lo,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(18,12)) * n) AS INT) THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT ev.event_id, ev.event_type, ev.value,
        |  CASE WHEN ev.value < lo THEN lo WHEN ev.value > hi THEN hi
        |       ELSE ev.value END AS value_w
        |FROM events ev LEFT JOIN e USING (event_type)""".stripMargin)),

    // ---- distinct-count cube: daily HLL sketches rolled up to
    //      event_type by sketch UNION (raw data scanned once); the
    //      gate pins the accuracy contract against exact distincts —
    //      the estimate itself is engine arithmetic (q135 pattern) ----
    // the estimate is DataSketches arithmetic (not oracle-replayable);
    // the CLAIM — within 5% of the exact distinct count after a
    // sketch-only rollup — is engine-independent and hash-gated
    Gate("q146_hll_distinct", (s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val daily = Sketches.sketches(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "user_id", lgK = 12)
      val rolled = Sketches.rollup(daily, Seq("event_type"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(rolled.select(col("event_type"), col("estimate")), "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("estimate") - col("n_exact").cast("double")) <=
            lit(0.05) * col("n_exact").cast("double")).as("estimate_ok"))
    }, Sql(
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS estimate_ok
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- §2.4+ GROUPING SETS: explicit subtotal grains in ONE
    //      aggregation pass (the general form rollup specializes) ----
    Gate("q155_grouping_sets", (s, dir) =>
      GroupBy("l_returnflag", "l_linestatus")
        .groupingSets(Seq("l_returnflag", "l_linestatus"),
          Seq("l_returnflag"), Seq())
        .count("n")
        .agg(dsum("l_quantity").as("sum_qty"))
        .agg(grouping_id().cast("int").as("gid"))
        .apply(t(s, dir, "lineitem")), Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin)),

    // ---- feature transform: per-type empirical-CDF (midrank)
    //      normalization of event values ----
    // midrank CDF: every term a multiple of 0.5, one closing divide
    Gate("q158_empirical_cdf", (s, dir) =>
      GroupBy.empiricalCdf(t(s, dir, "events"), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("cdf")), Sql(
      """SELECT event_id, event_type, value,
        |  (CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT)
        |    + (CAST(count(*) OVER (PARTITION BY event_type, value) AS BIGINT) - 1) / 2.0)
        |   / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS cdf
        |FROM events WHERE value IS NOT NULL""".stripMargin)),

    // ---- §2.5 window coverage: percent_rank / cume_dist / nth_value
    //      with an explicit whole-partition frame ----
    Gate("q159_window_ranks", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"))
      val full = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("pr", percent_rank().over(byBal))
        .withColumn("cd", cume_dist().over(byBal))
        .withColumn("second_bal", nth_value(col("c_acctbal"), 2).over(full))
    }, Sql(
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS pr,
        |  cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS cd,
        |  nth_value(c_acctbal, 2) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_bal
        |FROM customer""".stripMargin)),

    // ---- scale path: approx_percentile rank-error CONTRACT against
    //      exact ranks (the q146 engine-independent-claim pattern) —
    //      validates the sketch edges binByEdges/winsorize docs point
    //      to for the 10^9+ regime ----
    // the estimate is sketch arithmetic (not oracle-replayable); the
    // CLAIM — edge rank within the GK error bound of the target
    // rank — is engine-independent and hash-gated (q146 pattern)
    Gate("q160_approx_contract", (s, dir) => {
      val ps = Seq(0.25, 0.5, 0.75)
      val acc = 10000
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("value"))
      val edges = ev
        .agg(percentile_approx(col("value"), array(ps.map(lit): _*),
          lit(acc)).as("__edges"), count(lit(1)).as("__cnt"))
        .select(col("__cnt"), posexplode(col("__edges")))
        .withColumnRenamed("pos", "__i").withColumnRenamed("col", "__edge")
        .withColumn("p", element_at(array(ps.map(lit): _*), col("__i") + 1))
      val ranks = ev.crossJoin(broadcast(edges))
        .groupBy("p", "__edge", "__cnt")
        .agg(sum(when(col("value") <= col("__edge"), 1L).otherwise(0L))
          .as("__nle"),
          sum(when(col("value") < col("__edge"), 1L).otherwise(0L))
            .as("__nlt"))
      // GK sketch guarantee: returned edge's rank within ceil(n/acc)
      // of the target rank; +1 absorbs the floor/ceil reading
      val target = ceil(col("p").cast("decimal(18,12)") * col("__cnt"))
        .cast("long")
      val tol = ceil(col("__cnt").cast("decimal(18,12)") / acc)
        .cast("long") + 1
      ranks.select(col("p"), col("__cnt").as("n"),
        (target >= col("__nlt") + 1 - tol &&
          target <= col("__nle") + tol).as("ok"))
    }, Sql(
      """WITH e AS (SELECT value FROM events WHERE value IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        |SELECT CAST(p AS DOUBLE) AS p, n.n AS n, TRUE AS ok
        |FROM (VALUES (0.25), (0.5), (0.75)) t(p) CROSS JOIN n""".stripMargin)),

    // ---- sketch set algebra: per-type Theta sketches → pairwise
    //      audience overlap, accuracy-contract gated (q146 pattern) ----
    // estimates are DataSketches arithmetic; the hash-gated claim is
    // the exact overlap + the accuracy contract
    Gate("q165_theta_overlap", (s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      val ov = Sketches.thetaOverlap(
        Sketches.thetaSketches(ev, Seq("event_type"), "user_id"),
        "event_type")
      val du = ev.select(col("event_type"), col("user_id")).distinct()
      val ex = du.as("a").join(du.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("g1"), col("b.event_type").as("g2"))
        .agg(count(lit(1)).as("n_exact_overlap"))
      val exact = coalesce(col("n_exact_overlap"), lit(0L))
      ov.join(ex, Seq("g1", "g2"), "left")
        .select(col("g1"), col("g2"), exact.as("n_exact_overlap"),
          (abs(col("est_overlap").cast("double") - exact.cast("double")) <=
            lit(0.05) * exact.cast("double") + lit(16.0)).as("overlap_ok"))
    }, Sql(
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |pairs AS (SELECT a.event_type AS g1, b.event_type AS g2,
        |    CAST(count(*) AS BIGINT) AS n_exact_overlap
        |  FROM du a JOIN du b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM du)
        |SELECT t1.event_type AS g1, t2.event_type AS g2,
        |  CAST(coalesce(p.n_exact_overlap, 0) AS BIGINT) AS n_exact_overlap,
        |  TRUE AS overlap_ok
        |FROM types t1 JOIN types t2 ON t1.event_type < t2.event_type
        |LEFT JOIN pairs p ON p.g1 = t1.event_type AND p.g2 = t2.event_type""".stripMargin)),

    // ---- sketch quantile cube: daily KLL sketches merged up to
    //      event_type, quantile edges rank-contract gated ----
    Gate("q166_kll_quantiles", (s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull)
      val daily = Sketches.kllSketches(
        ev.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "value")
      val rolled = Sketches.kllRollup(daily, Seq("event_type"),
        Seq(0.25, 0.5, 0.75))
      val ranks = ev.select(col("event_type"), col("value"))
        .join(rolled, Seq("event_type"))
        .groupBy(col("event_type"), col("p"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("edge"), 1L).otherwise(0L)).as("__nle"),
          sum(when(col("value") < col("edge"), 1L).otherwise(0L)).as("__nlt"))
      // KLL k=200 ⇒ ~1.65% rank error at 99% confidence; 5% + 1 slack
      val target = ceil(col("p").cast("decimal(18,12)") * col("n"))
        .cast("long")
      val tol = ceil(col("n").cast("decimal(18,12)") * 0.05).cast("long") + 1
      ranks.select(col("event_type"), col("p"), col("n"),
        (target >= col("__nlt") + 1 - tol &&
          target <= col("__nle") + tol).as("ok"))
    }, Sql(
      """WITH e AS (SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
        |SELECT event_type, CAST(p AS DOUBLE) AS p, n, TRUE AS ok
        |FROM n CROSS JOIN (VALUES (0.25), (0.5), (0.75)) t(p)""".stripMargin)),

    // ---- cleaning: mean + median imputation of null event values
    //      per type (the fill step before statistics/features) ----
    // mean = exact-decimal sum / non-null count; median = the q66
    // discrete-percentile rule at p=0.5
    Gate("q172_impute", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      T.impute(
        T.impute(ev, Seq("event_type"), "value", "mean", out = "value_mean"),
        Seq("event_type"), "value", "median", out = "value_median")
    }, Sql(
      """WITH st AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE) AS m FROM events GROUP BY 1),
        |rk AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |md AS (SELECT event_type,
        |    min(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DECIMAL(18,12)) * n) AS INT)
        |        THEN value END) AS med
        |  FROM rk GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  coalesce(e.value, st.m) AS value_mean,
        |  coalesce(e.value, md.med) AS value_median
        |FROM events e LEFT JOIN st USING (event_type)
        |LEFT JOIN md USING (event_type)""".stripMargin)),

    // ---- record linkage: PassJoin edit-distance self-join over
    //      synthetic entity names (class base + parity suffix);
    //      completeness checked against the all-pairs oracle ----
    // literal all-pairs levenshtein — the PassJoin result must equal
    // it exactly (completeness is the theorem under test)
    Gate("q173_fuzzy_join", (s, dir) =>
      // one name PER doc with NO universal substring: digits + one
      // parity letter. Matches are the one-digit same-parity
      // neighbors — linear pair mass, and no segment block goes hot.
      // (Two rejected fixtures taught the operator's two cost cliffs,
      // both documented on Fuzzy.selfJoin: id%300 collapsed 5000 docs
      // onto 600 names — pair list quadratic in duplication depth,
      // 26 s; a universal "-doc" suffix made one SEGMENT shared by
      // every same-length string — hot candidate blocks, 18 s.)
      graft.join.Fuzzy.selfJoin(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("doc_id").cast("string"),
            when(col("doc_id") % 2 === 1, lit("b")).otherwise(lit("a")))
            .as("name")),
        "doc_id", "name", maxDist = 1), Sql(
      """WITH n AS (SELECT doc_id, CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 2 = 1 THEN 'b' ELSE 'a' END AS name
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin)),

    // ---- analytics: 2-D Pareto front (cheapest-and-biggest parts)
    //      via one sorted sweep, not a quadratic exists-check ----
    // literal dominance exists-check — the sweep must agree exactly
    Gate("q177_skyline", (s, dir) =>
      GroupBy.skyline2D(
        t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"),
          col("p_size")),
        "p_retailprice", "p_size"), Sql(
      """SELECT p.p_partkey, p.p_retailprice, p.p_size,
        |  NOT EXISTS (SELECT 1 FROM part b
        |    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
        |      AND ((b.p_retailprice < p.p_retailprice AND b.p_size >= p.p_size)
        |        OR (b.p_retailprice <= p.p_retailprice AND b.p_size > p.p_size))) AS is_skyline
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL""".stripMargin)),

    // ---- attribution: last marketing touch within 1h before each
    //      purchase (as-of join composition) ----
    // last touch at-or-before each purchase (deduped per instant),
    // kept within the 1h lookback
    Gate("q178_attribution", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // one touch per (user, instant): ties collapse to max event_id so
      // the as-of pick is deterministic
      val touches = ev.filter(col("event_type") =!= "purchase")
        .withColumn("__r", row_number().over(
          Window.partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("__r") === 1)
        .select(col("user_id"), col("ts").as("touch_ts"),
          col("event_id").as("touch_event_id"),
          col("event_type").as("touch_type"))
      Joins.asOf(purchases, touches, Seq("user_id"), "ts", "touch_ts")
        .withColumn("age_us",
          unix_micros(col("ts")) - unix_micros(col("asof_touch_ts")))
        .filter(col("asof_touch_event_id").isNotNull &&
          col("age_us") <= 3600000000L)
        .select(col("event_id"), col("user_id"),
          col("asof_touch_event_id").as("touch_event_id"),
          col("asof_touch_type").as("touch_type"), col("age_us"))
    }, Sql(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT user_id, t, event_id FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id, t
        |     ORDER BY event_id DESC) AS r
        |   FROM e WHERE event_type <> 'purchase') WHERE r = 1),
        |m AS (SELECT p.user_id, p.event_id, p.t, tch.event_id AS tid,
        |    tch.event_type AS ttype, tch.t AS tt,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY tch.t DESC) AS r
        |  FROM p JOIN tch ON tch.user_id = p.user_id AND tch.t <= p.t)
        |SELECT event_id, user_id, tid AS touch_event_id, ttype AS touch_type,
        |  t - tt AS age_us
        |FROM m WHERE r = 1 AND t - tt <= 3600000000""".stripMargin)),

    // ---- OLAP: ABC/Pareto revenue classification per part ----
    // exact decimal revenue, cumulative share over (revenue desc,
    // partkey), pinned <=0.8 / <=0.95 class edges
    Gate("q181_abc_classes", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "lineitem")
        .filter(col("l_partkey").isNotNull)
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).as("__rev"))
      val tot = rev.agg(sum("__rev").as("__tot"))
      val w = Window.orderBy(col("__rev").desc, col("l_partkey").asc)
      rev.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("__cum", sum(col("__rev")).over(
          Window.orderBy(col("__rev").desc, col("l_partkey").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("revenue", col("__rev").cast("double"))
        .withColumn("cum_share",
          col("__cum").cast("double") / col("__tot").cast("double"))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.8, "A")
            .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .select(col("l_partkey"), col("rank"), col("revenue"),
          col("cum_share"), col("abc_class"))
    }, Sql(
      """WITH rev AS (SELECT l_partkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST('1.00' AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS r
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(r) AS t FROM rev),
        |rk AS (SELECT l_partkey, r,
        |    CAST(row_number() OVER (ORDER BY r DESC, l_partkey) AS BIGINT) AS rank,
        |    sum(r) OVER (ORDER BY r DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev)
        |SELECT l_partkey, rank, CAST(r AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM rk CROSS JOIN tot""".stripMargin)),

    // ---- dashboards at sketch cost: 3-day rolling distinct users
    //      per type from daily HLL sketches (one raw scan ever);
    //      accuracy contract vs the exact rolling distinct ----
    // the estimate is sketch arithmetic; the hash-gated claim is the
    // exact rolling distinct + the accuracy contract (q146 pattern)
    Gate("q182_rolling_uniques", (s, dir) => {
      import graft.agg.Sketches
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val daily = Sketches.sketches(ev, Seq("event_type", "day"), "user_id")
      val rolled = Sketches.rollingDistinct(daily, Seq("event_type"),
        "day", window = 3)
      // exact side: distinct (type, day, user) exploded over the 3-day
      // trailing frame via a small range join on present days
      val du = ev.select(col("event_type"), col("day"), col("user_id"))
        .distinct()
      val days = du.select(col("event_type"), col("day")).distinct()
      val exact = days.as("d").join(du.as("u"),
          col("u.event_type") === col("d.event_type") &&
            col("u.day") >= date_sub(col("d.day"), 2) &&
            col("u.day") <= col("d.day"))
        .groupBy(col("d.event_type").as("event_type"), col("d.day").as("day"))
        .agg(countDistinct(col("u.user_id")).as("n_exact"))
      rolled.select(col("event_type"), col("day"), col("estimate"))
        .join(exact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n_exact"),
          (abs(col("estimate") - col("n_exact").cast("double")) <=
            lit(0.05) * col("n_exact").cast("double") + lit(16.0))
            .as("estimate_ok"))
    }, Sql(
      """WITH du AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |days AS (SELECT DISTINCT event_type, day FROM du)
        |SELECT d.event_type, d.day,
        |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact,
        |  TRUE AS estimate_ok
        |FROM days d JOIN du u ON u.event_type = d.event_type
        |  AND u.day >= d.day - 2 AND u.day <= d.day
        |GROUP BY 1, 2""".stripMargin)),

    // ---- stats: weighted exact discrete percentiles (quantity-
    //      weighted price quartiles per return flag) ----
    // cumulative centi-weight crossing rule: smallest value with
    // cum >= p*W (ties share cum; before subtracts tied mass)
    Gate("q183_weighted_median", (s, dir) =>
      GroupBy.weightedPercentilesDisc(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        Seq(0.25, 0.5, 0.75), out = "price"), Sql(
      """WITH b AS (SELECT l_returnflag, l_extendedprice AS v,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS wt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_quantity > 0),
        |c AS (SELECT l_returnflag, v, wt,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag, v) AS BIGINT) AS tie
        |  FROM b)
        |SELECT DISTINCT l_returnflag, CAST(p AS DOUBLE) AS p, v AS price FROM c
        |CROSS JOIN (VALUES (0.25), (0.5), (0.75)) t(p)
        |WHERE cum >= CAST(p AS DECIMAL(6,5)) * CAST(tot AS DECIMAL(20,0))
        |  AND cum - tie < CAST(p AS DECIMAL(6,5)) * CAST(tot AS DECIMAL(20,0))""".stripMargin)),

    // ---- ETL: dataset patch/overlay — prefer the correction
    //      snapshot's values, fall back to the base (full-outer +
    //      per-column coalesce) ----
    // corrections win, base fills, new-only rows survive
    Gate("q185_patch", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // corrections: every 7th order re-priced, every 13th new-only row
      val fixes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") +
            lit(BigDecimal("1.00"))).cast("double").as("o_totalprice"))
      T.patch(base.filter(col("o_orderkey") % 13 =!= 0), fixes,
        Seq("o_orderkey"))
    }, Sql(
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |fixes AS (SELECT o_orderkey, 'X' AS o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST('1.00' AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT coalesce(f.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(f.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |  coalesce(f.o_totalprice, b.o_totalprice) AS o_totalprice
        |FROM base b FULL OUTER JOIN fixes f USING (o_orderkey)""".stripMargin)),

    // ---- warehouse: SCD2 point-in-time lookup — each order joined
    //      to the dimension version valid at its order date ----
    // half-open validity: from <= date < to
    Gate("q186_scd2_lookup", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      // two versions per customer: pre-1996 segment "LEGACY", then the
      // actual segment (half-open validity intervals)
      val dim = c.withColumn("c_mktsegment", lit("LEGACY"))
        .withColumn("valid_from", to_date(lit("1992-01-01")))
        .withColumn("valid_to", to_date(lit("1996-01-01")))
        .unionByName(c
          .withColumn("valid_from", to_date(lit("1996-01-01")))
          .withColumn("valid_to", to_date(lit("9999-12-31"))))
      SCD.pointInTime(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")).withColumnRenamed("o_custkey", "c_custkey"),
        dim, Seq("c_custkey"), "o_orderdate", "valid_from", "valid_to")
    }, Sql(
      """WITH dim AS (
        |  SELECT c_custkey, 'LEGACY' AS c_mktsegment,
        |    DATE '1992-01-01' AS vf, DATE '1996-01-01' AS vt FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment,
        |    DATE '1996-01-01', DATE '9999-12-31' FROM customer)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate,
        |  dim.c_mktsegment AS dim_c_mktsegment
        |FROM orders o LEFT JOIN dim ON dim.c_custkey = o.o_custkey
        |  AND dim.vf <= o.o_orderdate AND o.o_orderdate < dim.vt""".stripMargin)),

    // ---- SQL surface: the engine speaks ANSI SQL too — TPC-H Q4
    //      shape (EXISTS decorrelated by Catalyst into a semi join) ----
    Gate("q190_sql_exists", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_q190_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("graft_q190_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM graft_q190_orders
        WHERE EXISTS (
          SELECT 1 FROM graft_q190_lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority""")
    }, Sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin)),

    // ---- SQL surface: correlated scalar subquery (above-nation-
    //      average customers; cross-multiplied exact compare) ----
    Gate("q191_sql_correlated", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_q191_customer")
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM graft_q191_customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
            SELECT count(*) FROM graft_q191_customer i
            WHERE i.c_nationkey = c.c_nationkey) > (
            SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
            FROM graft_q191_customer i
            WHERE i.c_nationkey = c.c_nationkey)""")
    }, Sql(
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
        |    SELECT count(*) FROM customer i
        |    WHERE i.c_nationkey = c.c_nationkey) > (
        |    SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |    FROM customer i
        |    WHERE i.c_nationkey = c.c_nationkey)""".stripMargin)),

    // ---- analytics: dense equal-width histogram per event type ----
    // identical bucket expression; dense axis zero-fills
    Gate("q196_histogram", (s, dir) =>
      GroupBy.histogram(t(s, dir, "events"), Seq("event_type"),
        "value", bins = 20), Sql(
      """WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL),
        |sp AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
        |c AS (SELECT b.event_type,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(CAST(19 AS BIGINT),
        |           CAST(floor((v - lo) * 20 / (hi - lo)) AS BIGINT)) END AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b JOIN sp USING (event_type) GROUP BY 1, 2),
        |ax AS (SELECT event_type, unnest(generate_series(CAST(0 AS BIGINT),
        |    CAST(19 AS BIGINT))) AS bucket FROM sp)
        |SELECT ax.event_type, ax.bucket, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM ax LEFT JOIN c ON c.event_type = ax.event_type
        |  AND c.bucket = ax.bucket""".stripMargin)),

    // ---- growth analytics: cohort LTV curve — cumulative value per
    //      signup cohort by month-age (exact decimal sums) ----
    Gate("q197_cohort_ltv", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
      // hour grain: the synthetic feed spans days, not years.
      // ONE corpus scan: pre-aggregate to (user, hour) with map-side
      // partials, take each user's first hour with a window MIN on
      // that aggregate, then roll up to (cohort, age). The agg-and-
      // join-back shape reads events twice and makes the per-USER
      // first-touch relation a join build side — AQE broadcasts it at
      // bench scale, and per-user cardinality is never broadcastable
      // at 100 TB. Every post-scan relation here is aggregate-sized.
      val hourly = ev
        .select(col("user_id"), date_trunc("hour", col("ts")).as("__h"),
          col("value").cast("decimal(18,2)").as("__v"))
        .groupBy(col("user_id"), col("__h"))
        .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__hv"))
      val aged = hourly
        .withColumn("cohort",
          min(col("__h")).over(Window.partitionBy(col("user_id"))))
        .withColumn("age",
          ((unix_timestamp(col("__h")) -
            unix_timestamp(col("cohort"))) / 3600).cast("long"))
        .groupBy(col("cohort"), col("age"))
        .agg(sum(col("__n")).as("n_events"), sum(col("__hv")).as("__v"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aged
        .withColumn("value", col("__v").cast("double"))
        .withColumn("cum_value", sum(col("__v")).over(w).cast("double"))
        .drop("__v")
    }, Sql(
      """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS m,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |f AS (SELECT user_id, min(m) AS cohort FROM ev GROUP BY 1),
        |a AS (SELECT cohort,
        |    (epoch_ms(m) // 1000 - epoch_ms(cohort) // 1000) // 3600 AS age,
        |    CAST(count(*) AS BIGINT) AS n_events, sum(v) AS sv
        |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort, age, n_events, CAST(sv AS DOUBLE) AS value,
        |  CAST(sum(sv) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
        |FROM a""".stripMargin)),

    // ---- engagement: longest consecutive-day streak per user ----
    // gaps-and-islands: day − row_number is constant within a streak
    Gate("q199_streaks", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("__grp",
          datediff(col("day"), to_date(lit("1970-01-01"))) -
            row_number().over(w))
        .groupBy(col("user_id"), col("__grp"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id"))
        .agg(max(col("__len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
    }, Sql(
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT user_id, day,
        |    CAST(day - DATE '1970-01-01' AS BIGINT)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |st AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |       FROM g GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_streaks
        |FROM st GROUP BY 1""".stripMargin)),

    // ---- record linkage: Jaro-Winkler similarity self-join over part
    //      names (DuckDB-pinned kernel, first-char + length-band
    //      blocking as part of the semantics) ----
    // same blocking predicates replayed relationally; DuckDB's
    // jaro_winkler_similarity IS the pinned kernel
    Gate("q204_jw_join", (s, dir) =>
      graft.join.Fuzzy.jaroWinklerSelfJoin(
        t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", threshold = 0.94, lengthBand = 2), Sql(
      """WITH s AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT a.id AS id1, b.id AS id2,
        |  jaro_winkler_similarity(a.s, b.s) AS sim
        |FROM s a JOIN s b ON a.id < b.id
        |  AND substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND abs(len(a.s) - len(b.s)) <= 2
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.94""".stripMargin)),

    // ---- curation: quantile normalization — every source's n_chars
    //      mapped onto the POOLED length distribution (midpoint-rank
    //      convention, all-integer grid arithmetic) ----
    // same integer grid: doubled midpoint ranks per (source, value),
    // pooled CDF exploded to a rank->value map, ceil via floor-div
    Gate("q214_quantile_norm", (s, dir) =>
      // normalized cast decimal→double: no decimal gate columns (r11
      // driver-hash lesson, see q207 / GateSchemaSpec)
      graft.ops.Normalize.quantileNormalize(
        t(s, dir, "documents")
          .filter(col("source").isNotNull && col("n_chars").isNotNull)
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars")
        .withColumn("normalized", col("normalized").cast("double")), Sql(
      """WITH b AS (SELECT doc_id, source, n_chars,
        |    CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |      FROM b GROUP BY 1, 2),
        |gc AS (SELECT *,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns FROM g),
        |g2 AS (SELECT source, v, 2 * cum - c + 1 AS r2, ns FROM gc),
        |p AS (SELECT v AS pv, CAST(count(*) AS BIGINT) AS pc FROM b GROUP BY 1),
        |pc2 AS (SELECT *, CAST(sum(pc) OVER (ORDER BY pv) AS BIGINT) AS pcm
        |        FROM p),
        |np AS (SELECT max(pcm) AS np FROM pc2),
        |rmap AS (SELECT pv, unnest(generate_series(pcm - pc + 1, pcm)) AS t
        |         FROM pc2),
        |tgt AS (SELECT source, v,
        |    (r2 * np.np + 2 * ns - 1) // (2 * ns) AS t
        |  FROM g2 CROSS JOIN np),
        |mapv AS (SELECT source, v, pv FROM tgt JOIN rmap USING (t))
        |SELECT doc_id, b.source, b.n_chars,
        |  CAST(pv AS DOUBLE) AS normalized
        |FROM b JOIN mapv ON mapv.source = b.source AND mapv.v = b.v""".stripMargin)),

    // ---- record linkage proper: TWO-relation Jaro-Winkler join
    //      (catalog halves standing in for two vendor feeds) ----
    // the q204 pinned kernel + blocking, across two relations
    Gate("q222_jw_linkage", (s, dir) => {
      // parity split, not a key threshold: both halves are non-empty
      // at every scale factor
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      graft.join.Fuzzy.jaroWinklerJoin(
        p.filter(col("p_partkey") % 2 === 0), "p_partkey", "p_name",
        p.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
        threshold = 0.94, lengthBand = 2)
    }, Sql(
      """WITH l AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey % 2 = 0 AND p_name IS NOT NULL AND len(p_name) >= 1),
        |r AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_partkey % 2 = 1 AND p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT l.id AS left_id, r.id AS right_id,
        |  jaro_winkler_similarity(l.s, r.s) AS sim
        |FROM l JOIN r ON substr(l.s, 1, 1) = substr(r.s, 1, 1)
        |  AND abs(len(l.s) - len(r.s)) <= 2
        |WHERE jaro_winkler_similarity(l.s, r.s) >= 0.94""".stripMargin)),

    // ---- joins: as-of with TOLERANCE — last touch before each
    //      purchase, but only within 30 minutes (stale matches null) ----
    // the q178 recipe with the tolerance folded in: every purchase
    // keeps its row; matches older than 30 min null out
    Gate("q236_asof_within", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("__r") === 1)
        .select(col("user_id"), col("ts").as("touch_ts"),
          col("event_id").as("touch_event_id"),
          col("event_type").as("touch_type"))
      graft.join.Joins.asOfWithin(purchases, touches, Seq("user_id"),
        "ts", "touch_ts", maxGap = 1800000000L)
        .select(col("event_id"), col("user_id"),
          col("asof_touch_event_id"), col("asof_touch_type"))
    }, Sql(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT user_id, t, event_id FROM e
        |      WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, t, event_id, event_type FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id, t
        |     ORDER BY event_id DESC) AS r
        |   FROM e WHERE event_type <> 'purchase') WHERE r = 1),
        |m AS (SELECT p.user_id, p.event_id, p.t, tch.event_id AS tid,
        |    tch.event_type AS ttype, tch.t AS tt,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY tch.t DESC) AS r
        |  FROM p JOIN tch ON tch.user_id = p.user_id AND tch.t <= p.t)
        |SELECT p.event_id, p.user_id,
        |  CASE WHEN m.tt IS NOT NULL AND p.t - m.tt <= 1800000000
        |    THEN m.tid END AS asof_touch_event_id,
        |  CASE WHEN m.tt IS NOT NULL AND p.t - m.tt <= 1800000000
        |    THEN m.ttype END AS asof_touch_type
        |FROM p LEFT JOIN (SELECT * FROM m WHERE r = 1) m
        |  ON m.event_id = p.event_id""".stripMargin)),

    // ---- §2.1+: fixed-width (copybook) source — write nation as a
    //      positional layout, read it back by column spec ----
    // the positional roundtrip must reproduce the source table exactly
    Gate("q238_fixed_width", (s, dir) => {
      val tmp = gateTempDir(s, "graft_q238")
      t(s, dir, "nation")
        .select(format_string("%-4d%-25s%-4d", col("n_nationkey"),
          col("n_name"), col("n_regionkey")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$tmp/fw")
      graft.sources.Sources.fixedWidth(s, s"$tmp/fw", Seq(
        graft.sources.Sources.FixedWidthCol("n_nationkey", 1, 4, "long"),
        graft.sources.Sources.FixedWidthCol("n_name", 5, 25),
        graft.sources.Sources.FixedWidthCol("n_regionkey", 30, 4, "long")))
    }, Sql(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin)),

    // ---- reshape: unpivot (melt) the lineitem measures to tidy
    //      long form — one codegen'd stack generator ----
    // tidy long form: UNION ALL per measure (UNPIVOT INCLUDE NULLS
    // semantics — a melted null is a fact)
    Gate("q248_melt", (s, dir) =>
      graft.ops.Transforms.melt(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")), Sql(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |  CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  CAST(l_discount AS DOUBLE) FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |  CAST(l_tax AS DOUBLE) FROM lineitem""".stripMargin)),

    // ---- join: nearest-direction as-of — align each view to the
    //      CLOSEST click of the same user, either direction ----
    // the union+window nearest pick replayed: backward = last right
    // at-or-before, forward = first right strictly after, ties
    // backward
    Gate("q255_asof_nearest", (s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull &&
        col("ts").isNotNull)
      graft.join.Joins.asOfNearest(
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts")),
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts")),
        Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_gap"))
    }, Sql(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, event_id, t, 1 AS side,
        |    CAST(NULL AS BIGINT) AS rid FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, CAST(NULL AS BIGINT) AS event_id, t, 0 AS side,
        |    event_id AS rid FROM e WHERE event_type = 'click'),
        |u AS (SELECT * FROM v UNION ALL SELECT * FROM c),
        |w AS (SELECT *,
        |    last_value(rid IGNORE NULLS) OVER wb AS bid,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wb AS bt,
        |    first_value(rid IGNORE NULLS) OVER wf AS fid,
        |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER wf AS ft
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, side, rid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY t, side, rid
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |p AS (SELECT *, (bid IS NOT NULL AND
        |    (fid IS NULL OR t - bt <= ft - t)) AS pickb FROM w)
        |SELECT event_id, user_id,
        |  CASE WHEN pickb THEN bid ELSE fid END AS asof_event_id,
        |  CAST(CASE WHEN pickb THEN t - bt
        |    WHEN fid IS NOT NULL THEN ft - t END AS BIGINT) AS asof_gap
        |FROM p WHERE side = 1""".stripMargin)),

    // ---- ML prep: smoothed target (mean) encoding of event_type
    //      against value — fit is an aggregation, transform a
    //      broadcast join ----
    // exact decimal label sums on the 1e-9 grid; prior/shrinkage one
    // pinned chain; non-encodable rows pass through null
    Gate("q256_target_encode", (s, dir) =>
      graft.ops.Encode.targetEncode(t(s, dir, "events"),
        "event_type", "value", smoothing = 20.0), Sql(
      """WITH b AS (SELECT *, CAST(round(value, 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |g AS (SELECT sum(CASE WHEN ok THEN y END) AS gs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS gn
        |  FROM b),
        |grid AS (SELECT event_type AS cat, sum(y) AS cs,
        |    CAST(count(*) AS BIGINT) AS cn FROM b WHERE ok GROUP BY 1)
        |SELECT event_id, ts, user_id, event_type, value, props,
        |  CASE WHEN ok THEN
        |    (CAST(cs AS DOUBLE) + CAST(20 AS DOUBLE) *
        |      (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) /
        |    (CAST(cn AS DOUBLE) + CAST(20 AS DOUBLE)) END AS encoded
        |FROM b LEFT JOIN grid ON grid.cat = b.event_type
        |CROSS JOIN g""".stripMargin)),

    // ---- ML prep: leave-one-out target encoding — the leakage-safe
    //      variant, one window pass instead of a join ----
    // same grid, each row's own label excluded from its category sum
    Gate("q257_target_encode_loo", (s, dir) =>
      graft.ops.Encode.targetEncode(t(s, dir, "events"),
        "event_type", "value", smoothing = 20.0, leaveOneOut = true), Sql(
      """WITH b AS (SELECT *, CAST(round(value, 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |g AS (SELECT sum(CASE WHEN ok THEN y END) AS gs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS gn
        |  FROM b),
        |w AS (SELECT *,
        |    sum(CASE WHEN ok THEN y END)
        |      OVER (PARTITION BY CASE WHEN ok THEN event_type END) AS cs,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY CASE WHEN ok THEN event_type END)
        |      AS BIGINT) AS cn
        |  FROM b)
        |SELECT event_id, ts, user_id, event_type, value, props,
        |  CASE WHEN ok AND CAST(cn - 1 AS DOUBLE) + CAST(20 AS DOUBLE) > 0
        |    THEN (CAST(cs - y AS DOUBLE) + CAST(20 AS DOUBLE) *
        |      (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) /
        |    (CAST(cn - 1 AS DOUBLE) + CAST(20 AS DOUBLE)) END AS encoded
        |FROM w CROSS JOIN g""".stripMargin)),

    // ---- ML prep: deterministic label indexing — dense indexes by
    //      (frequency DESC, value ASC), a total order ----
    // (frequency DESC, value ASC) is a total order: same corpus, same
    // index, any engine
    Gate("q258_index_encode", (s, dir) =>
      graft.ops.Encode.indexEncode(t(s, dir, "documents"), "lang"), Sql(
      """WITH grid AS (SELECT lang AS cat, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |r AS (SELECT cat, CAST(row_number() OVER (ORDER BY n DESC, cat ASC)
        |    - 1 AS BIGINT) AS idx FROM grid)
        |SELECT doc_id, text, lang, source, n_chars, idx AS encoded
        |FROM documents LEFT JOIN r ON r.cat = documents.lang""".stripMargin)),

    // ---- CDC round trip: diff a mutated snapshot against the base,
    //      APPLY the feed back — apply ∘ changes must be the identity
    //      (the batch MERGE-INTO contract, checked end to end) ----
    // the oracle IS the target snapshot: apply ∘ changes = identity
    Gate("q262_cdc_apply", (s, dir) => {
      val prev = t(s, dir, "customer")
      val mutated = prev.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
      val inserts = prev.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L)
      val current = mutated.unionByName(inserts)
      val feed = graft.cdc.CDC.changes(current, prev, Seq("c_custkey"),
        compareFields = Seq("c_acctbal"), changeTimestamp = None)
      graft.cdc.CDC.applyChanges(prev, feed, Seq("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
        |    ELSE c_acctbal END AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 11 <> 0
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
        |  c_mktsegment
        |FROM customer WHERE c_custkey % 13 = 0""".stripMargin)),

    // ---- observability: data-quality counters observed DURING a
    //      write (CollectMetrics — zero extra passes) ----
    // the observed counters must equal the direct aggregation
    Gate("q263_observe", (s, dir) =>
      graft.ops.Observe.observed(s, t(s, dir, "events"),
        graft.ops.Observe.counters("value"))(
        _.write.format("noop").mode("overwrite").save())
        .withColumn("sum_value", col("sum_value").cast("double")), Sql(
      """SELECT CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin)),

    // ---- robust aggregation: quantity-weighted median price per
    //      flag — the exact lower weighted median, all integer ----
    // the exact lower weighted median: first value where 2·cumW ≥ W
    Gate("q268_weighted_median", (s, dir) =>
      graft.agg.GroupBy.weightedMedian(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity"), Sql(
      """WITH g AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS gw,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL
        |    AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
        |  GROUP BY 1, 2),
        |c2 AS (SELECT *,
        |    CAST(sum(gw) OVER (PARTITION BY l_returnflag ORDER BY v)
        |      AS BIGINT) AS cum,
        |    CAST(sum(gw) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM g)
        |SELECT l_returnflag, max(n) AS n, max(tot) AS total_weight,
        |  CAST(min(v) AS DOUBLE) AS wmedian
        |FROM c2 WHERE 2 * cum >= tot GROUP BY 1""".stripMargin)),

    // ---- plan lint as a SESSION LISTENER — install once, every
    //      action's EXECUTED (AQE-final) plan linted with no call
    //      sites; report = one row per action x rule ----
    // deliberately-bad plan over nation/region/orders: the lint
    // report is a PLAN-SHAPE pin (fixed Spark version + session
    // config => deterministic rows) — cartesian + merge-hinted tiny
    // join + global window/sort + udf + length() filter fire their
    // rules; the window machinery leaves 3 interpreted projections;
    // the 3 shuffles stay under the default ceiling of 4
    // the q377 argument, continuously: executed-plan shapes are
    // deterministic per Spark version + config, so the listener's
    // action x rule report pins to literal rows — action 0 is the
    // clean keyed count (2 exchanges: partial->final agg + the
    // count's single-partition close), action 1 the deliberate
    // global row_number (the one warn; its count() collapses the
    // window stage so no separate exchange row)
    Gate("q411_lint_listener", (s, dir) => {
      val lint = graft.core.PlanLint.install(s)
      try {
        // action 0: clean keyed aggregation — all rules ok
        t(s, dir, "events").groupBy(col("event_type")).count()
          .count(): Unit
        // action 1: global row_number — the single-partition sort
        // the lint exists to catch
        t(s, dir, "events")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("event_id"))))
          .filter(col("rn") <= 5L).count(): Unit
      } finally {
        // the listener bus is async — drain before reading
        org.apache.spark.graft.BenchInternals
          .drainListenerBus(s.sparkContext)
        lint.close()
      }
      lint.report().select("action", "func", "rule", "status", "n")
    }, Sql(
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'count', 'broadcastable-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'cartesian-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'exchange-count', 'ok', CAST(2 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'filter-not-pushed', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'global-sort', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'global-window', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'interpreted-stage', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 'count', 'scala-udf', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'broadcastable-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'cartesian-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'exchange-count', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'filter-not-pushed', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'global-sort', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'global-window', 'warn', CAST(1 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'interpreted-stage', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'count', 'scala-udf', 'ok', CAST(0 AS BIGINT))
        |) AS t(action, func, rule, status, n)""".stripMargin)),

    // ---- reporting: top-5 customers per priority + exact OTHER
    //      rollup — tail mass kept, not dropped ----
    // exact decimal member sums ranked (measure DESC, member ASC —
    // total order), k-cut + OTHER re-collapse, double cast at the end
    Gate("q277_topk_other", (s, dir) =>
      graft.agg.GroupBy.topKOther(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_custkey", "o_totalprice", k = 5), Sql(
      """WITH grid AS (SELECT o_orderpriority,
        |    CAST(o_custkey AS VARCHAR) AS m,
        |    CAST(count(*) AS BIGINT) AS c,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s2
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY s2 DESC, m) AS rk FROM grid),
        |l AS (SELECT o_orderpriority,
        |    CASE WHEN rk <= 5 THEN m ELSE 'OTHER' END AS member,
        |    CASE WHEN rk <= 5 THEN rk ELSE 6 END AS rank, c, s2 FROM r)
        |SELECT o_orderpriority, member, CAST(min(rank) AS BIGINT) AS rank,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(sum(s2) AS DOUBLE) AS measure
        |FROM l GROUP BY 1, 2""".stripMargin)),

    // ---- ML prep: deterministic stratified k-fold assignment —
    //      exact class balance, reproducible without an assignment
    //      table ----
    // same rank-mod-k on the same (stratum, orderkey) total order
    Gate("q282_kfold", (s, dir) =>
      graft.ops.Encode.kFoldAssign(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderkey", k = 5)
        .select(col("o_orderkey"), col("o_orderpriority"), col("fold")), Sql(
      """SELECT o_orderkey, o_orderpriority,
        |  CAST((row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey) - 1) % 5 AS INT) AS fold
        |FROM orders""".stripMargin)),

    // ---- join: interval-OVERLAP equi-binned self-join — which line
    //      items of the same order were in transit simultaneously
    //      (ship→receipt windows overlapping), each pair once ----
    // quadratic per-order self-join is the oracle; the engine's
    // binned equi-join must emit the identical pair set
    Gate("q283_overlap_join", (s, dir) => {
      // in-transit window: ship date + quantity days (the schema has
      // no receipt date; quantity is integral, so the cast is exact)
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate").isNotNull &&
          col("l_quantity").isNotNull)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("lid"),
          unix_date(col("l_shipdate").cast("date")).cast("long").as("lo"),
          (unix_date(col("l_shipdate").cast("date")).cast("long") +
            col("l_quantity").cast("long")).as("hi"))
      graft.join.Joins.overlapJoin(l, l, Seq("l_orderkey"),
          "lo", "hi", binWidth = 7.0)
        .filter(col("lid") < col("r_lid"))
    }, Sql(
      """WITH l AS (SELECT l_orderkey AS k, CAST(l_linenumber AS BIGINT)
        |    AS lid,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lo,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT)
        |      + CAST(l_quantity AS BIGINT) AS hi
        |  FROM lineitem WHERE l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL)
        |SELECT a.k AS l_orderkey, a.lid AS lid, a.lo AS lo, a.hi AS hi,
        |  b.lid AS r_lid, b.lo AS r_lo, b.hi AS r_hi
        |FROM l a JOIN l b ON a.k = b.k AND a.lid < b.lid
        |  AND a.lo <= b.hi AND b.lo <= a.hi""".stripMargin)),

    // ---- harmonization: quantile normalization across event-type
    //      slices — every slice forced onto the cross-slice
    //      reference distribution, internal ranking preserved ----
    // ranks on the (value-9-grid, event_id) total order; each rank's
    // reference = exact decimal mean over slices that have the rank
    Gate("q285_quantile_normalize", (s, dir) =>
      graft.ops.Encode.rankMeanNormalize(t(s, dir, "events"),
        "event_type", "value", "event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_qn")), Sql(
      """WITH b AS (SELECT event_id, event_type, value,
        |    CAST(round(CAST(value AS DOUBLE), 9) AS DECIMAL(18,9)) AS y,
        |    (event_type IS NOT NULL AND value IS NOT NULL) AS ok
        |  FROM events),
        |r AS (SELECT *, CASE WHEN ok THEN row_number() OVER
        |    (PARTITION BY CASE WHEN ok THEN event_type END
        |     ORDER BY y ASC, event_id ASC) END AS rk FROM b),
        |ref AS (SELECT rk, CAST(sum(y) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS refv
        |  FROM r WHERE rk IS NOT NULL GROUP BY 1)
        |SELECT r.event_id, r.event_type, r.value, ref.refv AS value_qn
        |FROM r LEFT JOIN ref ON r.rk = ref.rk""".stripMargin)),

    // ---- analytics: cumulative distinct event types per user —
    //      first-seen flag + running sum, both linear windows ----
    // first-seen flag on the (key, value) partition + running sum on
    // the key partition — the standard sliding-distinct rewrite
    Gate("q291_running_distinct", (s, dir) =>
      graft.agg.GroupBy.runningDistinct(t(s, dir, "events"),
        Seq("user_id"), "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("distinct_so_far")), Sql(
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL),
        |f AS (SELECT *, CASE WHEN event_type IS NOT NULL AND
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fs
        |  FROM e)
        |SELECT user_id, event_id, event_type,
        |  CAST(sum(fs) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_so_far
        |FROM f""".stripMargin)),

    // ---- plan lint: the internal PlanGuardSpec predicates as a
    //      user-facing 100×-readiness report; the linted plan is
    //      BUILT BAD on purpose (cartesian + global window + global
    //      sort + merge-hinted tiny join + udf + unpushable filter)
    //      so the gate pins which rules fire and which stay ok ----
    Gate("q377_plan_lint", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nation = t(s, dir, "nation")
        .filter(length(col("n_name")) > lit(3))
      val region = t(s, dir, "region")
      val pair = nation.hint("shuffle_replicate_nl").crossJoin(region)
      val orders = t(s, dir, "orders")
      val up = udf((x: String) => if (x == null) null else x.toUpperCase)
      val bad = orders
        .join(pair.hint("merge"),
          pmod(col("o_custkey"), lit(25L)) === col("n_nationkey"))
        .withColumn("u", up(col("o_orderpriority")))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("o_orderkey"))))
        .orderBy(col("rk"))
      graft.core.PlanLint.lint(bad).select("rule", "status", "n")
    }, Sql(
      """SELECT * FROM (VALUES
        |  ('broadcastable-join', 'warn', CAST(1 AS BIGINT)),
        |  ('cartesian-join', 'warn', CAST(1 AS BIGINT)),
        |  ('exchange-count', 'ok', CAST(3 AS BIGINT)),
        |  ('filter-not-pushed', 'warn', CAST(1 AS BIGINT)),
        |  ('full-width-scan', 'ok', CAST(0 AS BIGINT)),
        |  ('global-sort', 'warn', CAST(1 AS BIGINT)),
        |  ('global-window', 'warn', CAST(1 AS BIGINT)),
        |  ('interpreted-stage', 'warn', CAST(3 AS BIGINT)),
        |  ('nested-loop-join', 'ok', CAST(0 AS BIGINT)),
        |  ('partition-filter-missing', 'ok', CAST(0 AS BIGINT)),
        |  ('scala-udf', 'warn', CAST(1 AS BIGINT))
        |) AS t(rule, status, n)""".stripMargin)),

    // ---- record linkage: full Damerau-Levenshtein self-join over
    //      part names — byte-level DuckDB-pinned native kernel,
    //      (first char, ±len) blocking as pinned semantics ----
    // the q204 blocked all-pairs oracle with DuckDB's own
    // damerau_levenshtein (the kernel is pinned to it byte-for-byte)
    Gate("q308_dl_join", (s, dir) =>
      graft.join.Fuzzy.damerauSelfJoin(
        t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", maxDist = 2L), Sql(
      """WITH s AS (SELECT p_partkey AS id, p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) >= 1)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.id < b.id
        |  AND substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND abs(len(a.s) - len(b.s)) <= 2
        |WHERE damerau_levenshtein(a.s, b.s) <= 2""".stripMargin))
  )
}
