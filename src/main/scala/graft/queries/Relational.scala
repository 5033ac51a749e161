package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.operators.DataFrameOps
import graft.functions.Udfs

/** The relational operator inventory (SURVEY.md §2.2-§2.10) as named
  * queries over the driver's testdata tables, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - every query ends in a total ORDER BY over a unique key set;
  *  - double aggregates are rounded (sums/avgs: inputs are 2-decimal, so
  *    round(2/4) sits far from any rounding boundary; medians: round(3)
  *    because a median of 2-decimal values has at most 3 decimals);
  *  - min/max/count/per-row arithmetic are exact — never rounded;
  *  - integer sums in the oracle are cast to BIGINT (DuckDB widens to
  *    HUGEINT, Spark to LongType).
  */
object Relational {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, Q] = Map(
    // A1/A2: grouped multi-aggregate (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P8: SQL-fragment predicate (reference df_sql) + projection pushdown
    "q_filter_pred" -> ((s, dir) => {
      DataFrameOps.dfSql(t(s, dir, "lineitem"),
          "l_quantity > 45 and l_returnflag in ('A','N')")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // order by every column for a total, engine-independent order
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // P10: CASE WHEN update-by-criteria
    "q_case_when" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("adj_price"))
        .orderBy("o_orderkey")
    }),

    // P11: arithmetic projections incl. modulo
    "q_arith" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") + 1).as("q1"),
          (((col("l_orderkey") - 1) % 7) + 1).as("rr"))
        .orderBy("l_orderkey", "l_linenumber", "q1")
    }),

    // J1/J2: inner equi-join with post-filter
    "q_join_inner" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // J3: multi-key self-join (pairs of lines for the same order+part)
    "q_join_multikey" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_partkey"), col("l_linenumber").as("ln1"))
      val b = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_partkey"), col("l_linenumber").as("ln2"))
      a.join(b, Seq("l_orderkey", "l_partkey"), "inner")
        .filter(col("ln1") < col("ln2"))
        .select(col("l_orderkey"), col("ln1"), col("ln2"))
        .orderBy("l_orderkey", "ln1", "ln2")
    }),

    // J4: n-way fold join on a shared key (reference join_dfs)
    "q_join_nway" -> ((s, dir) => {
      val f1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("id"), col("n_name").as("name"))
      val f2 = t(s, dir, "customer").groupBy(col("c_nationkey").as("id"))
        .agg(count(lit(1)).as("cnt_cust"))
      val f3 = t(s, dir, "supplier").groupBy(col("s_nationkey").as("id"))
        .agg(count(lit(1)).as("cnt_supp"))
      DataFrameOps.joinDfs(Seq(f1, f2, f3), Seq("id")).orderBy("id")
    }),

    // A1: global (no-group) multi-aggregate with aliases
    "q_agg_global" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        count(col("l_orderkey")).as("count_id"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        countDistinct(col("l_suppkey")).as("n_supp"))
    }),

    // A2: min/max/median grouped aggregate (1BRC shape)
    "q_median" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(min("l_quantity").as("q_min"),
          max("l_quantity").as("q_max"),
          round(median(col("l_quantity")), 3).as("q_med"))
        .orderBy("l_returnflag")
    }),

    // A5: scalar subquery as a predicate (reference least_values)
    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
               ORDER BY o_orderkey""")
    }),

    // A6: scalar subquery in arithmetic (reference round_robin)
    "q_round_robin" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "region").createOrReplaceTempView("region")
      s.sql("""SELECT o_orderkey,
                      ((o_orderkey - 1) % (SELECT count(*) FROM region)) + 1
                        AS worker
               FROM orders ORDER BY o_orderkey""")
    }),

    // W1/W2: aggregate windows over unordered whole partitions
    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          count(col("o_orderkey")).over(w).as("cnt"),
          round(sum(col("o_totalprice")).over(w), 2).as("sum_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // O5: top-k = sort + limit (TakeOrderedAndProject)
    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // O4: offset + fetch
    "q_offset_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .offset(20).limit(5)
    }),

    // U1: union-all of same-schema frames (reference concat_dfs)
    "q_union" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      DataFrameOps.concatDfs(Seq(
        o.filter(col("o_orderstatus") === "F"),
        o.filter(col("o_orderstatus") === "O")))
        .orderBy("o_orderkey")
    }),

    // distinct projection (set-op extension; Spark built-in)
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // F1: scalar UDF split_text over a synthesized dotted string
    "q_udf_split" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          Udfs.splitText(concat_ws(".", col("o_orderpriority"),
            col("o_orderstatus"))).as("prio"))
        .orderBy("o_orderkey")
    }),

    // F2/F3: 1BRC — struct-returning UDF parse + grouped min/max/median
    "q_1brc" -> ((s, dir) => {
      val raw = t(s, dir, "events")
        .select(concat_ws(";", col("event_type"),
          col("value").cast("string")).as("column_1"))
      raw.select(Udfs.splitRow(col("column_1")).as("r"))
        .select(col("r.city").as("city"), col("r.temperature").as("temp"))
        .groupBy("city")
        .agg(min("temp").as("t_min"), max("temp").as("t_max"),
          round(median(col("temp")), 3).as("t_med"))
        .orderBy("city")
    }),

    // 1BRC with codegen'd builtins instead of the UDF — the "functions,
    // not UDFs" counterpart of q_1brc (same oracle, same answer)
    "q_1brc_fast" -> ((s, dir) => {
      val raw = t(s, dir, "events")
        .select(concat_ws(";", col("event_type"),
          col("value").cast("string")).as("column_1"))
      raw.select(
          substring_index(col("column_1"), ";", 1).as("city"),
          substring_index(col("column_1"), ";", -1).try_cast("double")
            .as("temp"))
        .groupBy("city")
        .agg(min("temp").as("t_min"), max("temp").as("t_max"),
          round(median(col("temp")), 3).as("t_med"))
        .orderBy("city")
    }),

    // tumbling hourly window over events
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("string").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
        .orderBy("h", "event_type")
    }),

    // C1: pack columns into a JSON string column (sorted keys, lazy)
    "q_cols_to_json" -> ((s, dir) => {
      graft.operators.ColumnPack.colsToJson(t(s, dir, "nation"),
          Seq("n_name", "n_regionkey"), "payload")
        .orderBy("n_nationkey")
    }),

    // C2: pack columns into a nested struct column (caller field order)
    // The struct is built by the operator, then destructured to scalar
    // fields for the driver's comparer (which cannot sort nested columns);
    // the nested-value shape itself is pinned by ColumnPackSpec.
    "q_cols_to_struct" -> ((s, dir) => {
      graft.operators.ColumnPack.colsToStruct(t(s, dir, "nation"),
          Seq("n_name", "n_regionkey"), "s")
        .select(col("n_nationkey"),
          col("s.n_name").as("s_n_name"),
          col("s.n_regionkey").as("s_n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // C6: sequential Int32 pk in sorted row order (zipWithIndex path)
    "q_add_pk" -> ((s, dir) => {
      graft.operators.ColumnAppend.addPk(
          t(s, dir, "nation").orderBy("n_nationkey"), "pk")
        .select("n_nationkey", "pk")
    }),

    // C17 shape: JSON pack + field extraction round trip
    "q_json_extract" -> ((s, dir) => {
      val packed = graft.operators.ColumnPack.colsToJson(
        t(s, dir, "documents"), Seq("lang", "n_chars"), "payload")
      packed.select(col("doc_id"), col("payload"),
          get_json_object(col("payload"), "$.lang").as("lang_back"))
        .orderBy("doc_id")
    }),

    // skew-salted join: result-identical to the plain equi-join (the
    // salt only respreads rows across reducers), so the plain join IS
    // the oracle — the skew tool verified, not just spec'd. The factor
    // is MEASURED from a sampled key histogram (adaptive): a uniform key
    // measures ~1 and pays no salting cost, a hot key sizes itself.
    "q_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey",
        "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name",
        "c_nationkey")
      graft.operators.ScaleJoins.adaptiveSaltedJoin(
          o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_nationkey")
    }),

    // multi-way star join: region -> nation -> customer -> orders rollup
    "q_star_join" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      // dims are broadcast-sized at any SF; fact side shuffles once on custkey
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("r_name", "n_name")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS cnt
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45 AND l_returnflag IN ('A','N')
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q_case_when" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                ELSE o_totalprice END AS adj_price
         FROM orders ORDER BY o_orderkey""",
    "q_arith" ->
      """SELECT l_orderkey, l_linenumber, l_quantity + 1 AS q1,
           ((l_orderkey - 1) % 7) + 1 AS rr
         FROM lineitem ORDER BY l_orderkey, l_linenumber, q1""",
    "q_join_inner" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F'
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q_join_multikey" ->
      """SELECT a.l_orderkey, a.l_linenumber AS ln1, b.l_linenumber AS ln2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey = b.l_partkey
         WHERE a.l_linenumber < b.l_linenumber
         ORDER BY a.l_orderkey, ln1, ln2""",
    "q_join_nway" ->
      """SELECT n.n_nationkey AS id, n.n_name AS name, c.cnt_cust, s.cnt_supp
         FROM nation n
         JOIN (SELECT c_nationkey AS id, count(*) AS cnt_cust
               FROM customer GROUP BY 1) c ON n.n_nationkey = c.id
         JOIN (SELECT s_nationkey AS id, count(*) AS cnt_supp
               FROM supplier GROUP BY 1) s ON n.n_nationkey = s.id
         ORDER BY id""",
    "q_agg_global" ->
      """SELECT count(l_orderkey) AS count_id,
           round(sum(l_quantity), 2) AS sum_qty,
           count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem""",
    "q_median" ->
      """SELECT l_returnflag, min(l_quantity) AS q_min,
           max(l_quantity) AS q_max,
           round(median(l_quantity), 3) AS q_med
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
         ORDER BY o_orderkey""",
    "q_round_robin" ->
      """SELECT o_orderkey,
           ((o_orderkey - 1) % (SELECT count(*) FROM region)) + 1 AS worker
         FROM orders ORDER BY o_orderkey""",
    "q_window" ->
      """SELECT o_custkey, o_orderkey,
           count(o_orderkey) OVER (PARTITION BY o_custkey) AS cnt,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
             AS sum_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q_offset_limit" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         ORDER BY o_orderkey LIMIT 5 OFFSET 20""",
    "q_union" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_orderstatus FROM orders
         WHERE o_orderstatus = 'O'
         ORDER BY o_orderkey""",
    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY 1, 2""",
    "q_udf_split" ->
      """SELECT o_orderkey,
           split_part(o_orderpriority || '.' || o_orderstatus, '.', 1)
             AS prio
         FROM orders ORDER BY o_orderkey""",
    "q_1brc" ->
      """WITH raw AS (
           SELECT event_type || ';' || CAST(value AS varchar) AS column_1
           FROM events),
         parsed AS (
           SELECT split_part(column_1, ';', 1) AS city,
                  CAST(split_part(column_1, ';', 2) AS double) AS temp
           FROM raw)
         SELECT city, min(temp) AS t_min, max(temp) AS t_max,
                round(median(temp), 3) AS t_med
         FROM parsed GROUP BY city ORDER BY city""",
    "q_1brc_fast" ->
      """WITH raw AS (
           SELECT event_type || ';' || CAST(value AS varchar) AS column_1
           FROM events),
         parsed AS (
           SELECT split_part(column_1, ';', 1) AS city,
                  CAST(split_part(column_1, ';', 2) AS double) AS temp
           FROM raw)
         SELECT city, min(temp) AS t_min, max(temp) AS t_max,
                round(median(temp), 3) AS t_med
         FROM parsed GROUP BY city ORDER BY city""",
    "q_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS varchar) AS h, event_type,
           count(*) AS cnt, round(sum(value), 2) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_cols_to_json" ->
      """SELECT n_nationkey,
           to_json(struct_pack(n_name := n_name, n_regionkey := n_regionkey))
             AS payload
         FROM nation ORDER BY n_nationkey""",
    "q_cols_to_struct" ->
      """SELECT n_nationkey,
           struct_pack(n_name := n_name, n_regionkey := n_regionkey).n_name
             AS s_n_name,
           struct_pack(n_name := n_name, n_regionkey := n_regionkey)
             .n_regionkey AS s_n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "q_add_pk" ->
      """SELECT n_nationkey,
           (row_number() OVER (ORDER BY n_nationkey) - 1)::INT AS pk
         FROM nation ORDER BY n_nationkey""",
    "q_json_extract" ->
      """SELECT doc_id,
           to_json(struct_pack(lang := lang, n_chars := n_chars)) AS payload,
           json_extract_string(
             to_json(struct_pack(lang := lang, n_chars := n_chars)),
             '$.lang') AS lang_back
         FROM documents ORDER BY doc_id""",
    "q_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
  )
}
