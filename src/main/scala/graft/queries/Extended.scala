package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Typed row for the Dataset[T] pipeline demo. */
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                    o_totalprice: Double)

/** Surface beyond the reference's own usage (SURVEY §2.3/§2.4/§2.5 notes
  * the reference sticks to inner-equi joins, plain aggregates and
  * unordered windows): outer/semi/anti/full joins, set ops, rollup/cube,
  * ranking windows and frames, date/string/array functions — all Spark
  * built-ins, all DuckDB-oracled. A reference user gets these "for free"
  * when switching.
  */
object Extended {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** `orders` grouped by the non-empty grouping `sets` of
    * (o_orderstatus, o_orderpriority) — one Expand + one aggregate —
    * plus the empty set `()` as a global aggregate, ordered with the
    * grouping-null keys first. The SQL standard gives `()` one
    * grand-total row even over zero input rows (DuckDB does: `cnt` 0,
    * `total` NULL), while Spark's Expand emits nothing for an empty
    * input; a global aggregate always returns its one row. */
  private def withGrandTotal(o: DataFrame, sets: Seq[Seq[String]],
                             aggs: Column*): DataFrame = {
    val keys = Seq("o_orderstatus", "o_orderpriority")
    val grouped = o.groupingSets(sets.map(_.map(col)), keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val total = o.agg(aggs.head, aggs.tail: _*).select(
      keys.map(k => lit(null).cast(o.schema(k).dataType).as(k)) ++
        grouped.columns.drop(keys.size).map(col): _*)
    grouped.unionByName(total).orderBy(
      keys.map(k => col(k).asc_nulls_first): _*)
  }

  val queries: Map[String, Q] = Map(
    // left outer join with aggregated right side
    "x_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // left semi join (EXISTS)
    "x_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // left anti join (NOT EXISTS)
    "x_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // full outer join of two disjointly-filtered aggregates
    "x_join_full" -> ((s, dir) => {
      val cu = t(s, dir, "customer").filter(col("c_nationkey") < 15)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_nationkey") >= 10)
        .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
      cu.join(su, Seq("nk"), "full_outer")
        .select(col("nk"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    }),

    // INTERSECT (distinct semantics)
    "x_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // EXCEPT (distinct semantics)
    "x_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // ROLLUP with grouping-null keys pinned NULLS FIRST
    "x_rollup" -> ((s, dir) => withGrandTotal(t(s, dir, "orders"),
      Seq(Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderstatus")),
      count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))),

    // CUBE
    "x_cube" -> ((s, dir) => withGrandTotal(t(s, dir, "orders"),
      Seq(Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderstatus"),
        Seq("o_orderpriority")),
      count(lit(1)).as("cnt"))),

    // GROUPING SETS — the explicit-set form between ROLLUP and CUBE
    // (per-status x per-priority margins plus the grand total, no
    // (status, priority) cross cells)
    "x_grouping_sets" -> ((s, dir) => withGrandTotal(t(s, dir, "orders"),
      Seq(Seq("o_orderstatus"), Seq("o_orderpriority")),
      count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))),

    // ranking windows with deterministic tie-break
    "x_rank_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // running-sum frame (ROWS UNBOUNDED PRECEDING .. CURRENT ROW)
    "x_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // lag/lead
    "x_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // date functions (UTC session; outputs cast for cross-engine types)
    "x_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_add(to_date(col("o_orderdate")), 30).cast("string")
            .as("plus30"))
        .orderBy("o_orderkey")
    }),

    // string functions
    "x_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("u"),
          substring(col("p_name"), 1, 5).as("pre"),
          length(col("p_name")).cast("long").as("len"),
          replace(col("p_name"), lit(" "), lit("_")).as("snake"),
          concat_ws("|", col("p_brand"), col("p_type")).as("joined"))
        .orderBy("p_partkey")
    }),

    // grouped array agg, deterministically sorted; the list is built by
    // collect_set/sort_array then flattened with array_join because the
    // driver's comparer cannot sort list-typed columns
    "x_array_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
          .as("prios"))
        .orderBy("o_orderstatus")
    }),

    // HAVING
    "x_having" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 8)
        .orderBy("o_custkey")
    }),

    // multi-CTE + correlated EXISTS through SQL (reference query.rs CTE
    // shape, extended with correlation)
    "x_cte_exists" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH big AS (
          SELECT o_custkey, count(*) AS cnt FROM orders
          GROUP BY o_custkey HAVING count(*) >= 5),
        named AS (
          SELECT c_custkey, c_name FROM customer
          WHERE EXISTS (SELECT 1 FROM big WHERE big.o_custkey = c_custkey))
        SELECT c_custkey, c_name FROM named ORDER BY c_custkey""")
    }),

    // manual pivot via conditional aggregation
    "x_pivot_manual" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // native RelationalGroupedDataset.pivot (vs the manual CASE twin
    // x_pivot_manual): pivoted columns named by value, counts per cell
    "x_pivot" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // z-order curve positions certified bit-for-bit: the exact
    // write-time ordering expressions behind ZOrder.writeZOrdered (the
    // 2-D magic-mask interleave AND the k=3 per-bit interleave),
    // computed per lineitem row in both engines
    "x_zorder" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.operators.ZOrder.zorderValue(col("l_partkey"),
            col("l_suppkey")).as("z"),
          graft.operators.ZOrder.zorderValueN(Seq(col("l_partkey"),
            col("l_suppkey"), col("l_linenumber"))).as("z3"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "z")
    }),

    // UNPIVOT — the inverse of x_pivot: wide per-flag metric columns
    // back to (metric, value) rows via the stack() generator, a narrow
    // codegen'd expansion with no shuffle beyond the aggregate (the
    // metrics-table reshape every reporting layer wants)
    "x_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(sum("l_discount"), 2).as("sum_disc"))
        .selectExpr("l_returnflag",
          "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, " +
            "'sum_disc', sum_disc) AS (metric, value)")
        .orderBy("l_returnflag", "metric")
    }),

    // sketched quantiles next to exact ones — same accuracy-claim oracle
    // pattern as x_approx_distinct: approx_percentile must land within
    // 2% relative of the exact interpolating median in BOTH engines
    "x_approx_quantile" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 3).as("p50"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"))
        .select(col("l_returnflag"), col("p50"),
          (abs(col("ap") - col("p50")) <= col("p50") * 0.02).as("approx_ok"))
        .orderBy("l_returnflag")
    }),

    // exact interpolating quartiles per group
    "x_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.25)"), 3).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 3).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 3).as("p75"))
        .orderBy("l_returnflag")
    }),

    // regex extraction (patterns valid in both Java regex and RE2)
    "x_regexp" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(col("source"), "src([0-9]+)", 1).as("src_num"),
          regexp_count(col("text"), lit("data")).cast("long").as("n_data"))
        .orderBy("doc_id")
    }),

    // JSON scalar functions over the events props column
    "x_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("k_mod")
    }),

    // HLL sketch next to the exact answer. Raw HLL estimates are
    // engine-specific, so the sketch is verified through an
    // engine-agnostic ACCURACY claim instead: the estimate must land
    // within 10% of the exact count (rsd is 2%, so this holds in any
    // correct HLL) — both engines compute the same boolean and the row
    // fully oracle-checks, exact column included.
    "x_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("approx_ok"))
        .orderBy("l_returnflag")
    }),

    // O6: random sampling. PARITY form: ORDER BY random() LIMIT 1 — a
    // full global sort to pick one row. Fine on a 5-row dim; a
    // scale-killer on a 100 TB fact (total shuffle sort of the corpus).
    // The scale-safe twin is below.
    //
    // The sample itself is nondeterministic by design, so the ORACLED
    // output is its INVARIANTS (the x_approx_distinct trick): row count
    // equals the requested sample size and every sampled row is a member
    // of the source table — DuckDB draws its own random sample and
    // verifies the same two booleans, so the row fully value-checks.
    "x_sample" -> ((s, dir) => {
      val tbl = t(s, dir, "region").select("r_regionkey", "r_name")
      val samp = tbl.orderBy(rand()).limit(1)
      samp.join(tbl.withColumn("hit", lit(1)),
          Seq("r_regionkey", "r_name"), "left")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(expr("bool_and(hit IS NOT NULL)"), lit(true))
            .as("all_in_table"))
    }),

    // O6 scale twin: rand() < p filter + limit — a narrow scan-side filter
    // (no shuffle, no sort; each partition drops ~(1-p) of its rows and
    // the limit short-circuits the scan). This is the form that survives
    // 100 TB; size p so the expected survivor count safely exceeds the
    // limit (1% of lineitem >> 5 at every sf). Same invariant-oracle
    // wrapping as x_sample; the membership side is DISTINCT because the
    // synthetic lineitem duplicates (l_orderkey, l_linenumber) pairs and
    // a raw join would inflate n_rows.
    "x_sample_scalable" -> ((s, dir) => {
      val tbl = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val samp = tbl.filter(rand() < 0.01).limit(5)
      samp.join(tbl.distinct().withColumn("hit", lit(1)),
          Seq("l_orderkey", "l_linenumber"), "left")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(expr("bool_and(hit IS NOT NULL)"), lit(true))
            .as("all_in_table"))
    }),

    // typed Dataset[T] pipeline: case-class filter/map with Encoders.
    // Typed lambdas cost codegen (documented tradeoff) — parity demo for
    // the reference's struct-level processing, not a hot-path pattern.
    "x_typed_ds" -> ((s, dir) => {
      val ds = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .as(Encoders.product[OrderRow])
      ds.filter(o => o.o_orderstatus == "F" && o.o_totalprice > 100000.0)
        .map(o => (o.o_orderkey, o.o_totalprice * 0.9))(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
        .toDF("o_orderkey", "discounted")
        .orderBy("o_orderkey")
    }),

    // null handling: nullif/coalesce/nvl2-style
    "x_null_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
            .as("status_filled"))
        .orderBy("o_orderkey")
    }),
  )

  val oracle: Map[String, String] = Map(
    // the samplers verify INVARIANTS of an engine-local random draw —
    // each engine samples independently, both must see (n_rows = sample
    // size, all rows members of the source)
    "x_sample" ->
      """SELECT count(*)::BIGINT AS n_rows,
           coalesce(bool_and(r.r_regionkey IS NOT NULL), true)
             AS all_in_table
         FROM (SELECT r_regionkey, r_name FROM region
               ORDER BY random() LIMIT 1) s
         LEFT JOIN region r
           ON s.r_regionkey = r.r_regionkey AND s.r_name = r.r_name""",
    "x_sample_scalable" ->
      """SELECT count(*)::BIGINT AS n_rows,
           coalesce(bool_and(r.l_orderkey IS NOT NULL), true)
             AS all_in_table
         FROM (SELECT l_orderkey, l_linenumber FROM lineitem
               WHERE random() < 0.01 LIMIT 5) s
         LEFT JOIN (SELECT DISTINCT l_orderkey, l_linenumber
                    FROM lineitem) r
           ON s.l_orderkey = r.l_orderkey
          AND s.l_linenumber = r.l_linenumber""",
    "x_approx_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey)::BIGINT AS exact_parts,
           (abs(approx_count_distinct(l_partkey) -
                count(DISTINCT l_partkey))
              <= count(DISTINCT l_partkey) * 0.1) AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x_join_left" ->
      """SELECT c_custkey, coalesce(cnt, 0) AS n_orders
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
           ON c_custkey = o.o_custkey
         ORDER BY c_custkey""",
    "x_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "x_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "x_join_full" ->
      """SELECT coalesce(cu.nk, su.nk) AS nk,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
               WHERE c_nationkey < 15 GROUP BY 1) cu
         FULL OUTER JOIN
              (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
               WHERE s_nationkey >= 10 GROUP BY 1) su
           ON cu.nk = su.nk
         ORDER BY nk""",
    "x_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",
    "x_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",
    // x_rollup, x_cube and x_grouping_sets: on a zero-row `orders` the
    // empty grouping set still yields its grand-total row (`cnt` 0,
    // `total` NULL); the Spark side computes `()` as a global aggregate
    // so it does too (see [[withGrandTotal]])
    "x_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "x_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "x_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "x_rank_window" ->
      """SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn, rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""",
    "x_window_frame" ->
      """SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "x_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "x_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate)::BIGINT AS y,
           month(o_orderdate)::BIGINT AS m, day(o_orderdate)::BIGINT AS d,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30
         FROM orders ORDER BY o_orderkey""",
    "x_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS u, substring(p_name, 1, 5) AS pre,
           length(p_name)::BIGINT AS len,
           replace(p_name, ' ', '_') AS snake,
           p_brand || '|' || p_type AS joined
         FROM part ORDER BY p_partkey""",
    "x_array_agg" ->
      """SELECT o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
             AS prios
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "x_having" ->
      """SELECT o_custkey, count(*) AS cnt FROM orders
         GROUP BY o_custkey HAVING count(*) >= 8 ORDER BY o_custkey""",
    "x_cte_exists" ->
      """WITH big AS (
           SELECT o_custkey, count(*) AS cnt FROM orders
           GROUP BY o_custkey HAVING count(*) >= 5),
         named AS (
           SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM big WHERE big.o_custkey = c_custkey))
         SELECT c_custkey, c_name FROM named ORDER BY c_custkey""",
    "x_pivot_manual" ->
      """SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "x_pivot" ->
      """SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "x_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           ${graft.operators.ZOrder.zorderValueSql("l_partkey",
             "l_suppkey")} AS z,
           ${graft.operators.ZOrder.zorderValueNSql(Seq("l_partkey",
             "l_suppkey", "l_linenumber"))} AS z3
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, z""",
    "x_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(sum(l_discount), 2) AS sum_disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, metric, value FROM (
           SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value
           FROM a
           UNION ALL
           SELECT l_returnflag, 'sum_price', sum_price FROM a
           UNION ALL
           SELECT l_returnflag, 'sum_disc', sum_disc FROM a)
         ORDER BY l_returnflag, metric""",
    "x_approx_quantile" ->
      """WITH e AS (SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 3) AS p50,
             approx_quantile(l_extendedprice, 0.5) AS ap
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, p50,
           (abs(ap - p50) <= p50 * 0.02) AS approx_ok
         FROM e ORDER BY l_returnflag""",
    "x_typed_ds" ->
      """SELECT o_orderkey, o_totalprice * 0.9 AS discounted
         FROM orders
         WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
         ORDER BY o_orderkey""",
    "x_percentiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 3) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 3) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 3) AS p75
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "x_regexp" ->
      """SELECT doc_id, regexp_extract(source, 'src([0-9]+)', 1) AS src_num,
           len(regexp_extract_all(text, 'data'))::BIGINT AS n_data
         FROM documents ORDER BY doc_id""",
    "x_json_props" ->
      """SELECT json_extract_string(props, '$.k')::BIGINT % 10 AS k_mod,
           count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1""",
    "x_null_funcs" ->
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled
         FROM orders ORDER BY o_orderkey""",
  )
}
