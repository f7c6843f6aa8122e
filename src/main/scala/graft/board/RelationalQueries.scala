package graft
package board

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import Helpers._

/** The relational parity-plus surface (r-, SURVEY §2.5 gaps, Spark-native):
  * joins, set operations, windows, grouping sets, SQL functions and the
  * as-of joins of [[graft.operators.AsOf]].
  */
private[graft] object RelationalQueries {

  val queries: Seq[BoardQuery] = Seq(

    // Multi-way join with broadcast dimension (nation) + exact agg.
    BoardQuery("r_join", ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(28, 6))).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("n_name")
    }),
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    BoardQuery("r_semi_join", ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    BoardQuery("r_anti_join", ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    BoardQuery("r_outer_join", ((s, dir) => {
      val c = t(s, dir, "customer")
      val oc = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      c.join(oc, c("c_custkey") === oc("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, COALESCE(cnt, 0) AS n_orders
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) oc
        |  ON c_custkey = oc.o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // Correlated EXISTS subquery — planned as a left-semi join (Catalyst
    // RewritePredicateSubquery), not a per-row probe.
    BoardQuery("r_exists", ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, c.c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 300000)
          |ORDER BY c.c_custkey""".stripMargin)
    }),
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |ORDER BY c.c_custkey""".stripMargin),

    // LATERAL correlated subquery join — each customer's single most
    // expensive order. Catalyst decorrelates this into a window/top-1 per
    // key rather than executing the subquery per row.
    BoardQuery("r_lateral", ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
          |         WHERE o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
          |ORDER BY c.c_custkey""".stripMargin)
    }),
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin),

    // Cartesian product — legitimate only when one side is tiny (here
    // region×nation); Spark plans a broadcast nested loop, never a
    // shuffled cartesian, because the small side is broadcast-sized.
    BoardQuery("r_cross_join", ((s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")
    }),
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // match each other, unlike plain = where they match nothing. Nulls
    // are injected deterministically since the testdata keys are all
    // non-null.
    BoardQuery("r_nullsafe_join", ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_nationkey"))
          .as("k"))
      val n = t(s, dir, "nation").select(
        when(col("n_nationkey") === 0, lit(null)).otherwise(col("n_nationkey"))
          .as("nk"),
        col("n_name"))
      c.join(n, col("k") <=> col("nk"))
        .select(col("c_custkey"), col("n_name"))
        .orderBy("c_custkey", "n_name")
    }),
      """WITH c AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS k
        |  FROM customer),
        |n AS (SELECT CASE WHEN n_nationkey = 0 THEN NULL
        |             ELSE n_nationkey END AS nk, n_name FROM nation)
        |SELECT c_custkey, n_name FROM c JOIN n ON k IS NOT DISTINCT FROM nk
        |ORDER BY c_custkey, n_name""".stripMargin),

    // Array aggregation + higher-order transform: per-customer sorted
    // order lists, lambda applied per element — no explode round-trip.
    // Output serializes the arrays (array_join) so the comparison layer
    // only ever sees scalar columns; the plan still exercises
    // collect_list / sort_array / transform.
    BoardQuery("r_array_funcs", ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("o"),
          count(lit(1)).as("n"))
        .select(col("o_custkey"),
          array_join(col("o"), ",").as("orders"),
          array_join(transform(col("o"), x => x * 2), ",").as("doubled"),
          col("n"))
        .orderBy("o_custkey")),
      """WITH a AS (
        | SELECT o_custkey, list_sort(list(o_orderkey)) AS o,
        |        COUNT(*) AS n
        | FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, array_to_string(o, ',') AS orders,
        |       array_to_string(list_transform(o, x -> x * 2), ',') AS doubled,
        |       n
        |FROM a ORDER BY o_custkey""".stripMargin),

    // Window functions: ranking + running aggregate (frame-ordered, so
    // double accumulation order is pinned on both engines).
    BoardQuery("r_window_rank", ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        row_number().over(w).cast("long").as("rn"),
        sum(col("l_quantity").cast(DecimalType(28, 4))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_qty"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),
      """SELECT l_orderkey, l_linenumber, l_partkey,
        | ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) OVER (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_partkey, l_suppkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    BoardQuery("r_window_running", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(28, 4))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("cum_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    BoardQuery("r_distinct", ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    BoardQuery("r_union", ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(sup).distinct().orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    BoardQuery("r_intersect", ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(sup).orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    BoardQuery("r_except", ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(sup).orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    BoardQuery("r_rollup", ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    BoardQuery("r_cube", ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    BoardQuery("r_union_all", ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.unionAll(sup).orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION ALL SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    // Column-name-resolved union: sides declare columns in different
    // orders; unionByName aligns by name (plain union is positional).
    BoardQuery("r_union_by_name", ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"), lit("c").as("src"))
      val sup = t(s, dir, "supplier").select(
        lit("s").as("src"), col("s_name").as("name"), col("s_suppkey").as("id"))
      c.unionByName(sup).orderBy("src", "id")
    }),
      """SELECT * FROM (
        | SELECT c_custkey AS id, c_name AS name, 'c' AS src FROM customer
        | UNION ALL BY NAME
        | SELECT 's' AS src, s_name AS name, s_suppkey AS id FROM supplier)
        |ORDER BY src, id""".stripMargin),

    // LIMIT/OFFSET paging over a total order.
    BoardQuery("r_offset", ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey").offset(100).limit(50)),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin),

    BoardQuery("r_full_outer", ((s, dir) => {
      val big = t(s, dir, "customer").where(col("c_acctbal") > 0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val sup = t(s, dir, "supplier")
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      big.join(sup, big("c_nationkey") === sup("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
        | COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |      WHERE c_acctbal > 0 GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
        |      GROUP BY s_nationkey) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin),

    BoardQuery("r_grouping_sets", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    BoardQuery("r_pivot", ((s, dir) => {
      val p = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
        .agg(count(lit(1)))
      p.select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"),
        coalesce(col("P"), lit(0L)).as("p_cnt"))
        .orderBy("o_orderpriority")
    }),
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    BoardQuery("r_count_distinct", ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_suppkey")).as("d_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("d_flags"))),
      """SELECT COUNT(DISTINCT l_partkey) AS d_parts,
        | COUNT(DISTINCT l_suppkey) AS d_supps,
        | COUNT(DISTINCT (l_returnflag, l_linestatus)) AS d_flags
        |FROM lineitem""".stripMargin),

    // NOT IN subquery — null-aware anti semantics (NOT IN is not a plain
    // left-anti join when nulls can appear; expressed in SQL so Catalyst
    // plans the null-aware variant).
    BoardQuery("r_not_in", ((s, dir) => {
      // register only the two tables this query touches — registerTables
      // re-reads every table's footer, a fixed tax per invocation
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """SELECT c_custkey, c_nationkey FROM customer
          |WHERE c_nationkey NOT IN
          |  (SELECT n_nationkey FROM nation WHERE n_name LIKE 'A%')
          |ORDER BY c_custkey""".stripMargin)
    }),
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT n_nationkey FROM nation WHERE n_name LIKE 'A%')
        |ORDER BY c_custkey""".stripMargin),

    // RANGE window frame: per customer, total spend over orders priced
    // within 1000.0 below the current order — value-range frames, the
    // complement of the ROWS frames in r_window_running. RANGE includes
    // all value-peers of the current row, so the result is deterministic
    // under order ties; decimal accumulation keeps it order-independent.
    BoardQuery("r_window_range", ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER (
          |   PARTITION BY o_custkey ORDER BY o_totalprice
          |   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_spend
          |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)
    }),
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_totalprice
        |   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Exact percentiles (sort-based interpolation; l_quantity is
    // integral-valued so quartile interpolation is exact in double).
    BoardQuery("r_percentile", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
        .orderBy("l_returnflag")),
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS p25,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Post-aggregation filter (HAVING).
    BoardQuery("r_having", ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("spend"))
        .where(col("n_orders") >= 12)
        .orderBy("o_custkey")),
      """SELECT o_custkey, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 12 ORDER BY o_custkey""".stripMargin),

    // Top-k per group (QUALIFY shape): rank inside the partition, keep
    // the head — the windowed filter pattern, one shuffle on the key.
    BoardQuery("r_topk_per_group", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("rk").cast("long").as("rk"))
        .orderBy("o_custkey", "rk")
    }),
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin),

    BoardQuery("r_window_lag", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),
      """SELECT o_custkey, o_orderkey,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | LEAD(o_totalprice, 1) OVER w AS next_price,
        | CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // SQL surface: the engine's spark.sql passthrough with a scalar
    // subquery — identical SQL text runs on both engines.
    BoardQuery("r_sql_subquery", ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderkey,
          | o_totalprice - (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
          |                        / COUNT(*) FROM orders) AS delta
          |FROM orders ORDER BY o_orderkey""".stripMargin)
    }),
      """SELECT o_orderkey,
        | o_totalprice - (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
        |                        / COUNT(*) FROM orders) AS delta
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Scalar function library passthrough (string / date / math / json /
    // conditional) — sif has none of these (closures only).
    BoardQuery("r_string_funcs", ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("pfx"),
        length(col("p_name")).cast("long").as("len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("tag"),
        regexp_replace(col("p_type"), " ", "_").as("slug"))
        .orderBy("p_partkey")),
      """SELECT p_partkey, UPPER(p_name) AS uname, SUBSTR(p_name, 1, 5) AS pfx,
        | CAST(LENGTH(p_name) AS BIGINT) AS len,
        | p_brand || '#' || p_type AS tag,
        | REPLACE(p_type, ' ', '_') AS slug
        |FROM part ORDER BY p_partkey""".stripMargin),

    BoardQuery("r_date_funcs", ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")),
      """SELECT o_orderkey,
        | CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        | CAST(MONTH(o_orderdate) AS BIGINT) AS mon,
        | CAST(DAY(o_orderdate) AS BIGINT) AS dom,
        | CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    BoardQuery("r_math_funcs", ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        abs(col("l_discount") - lit(0.05)).as("a"),
        floor(col("l_quantity") / lit(7.0)).as("f"),
        ceil(col("l_extendedprice") / lit(1000.0)).as("c"),
        sqrt(col("l_quantity")).as("s"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
      """SELECT l_orderkey, l_linenumber, l_partkey,
        | ABS(l_discount - 0.05) AS a,
        | CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS f,
        | CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS c,
        | SQRT(l_quantity) AS s
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    BoardQuery("r_case_expr", ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 150000, "mid")
          .otherwise("small").as("bucket"))
        .orderBy("o_orderkey")),
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 300000 THEN 'big'
        |      WHEN o_totalprice > 150000 THEN 'mid'
        |      ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    BoardQuery("r_json_extract", ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // Event-time tumbling window aggregation (batch form; the streaming
    // form with watermarks lives in graft.streaming + its spec).
    BoardQuery("r_events_window", ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("sum_value"))
        .orderBy("hour", "event_type")),
      """SELECT DATE_TRUNC('hour', ts) AS hour, event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Sliding (hopping) event-time windows — the tumbling twin above
    // generalized: 6 h windows every 2 h, each event counted into
    // width/slide = 3 overlapping windows via Spark's native window()
    // explode (codegen'd; exact epoch-µs alignment arithmetic both
    // engines reproduce bit-for-bit).
    BoardQuery("r_hopping_window", ((s, dir) =>
      t(s, dir, "events").where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("sum_value"))
        .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("win_start", "event_type")),
      // Window membership reproduced arithmetically: an event at epoch-µs
      // t belongs to the 3 windows starting at slide·(t//slide − j),
      // j ∈ 0..2 (start ≤ t < start+width holds unconditionally when
      // width = 3·slide).
      """WITH e AS (SELECT epoch_us(ts) AS t, event_type, value
        |  FROM events WHERE ts IS NOT NULL),
        |j AS (SELECT unnest(range(0, 3)) AS j)
        |SELECT
        | make_timestamp(7200000000 * (t // 7200000000 - j)) AS win_start,
        | make_timestamp(7200000000 * (t // 7200000000 - j)
        |   + 21600000000) AS win_end,
        | event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM e, j GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin),

    // As-of join with a match-age tolerance (pandas merge_asof parity):
    // most recent purchase per event, but only within the last hour —
    // older matches resolve to null. Same single window pass; the oracle
    // age-gates DuckDB's native ASOF match with a CASE.
    BoardQuery("r_asof_tolerance", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val purch = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("event_id")).as("p_event_id"))
      graft.operators.AsOf.join(ev, purch, "user_id", "us", "p_us",
          Seq("p_event_id"), tolerance = Some(3600000000L)) // 1h in micros
        .select(col("event_id"), col("user_id"),
          col("asof_p_event_id").as("recent_purchase_id"))
        .orderBy("event_id")
    }),
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, MAX(event_id) AS p_event_id
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        | CASE WHEN e.us - p.p_us <= 3600000000 THEN p.p_event_id END
        |   AS recent_purchase_id
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us >= p.p_us
        |ORDER BY e.event_id""".stripMargin),

    // As-of join (most-recent purchase per event) — composed from one
    // union + one window pass (graft.operators.AsOf); oracle is DuckDB's
    // native ASOF LEFT JOIN. Integer (epoch-micros) comparisons → exact.
    BoardQuery("r_asof_join", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val purch = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("event_id")).as("p_event_id"))
      graft.operators.AsOf.join(ev, purch, "user_id", "us", "p_us",
          Seq("p_event_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_p_event_id").as("prev_purchase_id"))
        .orderBy("event_id")
    }),
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, MAX(event_id) AS p_event_id
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, p.p_event_id AS prev_purchase_id
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us >= p.p_us
        |ORDER BY e.event_id""".stripMargin),

    // Same as-of semantics through the custom Catalyst operator
    // (AsOfJoin logical node -> GraftStrategies -> BroadcastAsOfJoinExec):
    // right side broadcast as a key->ts-sorted index, per-left-row binary
    // search, ZERO shuffles (vs one for the union+window composition).
    // Same DuckDB ASOF LEFT JOIN oracle as r_asof_join.
    BoardQuery("r_asof_broadcast", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val purch = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .agg(max(col("event_id")).as("p_event_id"))
      graft.operators.AsOf.broadcastJoin(ev, purch, "user_id", "us", "p_us",
          Seq("p_event_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_p_event_id").as("prev_purchase_id"))
        .orderBy("event_id")
    }),
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us, MAX(event_id) AS p_event_id
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, p.p_event_id AS prev_purchase_id
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us >= p.p_us
        |ORDER BY e.event_id""".stripMargin),

    // Sessionization: 30-min-gap sessions per user — exact integer
    // arithmetic on epoch micros, so the oracle matches bit-for-bit.
    BoardQuery("r_sessionize", ((s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("new_s",
          when(col("us") - lag(col("us"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id")))
            > lit(1800000000L), 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg((sum(col("new_s")) + 1L).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (
        | SELECT user_id,
        |  CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |       > 1800000000 THEN 1 ELSE 0 END AS new_s
        | FROM e)
        |SELECT user_id, CAST(SUM(new_s) + 1 AS BIGINT) AS n_sessions,
        | COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
