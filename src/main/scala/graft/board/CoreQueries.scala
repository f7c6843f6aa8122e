package graft
package board

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Helpers._

/** sif's own surface (SURVEY §2.1–2.2): the core transforms (t-) and the
  * actions and accumulators (a-), plus x_quarantine, sif's error channel
  * on the [[graft.api.GraftFrame]] API.
  */
private[graft] object CoreQueries {

  val queries: Seq[BoardQuery] = Seq(

    // T1 Map: per-row computation, expressed declaratively (codegen'd).
    BoardQuery("t1_map", ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),
      """SELECT l_orderkey, l_linenumber, l_partkey,
        | l_extendedprice * (1.0 - l_discount) AS revenue,
        | l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    // T2 FlatMap: 1 row → n rows (explode).
    BoardQuery("t2_flatmap", ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"), explode(split(col("p_type"), " ")).as("word"))
        .orderBy("p_partkey", "word")
    }),
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
        |FROM part ORDER BY p_partkey, word""".stripMargin),

    // T3 Filter: predicate pushed to the parquet scan.
    BoardQuery("t3_filter", ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    // T4 AddColumn: declare a new empty (all-null) typed column.
    BoardQuery("t4_add_column", ((s, dir) => {
      t(s, dir, "region")
        .withColumn("note", lit(null).cast("string"))
        .orderBy("r_regionkey")
    }),
      """SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS note
        |FROM region ORDER BY r_regionkey""".stripMargin),

    // T5 RemoveColumn: physical column pruning (reaches the scan).
    BoardQuery("t5_remove_column", ((s, dir) => {
      t(s, dir, "customer").drop("c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // T6 RenameColumn.
    BoardQuery("t6_rename_column", ((s, dir) => {
      t(s, dir, "nation")
        .withColumnRenamed("n_nationkey", "nation_key")
        .withColumnRenamed("n_name", "nation_name")
        .withColumnRenamed("n_regionkey", "region_key")
        .orderBy("nation_key")
    }),
      """SELECT n_nationkey AS nation_key, n_name AS nation_name,
        | n_regionkey AS region_key
        |FROM nation ORDER BY nation_key""".stripMargin),

    // T7 Reduce: the aggregation primitive (TPC-H Q1 shape). Partial
    // aggregation (map-side combine) is Catalyst-automatic here.
    BoardQuery("t7_reduce", ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(28, 6))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"),
          (sum(col("l_quantity").cast(DecimalType(28, 4))).cast("double") / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // T8 Group: co-locate rows by key (shuffle, no aggregation).
    BoardQuery("t8_group", ((s, dir) => {
      t(s, dir, "lineitem")
        .repartition(col("l_returnflag"))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey FROM lineitem
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    // T9/T10 Repartition: explicit partition-count + key control.
    BoardQuery("t9_repartition", ((s, dir) => {
      t(s, dir, "events")
        .repartition(8, col("user_id"))
        .select(col("user_id"), col("event_id"))
        .orderBy("user_id", "event_id")
    }),
      """SELECT user_id, event_id FROM events
        |ORDER BY user_id, event_id""".stripMargin),

    // T11 KeyColumns: compound-key grouping.
    BoardQuery("t11_key_columns", ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // A1 Collect(limit): bounded deterministic top-k retrieval.
    BoardQuery("a1_collect", ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // A3 Counter accumulator.
    BoardQuery("a3_count", ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),
      "SELECT COUNT(*) AS cnt FROM lineitem"),

    // A4 Adder accumulator (exact sum of a double column).
    BoardQuery("a4_sum", ((s, dir) =>
      t(s, dir, "lineitem").agg(dsum(col("l_extendedprice")).as("total"))),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total
        |FROM lineitem""".stripMargin),

    // A5 Compose: several accumulators over one pass.
    BoardQuery("a5_compose", ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("cnt"),
        dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))),
      """SELECT COUNT(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total,
        | MIN(l_extendedprice) AS min_price,
        | MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin),

    // Error quarantine: closure failures routed to a side-channel with row
    // context (the reference's multierror), good rows unaffected. The
    // failure condition is deterministic, so the ok/err split is exactly
    // SQL-expressible and the whole channel is oracle-checked.
    BoardQuery("x_quarantine", ((s, dir) => {
      val q = graft.api.GraftFrame(t(s, dir, "documents"))
        .mapQuarantined { r =>
          if (r.getLong("n_chars") < 200L)
            throw new IllegalArgumentException(s"doc too short: ${r.getLong("n_chars")}")
          r
        }
      q.frame.df.select(col("doc_id"), lit("ok").as("status"))
        .unionByName(q.errors.select(col("row.doc_id").as("doc_id"),
          lit("err").as("status")))
        .orderBy("doc_id")
    }),
      """SELECT doc_id, CASE WHEN n_chars >= 200 THEN 'ok' ELSE 'err' END AS status
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
