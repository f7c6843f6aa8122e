package perfbench

import graft.SparkEntry
import graft.api.{Accumulator, ColType, GraftFrame, GraftRow}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, desc}
import scala.util.chaining._

/** A query made ready to run: `df` is the plan the traced run inspects,
  * `run` is the timed action and `result` is what the oracle check reads.
  */
final case class Prepared(df: DataFrame, run: () => Unit, result: () => DataFrame)

/** One workload query. `layer` names the module its build step calls into. */
final case class Query(name: String, layer: String, oracle: String,
                       build: (SparkSession, String) => Prepared)

object Workloads {

  /** Board queries, built through `SparkEntry` and, all but
    * [[parquetSink]], written to the noop sink exactly as `graft.Bench`
    * times them. perfbench/README.md says why each list holds what it
    * holds.
    */
  private val board: Map[String, Seq[String]] = Map(
    "kernel_docs" -> Seq("x_resolve_links", "x_soundex", "x_scrub", "x_url_canon",
      "x_readability", "x_fasttext", "x_pii_census"),
    "graph_loops" -> Seq("x_pagerank", "x_sssp"))

  /** Board queries whose result is written as parquet instead of to the
    * noop sink, so that the sink layer (Spark's file writer and its
    * commit) is timed and its bytes counted.
    */
  private val parquetSink = Set("x_scrub")

  val names: Seq[String] = board.keys.toSeq.sorted :+ "sif_closures"

  def apply(workload: String): Seq[Query] = workload match {
    case "sif_closures" => SifClosures.queries
    case w => board.getOrElse(w, throw new IllegalArgumentException(
      s"unknown workload '$w' (known: ${names.mkString(", ")})")).map { n =>
      Query(n, "functions", SparkEntry.oracleSql(n), (s, dir) => {
        val df = SparkEntry.queries(n)(s, dir)
        Prepared(df, () => if (parquetSink(n)) parquet(df, n) else noop(df), () => df)
      })
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Overwrites the same directory under the JVM's temp dir on each run. */
  private def parquet(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "perfbench-sink", name).toString)
}

/** sif's own surface: `GraftFrame` closures over `lineitem`, in the shapes
  * of sif's integration tests (heatmap map + reduce, filter → flatMap →
  * compound-key reduce, accumulate, collect). All arithmetic is integer,
  * so the DuckDB oracle matches exactly.
  */
object SifClosures {

  private def lineitem(s: SparkSession, dir: String, cols: String*): GraftFrame =
    GraftFrame(graft.GraftSession.readTable(s, dir, "lineitem").select(cols.map(col): _*))

  private def longKey(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  private def frameQuery(f: GraftFrame): Prepared =
    Prepared(f.df, () => Workloads.noop(f.df), () => f.df)

  // heatmap shape (sif nyc_taxi_test): map adds a grid cell, reduce on its bytes
  private def heatmap(s: SparkSession, dir: String): Prepared = frameQuery(
    lineitem(s, dir, "l_partkey", "l_suppkey", "l_linenumber")
      .addColumn("cell", ColType.Int32).addColumn("n", ColType.Int64)
      .addColumn("w", ColType.Int64)
      .map { r =>
        r.set("cell", ((r.getLong("l_partkey") % 32) * 32 + r.getLong("l_suppkey") % 32).toInt)
          .set("n", 1L).set("w", r.getInt("l_linenumber").toLong)
      }
      .removeColumn("l_partkey", "l_suppkey", "l_linenumber")
      .reduce(r => java.nio.ByteBuffer.allocate(4).putInt(r.getInt("cell")).array(),
        (a, b) => a.set("n", a.getLong("n") + b.getLong("n"))
          .set("w", a.getLong("w") + b.getLong("w")))
      .pipe(f => GraftFrame(f.df.orderBy("cell"))))

  // filter → flatMap → compound-key reduce (sif flatmap / reduce tests)
  private def fanout(s: SparkSession, dir: String): Prepared = frameQuery(
    lineitem(s, dir, "l_orderkey", "l_partkey", "l_linenumber", "l_returnflag", "l_linestatus")
      .filter(r => r.getInt("l_linenumber") <= 4)
      .addColumn("part", ColType.Int32).addColumn("n", ColType.Int64)
      .addColumn("v", ColType.Int64)
      .flatMap { (r, newRow) =>
        (0 until (r.getLong("l_orderkey") % 3 + 1).toInt).map { i =>
          newRow().set("l_returnflag", r.getString("l_returnflag"))
            .set("l_linestatus", r.getString("l_linestatus"))
            .set("part", i).set("n", 1L).set("v", r.getLong("l_partkey") % 100 + i)
        }
      }
      .removeColumn("l_orderkey", "l_partkey", "l_linenumber")
      .reduce(r => s"${r.getString("l_returnflag")}|${r.getString("l_linestatus")}|${r.getInt("part")}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        (a, b) => a.set("n", a.getLong("n") + b.getLong("n"))
          .set("v", a.getLong("v") + b.getLong("v")))
      .pipe(f => GraftFrame(f.df.orderBy("l_returnflag", "l_linestatus", "part"))))

  private val keyMix: Accumulator[Long] = new Accumulator[Long] {
    def zero: Long = 0L
    def add(b: Long, r: GraftRow): Long =
      b + (r.getLong("l_orderkey") * 7 + r.getLong("l_partkey")) % 1009
    def merge(a: Long, b: Long): Long = a + b
  }

  // accumulate with a Long accumulator (sif accumulate test)
  private def accumulate(s: SparkSession, dir: String): Prepared = {
    val f = lineitem(s, dir, "l_orderkey", "l_partkey", "l_suppkey")
      .filter(r => r.getLong("l_suppkey") % 2 == 0)
    Prepared(f.df, () => { f.accumulate(keyMix); () },
      () => s.createDataFrame(Seq(Tuple1(f.accumulate(keyMix)))).toDF("acc"))
  }

  // per-order reduce, then collect(limit) of the largest orders (sif collect test)
  private def collectTop(s: SparkSession, dir: String): Prepared = {
    val f = lineitem(s, dir, "l_orderkey", "l_linenumber")
      .addColumn("n", ColType.Int64).addColumn("w", ColType.Int64)
      .map(r => r.set("n", 1L).set("w", r.getInt("l_linenumber").toLong))
      .removeColumn("l_linenumber")
      .reduce(r => longKey(r.getLong("l_orderkey")),
        (a, b) => a.set("n", a.getLong("n") + b.getLong("n"))
          .set("w", a.getLong("w") + b.getLong("w")))
      .pipe(f => GraftFrame(f.df.orderBy(desc("n"), col("l_orderkey"))))
    def rows(): DataFrame = {
      val got = f.collect(25).map(r => (r.getLong("l_orderkey"), r.getLong("n"), r.getLong("w")))
      s.createDataFrame(got.toSeq).toDF("l_orderkey", "n", "w")
    }
    Prepared(f.df, () => { f.collect(25); () }, () => rows())
  }

  val queries: Seq[Query] = Seq(
    Query("sc_heatmap", "api",
      "SELECT CAST((l_partkey % 32) * 32 + l_suppkey % 32 AS INTEGER) AS cell, " +
        "count(*) AS n, CAST(sum(l_linenumber) AS BIGINT) AS w " +
        "FROM lineitem GROUP BY 1 ORDER BY 1", heatmap),
    Query("sc_fanout", "api",
      "SELECT l_returnflag, l_linestatus, CAST(i AS INTEGER) AS part, count(*) AS n, " +
        "CAST(sum(l_partkey % 100 + i) AS BIGINT) AS v " +
        "FROM lineitem, range(0, 3) t(i) " +
        "WHERE l_linenumber <= 4 AND i < l_orderkey % 3 + 1 " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3", fanout),
    Query("sc_accumulate", "api",
      "SELECT CAST(sum((l_orderkey * 7 + l_partkey) % 1009) AS BIGINT) AS acc " +
        "FROM lineitem WHERE l_suppkey % 2 = 0", accumulate),
    Query("sc_collect", "api",
      "SELECT l_orderkey, count(*) AS n, CAST(sum(l_linenumber) AS BIGINT) AS w " +
        "FROM lineitem GROUP BY 1 ORDER BY n DESC, l_orderkey LIMIT 25", collectTop))
}
