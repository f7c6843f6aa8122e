package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.board._

/** Driver contract — the operator inventory of SURVEY.md §2 (names with
  * t- and a- prefixes), the relational parity-plus surface (r-), and the
  * training-data-pipeline extensions (x-), each a [[BoardQuery]] declared
  * in its family's file under `graft.board`.
  */
object SparkEntry {

  /** Name → record; a name declared twice is an error naming it. */
  private[graft] def index(records: Seq[BoardQuery]): Map[String, BoardQuery] = {
    val dups = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        s"board query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(r => r.name -> r).toMap
  }

  /** Every board query, family by family. */
  private[graft] lazy val records: Seq[BoardQuery] =
    CoreQueries.queries ++ RelationalQueries.queries ++ CurationQueries.queries ++
      LanguageQueries.queries ++ DedupQueries.queries ++ GraphQueries.queries ++
      StatsQueries.queries ++ EventsQueries.queries ++ PhysicalQueries.queries

  private[graft] lazy val board: Map[String, BoardQuery] = index(records)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    board.map { case (n, q) => n -> q.run }

  lazy val oracleSql: Map[String, String] =
    board.map { case (n, q) => n -> q.oracle }

  /** Optional comma-separated query-name subset from SPARK_GRAFT_QUERIES —
    * the shared Bench/Verify local-iteration filter (driver leaves it
    * unset and runs everything).
    */
  def querySubset: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("t7_reduce")(spark, "/root/testdata/sf0.001")
}
