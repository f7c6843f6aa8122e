package graft.board

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query: its name, its pipeline over a fixture directory, and
  * the DuckDB SQL whose result the pipeline must hash-match.
  *
  * Oracle-reproducibility rules used throughout:
  *  - Aggregate sums of doubles accumulate in DECIMAL then cast to double —
  *    float addition is order-sensitive, decimal addition is not, so
  *    Spark's shuffle order vs DuckDB's scan order cannot flip bits.
  *  - Every query output carries a deterministic total ORDER BY on a
  *    unique key, mirrored in the oracle SQL.
  *  - Explicit casts keep result schemas identical (e.g. Spark `size()`
  *    is INT while DuckDB `len()` is BIGINT).
  */
final case class BoardQuery(name: String,
                            run: (SparkSession, String) => DataFrame,
                            oracle: String)
