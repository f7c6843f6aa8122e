package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  import org.apache.spark.sql.types._
  /** True if the type contains (possibly nested) a decimal wider than
    * 18 digits — the int128 class the driver's gate can't hash. */
  private def hasWideDecimal(dt: DataType): Boolean = dt match {
    case d: DecimalType   => d.precision > 18
    case s: StructType    => s.fields.exists(f => hasWideDecimal(f.dataType))
    case a: ArrayType     => hasWideDecimal(a.elementType)
    case m: MapType       => hasWideDecimal(m.keyType) || hasWideDecimal(m.valueType)
    case _                => false
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // run under the library's own session defaults (same configs and
    // registered functions/rules a user of GraftSession gets)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    GraftSession.registerOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    // reliable-checkpoint dir: iterative ops (connectedComponents) land
    // each round on real storage instead of executor-lifetime blocks
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    new java.io.File(outDir).mkdirs()
    // Fixture-schema smoke check: if the testdata was regenerated with an
    // encoding the adaptive readers can't absorb, say so by column name
    // in the first seconds of the run instead of via N opaque failures.
    val drift = GraftSession.fixtureSchemaDrift(spark, sfDir)
    drift.foreach(d => System.err.println(s"[verify] FIXTURE DRIFT: $d"))
    val only = SparkEntry.querySubset
    // A failed query must be LOUD: it lands in _errors.json and fails the
    // whole run (nonzero exit). Round 6 proved the alternative — a query
    // that throws at analysis writes no parquet and silently vanishes
    // from the correctness board, reading as green-by-omission.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val res = fn(spark, sfDir)
        // Gate-type guard (round-10 lesson): the driver's hasher can't
        // canonicalize int128-class values, so an output with a
        // DECIMAL(p>18) column hash-fails even when every value matches
        // its oracle. Fail HERE, by column name, not 9 rounds later.
        val wide = res.schema.fields.collect {
          case f if hasWideDecimal(f.dataType) => s"${f.name}: ${f.dataType.sql}"
        }
        require(wide.isEmpty,
          s"query '$name' emits int128-class column(s) " +
            s"${wide.mkString(", ")} — narrow to BIGINT at the query edge " +
            "(board.Helpers.big) and CAST the oracle to BIGINT")
        res.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        errors(name) = msg.take(2000)
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
