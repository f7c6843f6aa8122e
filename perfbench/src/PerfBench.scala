package perfbench

import java.nio.file.Paths

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` launches it.
  *
  * Arguments are `key=value` pairs:
  *  - `mode=setup` builds a ready session, prints `PERFBENCH READY` and exits;
  *  - `mode=run` does the same, then runs one workload over `fixtures`: a
  *    cold pass; `warmupPasses` untimed passes, the first of them over
  *    `verifyFixtures` and writing every query's result as parquet under
  *    `out/verify` for the oracle check; then timed passes for `seconds`
  *    (at least two).
  *  - `trace=1` adds the listener, codegen capture and per-phase spans.
  *
  * Everything it measures lands in `out/run.json` (and `out/trace.json`
  * when traced), written once the run has ended.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out"))

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.registerFunctions(spark)
    graft.GraftSession.registerOptimizations(spark)
    spark.sparkContext.setCheckpointDir(out.resolve("checkpoint").toString)
    val t2 = System.nanoTime()
    println("PERFBENCH READY")
    Console.out.flush()

    if (opt("mode") == "run") {
      val session = Map("build_ms" -> (t1 - t0) / 1e6, "register_ms" -> (t2 - t1) / 1e6)
      try runWorkload(spark, opt, cores, out, session)
      finally spark.stop()
    } else Runtime.getRuntime.halt(0) // a set-up sample: nothing to keep, nothing to flush
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def runWorkload(spark: SparkSession, opt: Map[String, String], cores: Int,
                          out: java.nio.file.Path, session: Map[String, Double]): Unit = {
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
    val queries = Workloads(workload)
    val rng = new scala.util.Random(opt("seed").toLong)

    // One query execution: build, (traced: plan), execute. A query that
    // throws is a failure and never a time.
    def execute(q: Query, pass: Int, dir: String, sink: (Query, Prepared) => Unit): Option[Double] = {
      val start = System.nanoTime()
      val span = tracer.map(_.openQuery(q, pass))
      val ok =
        try {
          val p = tracer.fold(q.build(spark, dir))(_.phase("build")(q.build(spark, dir)))
          tracer.foreach(t => t.phase("plan")(t.inspect(p.df)))
          tracer.fold(sink(q, p))(_.phase("execute")(sink(q, p)))
          true
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] ${q.name} FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      val wall = (System.nanoTime() - start) / 1e9
      span.foreach(tracer.get.closeQuery(_, ok))
      // as graft.Bench: drop whatever a query left cached, outside its time
      spark.catalog.clearCache()
      if (ok) Some(wall) else None
    }

    def pass(i: Int, dir: String = opt("fixtures"),
             sink: (Query, Prepared) => Unit = (_, p) => p.run()): Map[String, Any] = {
      // The cold pass keeps the declared order: its first query pays the
      // JVM's class loading, and a permuted cold pass would swing
      // cold_pass_s by ~10% with the seed. Every later pass is permuted.
      val order = if (i == 0) queries else rng.shuffle(queries)
      val l0 = loadAvg()
      val t = System.nanoTime()
      val times = order.map(q => q.name -> execute(q, i, dir, sink))
      Map(
        "pass" -> i, "wall_s" -> (System.nanoTime() - t) / 1e9,
        "load_start" -> l0, "load_end" -> loadAvg(),
        "order" -> order.map(_.name),
        "queries" -> times.toMap)
    }

    // Pass 0 is the cold pass. `warmupPasses` untimed passes follow: the JIT
    // keeps compiling well past the first pass (a second pass reads ~10%
    // slower than later ones, and the short sif_closures passes keep
    // speeding up for five). A fixed count, not a time, so every run of a
    // workload times the same stage of warm-up. The first warm-up pass
    // doubles as the verify pass: every query's result is written as
    // parquet for the oracle check. Then come the timed passes, for at
    // least `seconds` and at least two.
    val passes = scala.collection.mutable.ArrayBuffer(pass(0))
    passes += pass(1, opt("verifyFixtures"), (q, p) => p.result().write.mode("overwrite")
      .parquet(out.resolve("verify").resolve(q.name).toString))
    while (passes.size <= opt("warmupPasses").toInt) passes += pass(passes.size)
    val warmup = passes.size
    val timedStart = System.nanoTime()
    while (passes.size - warmup < 2 || (System.nanoTime() - timedStart) / 1e9 < seconds)
      passes += pass(passes.size)
    tracer.foreach(_.stop())

    writeJson(out.resolve("run.json"), Map(
      "workload" -> workload,
      "spark_version" -> spark.version,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "session" -> session,
      "warmup_passes" -> warmup,
      "passes" -> passes,
      "oracle_sql" -> queries.map(q => q.name -> q.oracle).toMap))
    tracer.foreach(t => writeJson(out.resolve("trace.json"), t.dump()))
  }

  /** Scala maps, sequences and options as JSON; `None` is `null`. */
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(p: java.nio.file.Path, v: Any): Unit =
    mapper.writeValue(p.toFile, v)
}
