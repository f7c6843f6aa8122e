package graft.tools

import org.apache.spark.scheduler._

/** Per-job decomposition of a declared query's bench-shape run: runs
  * `<query>` `reps` times through the noop sink (exactly what Bench
  * times) and prints, for each run, every Spark job's wall clock plus
  * the driver-side gaps between jobs (planning / codegen / collect
  * time) — the breakdown that says whether a small-scale query is
  * compute-bound or latency-bound. Not part of the driver contract.
  *
  * Usage: QueryProfile <sfDir> <queryName>[,query2,...] [reps=3]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val usage = "QueryProfile <sfDir> <queryName>[,query2,...] [reps=3]"
    val (dir, qcsv, reps) = args match {
      case Array(d, q) => (d, q, 3)
      case Array(d, q, r) if r.toIntOption.exists(_ > 0) => (d, q, r.toInt)
      case _ => DevArgs.usage(usage)
    }
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = DevArgs.cpus(usage)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.GraftSession.registerFunctions(spark)
    graft.GraftSession.registerOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int)]()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val runMs = new java.util.concurrent.atomic.AtomicLong()
    val nTasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (e.time, e.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = starts.remove(e.jobId)
        if (s != null) jobs.add((e.jobId, s._1, e.time, s._2))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
          runMs.addAndGet(e.taskMetrics.executorRunTime)
          nTasks.incrementAndGet()
        }
    })

    // warmup shared shapes
    try graft.SparkEntry.queries("t7_reduce")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    def codegenCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_SOURCE_CODE_SIZE.getCount
    def compileMs(): Double = {
      val h = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      h.getCount * h.getSnapshot.getMean
    }
    for (r <- 1 to reps; name <- names) {
      jobs.clear(); cpuNs.set(0L); runMs.set(0L); nTasks.set(0L)
      val cg0 = codegenCount()
      val cm0 = compileMs()
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val js = {
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.sortBy(_._2)
      }
      println(f"[qprof] run $r $name wall=$wall%.2fs jobs=${js.size}")
      var prevEnd = t0ms
      var jobSum = 0L
      var gapSum = 0L
      js.foreach { case (id, s, e, nt) =>
        val gap = s - prevEnd
        gapSum += math.max(0L, gap)
        jobSum += (e - s)
        println(f"[qprof]   job $id%3d gap=${gap}%5d ms dur=${e - s}%6d ms tasks=$nt%4d")
        prevEnd = math.max(prevEnd, e)
      }
      println(f"[qprof]   sum: jobs=${jobSum} ms gaps=${gapSum} ms (wall ${(wall * 1000).toLong} ms) " +
        f"cpu=${cpuNs.get / 1000000}%d ms taskRun=${runMs.get}%d ms tasks=${nTasks.get}%d " +
        f"codegenUnits=${codegenCount() - cg0}%d compileMs=${(compileMs() - cm0).toLong}%d")
    }
    spark.stop()
  }
}
