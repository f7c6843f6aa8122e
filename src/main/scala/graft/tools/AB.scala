package graft.tools

/** Interleaved A/B of a session conf flag over declared queries — the
  * measurement shape that survives bursty co-tenant contention: config A
  * and config B alternate within the same minutes, so a noise window
  * poisons both arms equally, and the min-per-arm comparison stays
  * honest. Not part of the driver contract.
  *
  * Usage: AB <sfDir> <confKey> <valA> <valB> <reps> <query>[,query...]
  */
object AB {
  def main(args: Array[String]): Unit = {
    val usage = "AB <sfDir> <confKey> <valA> <valB> <reps> <query>[,query...]"
    val (dir, key, valA, valB, reps, qcsv) = args match {
      case Array(d, k, a, b, r, q) if r.toIntOption.exists(_ > 0) =>
        (d, k, a, b, r.toInt, q)
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
    def loadAvg(): Double = math.rint(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100
    // warmup
    try graft.SparkEntry.queries("t7_reduce")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val res = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (r <- 1 to reps; v <- Seq(valA, valB); n <- names) {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[ab] rep=$r $key=$v $n $dt%.2f s (load ${loadAvg()})")
      res((n, v)) = dt :: res((n, v))
    }
    for (n <- names) {
      val a = res((n, valA)).min
      val b = res((n, valB)).min
      println(f"[ab] MIN $n%-28s $key: $valA=$a%.2f s  $valB=$b%.2f s  (A/B ${a / b}%.2f)")
    }
    spark.stop()
  }
}
