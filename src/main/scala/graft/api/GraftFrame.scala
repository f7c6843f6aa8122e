package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** Row-level operation error with row context — mirrors the reference's
  * safe closure wrappers that attach the offending row to the error
  * (reference internal/util/operation.go:10-105).
  */
final class RowOpException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

/** Per-frame execution options. `ignoreRowErrors` reproduces the
  * reference's NodeOptions.IgnoreRowErrors (cluster/node.go:55,
  * s_execution.go:89-124): closure failures skip the row instead of
  * failing the job.
  */
final case class GraftOptions(ignoreRowErrors: Boolean = false)

/** Lazy operation chain over a Spark DataFrame — the analogue of the
  * reference's `DataFrame.To(ops...)` linear lineage (reference
  * dataframe.go:5-10, internal/dataframe/dataframe.go:69-82). Each
  * operation is declared against this wrapper and compiled to Catalyst
  * (relational ops) or typed Dataset closures (row closures), so the
  * optimizer sees through everything that is declarative.
  */
final case class GraftFrame(df: DataFrame, opts: GraftOptions = GraftOptions()) {

  def schema: StructType = df.schema
  def spark: SparkSession = df.sparkSession

  /** Chain operations, sif-style. */
  def to(ops: Operation*): GraftFrame = ops.foldLeft(this)((f, op) => op(f))

  def ignoreRowErrors(on: Boolean = true): GraftFrame = copy(opts = opts.copy(ignoreRowErrors = on))

  private def rowEnc(s: StructType) = Encoders.row(s)

  /** T1 Map — apply a closure to every row. The closure receives a mutable
    * facade and its (possibly mutated) result replaces the row.
    * Prefer [[withColumnExpr]] where the logic is expressible — closures
    * are opaque to Catalyst (reference map.go:25-35).
    */
  def map(fn: GraftRow => GraftRow): GraftFrame = {
    val s = schema
    val ignore = opts.ignoreRowErrors
    val out = df.mapPartitions { it =>
      val layout = new GraftRow.Layout(s)
      it.flatMap { r =>
        try Iterator.single(fn(layout.fromRow(r)).toRow)
        catch {
          case e: Exception if ignore => Iterator.empty
          case e: Exception => throw new RowOpException(s"map failed on row $r", e)
        }
      }
    }(rowEnc(s))
    copy(df = out)
  }

  /** T2 FlatMap — 0..n output rows per input row via a row factory
    * (reference flatmap.go:25-35).
    */
  def flatMap(fn: (GraftRow, () => GraftRow) => Seq[GraftRow]): GraftFrame = {
    val s = schema
    val ignore = opts.ignoreRowErrors
    val out = df.mapPartitions { it =>
      val layout = new GraftRow.Layout(s)
      it.flatMap { r =>
        try fn(layout.fromRow(r), () => layout.empty()).map(_.toRow)
        catch {
          case e: Exception if ignore => Seq.empty
          case e: Exception => throw new RowOpException(s"flatMap failed on row $r", e)
        }
      }
    }(rowEnc(s))
    copy(df = out)
  }

  /** T3 Filter — keep rows where the predicate holds (reference
    * filter.go:25-35). Errors under ignoreRowErrors drop the row.
    */
  def filter(fn: GraftRow => Boolean): GraftFrame = {
    val s = schema
    val ignore = opts.ignoreRowErrors
    val out = df.mapPartitions { it =>
      val layout = new GraftRow.Layout(s)
      it.filter { r =>
        try fn(layout.fromRow(r))
        catch {
          case e: Exception if ignore => false
          case e: Exception => throw new RowOpException(s"filter failed on row $r", e)
        }
      }
    }(rowEnc(s))
    copy(df = out)
  }

  /** Relational fast paths — Catalyst-visible, preferred over closures. */
  def filterExpr(cond: Column): GraftFrame = copy(df = df.where(cond))
  def withColumnExpr(name: String, c: Column): GraftFrame = copy(df = df.withColumn(name, c))
  def select(cols: Column*): GraftFrame = copy(df = df.select(cols: _*))

  /** T4 AddColumn — declare a new all-nil column of the given type
    * (reference with_column.go:22-36).
    */
  def addColumn(name: String, t: ColType): GraftFrame =
    copy(df = df.withColumn(name, lit(null).cast(t.spark)))

  /** T5 RemoveColumn — physically pruned by Catalyst immediately (the
    * reference defers to Repack; see SURVEY §4.1) (remove_column.go:20-34).
    */
  def removeColumn(names: String*): GraftFrame = copy(df = df.drop(names: _*))

  /** T6 RenameColumn (rename_column.go:20-34). */
  def renameColumn(oldName: String, newName: String): GraftFrame =
    copy(df = df.withColumnRenamed(oldName, newName))

  /** T7 Reduce — the reference's aggregation primitive: key each row to
    * bytes, co-locate equal keys, pairwise-merge rows (reference
    * reduce.go:94-110), run the way the reference runs it: each partition
    * first merges its rows into partials in a hash map keyed by the key
    * bytes (reduce.go:56-93, partition_tree.go:83-114), the partials
    * shuffle by key, and a sort-then-stream pass merges equal keys. Keys
    * compare by *content* (strictly stronger than the reference's
    * xxhash64-collision merge, reduce.go:112-125); a `null` key is a key
    * of its own. The merge folds the right row into the left and keeps
    * the result.
    *
    * Under `ignoreRowErrors` a row whose keyer throws is dropped and a
    * merge that throws keeps the left row as the merger left it;
    * otherwise either fails the job with a [[RowOpException]].
    */
  def reduce(keyFn: GraftRow => Array[Byte],
             mergeFn: (GraftRow, GraftRow) => GraftRow): GraftFrame = {
    if (df.isStreaming) throw new UnsupportedOperationException(
      "reduce merges the whole input, which a streaming frame never holds: run it " +
        "per micro-batch with MicroBatch.runPerBatch(stream, batch => " +
        "GraftFrame(batch).reduce(...).df, sink)")
    val s = schema
    val ignore = opts.ignoreRowErrors
    val key = Iterator.iterate("__key")(_ + "_")
      .find(k => !s.fieldNames.exists(_.equalsIgnoreCase(k))).get
    val partials = df.mapPartitions(
      GraftFrame.combine(_, s, keyFn, mergeFn, ignore))(
      rowEnc(StructType(StructField(key, BinaryType) +: s.fields)))
    val out = partials.repartition(col(key)).sortWithinPartitions(key)
      .mapPartitions(GraftFrame.mergeSorted(_, s, mergeFn, ignore))(rowEnc(s))
    copy(df = out)
  }

  /** T11 KeyColumns fast path: relational grouping on named columns. */
  def reduceByColumns(keys: Seq[String], aggs: Seq[Column]): GraftFrame =
    copy(df = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*))

  /** T8 Group — co-locate rows with equal keys, no merge (reference
    * group.go:9-23). Rows with one key land in one partition, sorted.
    */
  def group(keys: Column*): GraftFrame =
    copy(df = df.repartition(keys: _*).sortWithinPartitions(keys: _*))

  /** T9/T10 Repartition — group with explicit partition count
    * (repartition.go:10-23).
    */
  def repartition(numPartitions: Int, keys: Column*): GraftFrame =
    copy(df = df.repartition(numPartitions, keys: _*))

  /** T9/T10 Repartition by target rows-per-partition — the reference's
    * actual contract (repartition.go:10-23 takes targetPartitionSize, and
    * repartition_test.go:42-77 asserts ~10 rows per partition). Spark
    * sizes partitions in bytes, not rows, so this costs one extra counting
    * job to resolve the partition count; use the byte-based
    * `spark.sql.files.maxPartitionBytes` / AQE coalescing when row-count
    * granularity is not a hard requirement.
    */
  def repartitionBySize(targetRows: Long, keys: Column*): GraftFrame = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val n = df.count()
    val parts = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    if (keys.isEmpty) copy(df = df.repartition(parts))
    else copy(df = df.repartition(parts, keys: _*))
  }

  /** Runtime stats — the analogue of the reference's per-stage stats
    * service (reference internal/stats/stats.go:12-157, served over
    * gRPC): named metrics computed *during* execution, no extra pass.
    * Read them from the Observation after an action completes.
    */
  def observe(obs: org.apache.spark.sql.Observation, metrics: Column*): GraftFrame =
    copy(df = df.observe(obs, metrics.head, metrics.tail: _*))

  /** A1 Collect(limit) — bounded retrieval to the driver (reference
    * collect.go:68-80; limit is rows here, not partitions — see
    * [[collectPartitions]] for the reference's exact granularity).
    */
  def collect(limit: Int): Array[GraftRow] = {
    val layout = new GraftRow.Layout(schema)
    df.limit(limit).collect().map(layout.fromRow(_))
  }

  /** A1 Collect in the reference's exact granularity: pull at most
    * `numPartitions` whole partitions to the driver (reference
    * collect.go:43-62 counts *partitions*, and collect_test.go:56 reads
    * "Collect(2) — 2 partitions because there are 10 rows and 5 per
    * partition"). Scheduled via `runJob` on the first n partition ids
    * only, so the skipped partitions are never computed — not computed
    * and discarded.
    *
    * @return one row array per retrieved partition (≤ numPartitions)
    */
  def collectPartitions(numPartitions: Int): Array[Array[GraftRow]] = {
    require(numPartitions >= 0, s"numPartitions must be non-negative: $numPartitions")
    val layout = new GraftRow.Layout(schema)
    val rdd = df.rdd
    val n = math.min(numPartitions, rdd.getNumPartitions)
    if (n <= 0) Array.empty
    else spark.sparkContext
      .runJob(rdd, (it: Iterator[Row]) => it.toArray, 0 until n)
      .map(_.map(layout.fromRow(_)))
  }

  /** Run an action over this frame while recording per-stage runtime
    * stats — the reference's stats service surface (reference
    * internal/stats/stats.go:12-157 tracks per-stage transform/shuffle
    * runtime and row counts; Spark's listener bus carries the same
    * numbers here). Returns the action's result plus one [[StageStat]]
    * per completed stage (wall/executor time, task count, input and
    * shuffle row counts).
    *
    * Complements [[observe]] (data metrics, zero-cost, in-plan): this is
    * the *runtime* view. Stage events are asynchronous, so collection
    * waits until the listener drains (bounded by `waitMs`).
    */
  def runWithStats[A](action: DataFrame => A, waitMs: Long = 10000L): (A, Seq[StageStat]) = {
    val sc = spark.sparkContext
    // scope attribution to THIS action's jobs: stages from concurrent
    // work on the shared context must not land in this result
    val group = s"graft-stats-${java.util.UUID.randomUUID()}"
    val listener = new StageStatListener(Some(group))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft runWithStats", interruptOnCancel = false)
    try {
      val result = action(df)
      // the bus is async: wait until stage-completed events go quiet for
      // several consecutive polls (a single stable read can race a slow
      // bus between two events)
      val deadline = System.nanoTime + waitMs * 1000000L
      var last = -1
      var stable = 0
      while (System.nanoTime < deadline && stable < 3) {
        val c = listener.count
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(50)
      }
      (result, listener.stages)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A2 Accumulate — fold every row into per-partition accumulators, then
    * merge to a single value (reference accumulate.go:21-52). Runs as a
    * Catalyst typed Aggregator (partial aggregate per partition + final
    * merge — the reference's worker-fold/coordinator-merge topology), so
    * it stays inside Tungsten instead of deserializing every row on the
    * RDD layer. Buffer encoding: native encoders for primitive buffers,
    * kryo for arbitrary objects (see [[GraftFrame.bufferEncoder]]).
    */
  def accumulate[B](acc: Accumulator[B])(implicit ct: scala.reflect.ClassTag[B]): B = {
    val s = schema
    implicit val be: org.apache.spark.sql.Encoder[B] = GraftFrame.bufferEncoder[B]
    df.as(rowEnc(s)).select(Accumulators.asAggregator(acc, s).toColumn).head()
  }

  /** Closure ops with an error quarantine side-channel — the reference's
    * multierror semantics (internal/partition/partition-operable.go:24-50,
    * cluster/s_execution.go:89-124): failing rows are captured with their
    * content and error context while good rows flow on. The tagged
    * intermediate is persisted so the closure runs once, not once per
    * branch; call [[Quarantined.unpersist]] when both sides are consumed.
    */
  def mapQuarantined(fn: GraftRow => GraftRow): Quarantined =
    quarantined("map") { (r, layout) => Iterator.single(fn(layout.fromRow(r)).toRow) }

  def flatMapQuarantined(fn: (GraftRow, () => GraftRow) => Seq[GraftRow]): Quarantined =
    quarantined("flatMap") { (r, layout) =>
      fn(layout.fromRow(r), () => layout.empty()).iterator.map(_.toRow)
    }

  def filterQuarantined(fn: GraftRow => Boolean): Quarantined =
    quarantined("filter") { (r, layout) =>
      if (fn(layout.fromRow(r))) Iterator.single(r) else Iterator.empty
    }

  private def quarantined(opName: String)(
      op: (Row, GraftRow.Layout) => Iterator[Row]): Quarantined = {
    val s = schema
    implicit val tagE = Encoders.tuple(rowEnc(s), org.apache.spark.sql.Encoders.STRING)
    val tagged = df.mapPartitions { it =>
      val layout = new GraftRow.Layout(s)
      it.flatMap { r =>
        try op(r, layout).map(out => (out, null: String))
        catch {
          // The failing *input* row rides along to the quarantine output.
          case e: Exception => Iterator.single((r, s"${e.getClass.getName}: ${e.getMessage}"))
        }
      }
    }.toDF("row", "err")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = tagged.where(col("err").isNull).select(col("row.*"))
    val errs = tagged.where(col("err").isNotNull)
      .select(lit(opName).as("op"), col("row"), col("err").as("error"))
    Quarantined(copy(df = good), errs, tagged)
  }
}

/** Result of a quarantined closure op: the surviving frame plus an errors
  * DataFrame with schema (op: string, row: struct<input row>, error:
  * string) — the reference's multierror with row context, as data.
  */
final case class Quarantined(frame: GraftFrame, errors: DataFrame,
                             private val tagged: DataFrame) {
  def unpersist(): Unit = { tagged.unpersist(); () }
}

object GraftFrame {
  /** Wrap an existing DataFrame/Dataset lineage. */
  def apply(df: DataFrame): GraftFrame = new GraftFrame(df)

  /** Distinct keys a reduce task holds before it emits its partials and
    * starts over: bounds the map side's memory whatever the key count.
    */
  private val CombineEntries = 65536

  /** A reduce key: the keyer's bytes, hashed with xxhash64 (the
    * reference's key hash, reduce.go:112-125) and compared by content.
    */
  private final class ReduceKey(val bytes: Array[Byte]) {
    override val hashCode: Int =
      if (bytes == null) 0
      else {
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        (h ^ (h >>> 32)).toInt
      }
    override def equals(o: Any): Boolean = o match {
      case k: ReduceKey => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }

  private def merge(mergeFn: (GraftRow, GraftRow) => GraftRow, ignore: Boolean)(
      l: GraftRow, r: GraftRow): GraftRow =
    try mergeFn(l, r)
    catch {
      case e: Exception if ignore => l
      case e: Exception =>
        throw new RowOpException(s"reduce merge failed on rows ${l.toRow} and ${r.toRow}", e)
    }

  /** Reduce's map side: merge a partition's rows into one partial per key
    * and emit them as (key, row…), every [[CombineEntries]] keys and at
    * the end.
    */
  private def combine(it: Iterator[Row], s: StructType,
                      keyFn: GraftRow => Array[Byte],
                      mergeFn: (GraftRow, GraftRow) => GraftRow,
                      ignore: Boolean): Iterator[Row] = {
    val layout = new GraftRow.Layout(s)
    val partials = new java.util.HashMap[ReduceKey, GraftRow]()
    def fill(): Iterator[Row] = {
      while (it.hasNext && partials.size < CombineEntries) {
        val r = it.next()
        val row = layout.fromRow(r)
        val key =
          try new ReduceKey(keyFn(row))
          catch {
            case e: Exception if ignore => null
            case e: Exception => throw new RowOpException(s"reduce keyer failed on row $r", e)
          }
        if (key != null) {
          val prev = partials.get(key)
          partials.put(key, if (prev == null) row else merge(mergeFn, ignore)(prev, row))
        }
      }
      val out = new Array[Row](partials.size)
      var i = 0
      partials.forEach((k, v) => { out(i) = v.toRowWith(k.bytes); i += 1 })
      partials.clear()
      out.iterator
    }
    new Iterator[Row] {
      private var out: Iterator[Row] = Iterator.empty
      def hasNext: Boolean = out.hasNext || (it.hasNext && { out = fill(); out.hasNext })
      def next(): Row = if (hasNext) out.next() else Iterator.empty.next()
    }
  }

  /** Reduce's final side: the partials arrive sorted by key (column 0),
    * so equal keys are adjacent and merge in one streaming pass.
    */
  private def mergeSorted(it: Iterator[Row], s: StructType,
                          mergeFn: (GraftRow, GraftRow) => GraftRow,
                          ignore: Boolean): Iterator[Row] = {
    val layout = new GraftRow.Layout(s)
    val in = it.buffered
    new Iterator[Row] {
      def hasNext: Boolean = in.hasNext
      def next(): Row = {
        val first = in.next()
        val key = first.getAs[Array[Byte]](0)
        var acc = layout.fromRow(first, 1)
        while (in.hasNext && java.util.Arrays.equals(key, in.head.getAs[Array[Byte]](0)))
          acc = merge(mergeFn, ignore)(acc, layout.fromRow(in.next(), 1))
        acc.toRow
      }
    }
  }

  /** Accumulator-buffer Encoder resolution: native (codegen'd, columnar)
    * encoders for primitive buffers — these aggregate as HashAggregate —
    * and kryo binary for arbitrary user objects, which still runs the
    * Catalyst partial/final topology (ObjectHashAggregate), just with an
    * opaque buffer. This is the analogue of the reference's Accumulator
    * ToBytes/FromBytes (accumulator.go:12-17): serialization lives at the
    * engine boundary, not in user code.
    */
  private[api] def bufferEncoder[B](
      implicit ct: scala.reflect.ClassTag[B]): org.apache.spark.sql.Encoder[B] = {
    val c = ct.runtimeClass
    (c match {
      case java.lang.Long.TYPE => Encoders.scalaLong
      case java.lang.Double.TYPE => Encoders.scalaDouble
      case java.lang.Integer.TYPE => Encoders.scalaInt
      case _ if c == classOf[java.lang.Long] => Encoders.LONG
      case _ if c == classOf[java.lang.Double] => Encoders.DOUBLE
      case _ if c == classOf[String] => Encoders.STRING
      case _ => Encoders.kryo[B]
    }).asInstanceOf[org.apache.spark.sql.Encoder[B]]
  }
}

/** A named, reusable operation — the unit of `to(...)` chaining
  * (reference operation.go:21-34).
  */
trait Operation { def apply(f: GraftFrame): GraftFrame }

object Operation {
  def map(fn: GraftRow => GraftRow): Operation = f => f.map(fn)
  def flatMap(fn: (GraftRow, () => GraftRow) => Seq[GraftRow]): Operation = f => f.flatMap(fn)
  def filter(fn: GraftRow => Boolean): Operation = f => f.filter(fn)
  def filterExpr(c: Column): Operation = f => f.filterExpr(c)
  def addColumn(name: String, t: ColType): Operation = f => f.addColumn(name, t)
  def removeColumn(names: String*): Operation = f => f.removeColumn(names: _*)
  def renameColumn(o: String, n: String): Operation = f => f.renameColumn(o, n)
  def withColumnExpr(name: String, c: Column): Operation = f => f.withColumnExpr(name, c)
  def reduce(keyFn: GraftRow => Array[Byte],
             mergeFn: (GraftRow, GraftRow) => GraftRow): Operation =
    f => f.reduce(keyFn, mergeFn)
  def group(keys: Column*): Operation = f => f.group(keys: _*)
  def repartition(n: Int, keys: Column*): Operation = f => f.repartition(n, keys: _*)
}
