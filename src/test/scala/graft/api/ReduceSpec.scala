package graft.api

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Sources

/** `reduce` under row faults and misuse: the reference's
  * shuffle_error_test.go:36-81 (a throwing keyer or reducer skips the row
  * under IgnoreRowErrors and keeps the rest), null keys, a partition with
  * more distinct keys than the map side holds at once, and a streaming
  * input.
  */
class ReduceSpec extends SparkSpec {
  import ReduceSpec._

  // ids 0..9, keyed id % 5: five keys of two rows each
  private def counted = {
    val schema = Sources.schemaOf("id" -> ColType.Int32, "n" -> ColType.Int64)
    Sources.memory(spark, (0 until 10).map(i => Row(i, 1L)), schema)
  }

  private def byKey(f: GraftFrame): Map[Int, Long] =
    f.collect(100).map(r => r.getInt("id") % 5 -> r.getLong("n")).toMap

  private def rowOpCause(e: Throwable): Option[RowOpException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case r: RowOpException => r }

  test("ignoreRowErrors: a throwing keyer drops its row, the rest reduce") {
    val out = byKey(counted.ignoreRowErrors().reduce(throwsOn3, sumN))
    assert(out == Map(0 -> 2L, 1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 2L))
  }

  test("ignoreRowErrors: a throwing merge keeps the left row, the rest reduce") {
    val out = byKey(counted.ignoreRowErrors().reduce(keyOf, mergeThrowsOn3))
    assert(out == Map(0 -> 2L, 1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 2L))
  }

  test("without ignoreRowErrors, keyer and merge failures name the row") {
    val keyer = intercept[SparkException] { counted.reduce(throwsOn3, sumN).df.count() }
    val k = rowOpCause(keyer)
    assert(k.exists(_.getMessage.contains("keyer failed on row [3,1]")), keyer)
    val merger = intercept[SparkException] { counted.reduce(keyOf, mergeThrowsOn3).df.count() }
    val m = rowOpCause(merger)
    assert(m.exists(_.getMessage.contains("merge failed")), merger)
    assert(m.exists(e => e.getMessage.contains("[3,1]") || e.getMessage.contains("[8,1]")),
      merger)
  }

  test("flatMapQuarantined: failing rows captured with context, good rows fan out") {
    val q = counted.flatMapQuarantined { (r, fresh) =>
      if (r.getInt("id") == 4) throw new IllegalArgumentException("bad row 4")
      Seq.fill(2)(fresh().set("id", r.getInt("id")).set("n", 2L))
    }
    val good = q.frame.collect(100)
    assert(good.map(_.getInt("id")).sorted.toSeq ==
      (0 until 10).filter(_ != 4).flatMap(i => Seq(i, i)))
    assert(good.forall(_.getLong("n") == 2L))
    val errs = q.errors.collect()
    assert(errs.length == 1)
    assert(errs.head.getString(0) == "flatMap")
    assert(errs.head.getStruct(1).getInt(0) == 4)
    assert(errs.head.getString(2).contains("IllegalArgumentException: bad row 4"))
    q.unpersist()
  }

  test("a null key groups its rows together, apart from the empty key") {
    val schema = Sources.schemaOf("k" -> ColType.VarString, "v" -> ColType.Int64)
    val f = Sources.memory(spark,
      Seq(Row("a", 1L), Row(null, 2L), Row("", 4L), Row(null, 8L), Row("a", 16L)), schema)
    val out = f.reduce(
      r => if (r.isNil("k")) null else r.getString("k").getBytes("UTF-8"),
      (l, r) => l.set("v", l.getLong("v") + r.getLong("v")))
      .collect(10).map(r => Option(r.getAs[String]("k")) -> r.getLong("v")).toMap
    assert(out == Map(Some("a") -> 17L, None -> 10L, Some("") -> 4L))
  }

  test("one partition with more distinct keys than the map side holds == groupBy sum") {
    val keys = 70001L
    val df = spark.range(0L, 140000L, 1L, 1)
      .select((col("id") % keys).as("k"), (col("id") % 7).as("v"))
    assert(df.rdd.getNumPartitions == 1)
    val viaReduce = GraftFrame(df).reduce(
      r => java.nio.ByteBuffer.allocate(8).putLong(r.getLong("k")).array(),
      (l, r) => l.set("v", l.getLong("v") + r.getLong("v"))).df
    val viaSum = df.groupBy("k").agg(sum("v").as("v"))
    assert(viaReduce.count() == keys)
    assert(viaReduce.exceptAll(viaSum).isEmpty && viaSum.exceptAll(viaReduce).isEmpty)
  }

  test("reduce on a streaming frame fails at build time, naming runPerBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val e = intercept[UnsupportedOperationException] {
      GraftFrame(stream.toDF()).reduce(_ => Array[Byte](1), (l, _) => l)
    }
    assert(e.getMessage.contains("MicroBatch.runPerBatch"), e.getMessage)
  }
}

/** The closures, outside the suite so that shipping them ships no suite. */
object ReduceSpec {
  val sumN: (GraftRow, GraftRow) => GraftRow =
    (l, r) => l.set("n", l.getLong("n") + r.getLong("n"))

  def keyOf(r: GraftRow): Array[Byte] = Array((r.getInt("id") % 5).toByte)

  val throwsOn3: GraftRow => Array[Byte] = { r =>
    if (r.getInt("id") == 3) throw new IllegalStateException("bad key 3")
    keyOf(r)
  }

  val mergeThrowsOn3: (GraftRow, GraftRow) => GraftRow = { (l, r) =>
    if (l.getInt("id") == 3 || r.getInt("id") == 3)
      throw new IllegalStateException("bad merge 3")
    sumN(l, r)
  }
}
