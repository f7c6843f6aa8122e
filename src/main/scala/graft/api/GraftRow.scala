package graft.api

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{GenericRow, GenericRowWithSchema}
import org.apache.spark.sql.types.StructType

/** Mutable row facade for closure-based operations — the analogue of the
  * reference's `Row` accessor interface (reference row.go:10-53): typed
  * getters, nil semantics, and set-by-name mutation.
  *
  * The reference mutates fixed-width rows in place
  * (internal/partition/row.go:24-31); Spark rows are immutable, so this
  * facade stages mutations in a local buffer and materializes a fresh Row
  * — semantics identical, Tungsten keeps the memory story.
  */
final class GraftRow private[api] (layout: GraftRow.Layout, values: Array[Any]) {

  def schema: StructType = layout.schema

  private def idx(name: String): Int = layout.indexOf(name)

  /** Typed getters ERROR on nil cells (reference row.go getters return an
    * error for unset cells) — silently unboxing null to 0/0.0/false would
    * corrupt downstream arithmetic without a trace. Check [[isNil]] first,
    * or rely on `ignoreRowErrors`/quarantine to skip the row; [[get]] and
    * [[getAs]] remain raw nullable access.
    */
  private def nn(name: String): Any = {
    val v = values(idx(name))
    if (v == null) throw new NullPointerException(
      s"nil cell '$name' read through a typed getter — check isNil() first")
    v
  }

  def isNil(name: String): Boolean = values(idx(name)) == null
  def get(name: String): Any = values(idx(name))
  def getBool(name: String): Boolean = nn(name).asInstanceOf[Boolean]
  def getByte(name: String): Byte = nn(name).asInstanceOf[Byte]
  def getShort(name: String): Short = nn(name).asInstanceOf[Short]
  def getInt(name: String): Int = nn(name).asInstanceOf[Int]
  def getLong(name: String): Long = nn(name).asInstanceOf[Long]
  def getFloat(name: String): Float = nn(name).asInstanceOf[Float]
  def getDouble(name: String): Double = nn(name).asInstanceOf[Double]
  def getString(name: String): String = nn(name).asInstanceOf[String]
  def getBytes(name: String): Array[Byte] = nn(name).asInstanceOf[Array[Byte]]
  def getTime(name: String): java.sql.Timestamp =
    nn(name).asInstanceOf[java.sql.Timestamp]
  def getAs[T](name: String): T = values(idx(name)).asInstanceOf[T]

  def set(name: String, value: Any): GraftRow = { values(idx(name)) = value; this }
  def setNil(name: String): GraftRow = set(name, null)

  private[api] def toRow: Row = new GenericRowWithSchema(values.clone(), schema)

  /** The row with `head` prepended as an extra leading column. */
  private[api] def toRowWith(head: Any): Row = {
    val arr = new Array[Any](values.length + 1)
    arr(0) = head
    System.arraycopy(values, 0, arr, 1, values.length)
    new GenericRow(arr)
  }
}

object GraftRow {

  /** Name → position for one schema, built once per partition (or per
    * task-side aggregator) and shared by every row it makes: a name
    * resolves through one `java.util.HashMap` probe instead of
    * `StructType.fieldIndex`'s Scala map lookup on every get and set.
    */
  private[api] final class Layout(val schema: StructType) {
    private val n = schema.length
    private val index = {
      val m = new java.util.HashMap[String, Integer](n * 2)
      schema.fieldNames.zipWithIndex.foreach { case (name, i) => m.put(name, i) }
      m
    }

    def indexOf(name: String): Int = {
      val i = index.get(name)
      if (i == null) throw new IllegalArgumentException(
        s"no field '$name' in row (fields: ${schema.fieldNames.mkString(", ")})")
      i
    }

    /** A row over `r`'s fields `offset until offset + schema.length`. */
    def fromRow(r: Row, offset: Int = 0): GraftRow = {
      val arr = new Array[Any](n)
      var i = 0
      while (i < n) { arr(i) = r.get(offset + i); i += 1 }
      new GraftRow(this, arr)
    }

    /** Fresh all-nil row (the reference's RowFactory, operation.go:28 /
      * flatmap.go:25-35).
      */
    def empty(): GraftRow = new GraftRow(this, new Array[Any](n))
  }
}
