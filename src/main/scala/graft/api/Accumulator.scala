package graft.api

/** The reference's Accumulator contract (reference accumulator.go:12-17:
  * Accumulate/Merge/ToBytes/FromBytes) as a typed fold: `add` runs
  * per-partition (worker-side fold, accumulate.go:21-39), `merge`
  * combines partials (coordinator merge, cluster/coordinator.go:310-352).
  * Serialization is the JVM's problem here (closure/kryo), so the
  * ToBytes/FromBytes half disappears.
  */
trait Accumulator[B] extends Serializable {
  def zero: B
  def add(b: B, row: GraftRow): B
  def merge(a: B, b: B): B
}

object Accumulators {

  /** Bridge a sif-style Accumulator into Spark's `Aggregator` so it runs
    * inside relational aggregation (`ds.select(agg.toColumn)`, window
    * frames, groupBy via `functions.udaf`) — partial-aggregate + final-
    * merge topology identical to the reference's worker-fold +
    * coordinator-merge (accumulate.go:21-52), but planned by Catalyst.
    */
  def asAggregator[B](acc: Accumulator[B],
                      schema: org.apache.spark.sql.types.StructType)(
      implicit be: org.apache.spark.sql.Encoder[B])
      : org.apache.spark.sql.expressions.Aggregator[org.apache.spark.sql.Row, B, B] =
    new org.apache.spark.sql.expressions.Aggregator[org.apache.spark.sql.Row, B, B] {
      // one layout per deserialized aggregator, i.e. per task, not per row
      @transient private lazy val layout = new GraftRow.Layout(schema)
      def zero: B = acc.zero
      def reduce(b: B, r: org.apache.spark.sql.Row): B =
        acc.add(b, layout.fromRow(r))
      def merge(a: B, b: B): B = acc.merge(a, b)
      def finish(b: B): B = b
      def bufferEncoder: org.apache.spark.sql.Encoder[B] = be
      def outputEncoder: org.apache.spark.sql.Encoder[B] = be
    }

  /** A3 Counter (reference accumulators/count.go:11-51). */
  def counter: Accumulator[Long] = new Accumulator[Long] {
    def zero = 0L
    def add(b: Long, row: GraftRow) = b + 1
    def merge(a: Long, b: Long) = a + b
  }

  /** A4 Adder — sum a numeric column, widened to double (reference
    * accumulators/sum.go:12-119). Nil cells are skipped.
    */
  def adder(colName: String): Accumulator[Double] = new Accumulator[Double] {
    def zero = 0.0
    def add(b: Double, row: GraftRow) =
      if (row.isNil(colName)) b
      else b + (row.get(colName) match {
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"adder($colName): non-numeric value $other")
      })
    def merge(a: Double, b: Double) = a + b
  }

  def min(colName: String): Accumulator[Option[Double]] = new Accumulator[Option[Double]] {
    def zero = None
    def add(b: Option[Double], row: GraftRow) =
      if (row.isNil(colName)) b else {
        val v = row.get(colName).asInstanceOf[java.lang.Number].doubleValue()
        Some(b.fold(v)(math.min(_, v)))
      }
    def merge(a: Option[Double], b: Option[Double]) =
      (a, b) match {
        case (Some(x), Some(y)) => Some(math.min(x, y))
        case _ => a.orElse(b)
      }
  }

  def max(colName: String): Accumulator[Option[Double]] = new Accumulator[Option[Double]] {
    def zero = None
    def add(b: Option[Double], row: GraftRow) =
      if (row.isNil(colName)) b else {
        val v = row.get(colName).asInstanceOf[java.lang.Number].doubleValue()
        Some(b.fold(v)(math.max(_, v)))
      }
    def merge(a: Option[Double], b: Option[Double]) =
      (a, b) match {
        case (Some(x), Some(y)) => Some(math.max(x, y))
        case _ => a.orElse(b)
      }
  }

  /** A5 Compose — run two accumulators in one pass (reference
    * accumulators/composed.go:12-95). Nest for more.
    */
  def compose[A, B](l: Accumulator[A], r: Accumulator[B]): Accumulator[(A, B)] =
    new Accumulator[(A, B)] {
      def zero = (l.zero, r.zero)
      def add(b: (A, B), row: GraftRow) = (l.add(b._1, row), r.add(b._2, row))
      def merge(a: (A, B), b: (A, B)) = (l.merge(a._1, b._1), r.merge(a._2, b._2))
    }
}
