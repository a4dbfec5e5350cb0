package graft.io

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateStruct,
  UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.graftbridge.TrackedWrite
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One bucket's lineage, folded row by row: the row count, the XOR of
  * every row's `xxhash64(struct(data columns))` (Catalyst's own
  * expression, seed 42, so the fingerprint is SQL's
  * `bit_xor(xxhash64(struct(...)))`), and for each stats column its
  * non-null count and its min and max as Catalyst values (null while
  * the column has no non-null value, and always for a type the
  * manifest cannot hold a bound of).
  */
private[io] final class BucketPartial(n: Int) extends Serializable {
  var rows = 0L
  var xxh = 0L
  val nonNull = new Array[Long](n)
  val lo = new Array[Any](n)
  val hi = new Array[Any](n)
}

/** The fold behind every SnapshotStore lineage: the tracked write's
  * task side and the one-job fold over a stored or cached frame.
  * `types` are the data columns' types in order, `stats` the ordinals
  * of the stats columns among them. Min and max compare under Spark's
  * own ordering of the type (`PhysicalDataType.ordering`: NaN above
  * every double, -0.0 equal to 0.0, strings by UTF-8 bytes), with ties
  * keeping the value seen first, as the `min`/`max` aggregates do.
  */
private[io] final class BucketFold(types: Array[DataType], stats: Array[Int])
    extends TrackedWrite.RowFold[BucketPartial] {

  @transient private lazy val hash = UnsafeProjection.create(Seq(
    new XxHash64(Seq(CreateStruct(types.indices.map(i =>
      BoundReference(i, types(i), nullable = true)))))))

  @transient private lazy val orderings: Array[Ordering[Any]] =
    stats.map(i => if (BucketFold.bounded(types(i)))
      PhysicalDataType.ordering(types(i)) else null)

  override def zero(): BucketPartial = new BucketPartial(stats.length)

  override def add(p: BucketPartial, row: InternalRow): Unit = {
    p.rows += 1
    p.xxh ^= hash(row).getLong(0)
    var k = 0
    while (k < stats.length) {
      val i = stats(k)
      if (!row.isNullAt(i)) {
        p.nonNull(k) += 1
        val ord = orderings(k)
        if (ord != null) {
          val v = row.get(i, types(i))
          if (p.lo(k) == null || ord.lt(v, p.lo(k))) p.lo(k) = BucketFold.own(v)
          if (p.hi(k) == null || ord.gt(v, p.hi(k))) p.hi(k) = BucketFold.own(v)
        }
      }
      k += 1
    }
  }

  override def merge(p: BucketPartial, o: BucketPartial): Unit = {
    p.rows += o.rows
    p.xxh ^= o.xxh
    var k = 0
    while (k < stats.length) {
      p.nonNull(k) += o.nonNull(k)
      val ord = orderings(k)
      if (o.lo(k) != null && (p.lo(k) == null || ord.lt(o.lo(k), p.lo(k))))
        p.lo(k) = o.lo(k)
      if (o.hi(k) != null && (p.hi(k) == null || ord.gt(o.hi(k), p.hi(k))))
        p.hi(k) = o.hi(k)
      k += 1
    }
  }
}

private[io] object BucketFold {

  /** Types whose bounds a manifest holds (numbers, dates, timestamps,
    * strings); any other stats column records its nulls only.
    */
  def bounded(t: DataType): Boolean = t match {
    case _: NumericType | _: StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** A value that outlives the (reused) row it was read from. */
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case d: Decimal => d.clone()
    case other => other
  }
}
