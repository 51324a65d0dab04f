package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.types._

/** Bounded top-n aggregate: keeps at most `n` elements per group at
  * every stage (partial, shuffle, merge), unlike the
  * `collect_list → array_sort → slice` plan it replaces, whose state
  * is the WHOLE group before truncation — the thing that OOMs on a
  * skewed 100 TB group. Map-side partials ship ≤ n rows per group, so
  * shuffle volume is bounded by n·groups regardless of group size.
  *
  * Powers the `$topN`/`$bottomN`/`$minN`/`$maxN` accumulators
  * (reference pipelines route through the aggregation translator, cf.
  * route81.go pipeline pass-through): `key` is a struct of sort-by
  * fields compared per [[dirs]] direction (+1/−1) with nulls lowest
  * (Mongo BSON order), ties break on `value` ascending so the result
  * is deterministic under any partitioning; `value` is what the
  * accumulator emits.
  *
  * - `$topN`:    keepLargest=false, emitDesc=false (first n in sort order)
  * - `$bottomN`: keepLargest=true,  emitDesc=false (last n, in sort order)
  * - `$minN`:    key=struct(value), keepLargest=false, skipNullValue=true
  * - `$maxN`:    key=struct(value), keepLargest=true, emitDesc=true,
  *               skipNullValue=true (descending output, like Mongo)
  */
case class BoundedTopK(
    key: Expression,
    value: Expression,
    n: Int,
    dirs: Seq[Int],
    keepLargest: Boolean,
    emitDesc: Boolean,
    skipNullValue: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedTopK.Buffer] {

  require(n > 0, "$topN family requires n > 0")

  override def children: Seq[Expression] = Seq(key, value)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(value.dataType, containsNull = value.nullable)
  override def prettyName: String = "bounded_top_k"

  private def keyType: StructType = key.dataType.asInstanceOf[StructType]
  private def elemTypes: Array[DataType] =
    (keyType.fields.map(_.dataType) :+ value.dataType).toArray

  // one projection per operator instance, not per group buffer:
  // serialize() runs once per group on the shuffle path this aggregate
  // exists to slim down, so a per-call UnsafeProjection.create (codegen
  // cache lookup + instance allocation) is avoidable overhead
  @transient private lazy val serializeProj: UnsafeProjection =
    UnsafeProjection.create(elemTypes)

  @transient private lazy val fieldOrds: Array[Ordering[Any]] =
    keyType.fields.map(f => GraftBridge.interpretedOrdering(f.dataType))
  @transient private lazy val valueOrd: Ordering[Any] =
    GraftBridge.interpretedOrdering(value.dataType)

  /** Ascending composite order: per-key direction with nulls lowest,
    * then value ascending when both values are non-null — exactly the
    * comparator of the array_sort plan this aggregate replaces.
    */
  @transient private[functions] lazy val asc: Ordering[Array[Any]] =
    new Ordering[Array[Any]] {
      override def compare(x: Array[Any], y: Array[Any]): Int = {
        var i = 0
        while (i < fieldOrds.length) {
          val a = x(i)
          val b = y(i)
          val d = dirs(i)
          if (a == null || b == null) {
            if (a != null) return d
            if (b != null) return -d
          } else {
            val c = fieldOrds(i).compare(a, b)
            if (c != 0) return c * d
          }
          i += 1
        }
        val va = x(fieldOrds.length)
        val vb = y(fieldOrds.length)
        if (va == null || vb == null) 0 else valueOrd.compare(va, vb)
      }
    }

  override def createAggregationBuffer(): BoundedTopK.Buffer =
    new BoundedTopK.Buffer(n, if (keepLargest) asc.reverse else asc)

  override def update(buf: BoundedTopK.Buffer, input: InternalRow): BoundedTopK.Buffer = {
    val k = key.eval(input).asInstanceOf[InternalRow]
    val v = value.eval(input)
    if (!(skipNullValue && v == null)) {
      val elem = new Array[Any](fieldOrds.length + 1)
      var i = 0
      while (i < fieldOrds.length) {
        elem(i) =
          if (k.isNullAt(i)) null
          else InternalRow.copyValue(k.get(i, keyType.fields(i).dataType))
        i += 1
      }
      elem(fieldOrds.length) = InternalRow.copyValue(v)
      buf.insert(elem)
    }
    buf
  }

  override def merge(buf: BoundedTopK.Buffer, other: BoundedTopK.Buffer): BoundedTopK.Buffer = {
    other.foreach(buf.insert)
    buf
  }

  override def eval(buf: BoundedTopK.Buffer): Any = {
    val sorted = buf.toArraySorted(asc)
    val out = if (emitDesc) sorted.reverse else sorted
    new GenericArrayData(out.map(_.last))
  }

  override def serialize(buf: BoundedTopK.Buffer): Array[Byte] = {
    val proj = serializeProj
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { elem =>
      val row = proj(new GenericInternalRow(elem))
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedTopK.Buffer = {
    val buf = createAggregationBuffer()
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val count = in.readInt()
    var j = 0
    while (j < count) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(elemTypes.length)
      row.pointTo(rowBytes, len)
      val elem = new Array[Any](elemTypes.length)
      var i = 0
      while (i < elemTypes.length) {
        elem(i) =
          if (row.isNullAt(i)) null
          else InternalRow.copyValue(row.get(i, elemTypes(i)))
        i += 1
      }
      buf.insert(elem)
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), value = newChildren(1))
}

object BoundedTopK {

  /** The one column constructor: the n first elements of `out` in
    * (`keys` per `dirs`, then `out` ascending) order, as an array. The
    * flags default to the plain top-n every ranking operator wants;
    * the `$topN` family passes its own.
    */
  def column(keys: Seq[Column], dirs: Seq[Int], out: Column, n: Int,
             keepLargest: Boolean = false, emitDesc: Boolean = false,
             skipNull: Boolean = false): Column =
    GraftBridge.column(BoundedTopK(
      GraftBridge.expression(struct(keys: _*)),
      GraftBridge.expression(out), n, dirs,
      keepLargest, emitDesc, skipNull).toAggregateExpression())

  /** The bounded rank tail: per `by` group, the n best `out` structs
    * in (`keys` per `dirs`) order, one row each, as
    * `(by..., rankCol, <out's fields>...)` with rank = position + 1.
    * Map-side partials ship ≤ n rows per group per partition, so the
    * rank step costs an n·groups-row exchange instead of the full
    * scored set through a window sort (the dedup_ngram_topk
    * contract). Ties inside `keys` fall to `out` ascending, so put the
    * id in `keys` as the last tiebreak and the result is
    * deterministic under any partitioning.
    */
  def ranked(df: DataFrame, by: Seq[String], keys: Seq[Column],
             dirs: Seq[Int], out: Column, n: Int,
             rankCol: String): DataFrame =
    df.groupBy(by.map(col): _*).agg(column(keys, dirs, out, n).as("top"))
      .select(by.map(col) :+ posexplode(col("top")): _*)
      .select(by.map(col) ++ Seq((col("pos") + 1).cast("int").as(rankCol),
        col("col.*")): _*)

  /** Keeps the n smallest elements w.r.t. `keepOrd`: a max-heap whose
    * head is the worst kept element, so an insert is O(log n) and the
    * state never exceeds n elements.
    */
  final class Buffer(n: Int, keepOrd: Ordering[Array[Any]]) {
    private val heap =
      new java.util.PriorityQueue[Array[Any]](n, keepOrd.reverse)

    def insert(elem: Array[Any]): Unit =
      if (heap.size < n) heap.add(elem)
      else if (keepOrd.compare(elem, heap.peek) < 0) {
        heap.poll(); heap.add(elem)
      }

    def size: Int = heap.size

    def foreach(f: Array[Any] => Unit): Unit = heap.forEach(e => f(e))

    def toArraySorted(ord: Ordering[Array[Any]]): Array[Array[Any]] = {
      val arr = heap.toArray(new Array[Array[Any]](heap.size))
      java.util.Arrays.sort(arr, ord)
      arr
    }
  }
}
