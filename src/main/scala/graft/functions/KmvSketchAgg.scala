package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{TreeSet => JTreeSet}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The KMV / Theta-sketch retention buffer shared by [[KmvSketchAgg]] and
  * [[KmvMergeAgg]]: the k smallest DISTINCT hash values seen, in a
  * k-capped tree set.
  *
  * This is the bounded-state primitive of the Theta-sketch set-operation
  * family (Dasgupta et al., "Theta-Sketch Framework", and the classic
  * KMV estimator of Bar-Yossef et al.): with hashes uniform on
  * [0, 2^60), the k-th smallest retained value θ estimates the distinct
  * count as (k-1)·2^60/θ, and because the retained set is a COMPLETE
  * distinct sample below θ, sketches support union (merge + re-truncate,
  * losslessly equal to the sketch of the concatenated data),
  * intersection, and difference estimates without rescanning — the
  * partials a 100 TB pipeline materializes per segment and combines in
  * O(k) per pair.
  *
  * Result: a sorted-ascending `array<bigint>`, deterministic for any
  * input order (a set of smallest values has no tie ambiguity: values
  * are distinct by construction). Wire format: the value count, then
  * the values ascending, as big-endian longs.
  */
private[graft] object Kmv {
  type Buf = JTreeSet[java.lang.Long]

  def empty: Buf = new JTreeSet[java.lang.Long]()

  /** O(log k) probe + O(k) worst-case insert against the k cap. */
  def insert(buf: Buf, v: Long, k: Int): Unit = {
    if (buf.size() < k) { buf.add(v); return }
    // full: only a value below the current k-th smallest displaces it
    if (v < buf.last() && buf.add(v)) buf.pollLast()
  }

  def merge(b1: Buf, b2: Buf, k: Int): Buf = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next(), k)
    b1
  }

  def eval(buf: Buf): GenericArrayData = {
    val out = new Array[Long](buf.size())
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val s = empty
    var i = 0
    while (i < n) { s.add(in.readLong()); i += 1 }
    s
  }
}

/** KMV sketch of a `bigint` hash column: the k smallest distinct values
  * ([[Kmv]]). Distributed shape: `update` keeps at most k values per
  * partition and `merge` is a bounded set union — map-side partial
  * aggregation ships at most k longs per partition per group, never the
  * key stream. */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Kmv.Buf] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmv_sketch"

  override def createAggregationBuffer(): Kmv.Buf = Kmv.empty

  override def update(buf: Kmv.Buf, input: InternalRow): Kmv.Buf = {
    val v = child.eval(input)
    if (v != null) Kmv.insert(buf, v.asInstanceOf[Long], k)
    buf
  }

  override def merge(b1: Kmv.Buf, b2: Kmv.Buf): Kmv.Buf = Kmv.merge(b1, b2, k)
  override def eval(buf: Kmv.Buf): Any = Kmv.eval(buf)
  override def serialize(buf: Kmv.Buf): Array[Byte] = Kmv.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Kmv.Buf =
    Kmv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
}

/** O(k) MERGE of KMV/Theta sketch COLUMNS: each input row is already a
  * sketch (`array<bigint>` of k-smallest distinct hashes, the
  * [[KmvSketchAgg]] output), and the aggregate unions them keeping the
  * k smallest distinct values — WITHOUT exploding cells × k rows back
  * through a re-sketch (the shape rel_sketch_cube/rel_sketch_roundtrip
  * used before this existed). Because a KMV sketch is a complete
  * distinct sample below its θ, merge + re-truncate is LOSSLESS: the
  * result is bit-identical to sketching the concatenated raw streams,
  * so consumers (estimates, set ops, the oracle) cannot tell the
  * difference — only the plan changes, from O(cells × k) exchanged
  * rows to O(cells) sketch rows with k longs each, combined map-side.
  *
  * `update` folds one input sketch into the k-capped tree (O(k log k)
  * worst case, early-outs below the current θ). Input arrays need not be
  * sorted or deduplicated (the tree set dedups); null rows and null
  * sketches contribute nothing.
  */
case class KmvMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Kmv.Buf] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmv_merge"

  override def createAggregationBuffer(): Kmv.Buf = Kmv.empty

  override def update(buf: Kmv.Buf, input: InternalRow): Kmv.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) { Kmv.insert(buf, arr.getLong(i), k); i += 1 }
    }
    buf
  }

  override def merge(b1: Kmv.Buf, b2: Kmv.Buf): Kmv.Buf = Kmv.merge(b1, b2, k)
  override def eval(buf: Kmv.Buf): Any = Kmv.eval(buf)
  override def serialize(buf: Kmv.Buf): Array[Byte] = Kmv.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Kmv.Buf =
    Kmv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMergeAgg =
    copy(child = newChildren.head)
}
