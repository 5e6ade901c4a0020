package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items summary as a typed imperative aggregate:
  * the candidate-generation pass of the two-pass EXACT heavy-hitters
  * operator (`rel_heavy_hitters`).
  *
  * Each partition maintains at most `capacity` counters; inserting a key
  * not in a full summary decrements every counter by the largest step
  * that frees a slot (the batched form of the classic decrement loop).
  * Partition summaries merge by adding counts and then shrinking back to
  * `capacity` via the mergeable-summaries rule (Agarwal et al., PODS'12):
  * subtract the (capacity+1)-th largest count from everything and drop
  * the non-positives. Both operations only ever SUBTRACT mass uniformly
  * across keys, so the invariant holds end to end:
  *
  *   true_count(k) - N / (capacity + 1)  <=  estimate(k)  <=  true_count(k)
  *
  * Therefore any key with true count > N/(capacity+1) has estimate > 0
  * and SURVIVES — the final map is a guaranteed superset of the keys
  * above that frequency threshold. The exact pass then semi-filters the
  * token stream to these <= capacity candidates and counts them exactly:
  * the shuffle carries only candidate rows instead of the full key
  * cardinality, which is what makes global heavy-hitters tractable at
  * 100 TB (a plain groupBy/HAVING shuffles EVERY distinct key).
  *
  * The buffer is bounded at `capacity` entries at every point after an
  * update/merge completes — driver memory is O(capacity), never O(keys).
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JHashMap[String, Long]] {

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType, false)
  override def prettyName: String = "graft_misra_gries"

  override def createAggregationBuffer(): JHashMap[String, Long] =
    new JHashMap[String, Long](capacity * 2)

  /** Shrink `buf` to at most `capacity` entries by subtracting the
    * (capacity+1)-th largest count from every entry and dropping the
    * non-positive remainders. A uniform subtraction, so the undercount
    * bound only grows by the subtracted value — which is itself bounded
    * by (mass added since the last shrink)/(capacity+1). */
  private def shrink(buf: JHashMap[String, Long]): Unit = {
    if (buf.size() <= capacity) return
    val counts = new Array[Long](buf.size())
    var i = 0
    val vit = buf.values().iterator()
    while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
    java.util.Arrays.sort(counts)
    // counts ascending; the (capacity+1)-th largest is at n-1-capacity
    val dec = counts(counts.length - 1 - capacity)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - dec
      if (nv <= 0) it.remove() else e.setValue(nv)
    }
  }

  override def update(buf: JHashMap[String, Long], input: InternalRow)
  : JHashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(k)
      if (cur != null || buf.size() < capacity) {
        buf.merge(k, 1L, (a, b) => a + b)
      } else {
        // full and key absent: insert then batch-decrement back to size
        buf.put(k, 1L)
        shrink(buf)
      }
    }
    buf
  }

  override def merge(b1: JHashMap[String, Long], b2: JHashMap[String, Long])
  : JHashMap[String, Long] = {
    b2.forEach((k, v) => b1.merge(k, v, (a, b) => a + b))
    shrink(b1)
    b1
  }

  override def eval(buf: JHashMap[String, Long]): Any = {
    val n = buf.size()
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = UTF8String.fromString(e.getKey)
      vals(i) = e.getValue
      i += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  override def serialize(buf: JHashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    buf.forEach { (k, v) =>
      val b = k.getBytes(UTF_8)
      ByteCounts.writeKey(out, b, 0, b.length)
      out.writeLong(v)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): JHashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new JHashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      m.put(new String(ByteCounts.readKey(in), UTF_8), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}
