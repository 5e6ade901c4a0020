package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInput, DataInputStream, DataOutput, DataOutputStream}

import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Counter keyed by byte strings: the aggregation buffer of
  * [[TokenCountsAgg]].
  *
  * Open addressing with linear probing over one slot array; every key's
  * bytes live back to back in one growable arena, so a probe reads the
  * caller's bytes in place (any base object + offset, on- or off-heap) and
  * memory is allocated only when a key is new. Keys added with [[block]]
  * are sentinels: they occupy a slot, absorb every later `add` of the same
  * key and are never reported — a stop word costs the same single probe as
  * a counted token.
  *
  * `hash` must be [[ByteCounts.hash]] of the key's stored bytes; callers
  * that scan a key byte by byte compute it in the same loop.
  */
final class ByteCounts {
  private var arena = new Array[Byte](4096)
  private var used = 0
  private var keyOff = new Array[Int](256)
  private var keyLen = new Array[Int](256)
  private var keyHash = new Array[Int](256)
  private var counts = new Array[Long](256) // -1 marks a sentinel
  private var n = 0
  private var blocked = 0
  private var slots = new Array[Int](512) // entry index + 1; 0 is empty
  private var shift = 32 - 9

  /** Number of counted (non-sentinel) keys. */
  def size: Int = n - blocked

  /** Adds `delta` to the count of the `len` bytes at `base`+`off`. With
    * `fold`, the source bytes are ASCII letters and the key is their lower
    * case (`b | 0x20`). */
  def add(base: AnyRef, off: Long, len: Int, hash: Int, delta: Long,
          fold: Boolean): Unit = {
    val e = find(base, off, len, hash, fold)
    if (e < 0) insert(-e - 1, base, off, len, hash, delta, fold)
    else if (counts(e) >= 0) counts(e) += delta
  }

  /** Adds `delta` to the count of a key held in a byte array. */
  def add(key: Array[Byte], delta: Long): Unit =
    add(key, Platform.BYTE_ARRAY_OFFSET, key.length,
      ByteCounts.hash(key), delta, fold = false)

  /** Makes `key` a sentinel: never counted, never reported. */
  def block(key: Array[Byte]): Unit = {
    val e = find(key, Platform.BYTE_ARRAY_OFFSET, key.length,
      ByteCounts.hash(key), fold = false)
    if (e >= 0) { if (counts(e) >= 0) blocked += 1; counts(e) = -1L }
    else {
      insert(-e - 1, key, Platform.BYTE_ARRAY_OFFSET, key.length,
        ByteCounts.hash(key), -1L, fold = false)
      blocked += 1
    }
  }

  /** Adds every counted key of `other` into this counter. */
  def addAll(other: ByteCounts): Unit = {
    var e = 0
    while (e < other.n) {
      if (other.counts(e) >= 0)
        add(other.arena, Platform.BYTE_ARRAY_OFFSET + other.keyOff(e),
          other.keyLen(e), other.keyHash(e), other.counts(e), fold = false)
      e += 1
    }
  }

  /** The counted keys as a `map<string,bigint>` value; keys are
    * `UTF8String`s over the arena (never rewritten once written). */
  def toMapData: ArrayBasedMapData = {
    val keys = new Array[Any](size)
    val vals = new Array[Any](size)
    var i = 0
    var e = 0
    while (e < n) {
      if (counts(e) >= 0) {
        keys(i) = UTF8String.fromBytes(arena, keyOff(e), keyLen(e))
        vals(i) = counts(e)
        i += 1
      }
      e += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  /** Varint key count, then per counted key: the key
    * ([[ByteCounts.writeKey]]) and its varint count. */
  def serialize: Array[Byte] = {
    val bos = new ByteArrayOutputStream(used + 4 * size + 8)
    val out = new DataOutputStream(bos)
    ByteCounts.writeVarLong(out, size)
    var e = 0
    while (e < n) {
      if (counts(e) >= 0) {
        ByteCounts.writeKey(out, arena, keyOff(e), keyLen(e))
        ByteCounts.writeVarLong(out, counts(e))
      }
      e += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** Adds the counts of a [[serialize]]d counter into this one. */
  def addSerialized(bytes: Array[Byte]): Unit = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    var k = ByteCounts.readVarLong(in)
    while (k > 0) {
      add(ByteCounts.readKey(in), ByteCounts.readVarLong(in))
      k -= 1
    }
  }

  /** The key's entry index, or `-(slot + 1)` for the empty slot where it
    * would go. */
  private def find(base: AnyRef, off: Long, len: Int, hash: Int,
                   fold: Boolean): Int = {
    val mask = slots.length - 1
    var s = (hash * -1640531527) >>> shift
    var e = slots(s) - 1
    while (e >= 0) {
      if (keyHash(e) == hash && sameKey(e, base, off, len, fold)) return e
      s = (s + 1) & mask
      e = slots(s) - 1
    }
    -s - 1
  }

  private def sameKey(e: Int, base: AnyRef, off: Long, len: Int,
                      fold: Boolean): Boolean = {
    if (keyLen(e) != len) return false
    val ko = keyOff(e)
    var i = 0
    if (fold) {
      while (i < len) {
        if (arena(ko + i) != (Platform.getByte(base, off + i) | 0x20))
          return false
        i += 1
      }
    } else {
      while (i < len) {
        if (arena(ko + i) != Platform.getByte(base, off + i)) return false
        i += 1
      }
    }
    true
  }

  private def insert(slot: Int, base: AnyRef, off: Long, len: Int,
                     hash: Int, count: Long, fold: Boolean): Unit = {
    if (used + len > arena.length)
      arena = java.util.Arrays.copyOf(arena,
        math.max(arena.length * 2, used + len))
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      arena(used + i) = if (fold) (b | 0x20).toByte else b
      i += 1
    }
    if (n == keyOff.length) {
      val cap = n * 2
      keyOff = java.util.Arrays.copyOf(keyOff, cap)
      keyLen = java.util.Arrays.copyOf(keyLen, cap)
      keyHash = java.util.Arrays.copyOf(keyHash, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
    }
    keyOff(n) = used
    keyLen(n) = len
    keyHash(n) = hash
    counts(n) = count
    used += len
    n += 1
    slots(slot) = n
    if (2 * n > slots.length) rehash()
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    shift -= 1
    val mask = slots.length - 1
    var e = 0
    while (e < n) {
      var s = (keyHash(e) * -1640531527) >>> shift
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = e + 1
      e += 1
    }
  }
}

object ByteCounts {
  /** The key hash [[ByteCounts]] expects: `31 * h + b` over the bytes. */
  def hash(key: Array[Byte]): Int = {
    var h = 0
    var i = 0
    while (i < key.length) { h = 31 * h + key(i); i += 1 }
    h
  }

  /** A length-prefixed key: varint length, then the bytes. Unlike
    * `DataOutput.writeUTF` (a 2-byte length), any length fits, and a key
    * under 128 bytes costs one byte of length. */
  private[functions] def writeKey(out: DataOutput, key: Array[Byte],
                                  off: Int, len: Int): Unit = {
    writeVarLong(out, len)
    out.write(key, off, len)
  }

  private[functions] def readKey(in: DataInput): Array[Byte] = {
    val key = new Array[Byte](readVarLong(in).toInt)
    in.readFully(key)
    key
  }

  /** Unsigned LEB128: 7 bits per byte, high bit set on all but the last. */
  private def writeVarLong(out: DataOutput, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0) {
      out.writeByte(((x & 0x7f) | 0x80).toInt)
      x >>>= 7
    }
    out.writeByte(x.toInt)
  }

  private def readVarLong(in: DataInput): Long = {
    var x = 0L
    var s = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      x |= (b & 0x7fL) << s
      s += 7
      b = in.readByte()
    }
    x | (b.toLong << s)
  }
}
