package graft.plans

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.ByteBuffer

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Narrow-wire exchange for [[CountByKeyExec]]'s `(key, count)` rows.
  *
  * The standard exchange EnsureRequirements inserts ships each
  * pre-combined pair as a framed UnsafeRow — 4 B length + 8 B null bitset
  * + 2×8 B fields = 28 B on the wire — for payloads that are a small
  * non-negative cell index and a count that is almost always 1 at
  * high-cardinality cube shapes (the partial pass barely combines there;
  * binning_4d ×10 measured 134 MB shuffled for 6 M rows). This exchange
  * moves the SAME rows zigzag-varint-encoded (≈ 4 B + 1 B at the bench
  * shape, ≤ 20 B worst case) — guide §2.3 "shuffle fewer bytes / narrower
  * types", as a wire format instead of a type change so the operator's
  * Long key/count contract is untouched.
  *
  * Structure mirrors `ShuffleExchangeExec`: rows ride the shuffle
  * machinery directly as `(partitionId, InternalRow)` through a
  * passthrough partitioner ([[org.apache.spark.sql.GraftShuffleBridge]])
  * — no per-record key/value boxing (a first cut through the K/V
  * `ShuffledRDD` API boxed three objects per record and measured 2.6×
  * SLOWER at 1e8 rows despite 5.6× fewer bytes; this form removes that).
  *
  * Placement is IDENTICAL to the exchange it replaces: the partition id
  * is `pmod(Murmur3_x86_32.hashLong(key, 42), n)` — bit-for-bit what
  * `HashPartitioning(Seq(key), n).partitionIdExpression` computes for a
  * LongType key — so the declared `outputPartitioning` is truthful and
  * the final merge sees exactly the distribution the classic plan
  * produced. Row VALUES are unchanged; only bytes-on-the-wire shrink.
  */
final case class PackedCountExchangeExec(
    key: Attribute,
    cnt: AttributeReference,
    numPartitions: Int,
    child: SparkPlan,
) extends UnaryExecNode {

  require(key.dataType == LongType, s"needs a Long key, got ${key.dataType}")

  override def output: Seq[Attribute] = Seq(key, cnt)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cnt)

  // truthful: the partition-id function below replicates this expression
  override def outputPartitioning: Partitioning =
    HashPartitioning(Seq(key), numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val n = numPartitions
    org.apache.spark.sql.GraftShuffleBridge.rowShuffle(
      child.execute(), n, new PackedCountRowSerializer,
      r => {
        val h = Murmur3_x86_32.hashLong(r.getLong(0), 42)
        val m = h % n
        if (m < 0) m + n else m
      })
  }

  override protected def withNewChildInternal(c: SparkPlan): PackedCountExchangeExec =
    copy(child = c)
}

/** Shuffle serializer for count rows: `(key, cnt)` as two zigzag varints
  * per record. Each record's bytes are self-contained, so serialized
  * records can be relocated (enables the serialized-sort shuffle
  * writer). Deserialized rows are REUSED — the exchange's consumer (the
  * final count merge) reads each row before pulling the next, the
  * standard exchange-output contract.
  */
final class PackedCountRowSerializer extends Serializer with Serializable {
  override def newInstance(): SerializerInstance =
    new PackedCountRowSerializer.Instance
  override def supportsRelocationOfSerializedObjects: Boolean = true
}

object PackedCountRowSerializer {

  /** Zigzag varint append into `buf` at `off`; returns the new offset
    * (≤ off + 10). */
  private[graft] def writeVarLong(buf: Array[Byte], off: Int, v: Long): Int = {
    var z = (v << 1) ^ (v >> 63) // zigzag: small magnitudes → few bytes
    var i = off
    while ((z & ~0x7FL) != 0L) {
      buf(i) = ((z & 0x7F) | 0x80).toByte
      i += 1
      z >>>= 7
    }
    buf(i) = z.toByte
    i + 1
  }

  private final class Instance extends SerializerInstance {

    override def serializeStream(out: OutputStream): SerializationStream =
      new SerializationStream {
        private val buf = new Array[Byte](20)
        // the shuffle writers call writeKey(partitionId) then
        // writeValue(row); the partition id is framing, not payload
        override def writeKey[T: ClassTag](key: T): SerializationStream = this
        override def writeValue[T: ClassTag](value: T): SerializationStream = {
          val r = value.asInstanceOf[InternalRow]
          val keyEnd = writeVarLong(buf, 0, r.getLong(0))
          val len = writeVarLong(buf, keyEnd, r.getLong(1))
          out.write(buf, 0, len) // one bulk write per record
          this
        }
        override def writeObject[T: ClassTag](t: T): SerializationStream =
          throw new UnsupportedOperationException(
            "packed count serializer only supports key/value writes")
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }

    override def deserializeStream(in: InputStream): DeserializationStream =
      new DeserializationStream {
        // chunked pull buffer: varints parse byte-at-a-time from a local
        // array (a virtual in.read() per byte measured as real overhead)
        private val buf = new Array[Byte](1 << 16)
        private var pos = 0
        private var limit = 0
        /** -1 at clean end-of-stream, else the next unsigned byte. Only
          * a -1 read ends the stream: a read of 0 bytes is retried, so the
          * records after it are never dropped. */
        private def readByte(): Int = {
          while (pos == limit) {
            val got = in.read(buf)
            if (got < 0) return -1
            pos = 0
            limit = got
          }
          val b = buf(pos) & 0xFF
          pos += 1
          b
        }
        private def readVarLong(first: Int): Long = {
          var b = first
          var z = 0L
          var shift = 0
          while ((b & 0x80) != 0) {
            z |= (b & 0x7FL) << shift
            shift += 7
            b = readByte()
            if (b < 0) throw new EOFException("truncated varint")
          }
          z |= (b & 0x7FL) << shift
          (z >>> 1) ^ -(z & 1L)
        }
        private val row = new SpecificInternalRow(Seq(LongType, LongType))

        override def asKeyValueIterator: Iterator[(Any, Any)] =
          new Iterator[(Any, Any)] {
            private var nextRow: InternalRow = _
            private var done = false
            private def advance(): Unit = {
              val first = readByte()
              if (first < 0) { done = true; nextRow = null; return }
              row.setLong(0, readVarLong(first))
              val b = readByte()
              if (b < 0) throw new EOFException("truncated record")
              row.setLong(1, readVarLong(b))
              nextRow = row
            }
            override def hasNext: Boolean = {
              if (nextRow == null && !done) advance()
              !done
            }
            override def next(): (Any, Any) = {
              if (!hasNext) throw new NoSuchElementException
              nextRow = null
              (0, row)
            }
          }

        override def readObject[T: ClassTag](): T =
          throw new UnsupportedOperationException(
            "packed count serializer reads via asKeyValueIterator")
        override def close(): Unit = in.close()
      }

    override def serialize[T: ClassTag](t: T): ByteBuffer =
      throw new UnsupportedOperationException
    override def deserialize[T: ClassTag](bytes: ByteBuffer): T =
      throw new UnsupportedOperationException
    override def deserialize[T: ClassTag](bytes: ByteBuffer,
        loader: ClassLoader): T =
      throw new UnsupportedOperationException
  }
}
