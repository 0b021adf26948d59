package org.apache.spark.sql

import org.apache.spark.{Partition, PartitionIdPassthrough, ShuffleDependency, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.Serializer
import org.apache.spark.shuffle.sort.SortShuffleManager
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.MutablePair

/** Row-level shuffle with a caller-chosen wire serializer — the pattern
  * `ShuffleExchangeExec` uses internally (rows ride the shuffle as
  * `(partitionId, row)` pairs through a passthrough partitioner, so no
  * per-record key objects exist), exposed for graft's packed count
  * exchange. Same-package bridge because `PartitionIdPassthrough`, the
  * shuffle reader API and temp read-metrics are `private[spark]`.
  */
object GraftShuffleBridge {

  /** Shuffle `child`'s rows into `numPartitions` buckets chosen by
    * `pidOf` (must return a value in [0, numPartitions)), serialized by
    * `ser`. The returned iterator's rows may be REUSED by the serializer
    * — consumers must copy what they keep (the standard exchange-output
    * contract).
    */
  def rowShuffle(
      child: RDD[InternalRow],
      numPartitions: Int,
      ser: Serializer,
      pidOf: InternalRow => Int): RDD[InternalRow] = {
    // the map side hands the shuffle writer a reused pair holding the
    // child's reused row, which is safe only while every record is
    // serialized before the next is pulled: the bypass-merge and
    // serialized (UnsafeShuffleWriter) writers do that, while the
    // SortShuffleWriter fallback buffers the objects, so every buffered
    // record would read back as the last row pulled. Spark falls back to
    // it past the serialized mode's partition cap or with a
    // non-relocatable serializer.
    val cap = SortShuffleManager.MAX_SHUFFLE_OUTPUT_PARTITIONS_FOR_SERIALIZED_MODE
    require(numPartitions <= cap,
      s"row shuffle width $numPartitions exceeds the serialized shuffle's " +
        s"$cap-partition cap; lower spark.sql.shuffle.partitions")
    require(ser.supportsRelocationOfSerializedObjects,
      "row shuffle needs a serializer that supports relocation of " +
        "serialized objects")
    val withPid: RDD[Product2[Int, InternalRow]] = child.mapPartitions({ it =>
      val pair = new MutablePair[Int, InternalRow]()
      it.map(r => pair.update(pidOf(r), r))
    }, preservesPartitioning = true)
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](
      withPid, new PartitionIdPassthrough(numPartitions), ser)
    new PackedShuffledRDD(dep, numPartitions)
  }

  private final class PackedShuffledRDD(
      dep: ShuffleDependency[Int, InternalRow, InternalRow],
      numPartitions: Int,
  ) extends RDD[InternalRow](dep.rdd.context, Seq(dep)) {

    override protected def getPartitions: Array[Partition] =
      Array.tabulate(numPartitions) { i =>
        new Partition { override def index: Int = i }
      }

    override def compute(split: Partition,
        context: TaskContext): Iterator[InternalRow] = {
      val metrics = context.taskMetrics().createTempShuffleReadMetrics()
      SparkEnv.get.shuffleManager
        .getReader(dep.shuffleHandle, split.index, split.index + 1,
          context, metrics)
        .read()
        .map(_._2.asInstanceOf[InternalRow])
    }
  }
}
