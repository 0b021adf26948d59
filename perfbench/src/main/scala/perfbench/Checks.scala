package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent digests of the benchmark's outputs: neither depends
  * on the order rows arrive in or on how they are partitioned.
  */
object Checks {

  /** Digest of a sparse cube: cell checksum, total count, non-empty cells. */
  final case class CubeDigest(checksum: Long, total: Long, cells: Long)

  /** Digest of a sparse cube frame whose columns are the per-axis bin
    * indices, in axis order, followed by the count. The checksum XORs a
    * hash of every (row-major cell index, count); cells are unique, so no
    * two terms cancel.
    */
  def cubeDigest(cube: DataFrame, shape: Seq[Int]): CubeDigest = {
    val cols = cube.columns.toSeq
    val flat = cols.init.zip(shape).foldLeft(lit(0L)) { case (acc, (c, n)) =>
      acc * n + col(c).cast("long")
    }
    val r = cube.agg(bit_xor(xxhash64(flat, col(cols.last).cast("long"))),
      sum(cols.last).cast("long"), count(lit(1))).head()
    CubeDigest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Digest of a pair set: wrapping sum of mixed pair hashes, and the
    * number of pairs.
    */
  final case class PairDigest(fingerprint: Long, pairs: Long)

  def pairDigest(pairs: Iterable[(Long, Long)]): PairDigest =
    PairDigest(pairs.iterator.map { case (a, b) => Gen.mix64(Gen.mix64(a) ^ b) }.sum,
      pairs.size.toLong)
}
