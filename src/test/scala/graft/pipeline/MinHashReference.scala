package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Plain `%`-based MinHash reference, written independently of the
  * kernels' shared arithmetic ([[AffineMinHash]]): Java codepoints for
  * the char-k-grams, a fresh UTF-8 byte array per shingle, `%` for every
  * reduction and a Scala `min` per hash function. Slow by design; specs
  * pin both native expressions against it.
  */
object MinHashReference {

  private val P = (1L << 31) - 1

  private def pmod(x: Long): Long = ((x % P) + P) % P

  /** Reduced hash of every char-k-gram of `text`, repeats included:
    * `pmod(xxhash64(shingle), P)` (seed 42) or, when `portable`, the
    * base-31 Horner polynomial over the shingle's codepoints.
    */
  def shingleHashes(text: String, k: Int, portable: Boolean): Seq[Long] =
    if (text == null) Nil
    else {
      val cps = text.codePoints().toArray
      (0 to cps.length - k).map { i =>
        if (portable) cps.slice(i, i + k).foldLeft(0L)((h, c) => pmod(h * 31L + c))
        else {
          val bytes = new String(cps, i, k).getBytes(UTF_8)
          pmod(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L))
        }
      }
    }

  /** `sig_j = min over hashes of (a_j·h + b_j) % P`; all-null when there
    * is no shingle.
    */
  def signature(hashes: Seq[Long], numHashes: Int, seed: Long): Seq[Any] = {
    val coeffs = Dedup.hashCoeffs(numHashes, seed)
    if (hashes.isEmpty) Seq.fill(numHashes)(null)
    else coeffs.toSeq.map { case (a, b) => hashes.map(h => (h * a + b) % P).min }
  }

  def textSignature(text: String, k: Int, numHashes: Int, seed: Long,
      portable: Boolean): Seq[Any] =
    signature(shingleHashes(text, k, portable), numHashes, seed)
}
