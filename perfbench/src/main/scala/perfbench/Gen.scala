package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input generators. Their properties are frozen and documented
  * in the benchmark's README: a later change must not reshape them to move
  * a number.
  */
object Gen {

  /** A stream of sub-seeds derived from the workload seed. */
  def subSeed(seed: Long, salt: Long): Long = mix64(seed * 0x9E3779B97F4A7C15L + salt)

  /** The SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- event table -------------------------------------------------------

  /** Reference ranges of the synthetic event table (one row per detected
    * electron): detector position `X`, `Y`, time of flight `t`, and the
    * delay-stage reading `ADC`.
    */
  val XRange = (0.0, 2048.0)
  val YRange = (0.0, 2048.0)
  val TRange = (60000.0, 120000.0)
  val AdcRange = (2000.0, 20000.0)

  /** `n` events, uniform and independent over the reference ranges, in
    * `parts` partitions. Spark's `rand(seed)` depends only on the seed, the
    * partition index and the row's position in it, so the same arguments
    * give the same rows.
    */
  def events(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    def u(salt: Long, r: (Double, Double)) =
      rand(subSeed(seed, salt)) * (r._2 - r._1) + r._1
    spark.range(0L, n, 1L, parts).select(
      u(1, XRange).as("X"), u(2, YRange).as("Y"),
      u(3, TRange).as("t"), u(4, AdcRange).as("ADC"))
  }

  /** A smooth forward deformation field on an `n`×`n` detector grid: each
    * pixel `(r, c)` maps to `(r + dr, c + dc)`, where `dr` and `dc` are sums
    * of two sine waves with seeded amplitudes of 1–4 pixels, 1–3 periods
    * across the detector, and seeded phases.
    */
  def forwardField(seed: Long, n: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val rnd = new SplittableRandom(subSeed(seed, 10))
    def amp() = 1.0 + 3.0 * rnd.nextDouble()
    def freq() = (1 + rnd.nextInt(3)) * 2 * math.Pi / n
    def phase() = 2 * math.Pi * rnd.nextDouble()
    val (a1, f1, p1, a2, f2, p2) = (amp(), freq(), phase(), amp(), freq(), phase())
    val (b1, g1, q1, b2, g2, q2) = (amp(), freq(), phase(), amp(), freq(), phase())
    val rd = Array.tabulate(n, n)((r, c) =>
      r + a1 * math.sin(f1 * c + p1) + a2 * math.sin(f2 * r + p2))
    val cd = Array.tabulate(n, n)((r, c) =>
      c + b1 * math.sin(g1 * r + q1) + b2 * math.sin(g2 * c + q2))
    (rd, cd)
  }

  // ---- text corpus -------------------------------------------------------

  /** Shape of the near-duplicate corpus. Ids are laid out as
    * `[0, inflated)` inflated copies (copy `c` of base doc `b` has id
    * `c * baseDocs + b`), then `exactCopies` planted exact copies, then
    * `nearDups` planted near-duplicates.
    */
  final case class CorpusSpec(
      seed: Long,
      baseDocs: Int,
      copies: Int,
      exactCopies: Int,
      nearDups: Int,
      vocabulary: Int = 5000,
      minWords: Int = 120,
      maxWords: Int = 200,
      edits: Int = 2,
  ) {
    def inflated: Long = baseDocs.toLong * copies
    def total: Long = inflated + exactCopies + nearDups
  }

  /** The corpus generator; a pure function of the spec, so every executor
    * rebuilds the same vocabulary and texts.
    */
  final class Corpus(val spec: CorpusSpec) extends Serializable {
    private val alpha = "abcdefghijklmnopqrstuvwxyz"

    /** Distinct seeded words of 2 to 9 lowercase letters. */
    val words: Array[String] = {
      val rnd = new SplittableRandom(subSeed(spec.seed, 20))
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < spec.vocabulary) {
        val len = 2 + rnd.nextInt(8)
        seen += String.valueOf(Array.fill(len)(alpha(rnd.nextInt(26))))
      }
      seen.toArray
    }

    /** Zipf(1) cumulative weights over word ranks. */
    private val cdf: Array[Double] = {
      val w = Array.tabulate(spec.vocabulary)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

    private def word(rnd: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, spec.vocabulary - 1))
    }

    /** Per-copy alphabet permutation (seeded Fisher–Yates); identity for
      * copy 0. Only letters move: spaces stay where they are.
      */
    def permutation(copy: Int): String =
      if (copy == 0) alpha
      else {
        val a = alpha.toCharArray
        val rnd = new SplittableRandom(subSeed(spec.seed, 1000L + copy))
        var i = a.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        new String(a)
      }

    private def baseWords(b: Int): Array[String] = {
      val rnd = new SplittableRandom(subSeed(spec.seed, 100000L + b))
      val n = spec.minWords + rnd.nextInt(spec.maxWords - spec.minWords + 1)
      Array.fill(n)(word(rnd))
    }

    private def permute(s: String, perm: String): String =
      if (perm eq alpha) s
      else s.map(ch => if (ch >= 'a' && ch <= 'z') perm(ch - 'a') else ch)

    private def inflatedText(id: Long): String = {
      val b = (id % spec.baseDocs).toInt
      val c = (id / spec.baseDocs).toInt
      permute(baseWords(b).mkString(" "), permutation(c))
    }

    /** Distinct seeded sources among the inflated ids: the first
      * `exactCopies` are the sources of the exact copies, the next
      * `nearDups` the sources of the near-duplicates.
      */
    private lazy val sources: Array[Long] = {
      val rnd = new SplittableRandom(subSeed(spec.seed, 30))
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < spec.exactCopies + spec.nearDups)
        picked += rnd.nextLong(spec.inflated)
      picked.toArray
    }

    /** `(copy id, source id)` of every planted exact copy. */
    def plantedExact: Seq[(Long, Long)] =
      (0 until spec.exactCopies).map(i => (spec.inflated + i, sources(i)))

    /** `(source id, near-duplicate id)` of every planted near-duplicate. */
    def plantedNear: Seq[(Long, Long)] = (0 until spec.nearDups).map { j =>
      (sources(spec.exactCopies + j), spec.inflated + spec.exactCopies + j)
    }

    /** The near-duplicate: its source with `edits` seeded word positions
      * replaced by a different word, in the source copy's alphabet.
      */
    private def nearText(j: Int): String = {
      val src = sources(spec.exactCopies + j)
      val b = (src % spec.baseDocs).toInt
      val ws = baseWords(b)
      val rnd = new SplittableRandom(subSeed(spec.seed, 200000L + j))
      (0 until spec.edits).foreach { _ =>
        val pos = rnd.nextInt(ws.length)
        var w = word(rnd)
        while (w == ws(pos)) w = word(rnd)
        ws(pos) = w
      }
      permute(ws.mkString(" "), permutation((src / spec.baseDocs).toInt))
    }

    def text(id: Long): String =
      if (id < spec.inflated) inflatedText(id)
      else if (id < spec.inflated + spec.exactCopies)
        inflatedText(sources((id - spec.inflated).toInt))
      else nearText((id - spec.inflated - spec.exactCopies).toInt)
  }

  /** The corpus as `(doc_id, text)` rows in `parts` partitions. */
  def corpus(spark: SparkSession, spec: CorpusSpec, parts: Int): DataFrame = {
    val gen = new Corpus(spec)
    spark.range(0L, spec.total, 1L, parts)
      .mapPartitions(it => it.map(id => (id.longValue, gen.text(id))))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .toDF("doc_id", "text")
  }
}
