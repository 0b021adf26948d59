package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** A training-data near-duplicate pass over a copy-inflated corpus with
  * planted exact copies and near-duplicates: exact dedup, then MinHash LSH
  * near-dup pairs on the automatic plan. A join-heavy use of the exchange
  * that never touches binning or calibration.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, dir: String, parts: Int)
    extends Workload {
  import CorpusDedup._

  val spec: Gen.CorpusSpec = Gen.CorpusSpec(seed, BaseDocs, Copies, ExactCopies, NearDups)
  private val gen = new Gen.Corpus(spec)
  def inputRows: Long = spec.total

  private val corpusDir = s"$dir/corpus"
  private var corpus: DataFrame = _
  private var fingerprint: Option[Checks.PairDigest] = None

  def setup(): Unit = {
    Gen.corpus(spark, spec, parts).write.mode("overwrite").parquet(corpusDir)
    corpus = spark.read.parquet(corpusDir)
    Workload.noop(corpus) // warm the page cache
  }

  def reference(): Unit = ()

  /** The automatic near-dup plan leaves its signature table persisted, and
    * a later identical pass would reuse it; each op is a whole pass.
    */
  override def reset(): Unit = spark.catalog.clearCache()

  private def survivors(): DataFrame = Dedup.dropExactDuplicates(corpus, "text", "doc_id")

  def op(opId: Int, t: Option[Tracer]): () => Seq[String] = {
    def call[T](name: String)(body: => T): T = t.fold(body)(_.span(name, opId)(body))
    val kept = call("dedup.exact")(survivors())
    val pairs = call("dedup.near")(
      Dedup.minhashNearDuplicatesAuto(kept, "text", "doc_id", threshold = Threshold)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    () => verify(kept, pairs)
  }

  private def verify(kept: DataFrame, pairs: Array[(Long, Long)]): Seq[String] = {
    val found = pairs.toSet
    val missing = gen.plantedNear.filterNot(found.contains)
    val digest = Checks.pairDigest(pairs)
    val first = fingerprint.getOrElse { fingerprint = Some(digest); digest }
    val n = kept.count()
    Seq(
      if (n != spec.total - spec.exactCopies)
        Some(s"$n survivors != ${spec.total} docs - ${spec.exactCopies} planted copies") else None,
      if (missing.nonEmpty)
        Some(s"${missing.size} planted near-duplicate pairs not found, e.g. ${missing.head}") else None,
      if (digest != first) Some(s"pair set $digest differs from the first op's $first") else None,
    ).flatten
  }

  def layers(opId: Int, t: Tracer, meter: Meter, op: Span,
      window: Window): Map[String, Double] = {
    val (scan, _) = Workload.probe(t, meter, opId, "probe.scan")(Workload.noop(corpus))
    val (exact, _) = Workload.probe(t, meter, opId, "probe.exact")(Workload.noop(survivors()))
    def sigs = Dedup.minhashSignatures(survivors(), "text", "doc_id")
    val (signed, _) = Workload.probe(t, meter, opId, "probe.signature")(Workload.noop(sigs))
    var candidates = 0L
    Workload.probe(t, meter, opId, "probe.candidates") {
      val bands = Dedup.minhashBands(sigs, NumHashes, Bands)
      candidates = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_hash") === col("b.band_hash"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    }
    // every verified op produced the same pair set, recorded by the first
    val pairsOut = fingerprint.map(_.pairs).getOrElse(0L)
    Map(
      "loader.scan_s" -> scan,
      "dedup.exact_s" -> (exact - scan),
      "dedup.signature_s" -> (signed - exact),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.pairs_out" -> pairsOut.toDouble,
      "dedup.verify_yield" -> pairsOut.toDouble / math.max(1L, candidates),
      "dedup.shuffle_bytes_per_doc" -> window.shuffleBytes.toDouble / spec.total,
    )
  }
}

object CorpusDedup {
  val BaseDocs = 1000
  val Copies = 20
  val ExactCopies = 100
  val NearDups = 100
  val Threshold = 0.5
  // the library defaults the op runs with
  val NumHashes = 32
  val Bands = 8
}
