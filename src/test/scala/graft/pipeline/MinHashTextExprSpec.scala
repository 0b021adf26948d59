package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-identity pin for the fused text→signature kernel
  * ([[MinHashTextExpr]]) against the declarative pipeline it replaced
  * (`minhashFromBase(baseShingleHashes(text, k), n, seed)`): same seeded
  * affine family, same xxhash64/pmod reduction, same char-k-gram
  * boundaries (codepoints, not bytes), same all-null signature for
  * null/short text. The dedup results downstream (near-dup pairs, census
  * routing, streaming dedup keys) are only unchanged if this equality is
  * EXACT — any drift here silently changes candidate sets at scale.
  */
class MinHashTextExprSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-round-19 declarative form, kept verbatim as the reference. */
  private def declarative(text: Column, k: Int, numHashes: Int, seed: Long): Column =
    transform(array(Dedup.baseShingleHashes(text, k)), base =>
      Dedup.minhashFromBase(base, numHashes, seed)).getItem(0)

  /** ~20 k seeded CJK codepoints from a 4 000-symbol alphabet: every
    * 5-gram is distinct (checked below), so the shingle set only grows.
    */
  private val allDistinct: String = {
    val rnd = new scala.util.Random(2020)
    (0 until 20000).map(_ => (0x4E00 + rnd.nextInt(4000)).toChar).mkString
  }

  private val corpus: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaaaaa", // one distinct shingle, many duplicates
    "abcd", // shorter than k=5 → all-null signature
    "abcde", // exactly k
    "", // empty
    null, // null text → all-null signature, NOT null array
    "ab", // shorter than every k tested
    "héllo wörld, schöne Grüße aus Köln", // 2-byte UTF-8 sequences
    "日本語のテキストで五文字シングルを検査する", // 3-byte sequences
    "emoji 🦊🦊🦊 mix 🚀 ascii", // 4-byte sequences (astral codepoints)
    "tab\tand\nnewline  spaced", // whitespace inside shingles
    ("repeated phrase " * 40).trim, // long text, heavy shingle duplication
    (0 until 400).map(i => ('a' + i % 26).toChar).mkString, // long cycle
    allDistinct, // long text, no repeated 5-gram
    "é日🦊ñ語", // exactly k=5 codepoints of 2, 3, 4, 2 and 3 bytes
    "🦊" * 3000, // long text, one repeated 4-byte shingle for every k
  )

  private def check(k: Int, numHashes: Int, seed: Long): Unit = {
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(
      col("id"),
      Dedup.minhashSignature(col("text"), k, numHashes, seed).as("fused"),
      declarative(col("text"), k, numHashes, seed).as("decl"),
    ).collect()
    rows.foreach { r =>
      val fused = r.getSeq[Any](1)
      val decl = r.getSeq[Any](2)
      assert(fused === decl, s"id=${r.getLong(0)} k=$k n=$numHashes seed=$seed")
      assert(fused.length === numHashes)
    }
  }

  test("fused kernel is bit-identical to the declarative pipeline (defaults)") {
    check(k = 5, numHashes = 32, seed = 42L)
  }

  /** The portable (oracle-mirrored polynomial) declarative form, verbatim. */
  private def declarativePortable(text: Column, k: Int, numHashes: Int,
      seed: Long): Column =
    transform(array(Dedup.baseShingleHashes(text, k, portable = true)), base =>
      Dedup.minhashFromBase(base, numHashes, seed)).getItem(0)

  test("portable fused kernel is bit-identical to the polynomial pipeline") {
    for ((k, n, seed) <- Seq((5, 32, 42L), (3, 16, 7L))) {
      val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val fused = org.apache.spark.sql.GraftBridge.column(
        MinHashTextExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          k, n, seed, portable = true))
      val rows = df.select(col("id"), fused.as("fused"),
        declarativePortable(col("text"), k, n, seed).as("decl")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2),
          s"id=${r.getLong(0)} k=$k n=$n seed=$seed")
      }
    }
  }

  test("fused kernel is bit-identical across k / numHashes / seed variants") {
    check(k = 1, numHashes = 8, seed = 42L)
    check(k = 3, numHashes = 16, seed = 7L)
    check(k = 9, numHashes = 64, seed = 123456789L)
  }

  test("fused kernel matches on seeded random strings incl. repeats") {
    val rnd = new scala.util.Random(4242)
    val alphabet = "abcdefgh ij.kl-mn🦊é日"
    val texts = (0 until 300).map { _ =>
      val len = rnd.nextInt(120)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = df.select(
      Dedup.minhashSignature(col("text"), 5, 32, 42L).as("fused"),
      declarative(col("text"), 5, 32, 42L).as("decl"),
    ).filter(not(col("fused") <=> col("decl"))).count()
    assert(bad === 0L)
  }

  test("the all-distinct corpus input really has no repeated 5-gram") {
    assert(allDistinct.sliding(5).toSet.size === allDistinct.length - 4)
  }

  test("both expressions match the plain %-based reference kernel") {
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((k, n, seed) <- Seq((5, 32, 42L), (1, 8, 42L), (3, 17, 7L));
         portable <- Seq(false, true)) {
      val text = org.apache.spark.sql.GraftBridge.column(MinHashTextExpr(
        org.apache.spark.sql.GraftBridge.expression(col("text")), k, n, seed, portable))
      val fromBase = Dedup.minhashFromBase(Dedup.baseShingleHashes(col("text"), k, portable),
        n, seed)
      df.select(col("id"), text, fromBase).collect().foreach { r =>
        val t = corpus(r.getLong(0).toInt)
        val want = MinHashReference.textSignature(t, k, n, seed, portable)
        val what = s"id=${r.getLong(0)} k=$k n=$n seed=$seed portable=$portable"
        assert(r.getSeq[Any](1) === want, s"MinHashTextExpr $what")
        assert(r.getSeq[Any](2) === want, s"MinHashSignatureExpr $what")
      }
    }
  }

  test("null and short text produce the all-null signature, never a null array") {
    val df = Seq((1L, null: String), (2L, "abc")).toDF("id", "text")
    val rows = df.select(
      Dedup.minhashSignature(col("text"), 5, 32, 42L).as("sig")).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0), "signature array itself must not be null")
      assert(r.getSeq[Any](0) === Seq.fill(32)(null))
    }
  }

  test("minhashSignatures fused path = portable-pipeline shape on the same corpus") {
    // not bit-equal across hash families (different hashers by design) —
    // this pins that the FUSED default path still drives the full
    // near-dup pipeline to the same pairs as the declarative default did
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"),
      (3L, "completely different content about spark aggregation engines"),
    ).toDF("doc_id", "text")
    val fusedPairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      threshold = 0.5).select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: signatures built declaratively, same downstream plan
    val declSigs = docs.select(col("doc_id").as("id"),
      declarative(col("text"), 5, 32, 42L).as("sig"))
      .repartition(col("id"))
    val declPairs = Dedup.minhashFromSigs(declSigs, 32, 8, 0.5,
        inlineVerify = false)
      .select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fusedPairs === declPairs)
    assert(fusedPairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
  }
}
