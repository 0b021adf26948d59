package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-identity pin for [[TokenStopStatsExpr]]: the packed
  * (n_tokens, n_stop) kernel must reproduce the declarative
  * `size(tokens(t))` / `size(filter(tokens(t), isin(stopwords)))` pair
  * EXACTLY — `split(trim(t), "\\s+")` has sharp edges (leading/trailing
  * empty tokens, space-only trim, the one-empty-token split of "") that
  * feed three ratio columns of the q_quality oracle row.
  */
class TokenStatsExprSpec extends SparkSpec {
  import spark.implicits._

  private val stops = TextOps.EnStopwords

  private def declCols = {
    val toks = split(trim(col("t")), "\\s+")
    (size(toks), size(filter(toks, w => w.isin(stops: _*))))
  }

  private def fusedCols = {
    val packed = org.apache.spark.sql.GraftBridge.column(TokenStopStatsExpr(
      org.apache.spark.sql.GraftBridge.expression(col("t")), stops))
    (shiftright(packed, 32).cast("int"),
      packed.bitwiseAND(lit(0xFFFFFFFFL)).cast("int"))
  }

  private def assertParity(rows: Seq[Option[String]]): Unit = {
    val df = rows.toDF("t")
    val (dTok, dStop) = declCols
    val (fTok, fStop) = fusedCols
    val bad = df.select(col("t"), dTok.as("dt"), dStop.as("ds"),
        fTok.as("ft"), fStop.as("fs"))
      .filter(not(col("dt") <=> col("ft")) || not(col("ds") <=> col("fs")))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("edge strings: empties, pure whitespace, trim-vs-\\s, unicode") {
    assertParity(Seq(
      None, // null text → null counts
      Some(""), // split("") → one empty token
      Some(" "), Some("   "), // trim eats all of it → one empty token
      Some("\t"), // trim keeps it → ["", ""]
      Some("\t\t \n"), // one separator run → ["", ""]
      Some("a"), Some(" a "), Some("\ta\t"), // leading/trailing empties
      Some("the"), Some("THE"), Some("the the  the"),
      Some("xy"), Some("x\ry\nz"), // \x0B, \r, \n are separators
      Some("xy"), // control char < 0x09 is a TOKEN byte
      Some("a b"), // NBSP is not Java \s — one token
      Some("naïve 文章 the ✓"), // multi-byte UTF-8 around a stopword
      Some("of course, of."), // punctuation glued to a stopword ≠ match
      Some("  \tthe  "), // trim spaces, then leading empty + stopword
    ))
  }

  test("300 seeded random strings over a ws/stopword-heavy alphabet") {
    val rnd = new scala.util.Random(42)
    val atoms = stops ++ Seq(" ", "\t", "\n", "\r", "", "",
      "x", "yz", "Thé", "日本語", "", "THE", "a ", " a")
    val rows = (0 until 300).map { _ =>
      Some((0 until rnd.nextInt(30)).map(_ =>
        atoms(rnd.nextInt(atoms.length))).mkString(
        if (rnd.nextBoolean()) "" else " "))
    }
    assertParity(rows)
  }

  test("qualityColumns over the kernel matches the declarative struct form") {
    // end-to-end parity of the published columns, including the ratio
    // arithmetic, against the pre-kernel formulation
    val docs = Seq(
      (1L, "the quick brown fox jumped over a lazy dog"),
      (2L, "x"), (3L, "   "), (4L, null.asInstanceOf[String]),
      (5L, "this is, that is; and THIS IS."),
      (6L, "\tpunct! (lots) [of] {it}: \"quoted\" - end.\t"),
      (7L, ""),
    ).toDF("doc_id", "text")
    val got = TextOps.qualityColumns(docs, "text")
    val toks = split(trim(col("text")), "\\s+")
    val sig = transform(array(toks), ts => struct(
      size(ts).as("n_tokens"),
      size(filter(ts, w => w.isin(stops: _*))).as("n_stop"))).getItem(0)
    val want = docs.withColumn("_q", sig)
      .withColumns(Map(
        "n_tokens" -> col("_q.n_tokens"),
        "n_chars_m" -> length(col("text")),
        "avg_token_len" -> (length(regexp_replace(col("text"), "\\s+", ""))
          .cast("double") / col("_q.n_tokens")),
        "punct_ratio" -> when(length(col("text")) =!= 0,
          TextOps.punctCount(col("text")).cast("double") /
            length(col("text"))),
        "stopword_ratio" ->
          (col("_q.n_stop").cast("double") / col("_q.n_tokens")),
      )).drop("_q")
    assert(got.columns.toSeq === want.columns.toSeq)
    val g = got.orderBy("doc_id").collect().toSeq
    val w = want.orderBy("doc_id").collect().toSeq
    assert(g === w)
    val empty = g.find(_.getAs[Long]("doc_id") == 7L).get
    assert(empty.isNullAt(empty.fieldIndex("punct_ratio")))
  }
}
