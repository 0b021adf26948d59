package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(Random.shuffle(xs)).get
    assert(t.value == 30.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 75.0)
    assert(t.samples == 40)

    // with 11 samples only the smallest has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.value == 1.0)
    // with 10 or fewer no percentile qualifies
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", "call", 0, parent, start, end)

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 20, 50), // overlaps span 1: the overlap counts once
      span(3, 0, 90, 120), // leaks past the parent: clipped to 90..100
      span(4, 1, 12, 28), // a grandchild does not change the parent's self time
      span(5, 2, 40, 45),
    )
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20 - 16)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 16)
  }

  test("tracer nests spans and keeps them in start order") {
    val t = new Tracer
    t.span("op", 7, "op") {
      t.span("a", 7)(())
      t.span("b", 7)(t.span("c", 7)(()))
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("a").parent == byName("op").id)
    assert(byName("c").parent == byName("b").id)
    assert(t.all.map(_.name) == Seq("op", "a", "b", "c"))
    assert(Trace.selfTimes(t.all).values.forall(_ >= 0))
  }

  test("cube digest does not depend on cell order or partitioning") {
    val spark = SparkSession.builder().master("local[2]").appName("HarnessSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val shape = Seq(3, 4, 5)
      val cells = for (i <- 0L until 3; j <- 0L until 4; k <- 0L until 5 if (i + j + k) % 2 == 0)
        yield (i, j, k, i * 7 + j * 3 + k + 1)
      def digest(cs: Seq[(Long, Long, Long, Long)], parts: Int) =
        Checks.cubeDigest(cs.toDF("a", "b", "c", "cnt").repartition(parts), shape)
      val d = digest(cells, 1)
      assert(digest(Random.shuffle(cells), 3) == d)
      assert(d.total == cells.map(_._4).sum && d.cells == cells.size)
      // one count moved between cells keeps the total, not the checksum
      val moved = cells.updated(0, cells(0).copy(_4 = cells(0)._4 + 1))
        .updated(1, cells(1).copy(_4 = cells(1)._4 - 1))
      val dm = digest(moved, 2)
      assert(dm.total == d.total && dm.checksum != d.checksum)
    } finally spark.stop()
  }

  test("pair fingerprint does not depend on pair order") {
    val pairs = (1L to 50L).map(i => (i, i * 31 % 97 + 100))
    val d = Checks.pairDigest(pairs)
    assert(Checks.pairDigest(Random.shuffle(pairs)) == d)
    assert(Checks.pairDigest(pairs.tail) != d)
    assert(Checks.pairDigest(pairs.map { case (a, b) => (a, b + 1) }).fingerprint != d.fingerprint)
  }

  private def shingles(s: String, k: Int = 5): Set[String] = s.sliding(k).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  test("corpus generator keeps its documented properties") {
    val spec = Gen.CorpusSpec(seed = 5, baseDocs = 40, copies = 3, exactCopies = 6, nearDups = 6)
    val gen = new Gen.Corpus(spec)
    assert(spec.total == 120 + 12)
    // copy 0 is the identity permutation; others permute the letters only
    assert(gen.permutation(0) == "abcdefghijklmnopqrstuvwxyz")
    assert(gen.permutation(1).sorted == gen.permutation(0))
    val base = gen.text(7)
    val copy = gen.text(40 + 7)
    assert(copy.length == base.length)
    assert(copy.zip(base).forall { case (c, b) => (c == ' ') == (b == ' ') })
    // every 5-character shingle holds at least three letters
    assert(shingles(base).forall(_.count(_ != ' ') >= 3))
    gen.plantedExact.foreach { case (id, src) =>
      assert(id > src && gen.text(id) == gen.text(src))
    }
    gen.plantedNear.foreach { case (src, id) =>
      assert(id > src && gen.text(id) != gen.text(src))
      assert(jaccard(gen.text(id), gen.text(src)) > 0.85)
    }
    val sources = (gen.plantedExact.map(_._2) ++ gen.plantedNear.map(_._1)).toSet
    assert(sources.size == 12 && sources.forall(_ < spec.inflated))
  }

  /** Digests of the seed-1 corpus texts and of a 64×64 forward field. */
  private val FrozenDigests = (-759255113298348692L, 2414368490005247317L)

  test("generators are frozen behind the seed") {
    // a digest of generated inputs; a change to any generator moves it
    val gen = new Gen.Corpus(Gen.CorpusSpec(seed = 1, baseDocs = 50, copies = 2,
      exactCopies = 3, nearDups = 3))
    val texts = (0L until gen.spec.total).map(id => Gen.mix64(gen.text(id).hashCode.toLong))
    val (rd, cd) = Gen.forwardField(1, 64)
    val field = (rd.flatten ++ cd.flatten).map(v => java.lang.Double.doubleToLongBits(v))
      .foldLeft(0L)((h, v) => Gen.mix64(h ^ v))
    assert((texts.sum, field) == FrozenDigests)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def entries(key: String) = json.get(key).elements().asScala.toSeq
    def names(key: String) =
      entries(key).map(n => n.get("name").asText() -> n.get("unit").asText())
    assert(names("end_to_end") == Metrics.endToEnd)
    assert(names("per_layer") == Metrics.perLayer)
    assert(entries("workloads").map(_.get("name").asText()) == Workload.names)
  }
}
