package graft.calibrate

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dfops.DfOps

/** Mirrors the reference's `tests/calibrator` numeric assertions. */
class CalibrateSpec extends SparkSpec {
  import spark.implicits._

  private val tofs = (64000 to 65000 by 100).map(_.toDouble)

  test("tof2ev: kinetic scale decreases with TOF, binding increases") {
    // mirrors test_energy.py:195-228 monotonicity assertion
    val df = tofs.toDF("t")
    def energies(scale: String): Seq[Double] =
      df.select(Energy.tof2ev(col("t"), tofDistance = 1.0,
          timeOffset = 100.0, binwidth = 4.125e-12 * 1e9, binning = 1,
          energyScale = scale, energyOffset = 0.0).as("e"))
        .as[Double].collect().toSeq
    val kin = energies("kinetic")
    assert(kin.sliding(2).forall(p => p(0) > p(1)), "kinetic must decrease")
    val bind = energies("binding")
    assert(bind.sliding(2).forall(p => p(0) < p(1)), "binding must increase")
    assert(kin.zip(bind).forall { case (k, b) => math.abs(k + b) < 1e-12 })
  }

  test("tof2evpoly matches direct polynomial evaluation") {
    val polyA = Seq(2.0, -1.0, 3.0) // 2t^3 - t^2 + 3t
    val out = Seq(0.0, 1.0, 2.0).toDF("t")
      .select(Energy.tof2evpoly(col("t"), polyA, 5.0).as("e"))
      .as[Double].collect()
    assert(out.toSeq === Seq(5.0, 2.0 - 1.0 + 3.0 + 5.0, 16.0 - 4.0 + 6.0 + 5.0))
  }

  test("tof2ns linear conversion") {
    val out = Seq(100.0).toDF("t")
      .select(Energy.tof2ns(col("t"), binwidth = 2.0e-9, binning = 2).as("ns"))
      .as[Double].collect()
    assert(out.head === 100.0 * 1e9 * 2.0e-9 * 4.0)
  }

  test("correction profiles vanish at the center and have the right sign") {
    val df = Seq((10.0, 10.0), (12.0, 13.0)).toDF("x", "y")
    def vals(c: org.apache.spark.sql.Column): Seq[Double] =
      df.select(c.as("v")).as[Double].collect().toSeq
    val sph = vals(Energy.Correction.spherical(col("x"), col("y"), 10.0, 10.0, 1.0, 50.0))
    assert(math.abs(sph.head) < 1e-12)
    assert(sph(1) < 0) // spherical correction reduces TOF off-center
    val lor = vals(Energy.Correction.lorentzian(col("x"), col("y"), 10.0, 10.0, 1.0, 10.0))
    assert(math.abs(lor.head) < 1e-12)
    assert(lor(1) < 0)
    val gau = vals(Energy.Correction.gaussian(col("x"), col("y"), 10.0, 10.0, 1.0, 10.0))
    assert(math.abs(gau.head) < 1e-12)
    assert(gau(1) < 0)
    val asym = vals(Energy.Correction.lorentzianAsymmetric(
      col("x"), col("y"), 10.0, 10.0, 1.0, 10.0, 0.5, 20.0))
    assert(math.abs(asym.head) < 1e-12)
    assert(asym(1) < 0)
  }

  test("alignDldSectors subtracts the per-sector delay") {
    val df = Seq((100.0, 0), (100.0, 3)).toDF("t", "sector")
    val delays = Array(0.5, 0.0, 0.0, -0.25, 0.0, 0.0, 0.0, 0.0)
    val out = Energy.alignDldSectors(df, "t", "sector", delays)
      .orderBy("sector").select("t").as[Double].collect()
    assert(out.toSeq === Seq(99.5, 100.25))
  }

  test("detectorToK: linear mapping with center at zero momentum") {
    val out = Seq(256.0, 300.0).toDF("r")
      .select(Momentum.detectorToK(col("r"), start = 0.0, center = 256.0,
        conversion = 0.02, step = 1.0).as("k"))
      .as[Double].collect()
    assert(out.head === 0.0)
    assert(math.abs(out(1) - 0.02 * 44.0) < 1e-12)
  }

  test("applyDfield rejects degenerate fields; tof2evpoly rejects an empty" +
      " polynomial") {
    val df = Seq((1.0, 1.0)).toDF("X", "Y")
    val degenerate = Array(Array(Array(1.0, 2.0)), Array(Array(1.0, 2.0)))
    val e = intercept[IllegalArgumentException](Momentum.applyDfield(
      spark, df, degenerate, "X", "Y", "Xm", "Ym", ((0.0, 1.0), (0.0, 1.0))))
    assert(e.getMessage.contains(">= 2x2"))
    intercept[IllegalArgumentException](Energy.tof2evpoly(col("X"), Nil, 0.0))
  }

  test("applyDfield: identity field returns the scaled input coordinates") {
    val n = 17
    // inverse field that maps grid position (r, c) to (r, c): identity warp
    val identity = Array(
      Array.tabulate(n, n)((r, _) => r.toDouble),
      Array.tabulate(n, n)((_, c) => c.toDouble),
    )
    val df = Seq((0.0, 0.0), (8.0, 4.0), (16.0, 16.0), (3.3, 7.7)).toDF("X", "Y")
    val out = Momentum.applyDfield(spark, df, identity, "X", "Y", "Xm", "Ym",
      detectorRanges = ((0.0, 16.0), (0.0, 16.0)))
    out.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("Xm") - r.getAs[Double]("X")) < 1e-9)
      assert(math.abs(r.getAs[Double]("Ym") - r.getAs[Double]("Y")) < 1e-9)
    }
  }

  test("applyDfield equals the driver-side bilinear lookup bit for bit on a" +
      " seeded 64x48 field") {
    val (rows, cols) = (64, 48)
    val rnd = new scala.util.Random(4801L)
    val field = Array.tabulate(2, rows, cols) { (f, r, c) =>
      if (f == 0) r + 1.5 * math.sin(c / 9.0) + 0.1 * rnd.nextGaussian()
      else c - 2.0 * math.cos(r / 13.0) + 0.1 * rnd.nextGaussian()
    }
    val ranges = ((-3.0, 250.0), (10.0, 110.0))
    // inside the detector, on its edges and beyond them (edge-clamped)
    val events = Seq((-3.0, 10.0), (250.0, 110.0), (-40.0, 500.0), (300.0, -7.0)) ++
      Seq.fill(500)((-20.0 + 290.0 * rnd.nextDouble(), 120.0 * rnd.nextDouble()))
    val out = Momentum.applyDfield(spark, events.toDF("X", "Y"), field, "X", "Y",
      "Xm", "Ym", ranges).select("X", "Y", "Xm", "Ym").collect()
    val xScale = (rows - 1).toDouble / (ranges._1._2 - ranges._1._1)
    val yScale = (cols - 1).toDouble / (ranges._2._2 - ranges._2._1)
    val flat = field.map(_.flatten)
    assert(out.length === events.length)
    out.foreach { row =>
      val (x, y) = (row.getDouble(0), row.getDouble(1))
      val (r, c) = ((x - ranges._1._1) * xScale, (y - ranges._2._1) * yScale)
      for (f <- 0 to 1) {
        val want = BilinearGridLookup.interp(flat(f), rows, cols, r, c)
        val got = row.getDouble(2 + f)
        assert(java.lang.Double.doubleToRawLongBits(got) ===
          java.lang.Double.doubleToRawLongBits(want), s"field $f at ($x, $y): $got != $want")
      }
    }
  }

  test("applyDfield names a null row, a ragged row or a mismatched field") {
    val df = Seq((1.0, 1.0)).toDF("X", "Y")
    def good = Array.tabulate(4, 4)((r, c) => r + c * 0.5)
    def rejected(fields: Array[Array[Array[Double]]]): String =
      intercept[IllegalArgumentException](Momentum.applyDfield(
        spark, df, fields, "X", "Y", "Xm", "Ym", ((0.0, 4.0), (0.0, 4.0))))
        .getMessage
    for (f <- 0 to 1) {
      val holed = Array(good, good)
      holed(f)(2) = null
      assert(rejected(holed).contains(s"field $f row 2 is null"))
      val ragged = Array(good, good)
      ragged(f)(3) = Array(1.0, 2.0, 3.0)
      assert(rejected(ragged).contains(s"field $f row 3 has length 3, want 4"))
    }
    assert(rejected(Array(good, Array.fill(3, 4)(0.0)))
      .contains("field 1 has 3 rows, want 4"))
    assert(rejected(Array(good, Array.fill(4, 5)(0.0)))
      .contains("field 1 row 0 has length 5, want 4"))
  }

  test("momentum workflow: TPS warp → invertField → applyDfield → k-axis " +
    "recovers the ideal symmetric targets (tier-2 integration)") {
    import graft.fit.Fields
    val n = 64
    // detected landmarks = ideal hexagon displaced by a smooth distortion
    val targets = Fields.rotSymmetricTargets((32.0, 32.0), 16.0, 6) :+ ((32.0, 32.0))
    def distort(r: Double, c: Double): (Double, Double) =
      (r + 2.0 * math.sin(c / 20.0), c + 1.5 * math.cos(r / 15.0))
    val landmarks = targets.map { case (r, c) => distort(r, c) }
    // D8: forward deformation field (corrected grid → original coords)
    val (rd, cd) = Fields.splineWarp(landmarks, targets, n, n)
    // D10: inverse field (original grid → corrected coords)
    val (invR, invC) = Fields.invertField(rd, cd, n, n,
      ((0.0, n - 1.0), (0.0, n - 1.0)))
    // T8: per-event application — events sit AT the distorted landmark
    // positions; the corrected positions should recover the ideal targets
    val events = landmarks.toSeq.toDF("X", "Y")
    val corrected = Momentum.applyDfield(spark, events, Array(invR, invC),
      "X", "Y", "Xm", "Ym", ((0.0, n - 1.0), (0.0, n - 1.0)))
    // T9: momentum calibration on the corrected coordinates
    val withK = Momentum.appendKAxis(corrected, "Xm", "Ym", "kx", "ky",
      rStart = 0.0, cStart = 0.0, rCenter = 32.0, cCenter = 32.0,
      rConversion = 0.05, cConversion = 0.05, rStep = 1.0, cStep = 1.0)
    val rows = withK.collect()
    rows.zip(targets).foreach { case (row, (tr, tc)) =>
      // IDW inversion error is O(grid spacing); generous tolerance
      assert(math.abs(row.getAs[Double]("Xm") - tr) < 1.0,
        s"Xm ${row.getAs[Double]("Xm")} vs $tr")
      assert(math.abs(row.getAs[Double]("Ym") - tc) < 1.0)
      assert(math.abs(row.getAs[Double]("kx") - 0.05 * (row.getAs[Double]("Xm") - 32.0)) < 1e-12)
    }
    // the center landmark maps (near) the origin of momentum space
    val center = rows.last
    assert(math.abs(center.getAs[Double]("kx")) < 0.05)
    assert(math.abs(center.getAs[Double]("ky")) < 0.05)
  }

  test("delay axis: adc range endpoints map to delay range endpoints") {
    // mirrors test_delay.py range-based calibration
    val df = Seq(100.0, 500.0, 300.0).toDF("adc")
    val out = Delay.appendDelayAxis(df, "adc", "delay",
        adcRange = (100.0, 500.0), delayRange = Some((-5.0, 5.0)))
      .select("delay").as[Double].collect()
    assert(out.toSeq === Seq(-5.0, 5.0, 0.0))
    // flip_delay_axis negates (delay.py:207-374)
    val flipped = Delay.appendDelayAxis(df, "adc", "delay",
        adcRange = (100.0, 500.0), delayRange = Some((-5.0, 5.0)),
        flipDelayAxis = true)
      .select("delay").as[Double].collect()
    assert(flipped.toSeq === Seq(5.0, -5.0, 0.0))
  }

  test("mm_to_ps double-pass conversion") {
    assert(Delay.mmToPs(25.3, 25.3) === 0.0)
    assert(math.abs(Delay.mmToPs(25.45, 25.3) - 1.0) < 1e-12)
  }

  test("addOffsets flips signs on the binding energy scale") {
    // mirrors tests/test_processor.py:650-654 exact-shift semantics
    val df = Seq((10.0, 2.0), (20.0, 4.0)).toDF("energy", "aux")
    val kin = Energy.addOffsets(df, "energy", "kinetic",
        constant = 1.0, offsetColumns = Seq("aux"), weights = Seq(1.0))
      .select("energy").as[Double].collect().sorted
    assert(kin.toSeq === Seq(13.0, 25.0)) // e + aux + 1
    val bind = Energy.addOffsets(df, "energy", "binding",
        constant = 1.0, offsetColumns = Seq("aux"), weights = Seq(1.0))
      .select("energy").as[Double].collect().sorted
    assert(bind.toSeq === Seq(7.0, 15.0)) // e - aux - 1
  }

  test("full workflow chain: jitter → correction → energy → delay on events") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("X", col("value"))
      .withColumn("Y", col("value") * 0.5)
    val chained = {
      val j = DfOps.applyJitter(df, Seq("value"), amps = Seq(0.25))
      val corr = Energy.applyEnergyCorrection(j, "value_jittered", "tm",
        Energy.Correction.spherical(_, _, 250.0, 125.0, 0.1, 2000.0), "X", "Y")
      val en = corr.withColumn("energy",
        Energy.tof2ev(col("tm"), 1.0e4, -100.0, 2.0, 0, "kinetic", 0.0))
      Delay.appendDelayAxis(en, "value", "delay",
        adcRange = (0.0, 500.0), delayRangeMm = Some((25.0, 25.6)), time0Mm = 25.3)
    }
    val n = chained.filter(col("energy").isNotNull && col("delay").isNotNull).count()
    assert(n === df.count())
  }
}
