package graft.signals

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.SparkTestBase
import graft.sources.{ParReader, TimReader}
import org.apache.spark.sql.functions._

/** Per-pulsar timing-model slice (ref enterprise_warp.py:500-508 timing
  * model dispatch, :277-279 tm_svd; gp_signals.MarginalizingTimingModel).
  *
  * Three layers of evidence:
  *  1. pure-Breeze unit checks (design matrix shape, SVD orthonormality,
  *     likelihood sanity),
  *  2. parameter RECOVERY on fake_psr_0-shaped fixtures — seeded injected
  *     noise in, argmax of the marginalized likelihood out,
  *  3. a GOLDEN end-to-end run on a committed PPTA-style
  *     J1832-0836.{par,tim} pair (FIXTURES.md tier (b), under
  *     `src/test/resources/ppta`) emitting a K2 noise file whose key set is
  *     the fixture's `-group` backends plus the red and DM keys, and
  *     byte-for-byte goldens of [[TimingModel.fitOne]]'s noise files.
  *
  * Residuals are an input column throughout: the reference obtains them
  * from libstempo/PINT inside enterprise.Pulsar (no such binary exists in
  * this environment), so the goldens inject seeded residuals and assert
  * structure + recovery, not astrophysical values.
  */
class TimingModelSpec extends SparkTestBase {

  private def resource(name: String): String = getClass.getResource(name).getPath

  // ------------------------------------------------------------ pure core

  test("designMatrix: offset+spin+DM+jump columns, zero-norm jumps dropped") {
    val t = Array(0.0, 86400.0, 172800.0, 259200.0)
    val nu = Array(1400.0, 700.0, 1400.0, 3100.0)
    val flags = Array(
      Map("group" -> "A"), Map("group" -> "B"),
      Map("group" -> "A"), Map.empty[String, String])
    val par = TimingModel.ParInfo("J0000+0000", pepochMjd = 1.0,
      jumpGroups = Seq(("group", "A"), ("group", "Z")), includeDm = true)
    val m = TimingModel.designMatrix(t, nu, flags, par)
    // offset, dt, dt^2/2, 1/nu^2, dt/nu^2, jump(group=A); group=Z all-zero -> dropped
    assert(m.rows === 4 && m.cols === 6)
    assert(m(::, 5).toArray.toSeq === Seq(1.0, 0.0, 1.0, 0.0))
  }

  test("svdStabilize: orthonormal columns spanning the model space") {
    val t = Array.tabulate(50)(i => i * 86400.0)
    val m = TimingModel.designMatrix(t, Array.fill(50)(1400.0),
      Array.fill(50)(Map.empty[String, String]),
      TimingModel.ParInfo("P", pepochMjd = 25.0))
    val u = TimingModel.svdStabilize(m)
    assert(u.cols === 3)
    val g = u.t * u
    (0 until 3).foreach { i =>
      (0 until 3).foreach { j =>
        assert(math.abs(g(i, j) - (if (i == j) 1.0 else 0.0)) < 1e-10)
      }
    }
  }

  test("svdStabilize drops the collinear DM and JUMP columns of a one-frequency pulsar") {
    // every TOA at 1440 MHz, as in fake_psr_0, so 1/ν² is the offset
    // column and dt/ν² the dt column once normalized; a JUMP on every TOA
    // is the offset again. The span is that of offset, dt and dt²/2 in
    // each case. Over 270 TOAs the SVD leaves a duplicate direction at
    // ~2e-15 of the largest singular value: a fixed 1e-15 cut keeps it.
    val n = 270
    val t = Array.tabulate(n)(i => (53000.0 + 5000.0 * i / n) * 86400.0)
    val flags = Array.fill(n)(Map("be" -> "AXIS"))
    for ((dm, jumps) <- Seq((true, Nil), (false, Seq(("be", "AXIS"))), (true, Seq(("be", "AXIS"))))) {
      val m = TimingModel.designMatrix(t, Array.fill(n)(1440.0), flags,
        TimingModel.ParInfo("P", pepochMjd = 55500.0, jumpGroups = jumps, includeDm = dm))
      assert(m.cols === 3 + (if (dm) 2 else 0) + jumps.length)
      val u = TimingModel.svdStabilize(m)
      assert(u.cols === 3, s"dm=$dm jumps=$jumps")
      (0 until m.cols).foreach { j =>
        val col = m(::, j)
        val off = col - u * (u.t * col)
        assert(breeze.linalg.norm(off) <= 1e-10 * breeze.linalg.norm(col), s"dm=$dm column $j")
      }
    }
  }

  test("svdStabilize keeps every timing-model direction of a 13-year design matrix") {
    // offset, dt, dt²/2, two DM columns and two JUMPs: raw singular values
    // span ~23 decades, so a relative cut on the raw M drops real columns
    val rng = new java.util.Random(13)
    val n = 300
    val t = Array.fill(n)(53000.0 + 13 * 365.25 * rng.nextDouble()).sorted.map(_ * 86400.0)
    val groups = Array("PDFB_10CM", "PDFB_20CM", "CASPSR_40CM")
    val g = Array.fill(n)(rng.nextInt(groups.length))
    val freq = g.map(Array(3100.0, 1369.0, 732.0)(_) + 64.0 * (rng.nextDouble() - 0.5))
    val m = TimingModel.designMatrix(t, freq, g.map(i => Map("group" -> groups(i))),
      TimingModel.ParInfo("P", pepochMjd = 55500.0,
        jumpGroups = Seq(("group", groups(1)), ("group", groups(2))), includeDm = true))
    assert(m.cols === 7)
    val u = TimingModel.svdStabilize(m)
    assert(u.cols === 7)
    (0 until m.cols).foreach { j =>
      val col = m(::, j)
      val off = col - u * (u.t * col)
      assert(breeze.linalg.norm(off) <= 1e-10 * breeze.linalg.norm(col), s"column $j")
    }
  }

  test("marginalized likelihood: invariant to shifts inside the model space") {
    // adding any timing-model column times a constant to the residuals
    // must not change the marginalized likelihood (the 1e40 prior absorbs
    // it) — the defining property of MarginalizingTimingModel.
    val n = 40
    val t = Array.tabulate(n)(i => i * 864000.0)
    val par = TimingModel.ParInfo("P", pepochMjd = 200.0)
    val m = TimingModel.svdStabilize(TimingModel.designMatrix(
      t, Array.fill(n)(1400.0), Array.fill(n)(Map.empty[String, String]), par))
    val rng = new java.util.Random(11)
    val r0 = DenseVector(Array.fill(n)(rng.nextGaussian() * 1e-6))
    val sigma = DenseVector(Array.fill(n)(1e-6))
    val backs = Array.fill(n)("none")
    def lik(r: DenseVector[Double]) =
      new TimingModel.MarginalizedLikelihood("P", r, sigma, backs, m, None, None)(
        Map("P_none_efac" -> 1.0))
    val shifted = r0 + m(::, 1) * 5e-5 // big shift along a model direction
    assert(math.abs(lik(r0) - lik(shifted)) < 1e-6)
  }

  // ------------------------------------------- recovery on fake_psr_0 shape

  /** fake_psr_0-shaped TOAs (123 epochs, ~monthly cadence, AXIS site) with
    * heterogeneous errors so efac and equad decorrelate. */
  private def fakeToas(n: Int = 123): (Array[Double], Array[Double]) = {
    val t = Array.tabulate(n)(i => (53000.0 + 30.0 * i) * 86400.0)
    val errUs = Array.tabulate(n)(i => if (i % 2 == 0) 0.3 else 1.2)
    (t, errUs)
  }

  test("recovery: injected efac from seeded white residuals") {
    val (t, errUs) = fakeToas()
    val par = TimingModel.ParInfo("fake", pepochMjd = 54500.0)
    val rng = new java.util.Random(42)
    val efacTrue = 1.6
    val rows = t.indices.map { i =>
      TimingModel.ToaFit("fake", t(i), errUs(i), 1440.0, "none",
        Map.empty, efacTrue * errUs(i) * 1e-6 * rng.nextGaussian())
    }.toArray
    val fit = TimingModel.fitOne(rows, par,
      TimingModel.FitConfig(fitRed = false, fitDm = false,
        equadGrid = Seq(-9.0), passes = 2))
    val efacHat = fit("fake_none_efac")
    assert(math.abs(efacHat - efacTrue) < 0.25,
      s"efac recovery: got $efacHat, injected $efacTrue")
  }

  test("recovery: injected equad dominates the small-error TOAs") {
    val (t, errUs) = fakeToas()
    val par = TimingModel.ParInfo("fake", pepochMjd = 54500.0)
    val rng = new java.util.Random(43)
    val lqTrue = -6.2 // 0.63 us, vs sigma 0.3/1.2 us
    val eq = math.pow(10.0, lqTrue)
    val rows = t.indices.map { i =>
      val s = math.sqrt(errUs(i) * errUs(i) * 1e-12 + eq * eq)
      TimingModel.ToaFit("fake", t(i), errUs(i), 1440.0, "none",
        Map.empty, s * rng.nextGaussian())
    }.toArray
    val fit = TimingModel.fitOne(rows, par,
      TimingModel.FitConfig(fitRed = false, fitDm = false, passes = 3))
    val lqHat = fit("fake_none_log10_equad")
    assert(math.abs(lqHat - lqTrue) < 0.5,
      s"equad recovery: got $lqHat, injected $lqTrue")
  }

  test("recovery: injected red-noise amplitude via the Fourier GP") {
    val (t, errUs) = fakeToas()
    val par = TimingModel.ParInfo("fake", pepochMjd = 54500.0)
    val tspan = t.last - t.head
    val nf = 10
    val (fBasis, freqs) = TimingModel.fourierDesign(t, tspan, nf)
    val lgATrue = -12.5
    val gamTrue = 4.0
    val rng = new java.util.Random(44)
    val coef = DenseVector(freqs.flatMap { f =>
      val sd = math.sqrt(TimingModel.powerlawPsd(f, lgATrue, gamTrue) / tspan)
      Array(sd * rng.nextGaussian(), sd * rng.nextGaussian())
    })
    val redSig = fBasis * coef
    val rows = t.indices.map { i =>
      TimingModel.ToaFit("fake", t(i), errUs(i), 1440.0, "none",
        Map.empty, redSig(i) + errUs(i) * 1e-6 * rng.nextGaussian())
    }.toArray
    val fit = TimingModel.fitOne(rows, par,
      TimingModel.FitConfig(nFreqRed = nf, fitRed = true, fitDm = false,
        passes = 2))
    val lgAHat = fit("fake_red_noise_log10_A")
    assert(math.abs(lgAHat - lgATrue) < 1.0,
      s"red-noise recovery: got $lgAHat, injected $lgATrue")
  }

  // --------------------------------------------------- golden: J1832-0836

  test("golden: J1832-0836 end-to-end emits the reference noise-file key set") {
    val tim = resource("/ppta/J1832-0836.tim")
    val parFile = resource("/ppta/J1832-0836.par")
    val toas = TimReader.read(spark, tim)
    val pars = TimingModel.parInfo(
      ParReader.readParams(spark, parFile), ParReader.readJumps(spark, parFile))
    assert(pars("J1832-0836").includeDm)
    assert(pars("J1832-0836").pepochMjd === 57246.0)

    // residuals: seeded white injection (tempo2/libstempo unavailable —
    // the assertion is pipeline shape + key set, not astrophysics)
    val seeded = toas.withColumn("resid_sec",
      (rand(7) * 2 - 1) * col("toaerr_us") * lit(1e-6))
    val rows = TimingModel.toaFitRows(seeded, "resid_sec")
    // coarse grids keep the golden fast; key set is grid-independent
    val cfg = TimingModel.FitConfig(
      nFreqRed = 10, nFreqDm = 10,
      efacGrid = Seq(0.5, 1.0, 1.5, 2.0),
      equadGrid = Seq(-8.0, -7.0, -6.0),
      lgAGrid = Seq(-15.0, -13.0, -11.0),
      gammaGrid = Seq(2.0, 4.0),
      passes = 1)
    val summary = TimingModel.fitNoise(rows, pars, cfg)

    val out = tmpDir("noise").toString
    graft.sinks.NoiseFileWriter.writeNoiseFiles(summary, out)
    val written = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/J1832-0836_noise.json"))
    val keyRe = "\"([^\"]+)\"".r
    val gotKeys = keyRe.findAllMatchIn(written).map(_.group(1)).toSet
    // the reference noise-file convention: efac and log10_equad per
    // `-group` backend of the .tim, plus the red and DM GP hyperparameters
    val groups = "-group (\\S+)".r.findAllMatchIn(
      java.nio.file.Files.readString(java.nio.file.Paths.get(tim))).map(_.group(1)).toSet
    assert(groups.size === 3)
    val refKeys = groups.flatMap(g => Seq(s"J1832-0836_${g}_efac", s"J1832-0836_${g}_log10_equad")) ++
      Seq("red_noise_log10_A", "red_noise_gamma", "dm_gp_log10_A", "dm_gp_gamma")
        .map(p => s"J1832-0836_$p")
    assert(gotKeys === refKeys)
  }

  test("fitNoise: matrices stay inside mapGroups — shuffle carries rows only") {
    // the executed plan between the scan and the fit must contain exactly
    // one exchange (psr grouping); no matrix-typed column ever appears
    // FIXTURES.md tier (a), fake_psr_0-style: 122 monthly TOAs, constant
    // 0.5 us errors, no flags beyond the site
    val tim = tmpDir("fakepsr").resolve("fake_psr_0.tim")
    java.nio.file.Files.writeString(tim, (0 until 122).map { i =>
      f" fake_psr_0_$i%03d 1440.000000 ${53000.0 + 30.0 * i + 0.123456789}%.15f 0.50000 AXIS"
    }.mkString("FORMAT 1\n", "\n", "\n"))
    val toas = TimReader.read(spark, tim.toString)
      .withColumn("resid_sec", (rand(3) * 2 - 1) * col("toaerr_us") * lit(1e-6))
    val rows = TimingModel.toaFitRows(toas, "resid_sec")
    val pars = Map("fake" -> TimingModel.ParInfo("fake", pepochMjd = 54500.0))
    val fit = TimingModel.fitNoise(rows, pars,
      TimingModel.FitConfig(fitRed = false, fitDm = false,
        efacGrid = Seq(0.5, 1.0, 2.0), equadGrid = Seq(-8.0), passes = 1))
    val plan = fit.queryExecution.executedPlan.toString
    assert(plan.contains("MapGroups"))
    assert(fit.columns.toSeq === Seq("psr", "param", "value"))
    val m = fit.collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(m.keySet === Set("fake_none_efac", "fake_none_log10_equad"))
  }

  // ------------------------------------- incremental evaluator and fitNoise

  private val Backends = Seq("PDFB_10CM", "PDFB_20CM", "CASPSR_40CM", "WBCORR_10CM")

  /** Seeded PPTA-shaped pulsar: `n` TOAs over ~13 yr on four backends
    * (each at least once) at their own frequencies, errors 0.1–3 µs, and
    * white residuals scaled by a per-backend efac, plus a red-noise
    * realization on odd seeds. With `big` > 0, `big` more TOAs, spread
    * over the span, go to PDFB_20CM and the rest to random backends. */
  private def synthPulsar(psr: String, n: Int, seed: Long,
      big: Int = 0): Array[TimingModel.ToaFit] = {
    val rng = new java.util.Random(seed)
    val t = Array.fill(n)(53000.0 + 5000.0 * rng.nextDouble()).sorted.map(_ * 86400.0)
    val back = Array.tabulate(n)(i =>
      if (i < Backends.size) i else if (i < Backends.size + big) 1 else rng.nextInt(Backends.size))
    if (big > 0) (n - 1 until Backends.size by -1).foreach { i =>
      val j = Backends.size + rng.nextInt(i - Backends.size + 1)
      val b = back(i); back(i) = back(j); back(j) = b
    }
    val freqOf = Seq(3100.0, 1400.0, 732.0, 3100.0)
    val redAmp = if (seed % 2 == 1) 3e-6 else 0.0
    val phase = rng.nextDouble() * 2 * math.Pi
    Array.tabulate(n) { i =>
      val b = back(i)
      val err = 0.1 + 2.9 * rng.nextDouble()
      val red = redAmp * math.sin(2 * math.Pi * t(i) / (9.0 * 3.15e7) + phase)
      TimingModel.ToaFit(psr, t(i), err, freqOf(b) + 64.0 * (rng.nextDouble() - 0.5),
        Backends(b), Map("group" -> Backends(b)),
        red + (0.8 + 0.2 * b) * err * 1e-6 * rng.nextGaussian())
    }
  }

  private def synthPar(psr: String, jumps: Boolean = true) =
    TimingModel.ParInfo(psr, pepochMjd = 55500.0,
      jumpGroups = if (jumps) Seq(("group", Backends(1)), ("group", Backends(3))) else Nil,
      includeDm = true)

  /** The fit as coordinate ascent over `MarginalizedLikelihood.apply`,
    * built from scratch at every grid point: a sweep keeps the parameter's
    * grid index if its lnL is within a relative 1e-11 of the largest, else
    * picks the first index that is (written out here, apart from
    * `TimingModel.firstBest`): the reference `fitOne` must reproduce
    * exactly. */
  private def referenceFit(rows: Array[TimingModel.ToaFit], par: TimingModel.ParInfo,
      cfg: TimingModel.FitConfig): Map[String, Double] = {
    val model = TimingModel.pulsarModel(rows, par, cfg)
    val lik = model.marginalized
    val psr = par.psr
    val dims: Seq[(String, Seq[Double])] =
      model.backends.distinct.sorted.toSeq.flatMap(b => Seq(
        (s"${psr}_${b}_efac", cfg.efacGrid),
        (s"${psr}_${b}_log10_equad", cfg.equadGrid))) ++
        (if (model.red.isDefined) Seq(
          (s"${psr}_red_noise_log10_A", cfg.lgAGrid),
          (s"${psr}_red_noise_gamma", cfg.gammaGrid)) else Nil) ++
        (if (model.dm.isDefined) Seq(
          (s"${psr}_dm_gp_log10_A", cfg.lgAGrid),
          (s"${psr}_dm_gp_gamma", cfg.gammaGrid)) else Nil)
    var at: Map[String, Int] = dims.map { case (name, grid) =>
      name -> (if (name.endsWith("_efac")) grid.indexOf(1.0) else grid.length / 2)
    }.toMap
    def values = dims.map { case (name, grid) => name -> grid(at(name)) }.toMap
    (1 to cfg.passes).foreach { _ =>
      dims.foreach { case (name, grid) =>
        val cur = values
        val ls = grid.map(v => lik(cur.updated(name, v)))
        val floor = ls.max - 1e-11 * math.abs(ls.max)
        if (ls(at(name)) < floor) at = at.updated(name, ls.indexWhere(_ >= floor))
      }
    }
    values
  }

  test("incremental likelihood equals MarginalizedLikelihood at 208 random points") {
    val rng = new java.util.Random(5)
    var points = 0
    var compared = 0
    for {
      (fitRed, fitDm) <- Seq((false, false), (true, false), (false, true), (true, true))
      jumps <- Seq(false, true)
      useSvd <- Seq(true, false)
    } {
      val psr = s"J$points"
      val cfg = TimingModel.FitConfig(fitRed = fitRed, fitDm = fitDm, useSvd = useSvd)
      val model = TimingModel.pulsarModel(synthPulsar(psr, 40, points), synthPar(psr, jumps), cfg)
      val ref = model.marginalized
      val inc = model.incremental
      val white = 2 * inc.backendNames.length
      assert(inc.names.length === 8 + (if (fitRed) 2 else 0) + (if (fitDm) 2 else 0))
      def draw(name: String): Double = {
        val u = rng.nextDouble()
        if (name.endsWith("_efac")) 0.1 + 2.9 * u
        else if (name.endsWith("_log10_equad")) -9.0 + 4.0 * u
        else if (name.endsWith("_log10_A")) -16.0 + 5.0 * u
        else 1.0 + 5.0 * u
      }
      val cur = scala.collection.mutable.Map[String, Double]()
      (1 to 13).foreach { _ =>
        // move a random subset of the parameters: blocks not touched since
        // the previous point must be reused correctly
        inc.names.indices.filter(_ => cur.isEmpty || rng.nextInt(3) == 0).foreach { k =>
          val v = draw(inc.names(k))
          cur(inc.names(k)) = v
          inc.set(k, v)
        }
        // sweep every parameter over its current value and two random
        // ones; a white sweep by both routes and by the chosen one
        inc.names.indices.foreach { k =>
          val name = inc.names(k)
          val grid = Array(cur(name), draw(name), draw(name))
          val routes =
            if (k < white) Seq(inc.whiteSweep(k, grid, lowRank = true),
              inc.whiteSweep(k, grid, lowRank = false), inc.sweep(k, grid))
            else Seq(inc.sweep(k, grid))
          grid.indices.foreach { i =>
            val want = ref(cur.toMap.updated(name, grid(i)))
            routes.foreach { got =>
              assert(math.abs(got(i) - want) <= 1e-9 * math.abs(want),
                s"$psr red=$fitRed dm=$fitDm jumps=$jumps svd=$useSvd: ${got(i)} vs $want " +
                  s"at ${cur.toMap.updated(name, grid(i))}")
              compared += 1
            }
          }
        }
        points += 1
      }
    }
    assert(points === 208)
    assert(compared >= 208)
  }

  test("firstBest: the first value within a relative 1e-11 of the largest") {
    // -1: no current index, as if the parameter held no grid value
    def firstBest(ls: Array[Double]) = TimingModel.firstBest(ls, -1)
    // exact ties go to the first
    assert(firstBest(Array(-5.0, -2.0, -3.0, -2.0)) === 1)
    // 1e-11 of 1000 is 1e-8: half of it is a tie, twice it is not
    assert(firstBest(Array(-1.0e3 - 0.5e-8, -1.0e3, -1.0e3 - 0.5e-8)) === 0)
    assert(firstBest(Array(-1.0e3 - 2e-8, -1.0e3, -1.0e3 - 0.5e-8)) === 1)
    // the width is relative to the largest, also when it is positive:
    // 1e-11 of 1e5 is 1e-6
    assert(firstBest(Array(1.0e5 - 0.5e-6, 1.0e5)) === 0)
    assert(firstBest(Array(1.0e5 - 2e-6, 1.0e5)) === 1)
    // a NaN is the largest in Double's total order and is picked
    assert(firstBest(Array(-1.0, Double.NaN, 0.0)) === 1)
    assert(firstBest(Array.fill(3)(Double.NegativeInfinity)) === 0)
    assert(firstBest(Array(Double.NegativeInfinity, -7.0, Double.NegativeInfinity)) === 1)
  }

  test("firstBest keeps the current index while it is within the tie width") {
    import TimingModel.firstBest
    // a flat sweep keeps its current index, not the first
    assert(firstBest(Array(-2.0, -2.0, -2.0, -2.0), 2) === 2)
    assert(firstBest(Array(-1.0e3 - 0.5e-8, -1.0e3, -1.0e3 - 0.5e-8), 2) === 2)
    // outside the width the first value within it wins
    assert(firstBest(Array(-1.0e3 - 0.5e-8, -1.0e3, -1.0e3 - 2e-8), 2) === 0)
    assert(firstBest(Array(-5.0, -2.0, -3.0, -2.0), 0) === 1)
    // the current index is kept also when it is the largest
    assert(firstBest(Array(-5.0, -2.0, -3.0, -2.0), 3) === 3)
    assert(firstBest(Array.fill(3)(Double.NegativeInfinity), 1) === 1)
    // a NaN is still picked over a finite current value
    assert(firstBest(Array(-1.0, Double.NaN, 0.0), 2) === 1)
  }

  test("fitOne chooses exactly what coordinate ascent over MarginalizedLikelihood does") {
    val cfg = TimingModel.FitConfig()
    val pulsars = (for {
      n <- Seq(16, 48, 123)
      seed <- 1L to 7L
    } yield (s"J${n}_$seed", synthPulsar(s"J${n}_$seed", n, 100 * n + seed))) :+
      // one backend with more TOAs than T has columns
      ("J270_big", synthPulsar("J270_big", 270, 27001L, big = 250))
    pulsars.foreach { case (psr, rows) =>
      val par = synthPar(psr)
      assert(TimingModel.fitOne(rows, par, cfg) === referenceFit(rows, par, cfg), psr)
    }
  }

  /** The pulsars whose noise files are pinned byte for byte under
    * `src/test/resources/fit_golden`. */
  private val goldenPulsars = Seq(
    ("J0016+0016", 16, 16L, 0), ("J0048+0048", 48, 48L, 0), ("J0270+0270", 270, 270L, 250))

  test("fitOne's noise files match the committed golden byte for byte") {
    goldenPulsars.foreach { case (psr, n, seed, big) =>
      val got = graft.sinks.NoiseFileWriter.renderSorted(TimingModel.fitOne(
        synthPulsar(psr, n, seed, big), synthPar(psr), TimingModel.FitConfig()))
      val want = java.nio.file.Files.readString(
        java.nio.file.Paths.get(resource(s"/fit_golden/${psr}_noise.json")))
      assert(got === want, psr)
    }
  }

  test("fitOne: a pulsar whose TOAs share one epoch names itself when red/DM noise is fit") {
    val rows = synthPulsar("J0000+0001", 1, 3L)
    val par = synthPar("J0000+0001", jumps = false)
    val e = intercept[IllegalArgumentException](
      TimingModel.fitOne(rows, par, TimingModel.FitConfig(fitDm = false)))
    assert(e.getMessage.contains("J0000+0001") && e.getMessage.contains("all 1 TOAs"))
    val twoAtOnce = synthPulsar("J0000+0002", 2, 4L).map(_.copy(t_sec = 4.6e9))
    val e2 = intercept[IllegalArgumentException](TimingModel.fitOne(twoAtOnce,
      synthPar("J0000+0002"), TimingModel.FitConfig(fitRed = false)))
    assert(e2.getMessage.contains("J0000+0002") && e2.getMessage.contains("all 2 TOAs"))
    // white noise alone needs no span
    val white = TimingModel.fitOne(rows, par,
      TimingModel.FitConfig(fitRed = false, fitDm = false))
    assert(white.keySet.forall(_.startsWith("J0000+0001_PDFB_10CM_")))
  }

  test("fitNoise: every pulsar is fit in its own task, over an uncoalesced exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AQEShuffleReadExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    import spark.implicits._
    // skewed TOA counts; the last pulsar has no ParInfo and is not fit
    val counts = Seq("J0437-4715" -> 90, "J1713+0747" -> 24, "J1909-3744" -> 12)
    val all = counts.zipWithIndex.flatMap { case ((psr, n), i) =>
      synthPulsar(psr, n, 10L + i).toSeq } ++ synthPulsar("J2145-0750", 20, 13L)
    val pars = counts.map { case (psr, _) => psr -> synthPar(psr) }.toMap
    val cfg = TimingModel.FitConfig(nFreqRed = 5, nFreqDm = 5,
      efacGrid = Seq(0.5, 1.0, 1.5, 2.0), equadGrid = Seq(-8.0, -7.0, -6.0),
      lgAGrid = Seq(-15.0, -13.0), gammaGrid = Seq(2.0, 4.0), passes = 1)

    val reduceTasks = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          reduceTasks.merge(t.stageId, 1, (a, b) => a + b)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fit = try {
      val df = TimingModel.fitNoise(spark.createDataset(all), pars, cfg)
      val rows = df.collect()
      org.apache.spark.sql.GraftSqlBridge.waitForListenerBus(spark)
      assert(reduceTasks.size === 1, s"shuffle-reading stages: $reduceTasks")
      assert(reduceTasks.values.iterator.next() === counts.size)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      assert(plan.toString.contains("MapGroups"))
      assert(plan.collect { case r: AQEShuffleReadExec => r }.isEmpty, plan.toString)
      val stages = plan.collect { case s: ShuffleQueryStageExec => s.shuffle }
      assert(stages.map(s => (s.shuffleOrigin, s.numPartitions)) ===
        Seq((REPARTITION_BY_NUM, counts.size)), plan.toString)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)

    val got = fit.groupBy(_.getString(0)).map { case (psr, rs) =>
      psr -> rs.map(r => r.getString(1) -> r.getDouble(2)).toMap }
    assert(got.keySet === pars.keySet)
    pars.foreach { case (psr, par) =>
      assert(got(psr) === TimingModel.fitOne(all.filter(_.psr == psr).toArray, par, cfg), psr)
    }
  }

  test("partitionKeys: key i lands in hash partition i") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    import spark.implicits._
    Seq(1, 3, 7, 64).foreach { n =>
      val keys = TimingModel.partitionKeys(n)
      assert(keys.distinct.length === n)
      val placed = keys.toSeq.toDF("k").repartition(n, col("k"))
        .select(col("k"), spark_partition_id()).as[(Int, Int)].collect().toMap
      assert(keys.indices.forall(i => placed(keys(i)) === i), s"n=$n")
    }
  }

  test("parInfo: one job; PEPOCH/START, DM and JUMP selectors in file order") {
    val d = tmpDir("parinfo")
    java.nio.file.Files.writeString(d.resolve("J0437-4715.par"), Seq(
      "PSRJ J0437-4715", "PEPOCH 55000.5", "F0 173.6879 1 1e-12", "DM 2.64 1",
      "JUMP -group PDFB_20CM 1e-6 1", "# comment", "JUMP -be CASPSR 2e-6 1",
      "JUMP -group CPSR2_50CM 0.0 0").mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(d.resolve("J1909-3744.par"),
      "PSRJ J1909-3744\nSTART 53000.0\nF0 339.3 1\n")
    val params = ParReader.readParams(spark, s"$d/*.par")
    val jumps = ParReader.readJumps(spark, s"$d/*.par")
    val (got, jobs) = countingJobs(TimingModel.parInfo(params, jumps))
    assert(jobs === 1)
    assert(got === Map(
      "J0437-4715" -> TimingModel.ParInfo("J0437-4715", 55000.5,
        Seq("group" -> "PDFB_20CM", "be" -> "CASPSR", "group" -> "CPSR2_50CM"),
        includeDm = true),
      "J1909-3744" -> TimingModel.ParInfo("J1909-3744", 53000.0)))
  }
}
