package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Chain
import graft.os.OptimalStatistic
import graft.signals.TimingModel
import graft.sinks.NoiseFileWriter
import graft.sources.{ChainReader, ParReader, TimReader}

/** One benchmark workload over inputs the generator wrote to `work`.
  * `run` is the timed operation; it returns the untimed output check, one
  * (operation, passed) pair per checked output. */
trait Workload {
  /** Damage one output per iteration before it is checked (tests only). */
  var corrupt = false
  /** Untimed iterations between the cold one and the timed window. */
  def warmUps: Int = 0
  def run(spark: SparkSession, t: Telemetry, it: Int): () => Seq[(String, Boolean)]
}

object Workload {
  def apply(name: String, work: String, seed: Long): Workload = name match {
    case "pta" => new Sequence(Seq(new PtaNoise(work, seed), new PtaPosterior(work)))
    case "query_mix" => new QueryMix(work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Tab-separated manifest written by the generator. */
  def tsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))

  def files(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Nil
    else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  /** Record what a sink wrote under `dir` (traced iterations only). */
  def noteSink(t: Telemetry, dir: String): Unit = {
    val fs = files(dir).filterNot(_.getFileName.toString.startsWith("."))
    t.note("sinks.files", fs.size)
    t.note("sinks.written_mb", fs.map(Files.size(_)).sum / (1024.0 * 1024.0))
  }

  /** Top-level keys of a noise file (`{"key": value, ...}`). */
  def jsonKeys(path: Path): Set[String] =
    """"([^"]+)"\s*:""".r.findAllMatchIn(Files.readString(path)).map(_.group(1)).toSet
}

/** Several workloads run back to back as one iteration. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  override def warmUps: Int = parts.map(_.warmUps).max
  def run(spark: SparkSession, t: Telemetry, it: Int): () => Seq[(String, Boolean)] = {
    parts.foreach(_.corrupt = corrupt)
    val checks = parts.map(_.run(spark, t, it))
    () => checks.flatMap(_())
  }
}

/** Per-pulsar noise analysis: read `.tim`/`.par`, fit white, red and DM
  * noise per pulsar, write PAL2 noise files. */
final class PtaNoise(work: String, seed: Long) extends Workload {
  private val dir = s"$work/pta"
  private val backends: Map[String, Seq[String]] =
    Workload.tsv(s"$dir/manifest.tsv").map(r => r(0) -> r(2).split(",").toSeq).toMap

  /** Seeded white residuals, σ = the TOA error: a sum of three hash-derived
    * uniforms, so the value depends only on (seed, pulsar, TOA). */
  private def withResiduals(toas: DataFrame): DataFrame = {
    val u = (k: Int) => pmod(xxhash64(lit(seed), col("psr"), col("toa_mjd"), lit(k)),
      lit(1L << 20)).cast("double") / (1L << 20)
    toas.withColumn("resid_sec", col("toaerr_us") * 1e-6 * (u(0) + u(1) + u(2) - 1.5) * 2.0)
  }

  def run(spark: SparkSession, t: Telemetry, it: Int): () => Seq[(String, Boolean)] = {
    val out = s"$work/out/pta_noise/$it"
    val toas = t.span("sources", "TimReader.read")(
      t.boundary(TimReader.read(spark, s"$dir/*.tim")))
    val params = t.span("sources", "ParReader.readParams")(
      ParReader.readParams(spark, s"$dir/*.par"))
    val jumps = t.span("sources", "ParReader.readJumps")(
      ParReader.readJumps(spark, s"$dir/*.par"))
    val pars = t.span("signals", "TimingModel.parInfo")(TimingModel.parInfo(params, jumps))
    val fit = t.span("signals", "TimingModel.fitNoise")(t.boundary(
      TimingModel.fitNoise(TimingModel.toaFitRows(withResiduals(toas), "resid_sec"), pars)))
    t.span("sinks", "NoiseFileWriter.writeNoiseFiles")(NoiseFileWriter.writeNoiseFiles(fit, out))
    () => {
      if (corrupt) Files.delete(Paths.get(s"$out/${backends.keys.min}_noise.json"))
      Workload.noteSink(t, out)
      backends.toSeq.sortBy(_._1).map { case (psr, bs) =>
        val expected = bs.flatMap(b => Seq(s"${psr}_${b}_efac", s"${psr}_${b}_log10_equad")).toSet ++
          Seq("red_noise_log10_A", "red_noise_gamma", "dm_gp_log10_A", "dm_gp_gamma")
            .map(p => s"${psr}_$p")
        val f = Paths.get(s"$out/${psr}_noise.json")
        s"noise_keys:$psr" -> (Files.exists(f) && Workload.jsonKeys(f) == expected)
      }
    }
  }
}

/** Sampler post-processing: chain load, burn-in, model Bayes factors, and
  * the noise-marginalised optimal statistic over per-draw
  * cross-correlations. */
final class PtaPosterior(work: String) extends Workload {
  private val dir = s"$work/posterior"
  private val m = Workload.tsv(s"$dir/manifest.tsv").map(r => r(0) -> r(1)).toMap
  private val nModels = m("n_models").toInt
  private val nDraws = m("n_draws").toLong
  private val amp = m("amp").toDouble
  /** The injected amplitude must be recovered within this share of itself,
    * at least 5σ of the draw-averaged estimator at the generated sizes. */
  val AmpTolerance = 0.05

  def run(spark: SparkSession, t: Telemetry, it: Int): () => Seq[(String, Boolean)] = {
    // Nothing is checkpointed when traced: the chain feeds the burn-in's
    // step count and the Bayes factors, so its parsing is charged to both
    // calls, as in the untraced program; the optimal statistic's scans and
    // joins run inside `marginalise`.
    val chain = t.span("sources", "ChainReader.readChain")(ChainReader.readChain(spark, dir))
    val pars = t.span("sources", "ChainReader.readPars")(
      ChainReader.readPars(spark, s"$dir/pars.txt"))
    val long = t.span("sources", "ChainReader.toLong")(ChainReader.toLong(chain, pars))
    val burned = t.span("sources", "ChainReader.burned")(ChainReader.burned(long))
    val bf = t.span("analytics", "Chain.logBayesFactors")(Chain.logBayesFactors(
      Chain.modelCounts(burned.filter(col("par") === "nmodel"), col("value"))).collect())

    val positions = t.span("sources", "positions")(spark.read.parquet(s"$dir/positions.parquet"))
    val rho = t.span("sources", "os_rho")(spark.read.parquet(s"$dir/os_rho.parquet"))
    val pairs = t.span("os", "OptimalStatistic.pairs")(OptimalStatistic.pairs(positions))
    val perDraw = OptimalStatistic.withOrf(pairs.join(rho, Seq("ia", "ib")), "hd")
    val marg = t.span("os", "OptimalStatistic.marginalise")(
      OptimalStatistic.marginalise(perDraw).collect().head)
    () => {
      val bfRows = if (corrupt) bf.dropRight(1) else bf
      val osMarg = marg.getAs[Double]("os_marg")
      Seq(
        "bayes_factor_rows" -> (bfRows.length == nModels * (nModels - 1) / 2),
        "os_n_draws" -> (marg.getAs[Long]("n_draws") == nDraws),
        "os_amplitude" -> (math.abs(osMarg - amp) <= AmpTolerance * amp))
    }
  }
}

/** One pass over a fixed list of declared queries on one star-schema
  * directory, every result collected. The first pass's results are kept
  * for the DuckDB oracle check; every later pass must reproduce them. */
final class QueryMix(work: String) extends Workload {
  override def warmUps: Int = 2
  private val dir = s"$work/star"
  private val queries: Seq[(String, String)] =
    Workload.tsv(s"$work/queries.tsv").map(r => r(0) -> r(1))
  private var reference: Map[String, String] = Map.empty

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(spark: SparkSession, t: Telemetry, it: Int): () => Seq[(String, Boolean)] = {
    val collected = queries.map { case (q, layer) =>
      t.span(layer, q) {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        (q, df.schema, df.collect())
      }
    }
    // corrupt: drop a row of the first non-empty result
    val damaged = if (corrupt) collected.indexWhere(_._3.nonEmpty) else -1
    val results =
      if (damaged < 0) collected
      else collected.updated(damaged,
        collected(damaged).copy(_3 = collected(damaged)._3.dropRight(1)))
    () => {
      if (reference.isEmpty) {
        val qout = s"$work/qout"
        for ((q, schema, rows) <- results)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$qout/$q")
        val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.exists(_._1 == k) }
        Files.writeString(Paths.get(s"$qout/oracle_sql.json"), Json.value(sql))
        reference = results.map { case (q, _, rows) => q -> digest(rows) }.toMap
      }
      results.map { case (q, _, rows) => s"digest:$q" -> (digest(rows) == reference(q)) }
    }
  }
}
