package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Query

/** Oracle-backed ROUND-TRIP checks of the reference-I/O surface (r7
  * verdict directive 7): ids whose correctness previously rested on specs
  * alone get a DuckDB hash row by writing a deterministic fixture with the
  * ENGINE'S OWN SINK, reading it back with the engine's own SOURCE, and
  * having DuckDB re-parse the same bytes from scratch.
  *
  * Fixture discipline: content is CONSTANT (derived from literals, never
  * from the sfDir), so every Verify run — any scale factor, any order —
  * writes identical bytes to the fixed paths the static oracle SQL reads.
  * The writes are config-sized (the reference's MPI-rank-0 file I/O
  * class, SURVEY §3.1), re-written atomically on every call.
  *
  * Covered ids: K2 (sorted-key indent-4 noise-file writer — a writer bug
  * becomes a DuckDB parse divergence), S6 (noise-file glob union with
  * psr-name filter and last-write-wins dedup, enterprise_warp.py:583-597),
  * S9 (chain matrix parse with garbled-line tolerance,
  * results.py:481-500), S10 (separated-piece discovery by 14-digit
  * timestamp, results.py:428-448), S11 (pars.txt), E4 (chain concat),
  * J5 (wide→long pivot), F8 (25% burn-in, results.py:499).
  */
object FixtureOracles extends graft.core.QueryModule {

  private val FixtureBase = "/tmp/graft_fixtures"

  // ---- K2 + S6: noise-file writer → glob-union reader round-trip ----

  /** Constant noise summary. Shapes exercised: integral double (Python
    * json renders 1.0, not 1 — the K2 byte contract), negative value,
    * 17-significant-digit shortest-repr double, a `shared_param` written
    * by BOTH selected pulsars (last-write-wins goes to the
    * lexicographically larger filename), and a pulsar the psr filter must
    * exclude. */
  private val noiseSummary: Seq[(String, String, Double)] = Seq(
    ("J0001+0001", "J0001+0001_efac_A", 1.0),
    ("J0001+0001", "J0001+0001_equad_A", -7.25),
    ("J0001+0001", "shared_param", 0.1),
    ("J0002+0002", "J0002+0002_red_noise_gamma", 3.3000000000000003),
    ("J0002+0002", "shared_param", 0.2),
    ("B0000-9999", "B0000-9999_efac_X", 9.9))

  def s6RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val outDir = s"$FixtureBase/noisefiles"
    graft.sinks.NoiseFileWriter.writeNoiseFiles(
      noiseSummary.toDF("psr", "param", "value"), outDir)
    NoiseJson.readNoiseFiles(s, outDir, Seq("J0001+0001", "J0002+0002"))
      .orderBy($"param")
  }

  private val s6Sql: String =
    s"""WITH f AS (
       |  SELECT filename, content
       |  FROM read_text('$FixtureBase/noisefiles/*_noise.json')
       |  WHERE filename LIKE '%J0001+0001%' OR filename LIKE '%J0002+0002%'),
       |kv AS (SELECT filename, content, unnest(json_keys(content)) AS param FROM f),
       |v AS (SELECT filename, param,
       |        CAST(json_extract(content, '$$."' || param || '"') AS DOUBLE) AS value
       |      FROM kv),
       |d AS (SELECT param, value,
       |        ROW_NUMBER() OVER (PARTITION BY param ORDER BY filename DESC) AS rk
       |      FROM v)
       |SELECT param, value FROM d WHERE rk = 1 ORDER BY param""".stripMargin

  // ---- S9/S10/S11 + E4/J5/F8: chain directory round-trip ----

  /** Constant chain fixture: a main `chain_1.txt` (20 samples) plus two
    * separated pieces with 14-digit timestamps (10 samples each, ts order
    * = read order), 3 pars + 4 sampler diagnostics per row, one comment
    * line and one blank line that the tolerant parser must drop. Values
    * are i/64-grid rationals — exactly representable doubles whose
    * shortest repr round-trips identically through both engines'
    * text→double parse. */
  private def chainLineVals(step: Int): Seq[Double] =
    (0 until 7).map(j => (step * 7 + j).toDouble / 64.0 - (if (j % 2 == 1) 3.5 else 0.0))

  private def writeChainFixture(): String = {
    val dir = s"$FixtureBase/chain"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def render(steps: Range, junk: Boolean): String = {
      val rows = steps.map(i => chainLineVals(i).mkString(" "))
      val withJunk =
        if (junk) rows.take(3) ++ Seq("# sampler restarted", "") ++ rows.drop(3)
        else rows
      withJunk.mkString("", "\n", "\n")
    }
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$dir/chain_1.txt"), render(0 until 20, junk = true))
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$dir/chain_20200101000000.txt"),
      render(20 until 30, junk = false))
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$dir/chain_20200102000000.txt"),
      render(30 until 40, junk = false))
    // a non-matching name the S10 regex must ignore
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$dir/chain_notes.txt"), "not a chain\n")
    graft.sinks.NoiseFileWriter.writeParsTxt(
      Seq("par_a", "par_b", "par_c"), s"$dir/pars.txt")
    dir
  }

  def s9RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fx = writeChainFixture()
    val pars = ChainReader.readPars(s, s"$fx/pars.txt")
    val long = ChainReader.toLong(ChainReader.readChain(s, fx), pars)
    ChainReader.burned(long).orderBy($"step", $"par")
  }

  private val s9Sql: String =
    s"""WITH f AS (
       |  SELECT filename,
       |    unnest(list_transform(string_split(content, chr(10)),
       |      (x, i) -> struct_pack(ln := i, line := x))) AS s
       |  FROM read_text('$FixtureBase/chain/chain_*.txt')
       |  WHERE regexp_matches(filename, 'chain_(1|\\d{14})\\.txt$$')),
       |lines AS (SELECT filename, s.ln AS ln, trim(s.line) AS line FROM f
       |          WHERE len(trim(s.line)) > 0),
       |parsed AS (SELECT filename, ln,
       |    list_transform(regexp_split_to_array(line, '\\s+'),
       |      x -> TRY_CAST(x AS DOUBLE)) AS vals
       |  FROM lines),
       |valid AS (SELECT * FROM parsed
       |          WHERE len(list_filter(vals, x -> x IS NULL)) = 0),
       |stepped AS (SELECT ROW_NUMBER() OVER (ORDER BY filename, ln) - 1 AS step,
       |              vals FROM valid),
       |pars(pos, par) AS (VALUES (1, 'par_a'), (2, 'par_b'), (3, 'par_c')),
       |lng AS (SELECT step, par, vals[pos] AS value FROM stepped, pars),
       |mx AS (SELECT MAX(step) AS m FROM stepped)
       |SELECT step, par, value FROM lng
       |WHERE step >= floor(0.25 * ((SELECT m FROM mx) + 1))
       |ORDER BY step, par""".stripMargin

  // ---- S8 + K5: covariance CSV sink → source round-trip ----

  /** Constant 3×3 symmetric covariance on the 1/64 dyadic grid (exact
    * doubles, shortest-repr text round-trip). Written with the engine's
    * K5 sink ([[graft.analytics.Covariance.toCsv]], the
    * pd.read_csv(index_col=0) shape), read back with the S8 source, and
    * re-parsed by DuckDB read_csv + UNPIVOT. */
  def s8RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import breeze.linalg.DenseMatrix
    val pars = Seq("alpha", "beta", "gamma")
    val m = DenseMatrix.tabulate[Double](3, 3) { (i, j) =>
      if (i == j) (i + 1).toDouble else -((i + j + 1).toDouble / 64.0)
    }
    val outDir = s"$FixtureBase/cov"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$outDir/cov.csv"),
      graft.analytics.Covariance.toCsv(
        graft.analytics.Covariance.Block(pars, m)))
    val block = SmallReaders.readCovarianceCsv(s"$outDir/cov.csv")
    val rows = for {
      (rp, i) <- block.pars.zipWithIndex
      (cp, j) <- block.pars.zipWithIndex
    } yield (rp, cp, block.cov(i, j))
    rows.toDF("row_par", "col_par", "value").orderBy($"row_par", $"col_par")
  }

  private val s8Sql: String =
    s"""SELECT par AS row_par, k AS col_par, CAST(v AS DOUBLE) AS value
       |FROM (UNPIVOT (SELECT * FROM read_csv('$FixtureBase/cov/cov.csv', header=true))
       |      ON COLUMNS(* EXCLUDE par) INTO NAME k VALUE v)
       |ORDER BY row_par, col_par""".stripMargin

  // ---- S13: bilby result JSON → posterior long form ----

  /** Constant bilby `*_result.json` in the reference's shape
    * ({"posterior":{"content":{par:[draws]}}}, results.py:1071-1081) —
    * dyadic-grid doubles plus one bare JSON INTEGER draw (the reader's
    * JInt branch; DuckDB's DOUBLE[] cast promotes it identically). */
  def s13RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val outDir = s"$FixtureBase/bilby"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val draws: Seq[(String, Seq[String])] = Seq(
      "par_a" -> Seq("0.5", "1.25", "-2.0", "3"),
      "par_b" -> Seq("-0.015625", "4.5", "6.75", "0.0"))
    val content = draws.map { case (p, vs) =>
      s""""$p": [${vs.mkString(", ")}]""" }.mkString(", ")
    graft.sinks.NoiseFileWriter.atomicWrite(
      java.nio.file.Paths.get(s"$outDir/fake_result.json"),
      s"""{"label": "fixture", "posterior": {"content": {$content}}}""")
    SmallReaders.readBilbyResult(s, s"$outDir/fake_result.json")
      .orderBy($"step", $"par")
  }

  private val s13Sql: String =
    s"""WITH c AS (SELECT json_extract(content, '$$.posterior.content') AS ct
       |           FROM read_text('$FixtureBase/bilby/fake_result.json')),
       |k AS (SELECT ct, unnest(json_keys(ct)) AS par FROM c),
       |v AS (SELECT par,
       |        unnest(list_transform(
       |          CAST(json_extract(ct, '$$."' || par || '"') AS DOUBLE[]),
       |          (x, i) -> struct_pack(step := i - 1, value := x))) AS s
       |      FROM k)
       |SELECT s.step AS step, par, s.value AS value FROM v
       |ORDER BY step, par""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("s6_noisefile_roundtrip", s6RoundTrip, s6Sql),
    Query("s9_chain_roundtrip", s9RoundTrip, s9Sql),
    Query("s8_covariance_roundtrip", s8RoundTrip, s8Sql),
    Query("s13_bilby_roundtrip", s13RoundTrip, s13Sql),
  )
}
