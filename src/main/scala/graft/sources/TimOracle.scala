package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Query

/** Oracle-backed checks of the `.tim` and `.par` readers on the committed
  * PPTA-style fixture pair `src/test/resources/ppta/J1832-0836.{tim,par}`
  * (FIXTURES.md tier (b)): DuckDB re-parses the files from scratch
  * (`read_text` + regexp split) while Spark goes through
  * [[TimReader.read]], so a hash match proves the whole parse chain —
  * header-line filter, column split, flag-map extraction, and the
  * DECIMAL(38,18) MJD round-trip — not just the aggregate arithmetic.
  *
  * The fixture path is resolved against the working directory (the repo
  * root under sbt), as a string only: the registry is initialised by every
  * `SparkEntry` user, so nothing here touches the file system until one of
  * these queries runs, and then a missing directory fails it by name.
  *
  * Cross-engine determinism rules (the project's standing discipline):
  * integers stay BIGINT end-to-end; exact decimal sums take ONE final
  * cast to double followed by division/sqrt (identical IEEE ops on both
  * engines); MJD extrema/sums are read out as the VARCHAR rendering of
  * DECIMAL(38,18), which both engines print at full scale — 18 fractional
  * digits — so a single ulp of drift anywhere reds the row.
  *
  * Reference semantics: enterprise_warp.py:648-660 (read_tim row filter +
  * columns), :410 (pulsar name from path stem), :460 (seconds domain),
  * enterprise_models.py:474-506 (nfreqs = round(Tobs/cadence), cadence
  * 60 days).
  */
object TimOracle extends graft.core.QueryModule {

  private val fixtureDir: String =
    java.nio.file.Paths.get(System.getProperty("user.dir"), "src", "test", "resources", "ppta")
      .toAbsolutePath.toString
  private val glob = s"$fixtureDir/*.tim"
  private val parGlob = s"$fixtureDir/*.par"

  /** `path`, once the fixture directory is known to exist. */
  private def fixture(path: String): String = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(fixtureDir)))
      throw new IllegalStateException(
        s"tim/par fixture directory $fixtureDir does not exist; run from the repo root")
    path
  }

  /** Shared DuckDB prelude: re-parse the tim files the way the reference
    * defines them. `nullif(list_position, 0)` because DuckDB returns 0
    * (not NULL) for a missing list element. */
  private val duckToas: String =
    raw"""WITH raw AS (
         |  SELECT string_split(string_split(string_split(filename, '/')[-1], '_')[1], '.')[1] AS psr,
         |         unnest(string_split(content, chr(10))) AS line
         |  FROM read_text('$glob')
         |), toas AS (
         |  SELECT psr, regexp_split_to_array(trim(line), '\s+') AS f
         |  FROM raw
         |  WHERE substr(line,1,1)=' ' AND len(regexp_split_to_array(trim(line), '\s+')) >= 5
         |)""".stripMargin

  /** tim1: per (psr, backend, site) — the by-backend partition the
    * reference builds selections from (F4/F5/A10).
    * toaerr has <= 5 source decimals, so the double->DECIMAL(18,6)
    * re-quantization is exact and matches DuckDB's string->decimal cast. */
  def tim1(s: SparkSession, dir: String): DataFrame = {
    val toas = TimReader.read(s, fixture(glob))
    val errDec = col("toaerr_us").cast(DecimalType(18, 6))
    toas
      .groupBy(col("psr"),
        coalesce(col("flags").getItem("be"), lit("none")).as("backend"),
        col("site"))
      .agg(
        count(lit(1)).as("n_toas"),
        min(col("freq_mhz")).as("min_freq"),
        max(col("freq_mhz")).as("max_freq"),
        min(col("toa_mjd")).cast("string").as("min_mjd"),
        sum(col("toa_mjd")).cast(DecimalType(38, 18)).cast("string").as("sum_mjd"),
        sqrt(sum((errDec * errDec).cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("rms_err"))
      .orderBy(col("psr"), col("backend"), col("site"))
  }

  val tim1Sql: String =
    raw"""$duckToas
         |SELECT psr,
         |  coalesce(f[nullif(list_position(f,'-be'),0)+1], 'none') AS backend,
         |  f[5] AS site,
         |  COUNT(*) AS n_toas,
         |  MIN(CAST(f[2] AS DOUBLE)) AS min_freq,
         |  MAX(CAST(f[2] AS DOUBLE)) AS max_freq,
         |  CAST(MIN(CAST(f[3] AS DECIMAL(38,18))) AS VARCHAR) AS min_mjd,
         |  CAST(SUM(CAST(f[3] AS DECIMAL(38,18))) AS VARCHAR) AS sum_mjd,
         |  sqrt(CAST(SUM(CAST(CAST(f[4] AS DECIMAL(18,6)) * CAST(f[4] AS DECIMAL(18,6)) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) AS rms_err
         |FROM toas GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin

  /** tim2: per-pulsar span and Fourier-frequency sizing (A1/A2/A3) plus
    * the flag-pair count. The pair count comes from the RAW
    * token array (`(size(f)-5) div 2`, matching DuckDB's `(len(f)-5)//2`),
    * NOT `size(flags)`: a repeated flag key would make the map throw (or
    * dedup) while DuckDB counts both pairs — the raw count is the quantity
    * both engines agree on by construction. nfreqs uses floor(x+0.5) on
    * both engines — round() differs (HALF_UP vs HALF_EVEN) between them. */
  def tim2(s: SparkSession, dir: String): DataFrame = {
    val toas = TimReader.readRaw(s, fixture(glob))
    val tspan = max(col("toa_sec")) - min(col("toa_sec"))
    toas
      .groupBy(col("psr"))
      .agg(
        count(lit(1)).as("n_toas"),
        tspan.as("tspan_sec"),
        greatest(lit(1L),
          floor(tspan / lit(86400.0) / lit(60.0) + lit(0.5))).as("nfreqs"),
        sum(expr("(size(f) - 5) div 2").cast("long")).as("total_flags"))
      .orderBy(col("psr"))
  }

  val tim2Sql: String =
    raw"""$duckToas
         |SELECT psr, COUNT(*) AS n_toas,
         |  MAX(CAST(f[3] AS DOUBLE) * 86400.0) - MIN(CAST(f[3] AS DOUBLE) * 86400.0) AS tspan_sec,
         |  GREATEST(1, CAST(FLOOR((MAX(CAST(f[3] AS DOUBLE) * 86400.0) - MIN(CAST(f[3] AS DOUBLE) * 86400.0)) / 86400.0 / 60.0 + 0.5) AS BIGINT)) AS nfreqs,
         |  CAST(SUM((len(f) - 5) // 2) AS BIGINT) AS total_flags
         |FROM toas GROUP BY 1 ORDER BY 1""".stripMargin

  /** par1: the full `.par` parameter table of the fixture pulsar as
    * (psr, param, value, fit) — values stay RAW STRINGS (the reference
    * stores them at precisions beyond double, e.g. F0 at 17 sig figs;
    * a string compare proves the parse without a lossy numeric hop).
    * Reference: par files are whitespace-separated `NAME value [fitflag
    * [uncertainty]]` rows (tempo2 format; enterprise_warp.py:394-400
    * pairs them with tims by sorted stem). */
  def par1(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.textFile(fixture(parGlob)).toDF("value")
      .withColumn("file_path", input_file_name())
    val psr = graft.core.Labels.psrFromPath(col("file_path"))
    raw
      .withColumn("f", split(trim(col("value")), "\\s+"))
      .filter(size(col("f")) >= 2)
      .select(
        psr.as("psr"),
        element_at(col("f"), 1).as("param"),
        element_at(col("f"), 2).as("value"),
        // CaseWhen evaluates lazily per-row — element_at on a 2-token row
        // would throw under ANSI mode if evaluated eagerly
        when(size(col("f")) >= 3, element_at(col("f"), 3) === "1")
          .otherwise(lit(false)).as("fit"))
      .orderBy(col("psr"), col("param"), col("value"))
  }

  val par1Sql: String =
    raw"""WITH raw AS (
         |  SELECT string_split(string_split(string_split(filename, '/')[-1], '_')[1], '.')[1] AS psr,
         |         unnest(string_split(content, chr(10))) AS line
         |  FROM read_text('$parGlob')
         |), rows_ AS (
         |  SELECT psr, regexp_split_to_array(trim(line), '\s+') AS f
         |  FROM raw WHERE len(regexp_split_to_array(trim(line), '\s+')) >= 2
         |             AND trim(line) <> ''
         |)
         |SELECT psr, f[1] AS param, f[2] AS value,
         |  (len(f) >= 3 AND f[3] = '1') AS fit
         |FROM rows_ ORDER BY psr, param, value""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("tim1_backend_stats", tim1, tim1Sql),
    Query("tim2_tspan_nfreqs", tim2, tim2Sql),
    Query("par1_param_table", par1, par1Sql),
  )
}
