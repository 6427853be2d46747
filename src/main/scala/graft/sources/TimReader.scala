package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `.tim` TOA-file reader (SURVEY §1.1, §2.1 S1/S2).
  *
  * Reference semantics (`/root/reference/enterprise_warp/enterprise_warp.py:648-660`
  * `read_tim`): whitespace-split rows, keep only lines whose first character
  * is a space (header lines like `FORMAT 1` start at column 0), columns =
  * (file, freq MHz, MJD, err µs, site, then `-flag value` pairs).
  * Pulsar name from the file path stem:
  * `p.split('/')[-1].split('_')[0].split('.')[0]` (enterprise_warp.py:410).
  *
  * Spark-first: a single `spark.read.text` over a glob/directory — each
  * file is splittable, the parse is all codegen'd column expressions (no
  * UDFs), and `input_file_name()` carries the per-pulsar partition key.
  * MJD keeps DECIMAL(38,18) (~19 sig figs exceed double; SURVEY §7.4) with
  * a derived `toa_sec` double for arithmetic, mirroring how enterprise
  * works in seconds (enterprise_warp.py:460).
  */
object TimReader {

  /** Typed row of the TOA table — the case-class boundary for consumers
    * that want compile-time column safety (`Dataset[Toa]`); the decimal
    * MJD survives as `java.math.BigDecimal` (scale 18). */
  case class Toa(psr: String, file: String, freq_mhz: Double,
      toa_mjd: java.math.BigDecimal, toaerr_us: Double, site: String,
      flags: Map[String, String], toa_sec: Double)

  /** [[read]] as a typed Dataset — same plan, case-class Encoder on top. */
  def readTyped(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[Toa] = {
    implicit val enc: org.apache.spark.sql.Encoder[Toa] =
      org.apache.spark.sql.Encoders.product[Toa]
    read(spark, path).as[Toa]
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readRaw(spark, path).drop("f")

  /** [[read]] plus the raw whitespace token array `f` — for consumers that
    * need raw-LINE structure the flags map cannot represent: a repeated
    * flag key makes `map_from_entries` throw under the default EXCEPTION
    * dedup policy (or undercount under LAST_WIN), so anything counting
    * flag PAIRS (tim2's `(size(f)-5) div 2`) must read the tokens, keeping
    * the map for lookups only. */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.textFile(path).toDF("value")
      .withColumn("file_path", input_file_name())
    val psr = graft.core.Labels.psrFromPath(col("file_path"))
    val parsed = raw
      .filter(substring(col("value"), 1, 1) === " ")
      .withColumn("f", split(trim(col("value")), "\\s+"))
      .filter(size(col("f")) >= 5)
    val rest = expr("slice(f, 6, greatest(size(f) - 5, 0))")
    val flags = when(size(rest) >= 2,
      map_from_entries(transform(sequence(lit(0), (size(rest) / lit(2)).cast("int") - 1),
        i => struct(
          regexp_replace(element_at(rest, i * 2 + 1), "^-", "").as("key"),
          element_at(rest, i * 2 + 2).as("value")))))
      .otherwise(map(Seq.empty[org.apache.spark.sql.Column]: _*))
    parsed.select(
      psr.as("psr"),
      element_at(col("f"), 1).as("file"),
      element_at(col("f"), 2).cast("double").as("freq_mhz"),
      element_at(col("f"), 3).cast(DecimalType(38, 18)).as("toa_mjd"),
      element_at(col("f"), 4).cast("double").as("toaerr_us"),
      element_at(col("f"), 5).as("site"),
      flags.as("flags"),
      col("f"))
      .withColumn("toa_sec", col("toa_mjd").cast("double") * 86400d)
  }

  /** S2: directory pairing — sorted `.par`/`.tim` stems must correspond
    * 1:1 (enterprise_warp.py:394-400 raises on count mismatch). */
  def pairParTim(parFiles: Seq[String], timFiles: Seq[String]): Seq[(String, String)] = {
    val par = parFiles.sorted
    val tim = timFiles.sorted
    require(par.length == tim.length,
      s"par/tim count mismatch: ${par.length} != ${tim.length}")
    par.zip(tim)
  }

  /** F2: psrlist membership — pass-all when the list is empty
    * (enterprise_warp.py:411). */
  def filterPsrs(toas: DataFrame, psrlist: Seq[String]): DataFrame =
    if (psrlist.isEmpty) toas else toas.filter(col("psr").isin(psrlist: _*))

  /** F3: drop pulsar by positional index in the sorted pairing
    * (`--drop`/`--num`, enterprise_warp.py:412-416). */
  def dropByIndex(pairs: Seq[(String, String)], drop: Int): Seq[(String, String)] =
    pairs.zipWithIndex.filterNot(_._2 == drop).map(_._1)

  /** F4: backend/flag selection as a parameterized Column — replaces the
    * reference's CPython code-object fabrication (enterprise_models.py:616-683,
    * SURVEY U4: the single biggest "don't port the HOW"). */
  def flagSelection(flag: String, value: String): org.apache.spark.sql.Column =
    col("flags").getItem(flag) === value

  /** A1: observation span per pulsar (seconds), optionally under a
    * selection (enterprise_warp.py:460; enterprise_models.py:530-537). */
  def tspan(toas: DataFrame): DataFrame =
    toas.groupBy(col("psr"))
      .agg((max(col("toa_sec")) - min(col("toa_sec"))).as("tspan_sec"))

  /** A10: per-backend TOA-error stats (libstempo_warp.py:92-98). */
  def backendErrorStats(toas: DataFrame, flag: String): DataFrame =
    toas.groupBy(col("psr"), col("flags").getItem(flag).as("backend"))
      .agg(
        sqrt(avg(col("toaerr_us") * col("toaerr_us"))).as("rms_toaerr_us"),
        avg(col("toaerr_us")).as("mean_toaerr_us"),
        count(lit(1)).as("n_toas"))

  /** A3: number of Fourier frequencies from a span and cadence
    * (`determine_nfreqs`, enterprise_models.py:474-506: Tobs/cadence rule). */
  def nfreqs(tspanSec: Double, cadenceDays: Double = 60.0): Int = {
    val tobsDays = tspanSec / 86400.0
    math.max(1, math.round(tobsDays / cadenceDays).toInt)
  }
}
