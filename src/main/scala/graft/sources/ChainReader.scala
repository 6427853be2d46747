package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Posterior-chain loader (SURVEY §1.5, §2.1 S9/S10/S11).
  *
  * Reference semantics:
  *  - `chain_1.txt`: whitespace floats, nsamples × (npar+4); the last 4
  *    columns are sampler diagnostics (results.py:499-500).
  *  - `pars.txt`: one parameter name per row (results.py:464-473).
  *  - separated pieces `chain_<14-digit-ts>[_pars].txt` discovered by
  *    regex and concatenated in timestamp order (results.py:428-448,
  *    484-489).
  *
  * The wide matrix immediately becomes LONG form (step, par, value) via
  * `posexplode` + a broadcast par-index join (SURVEY J5) — every downstream
  * per-parameter loop is then one `groupBy("par")`.
  */
object ChainReader {

  private val SeparatedRe = """chain_(\d{14})(_.*)?\.txt""".r

  /** S10: discover separated chain pieces in a directory, sorted by their
    * 14-digit timestamp. Driver-side listing (directory metadata, not data). */
  def discoverSeparated(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val names = Option(d.list()).map(_.toSeq).getOrElse(Seq.empty)
    names.flatMap {
      case n @ SeparatedRe(ts, _) => Some((ts, n))
      case _ => None
    }.sortBy(_._1).map { case (_, n) => s"$dir/$n" }
  }

  /** S11: parameter names, in file order — one name per non-blank line,
    * trimmed. Also reads S4 psrlists, which share the format. */
  def readPars(spark: SparkSession, path: String): Seq[String] = {
    import spark.implicits._
    spark.read.textFile(path).as[String].collect().toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  /** S9: one chain file → (step, values ARRAY<DOUBLE>); empty/garbled lines
    * dropped (the reference tolerates them via np.loadtxt retry,
    * results.py:481-497). Step numbering = line order within the file.
    */
  def readChainFile(spark: SparkSession, path: String, stepOffset: Long = 0L): DataFrame = {
    val lines = spark.read.textFile(path).toDF("value")
      .withColumn("rid", monotonically_increasing_id())
    val parsed = lines
      .filter(length(trim(col("value"))) > 0)
      .withColumn("vals",
        expr("transform(split(trim(value), '\\\\s+'), x -> try_cast(x AS double))"))
      .filter(!exists(col("vals"), _.isNull))
    graft.operators.GlobalRank.withRowNumber(parsed, Seq(col("rid")), nTotal = None)
      .withColumn("step", (col("rn") - 1 + stepOffset).cast("long"))
      .select(col("step"), col("vals"))
  }

  /** Main chain + separated pieces, concatenated in order (E4). */
  def readChain(spark: SparkSession, dir: String, mainFile: String = "chain_1.txt"): DataFrame = {
    val paths = {
      val main = s"$dir/$mainFile"
      val sep = discoverSeparated(dir)
      (if (new java.io.File(main).exists()) Seq(main) else Seq.empty) ++ sep
    }
    require(paths.nonEmpty, s"no chain files in $dir")
    // offsets are per-file row counts; files are MB-sized text (the
    // reference prints their size at load, results.py:459-461)
    val dfs = paths.foldLeft((Seq.empty[DataFrame], 0L)) { case ((acc, off), p) =>
      val df = readChainFile(spark, p, off)
      val n = df.count()
      (acc :+ df, off + n)
    }._1
    dfs.reduce(_ unionByName _)
  }

  /** J5: wide→long pivot. Drops the trailing `nDiag` diagnostic columns
    * (results.py:500) and labels positions with par names. */
  def toLong(chain: DataFrame, pars: Seq[String], nDiag: Int = 4): DataFrame = {
    val spark = chain.sparkSession
    import spark.implicits._
    val parDf = broadcast(pars.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pos", "par"))
    chain
      .select(col("step"), posexplode(col("vals")).as(Seq("pos", "value")))
      .join(parDf, Seq("pos"))
      .select(col("step"), col("par"), col("value"))
  }

  /** F8: burn-in — drop the first 25% of steps (results.py:499). Uses the
    * dense step column (no global sort; scale-safe). */
  def burned(chainLong: DataFrame, frac: Double = 0.25): DataFrame = {
    val maxStep = chainLong.agg(max(col("step"))).head()
    // no step at all (every line garbled): numpy's chain[burn:] of an
    // empty chain is empty, not an error
    if (maxStep.isNullAt(0)) chainLong
    else chainLong.filter(col("step") >= math.floor(frac * (maxStep.getLong(0) + 1)).toLong)
  }

  /** F6: parameter-name mask — OR of substring matches (results.py:516-524). */
  def parMask(chainLong: DataFrame, substrings: Seq[String]): DataFrame =
    if (substrings.isEmpty) chainLong
    else chainLong.filter(substrings.map(col("par").contains(_)).reduce(_ || _))
}
