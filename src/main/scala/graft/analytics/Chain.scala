package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Posterior-chain analytics operators, re-expressed Spark-first.
  *
  * Reference semantics (file:line into /root/reference):
  *  - burn-in = drop first 25% of rows (`enterprise_warp/results.py:499`)
  *  - thinning = numpy `chain[burn::k]` stride (`results.py:670,691`)
  *  - model counts = `unique(round(nmodel)), counts` (`results.py:502-507`)
  *  - log Bayes factors = `log(n_j/n_i)` over model pairs (`results.py:605-616`)
  *  - mode-of-histogram = 50-bin hist argmax left edge (`results.py:154-170`)
  *  - percentile summary = median/16%/84% (`results.py:184-213`)
  *  - estimator arbitration = mode if inside [16,84] else median
  *    (`results.py:172-182`)
  *
  * The reference loops over chain columns in Python; here the chain lives in
  * LONG form `(step, par, value)` so every per-parameter loop is one
  * `groupBy("par")` — a single shuffle, map-side combined, scale-free.
  *
  * Scale note: the rank-based ops (burn-in, thinning, splits) prefer the
  * dense `step` column when one exists (`step >= quantile`-style filters,
  * no ranking at all). For files whose step column is implicit, ranking goes
  * through [[graft.operators.GlobalRank]] — distributed range-partitioned
  * row numbering, never a single-partition window.
  */
object Chain {

  /** numpy `chain[floor(frac*n)::k]`: drop the first `frac` of rows by
    * `order`, keep every k-th of the remainder (first survivor kept). */
  def burnThin(df: DataFrame, frac: Double, k: Int, order: Column*): DataFrame =
    graft.operators.GlobalRank.withRowNumber(df, order)
      .filter(col("rn") > floor(lit(frac) * col("n")).cast("long") &&
        (col("rn") - floor(lit(frac) * col("n")).cast("long")) % k === 1)
      .drop("rn", "n")

  /** Model-index histogram: `groupBy(round(nmodel)).count` (results.py:502-507). */
  def modelCounts(df: DataFrame, nmodel: Column): DataFrame =
    df.groupBy(round(nmodel).cast("long").as("nmodel")).agg(count(lit(1)).as("cnt"))

  /** Pairwise log Bayes factors from model counts (results.py:605-616):
    * all i<j pairs, ln(cnt_j/cnt_i). */
  def logBayesFactors(counts: DataFrame): DataFrame = {
    val a = counts.select(col("nmodel").as("model_i"), col("cnt").as("cnt_i"))
    val b = counts.select(col("nmodel").as("model_j"), col("cnt").as("cnt_j"))
    a.join(b, col("model_i") < col("model_j"))
      .select(col("model_i"), col("model_j"),
        log(col("cnt_j").cast("double") / col("cnt_i").cast("double")).as("log_bf"))
  }

  /** Per-group 50-bin histogram bins with counts; `bins` left edges derive
    * from per-group min/max (results.py:154-170). Returns
    * (group, bin, bin_left, bin_cnt). Two-pass: min/max agg (broadcast back)
    * then bucket count — both map-side combinable. Like numpy, a group whose
    * values are all equal gets the range [v − 0.5, v + 0.5], so its mode is
    * v and the bin width never divides by zero.
    */
  def histogram(df: DataFrame, group: Column, value: Column, nBins: Int): DataFrame = {
    val flat = col("lo") === col("hi")
    val stats = df.groupBy(group.as("g")).agg(min(value).as("lo"), max(value).as("hi"))
      .select(col("g"), when(flat, col("lo") - 0.5).otherwise(col("lo")).as("mn"),
        when(flat, col("hi") + 0.5).otherwise(col("hi")).as("mx"))
    df.select(group.as("g"), value.as("v"))
      .join(broadcast(stats), "g")
      .withColumn("bin",
        least(floor((col("v") - col("mn")) * nBins / (col("mx") - col("mn"))),
          lit(nBins - 1L)).cast("long"))
      .groupBy(col("g"), col("bin"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("bin_cnt"))
      .withColumn("bin_left",
        col("mn") + (col("bin").cast("double") * (col("mx") - col("mn"))) / nBins)
  }

  /** Histogram-mode estimator per group: left edge of the argmax bin,
    * lowest bin on count ties (deterministic). */
  def histogramMode(df: DataFrame, group: Column, value: Column, nBins: Int): DataFrame = {
    val h = histogram(df, group, value, nBins)
    val w = Window.partitionBy(col("g")).orderBy(col("bin_cnt").desc, col("bin"))
    h.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("g"), col("bin_left").as("mode"))
  }

  /** Inverse-variance weighted mean + error over (rho, sig) — the exact
    * `weightedavg` of results.py:276-284:
    * mean = Σ(r/s²)/Σ(1/s²), err = sqrt(1/Σ(1/s²)). */
  def weightedAvg(rho: Column, sig: Column): (Column, Column) = {
    val w = lit(1.0) / (sig * sig)
    (sum(rho * w) / sum(w), sqrt(lit(1.0) / sum(w)))
  }

  /** Equal-count angular binning (results.py:305-347): order by `xi`,
    * split into `nBins` equal-count tiles, per-tile mean/std of xi and
    * inverse-variance weighted (rho, sig). */
  def equalCountBins(df: DataFrame, xi: Column, rho: Column, sig: Column,
      nBins: Int): DataFrame = {
    val (wm, we) = weightedAvg(col("rho"), col("sig"))
    val ranked = graft.operators.GlobalRank.withRowNumber(
      df.select(xi.as("xi"), rho.as("rho"), sig.as("sig")), Seq(col("xi")))
    ranked
      .withColumn("tile",
        graft.operators.GlobalRank.ntileFromRank(col("rn"), col("n"), nBins))
      .groupBy(col("tile"))
      .agg(avg(col("xi")).as("mean_xi"), stddev(col("xi")).as("std_xi"),
        wm.as("rho_wavg"), we.as("sig_wavg"), count(lit(1)).as("npairs"))
  }

  /** Fixed-width binning (`bin_crosscorr`, results.py:286-303 — implementing
    * the INTENDED semantics; the reference body reads undefined locals at
    * results.py:297). */
  def fixedWidthBins(df: DataFrame, xi: Column, rho: Column, sig: Column,
      width: Double): DataFrame = {
    val (wm, we) = weightedAvg(col("rho"), col("sig"))
    df.select(xi.as("xi"), rho.as("rho"), sig.as("sig"))
      .withColumn("bin", floor(col("xi") / width).cast("long"))
      .groupBy(col("bin"))
      .agg(wm.as("rho_wavg"), we.as("sig_wavg"), count(lit(1)).as("npairs"))
  }
}
