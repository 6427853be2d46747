package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `.par` timing-parameter file reader (SURVEY §1.2).
  *
  * The reference never parses `.par` itself (paths go straight into
  * `enterprise.Pulsar`, enterprise_warp.py:420-422); the schema here follows
  * the file format: `KEY value [fit] [uncertainty]` rows plus repeated
  * `JUMP -flag flagval offset fit` selector rows
  * (FIXTURES.md §2). Values stay strings — F0/F1 carry more precision than
  * double; typed accessors cast on demand.
  */
object ParReader {

  private def rawLines(spark: SparkSession, path: String): DataFrame = {
    spark.read.textFile(path).toDF("value")
      .withColumn("psr", graft.core.Labels.psrFromPath(input_file_name()))
      .withColumn("f", split(trim(col("value")), "\\s+"))
      .filter(size(col("f")) >= 2 && !col("value").startsWith("#"))
  }

  /** Long KV table: (psr, key, value, fit, unc). */
  def readParams(spark: SparkSession, path: String): DataFrame =
    rawLines(spark, path)
      .filter(element_at(col("f"), 1) =!= "JUMP")
      .select(
        col("psr"),
        element_at(col("f"), 1).as("key"),
        element_at(col("f"), 2).as("value"),
        when(size(col("f")) >= 3, element_at(col("f"), 3).cast("int")).as("fit"),
        when(size(col("f")) >= 4, element_at(col("f"), 4).cast("double")).as("unc"))

  /** JUMP selector table: (psr, flag, flagval, offset, fit). */
  def readJumps(spark: SparkSession, path: String): DataFrame =
    rawLines(spark, path)
      .filter(element_at(col("f"), 1) === "JUMP")
      .select(
        col("psr"),
        regexp_replace(element_at(col("f"), 2), "^-", "").as("flag"),
        element_at(col("f"), 3).as("flagval"),
        element_at(col("f"), 4).cast("double").as("offset"),
        when(size(col("f")) >= 5, element_at(col("f"), 5).cast("int")).as("fit"))
}
