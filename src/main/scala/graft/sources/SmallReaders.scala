package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The long tail of §2.1 scans: S7 two-column KV, S8 covariance CSV, S13
  * bilby result JSON, S14 result-dir discovery, S16 truths JSON. S4
  * psrlists share pars.txt's format and are read by
  * [[ChainReader.readPars]].
  */
object SmallReaders {

  /** S7: `load_to_dict` (enterprise_warp.py:614-623) — space-separated
    * key value pairs. */
  def readKvFile(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").csv(path).toDF("key", "value")

  /** S8: MCMC covariance CSV with the par index column
    * (pd.read_csv(index_col=0), enterprise_warp.py:286-290). */
  def readCovarianceCsv(path: String): graft.analytics.Covariance.Block =
    graft.analytics.Covariance.fromCsv(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))

  /** S14: result-directory discovery — entries matching the pulsar-dir
    * pattern `^\d+_[JB]\d{2,4}[+-]\d{2,4}[AB]?$` (results.py:418-424). */
  val PsrDirRe = """^\d+_[JB]\d{2,4}[+-]\d{2,4}[AB]?$""".r
  def discoverPsrDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(PsrDirRe.matches(_)).sorted

  /** S13: bilby `*_result.json` — posterior draws long-form
    * (results.py:1071-1081): {"posterior": {"content": {par: [values]}}}. */
  def readBilbyResult(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val json = JsonMethods.parse(new java.io.File(path))
    val content = json \ "posterior" \ "content"
    val rows = content match {
      case JObject(fields) => fields.flatMap {
        case (par, JArray(vs)) => vs.zipWithIndex.collect {
          case (JDouble(v), i) => (i.toLong, par, v)
          case (JInt(v), i) => (i.toLong, par, v.toDouble)
        }
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }
    rows.toDF("step", "par", "value")
  }

  /** S16: truths JSON — flat param→value lookup (results.py:629-631). */
  def readTruths(path: String): Map[String, Double] =
    JsonMethods.parse(new java.io.File(path)) match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
}
