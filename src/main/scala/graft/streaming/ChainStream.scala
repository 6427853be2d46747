package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ChainReader

/** Incremental chain-directory stream (SURVEY §2.10 ↔ S9/S10): the
  * reference's one incremental pattern is a sampler APPENDING separated
  * chain pieces `chain_<14-digit-ts>.txt` to a run directory while an
  * analysis session re-reads it (enterprise_warp results.py:428-448,
  * 484-489 — re-glob, concat in timestamp order). Batch-side that is
  * [[graft.sources.ChainReader.readChain]]; this is the same directory as
  * a file-source `readStream`, the resume-while-sampling path: each new
  * piece becomes a micro-batch, running posterior summaries update without
  * re-reading earlier pieces.
  *
  * Parity contract (asserted in ChainStreamSpec): [[parse]] and
  * [[runningSummary]] are plain DataFrame→DataFrame transforms, so the
  * SAME code runs over `spark.read.text` (batch) and
  * `spark.readStream.text` (incremental).
  */
object ChainStream {

  /** File-source stream over the separated pieces of a chain directory.
    * One file per micro-batch (`maxFilesPerTrigger=1`) mirrors the
    * arrival cadence: the sampler writes pieces one at a time. */
  def fromDirectory(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val r = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .text(s"$dir/chain_*.txt")
    parse(r.withColumn("piece", col("_metadata.file_path")))
  }

  /** Batch twin of [[fromDirectory]] — identical transform over a static
    * read, for the parity spec and for catch-up before going live. */
  def fromDirectoryBatch(spark: SparkSession, dir: String): DataFrame =
    parse(spark.read.text(s"$dir/chain_*.txt")
      .withColumn("piece", col("_metadata.file_path")))

  /** The batch reader's line parse ([[graft.sources.ChainReader.parse]]),
    * plus the 14-digit piece timestamp so downstream can order or window
    * by sampler progress. No global step number: a monotonic rank is not
    * streamable, and nothing downstream of the streaming path needs one
    * (summaries group by par). */
  def parse(raw: DataFrame): DataFrame =
    ChainReader.parse(raw)
      .withColumn("piece_ts",
        regexp_extract(col("piece"), """chain_(\d{14})""", 1))
      .select(col("piece_ts"), col("vals"))

  /** Wide → long with par labels: the batch reader's pivot
    * ([[graft.sources.ChainReader.pivot]]) keyed by `piece_ts`. */
  def toLong(parsed: DataFrame, pars: Seq[String]): DataFrame =
    ChainReader.pivot(parsed, "piece_ts", pars)

  /** Running per-parameter summary (count / mean / min / max) — the
    * monitor-while-sampling readout. Mergeable aggregates only, so each
    * micro-batch folds its piece into per-par state; output mode
    * `complete` republishes the current summary per trigger. */
  def runningSummary(chainLong: DataFrame): DataFrame =
    chainLong.groupBy(col("par"))
      .agg(count(lit(1)).as("n"),
        avg(col("value")).as("mean"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))

  /** Summary → the K2 noise-file shape (psr, param, value): parameter key
    * `<psr>_<par>` (PAL2 naming, results.py:236-248), value = running
    * posterior mean. One row per parameter — aggregate-sized. */
  def summaryToNoise(summary: DataFrame, psr: String): DataFrame =
    summary.select(lit(psr).as("psr"),
      concat(lit(psr + "_"), col("par")).as("param"),
      col("mean").as("value"))

  /** Resume-while-sampling K2 sink: every micro-batch re-renders the
    * CURRENT summary into the same sorted indent-4 noise JSON the batch
    * path writes ([[graft.sinks.NoiseFileWriter.writeNoiseFiles]]) via
    * atomic rename, so a tempo2-side consumer polling the file never sees
    * a torn write and — once the stream drains — sees bytes IDENTICAL to
    * a batch run over the full chain (parity asserted in ChainStreamSpec). */
  def noiseFileSink(chainLong: DataFrame, psr: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    runningSummary(chainLong).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.NoiseFileWriter.writeNoiseFiles(
          summaryToNoise(batch, psr), outDir)
        ()
      }
      .start()
}
