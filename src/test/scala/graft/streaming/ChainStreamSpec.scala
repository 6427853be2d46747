package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ChainStreamSpec extends SparkTestBase {

  private val pars = Seq("alpha", "beta")

  private def pieceText(rows: Seq[(Double, Double)]): String =
    rows.map { case (a, b) => f"$a%.6f  $b%.6f  0.1 0.2 0.3 0.4" }
      .mkString("", "\n", "\n")

  test("stream over separated pieces matches the batch read (parity)") {
    val d = tmpDir("chain-stream")
    write(d, "chain_20260101000000.txt",
      pieceText(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0))))
    write(d, "chain_20260101000100.txt",
      pieceText(Seq((4.0, 40.0), (5.0, 50.0))))

    val stream = ChainStream.toLong(
      ChainStream.fromDirectory(spark, d.toString), pars)
    val q = ChainStream.runningSummary(stream).writeStream
      .format("memory").queryName("chain_sum").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("chain_sum")
      val batch = ChainStream.runningSummary(ChainStream.toLong(
        ChainStream.fromDirectoryBatch(spark, d.toString), pars))
      val g = got.orderBy("par").collect().map(_.toSeq)
      val b = batch.orderBy("par").collect().map(_.toSeq)
      assert(g.toSeq === b.toSeq)
      // alpha over both pieces: n=5, mean=3, lo=1, hi=5
      val alpha = got.filter(col("par") === "alpha").head()
      assert(alpha.getAs[Long]("n") === 5L)
      assert(alpha.getAs[Double]("lo") === 1.0 && alpha.getAs[Double]("hi") === 5.0)
    } finally q.stop()
  }

  test("a piece appended AFTER the stream starts is picked up (resume-while-sampling)") {
    val d = tmpDir("chain-append")
    write(d, "chain_20260101000000.txt", pieceText(Seq((1.0, 10.0), (2.0, 20.0))))

    val stream = ChainStream.toLong(
      ChainStream.fromDirectory(spark, d.toString), pars)
    val q = ChainStream.runningSummary(stream).writeStream
      .format("memory").queryName("chain_inc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("chain_inc")
        .filter(col("par") === "alpha").head().getAs[Long]("n") === 2L)
      // the sampler appends a new separated piece mid-run
      write(d, "chain_20260101000200.txt", pieceText(Seq((3.0, 30.0))))
      q.processAllAvailable()
      val alpha = spark.table("chain_inc").filter(col("par") === "alpha").head()
      assert(alpha.getAs[Long]("n") === 3L)
      assert(alpha.getAs[Double]("hi") === 3.0)
    } finally q.stop()
  }

  test("K2 parity: streaming noise-file sink emits the same bytes as the batch path") {
    val d = tmpDir("chain-k2")
    write(d, "chain_20260101000000.txt",
      pieceText(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0))))
    write(d, "chain_20260101000100.txt", pieceText(Seq((4.0, 40.0), (5.0, 50.0))))

    // batch path: full read → summary → K2 writer
    val batchDir = tmpDir("k2-batch")
    graft.sinks.NoiseFileWriter.writeNoiseFiles(
      ChainStream.summaryToNoise(
        ChainStream.runningSummary(ChainStream.toLong(
          ChainStream.fromDirectoryBatch(spark, d.toString), pars)), "J0001+0001"),
      batchDir.toString)

    // stream path: piece-at-a-time through the foreachBatch sink
    val streamDir = tmpDir("k2-stream")
    val q = ChainStream.noiseFileSink(
      ChainStream.toLong(ChainStream.fromDirectory(spark, d.toString), pars),
      "J0001+0001", streamDir.toString, tmpDir("k2-ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val f = "J0001+0001_noise.json"
    val batchBytes = Files.readString(batchDir.resolve(f))
    val streamBytes = Files.readString(streamDir.resolve(f))
    assert(streamBytes === batchBytes)
    assert(batchBytes.contains("\"J0001+0001_alpha\": 3.0"))
  }

  test("garbled lines are dropped; toLong keeps only the named positions") {
    val d = tmpDir("chain-garbled")
    write(d, "chain_20260101000000.txt",
      "1.0 10.0 0.1 0.2 0.3 0.4\nnot a number line\n\n2.0 20.0 0.1 0.2 0.3 0.4\n")
    val parsed = ChainStream.fromDirectoryBatch(spark, d.toString)
    assert(parsed.count() === 2)
    assert(parsed.head().getAs[String]("piece_ts") === "20260101000000")
    // long form keeps only the labeled (non-diagnostic) positions
    val long = ChainStream.toLong(parsed, pars)
    assert(long.count() === 4) // 2 rows x 2 labeled pars
  }
}
