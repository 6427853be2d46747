package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ChainReaderSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = tmpDir("chain")

  private def mkChainDir(): String = {
    // 8 steps × (2 pars + 4 diagnostics); one separated piece continues it
    val main = (0 until 8).map(i =>
      s"${i * 1.0} ${i * 10.0} -1.0 -2.0 0.5 0.25").mkString("", "\n", "\n")
    write(dir, "chain_1.txt", main)
    val sep = (8 until 12).map(i =>
      s"${i * 1.0} ${i * 10.0} -1.0 -2.0 0.5 0.25").mkString("", "\n", "\n")
    write(dir, "chain_20240101120000.txt", sep)
    write(dir, "not_a_chain_123.txt", "9 9 9 9 9 9\n")
    write(dir, "pars.txt", "par_alpha\npar_beta\n")
    dir.toString
  }

  test("separated-chain discovery: 14-digit timestamp files only, sorted") {
    val d = mkChainDir()
    val found = ChainReader.discoverSeparated(d)
    assert(found.map(_.split("/").last) === Seq("chain_20240101120000.txt"))
  }

  test("main + separated union preserves step order; long pivot drops diagnostics") {
    val d = mkChainDir()
    val pars = ChainReader.readPars(spark, s"$d/pars.txt")
    assert(pars === Seq("par_alpha", "par_beta"))
    val chain = ChainReader.readChain(spark, d)
    assert(chain.count() === 12)
    val long = ChainReader.toLong(chain, pars)
    assert(long.count() === 24) // 12 steps × 2 pars, diagnostics dropped
    val alphaAt11 = long.filter(col("par") === "par_alpha" && col("step") === 11)
      .head().getDouble(2)
    assert(alphaAt11 === 11.0)
  }

  test("burn-in drops the first 25% of steps") {
    val d = mkChainDir()
    val long = ChainReader.toLong(ChainReader.readChain(spark, d),
      Seq("par_alpha", "par_beta"))
    val burned = ChainReader.burned(long, 0.25)
    // 12 steps → burn 3 → steps 3..11 remain
    assert(burned.agg(min("step")).head().getLong(0) === 3)
    assert(burned.select("step").distinct().count() === 9)
  }

  test("par mask: OR of substrings") {
    val d = mkChainDir()
    val long = ChainReader.toLong(ChainReader.readChain(spark, d),
      Seq("par_alpha", "par_beta"))
    assert(ChainReader.parMask(long, Seq("alpha")).select("par").distinct().count() === 1)
    assert(ChainReader.parMask(long, Seq.empty).count() === long.count())
  }

  test("garbled lines are dropped, not fatal") {
    val d2 = tmpDir("chain2")
    write(d2, "chain_1.txt", "1.0 2.0\nnot numbers here\n\n3.0 4.0\n")
    val chain = ChainReader.readChain(spark, d2.toString)
    assert(chain.count() === 2)
  }

  test("burn-in of a chain with no parseable line is empty, not an error") {
    val d3 = tmpDir("chain3")
    write(d3, "chain_1.txt", "not numbers here\n\n1.0 oops\n")
    val long = ChainReader.toLong(ChainReader.readChain(spark, d3.toString),
      Seq("par_alpha"))
    val burned = ChainReader.burned(long)
    assert(burned.columns.toSeq === Seq("step", "par", "value"))
    assert(burned.count() === 0)
  }

  private def line(i: Int): String = s"${i * 1.0} ${i * 10.0} -1.0 -2.0 0.5 0.25"

  /** Driver-side reference: (index among the parseable lines in piece
    * order, vals). */
  private def reference(pieces: Seq[String]): Seq[(Long, Seq[Double])] =
    pieces.flatMap(p => java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
      .toArray(Array.empty[String]).toSeq)
      .map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq.map(_.toDoubleOption))
      .filter(_.forall(_.isDefined))
      .zipWithIndex.map { case (vs, i) => (i.toLong, vs.map(_.get)) }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("many small splits over three pieces, garbled lines inside splits: steps match the driver's line order") {
    val d = tmpDir("chainsplits")
    // chain_1.txt is one split; the first separated piece is the largest,
    // with garbled and blank lines mid-split
    val main = write(d, "chain_1.txt", (0 until 8).map(line).mkString("", "\n", "\n"))
    val big = (8 until 110).flatMap { i =>
      if (i % 17 == 0) Seq("not numbers here", line(i))
      else if (i % 23 == 0) Seq("", "1.0 oops", line(i))
      else Seq(line(i))
    }
    val sep1 = write(d, "chain_20240101120000.txt", big.mkString("", "\n", "\n"))
    val sep2 = write(d, "chain_20240202120000.txt",
      ((110 until 125).map(line) :+ "garbled").mkString("\n"))
    val pieces = Seq(main, sep1, sep2)

    val chain = withConf("spark.sql.files.maxPartitionBytes" -> "256",
        "spark.sql.files.openCostInBytes" -> "64") {
      val layout = spark.read.textFile(pieces: _*)
        .select(input_file_name().as("f"), input_file_block_start().as("b"),
          spark_partition_id().as("p")).distinct().as[(String, Long, Int)].collect()
      assert(layout.length > 10, s"only ${layout.length} splits")
      // Spark packs splits largest-first: a separated piece opens partition 0
      assert(layout.filter(_._3 == 0).forall(!_._1.endsWith("/chain_1.txt")),
        layout.toSeq.sortBy(_._3))
      val chain = ChainReader.readChain(spark, d.toString)
      val got = chain.as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      assert(got === reference(pieces))
      assert(chain.schema("step").metadata.getLong(ChainReader.StepsKey) === got.size)
      chain
    }
    // the default split size reads these pieces in other splits: the
    // numbering no longer holds, and the action says so
    val e = intercept[Exception](chain.collect())
    assert(e.getMessage.contains("read the chain again"), e.getMessage)
  }

  test("readChain → toLong → burned runs at most one Spark job before the consumer's action") {
    val d = tmpDir("chainjobs")
    write(d, "chain_1.txt", (0 until 40).map(line).mkString("", "\n", "\n"))
    write(d, "chain_20240101120000.txt", (40 until 60).map(line).mkString("", "\n", "\n"))
    write(d, "chain_20240202120000.txt", (60 until 80).map(line).mkString("", "\n", "\n"))
    val (burned, jobs) = countingJobs {
      ChainReader.burned(ChainReader.toLong(ChainReader.readChain(spark, d.toString),
        Seq("par_alpha", "par_beta")))
    }
    assert(jobs === 1, "expected only the split-count job")
    assert(burned.agg(min("step"), max("step"), count(lit(1))).as[(Long, Long, Long)].head() ===
      ((20L, 79L, 120L)))
  }

  test("Bayes-factor collect runs no par-name broadcast job") {
    val d = tmpDir("chainbf")
    // nmodel in column 0 cycles 0, 1, 2: after burn-in (steps 15..59) each
    // model holds 15 steps
    def row(i: Int) = s"${i % 3}.0 ${i * 1.0} -1.0 -2.0 0.5 0.25"
    write(d, "chain_1.txt", (0 until 30).map(row).mkString("", "\n", "\n"))
    write(d, "chain_20240101120000.txt", (30 until 60).map(row).mkString("", "\n", "\n"))
    val burned = ChainReader.burned(ChainReader.toLong(ChainReader.readChain(spark, d.toString),
      Seq("nmodel", "par_beta")))
    val (bf, jobs) = countingJobs {
      graft.analytics.Chain.logBayesFactors(graft.analytics.Chain.modelCounts(
        burned.filter(col("par") === "nmodel"), col("value"))).collect()
    }
    // a join against a broadcast par-name table makes this 4: broadcasting
    // its LocalTableScan is a job of its own
    assert(jobs === 3)
    assert(bf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq ===
      Seq((0L, 1L, 0.0), (0L, 2L, 0.0), (1L, 2L, 0.0)))
  }

  test("the step-count stamp survives toLong and parMask; burned rejects an unstamped frame") {
    val d = tmpDir("chainstamp")
    write(d, "chain_1.txt", ((0 until 10).map(line) :+ "garbled").mkString("", "\n", "\n"))
    write(d, "chain_20240101120000.txt", (10 until 12).map(line).mkString("", "\n", "\n"))
    val long = ChainReader.toLong(ChainReader.readChain(spark, d.toString),
      Seq("par_alpha", "par_beta"))
    val masked = ChainReader.parMask(long, Seq("alpha"))
    Seq(long, masked, ChainReader.burned(masked)).foreach { df =>
      assert(df.schema("step").metadata.getLong(ChainReader.StepsKey) === 12)
    }
    assert(ChainReader.burned(masked).select("step").as[Long].collect().sorted.toSeq === (3L until 12L))

    val unstamped = Seq((0L, "par_alpha", 1.0)).toDF("step", "par", "value")
    val e = intercept[IllegalArgumentException](ChainReader.burned(unstamped))
    assert(e.getMessage.contains(ChainReader.StepsKey))
  }
}
