package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ChainReaderSpec extends SparkTestBase {

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
}
