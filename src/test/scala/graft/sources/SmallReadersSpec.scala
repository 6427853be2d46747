package graft.sources

import graft.SparkTestBase

class SmallReadersSpec extends SparkTestBase {

  test("psr-dir discovery regex (S14)") {
    val d = tmpDir("results")
    Seq("25_J1832-0836", "3_B0834+06", "0_J0437-4715A", "junk", "J1832-0836",
      "25_X1832-0836").foreach(n => d.resolve(n).toFile.mkdir())
    assert(SmallReaders.discoverPsrDirs(d.toString) ===
      Seq("0_J0437-4715A", "25_J1832-0836", "3_B0834+06"))
  }

  test("two-column KV file (S7)") {
    val d = tmpDir("kv")
    val p = write(d, "kv.txt", "alpha 1.5\nbeta 2.5\n")
    val kv = SmallReaders.readKvFile(spark, p).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv === Map("alpha" -> "1.5", "beta" -> "2.5"))
  }

  test("bilby result posterior → long form (S13)") {
    val d = tmpDir("bilby")
    val p = write(d, "x_result.json",
      """{"label": "run1",
        | "posterior": {"content": {"efac": [1.0, 1.1, 1.2], "gamma": [3.0, 3.1, 3.2]}}}""".stripMargin)
    val df = SmallReaders.readBilbyResult(spark, p)
    assert(df.count() === 6)
    import org.apache.spark.sql.functions._
    assert(df.filter(col("par") === "efac" && col("step") === 2).head().getDouble(2) === 1.2)
  }

  test("truths JSON (S16) and psrlist (S4)") {
    val d = tmpDir("truth")
    val p = write(d, "truths.json", """{"gw_log10_A": -14.5, "nmodel": 1}""")
    assert(SmallReaders.readTruths(p) === Map("gw_log10_A" -> -14.5, "nmodel" -> 1.0))
    val pl = write(d, "psrs.txt", "J0437-4715\n\nJ1832-0836\n")
    assert(ChainReader.readPars(spark, pl) === Seq("J0437-4715", "J1832-0836"))
  }

  test("injection helpers: psd vector, backend reconciliation (X16/A18)") {
    import graft.sim.Injection
    val params = Map("J1_PDFB_efac" -> 1.1, "J1_CASPSR_efac" -> 0.9,
      "J1_PDFB_equad" -> -6.0)
    assert(Injection.psdToVector(params, "efac", Seq("CASPSR", "PDFB")) === Seq(0.9, 1.1))
    val (used, unused) = Injection.reconcileBackends(
      Seq("CASPSR", "PDFB", "WBCORR"), params.keys)
    assert(used === Seq("CASPSR", "PDFB") && unused === Seq("WBCORR"))
  }
}
