package graft.analytics

import graft.SparkTestBase

class ChainSpec extends SparkTestBase {

  test("histogramMode of a constant group is its value, as numpy's ±0.5 range gives") {
    import spark.implicits._
    // "flat" is a fixed parameter's column: min == max, a zero-width range
    val df = Seq(("flat", 1.5), ("flat", 1.5), ("spread", 0.0), ("spread", 0.1),
      ("spread", 0.1), ("spread", 1.0)).toDF("par", "value")
    val modes = Chain.histogramMode(df, $"par", $"value", 50).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // flat: bins over [1.0, 2.0), 1.5 in bin 25 whose left edge is 1.5;
    // spread: 0.1 in bin 5 of [0, 1]
    assert(modes === Map("flat" -> 1.5, "spread" -> 0.1))
  }
}
