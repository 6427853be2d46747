package graft.tools

import org.apache.spark.sql.functions._

/** Five-minute tour of the library surface, runnable as-is:
  * `sbt "runMain graft.tools.QuickStart [sfDir]"`. Mirrors the README
  * usage section — if this breaks, the README is lying.
  */
object QuickStart {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local()
    import spark.implicits._

    // 1. relational: any registered query by name
    println("q1 pricing summary:")
    graft.SparkEntry.queries("q1_pricing_summary")(spark, dir).show(3)

    // 2. events: 30-minute-gap sessions per user (sessions and events counted)
    println("events sessionization:")
    graft.SparkEntry.queries("w_sessionize")(spark, dir).show(3)

    // 3. training-data ops: near-dup pairs and the composed curation run
    println("simhash near-dup pairs:")
    graft.SparkEntry.queries("d6_simhash_hamming")(spark, dir).show(3)
    println("curation stage report:")
    graft.llm.Curation.report(spark, dir).foreach(r =>
      println(f"  ${r.stage}%-16s dropped ${r.dropped}%5d remaining ${r.remaining}%5d"))

    // 4. similarity: cosine top-k against a query vector
    println("ANN brute-force top-k:")
    graft.SparkEntry.queries("s1_ann_brute_topk")(spark, dir).show(5)

    // 5. graph + runtime filters: fixed-point PageRank, bloom semi join
    println("customer-supplier PageRank (top 3 by µrank):")
    graft.SparkEntry.queries("pr1_pagerank")(spark, dir)
      .orderBy($"microrank".desc).show(3)
    println("bloom-prefiltered semi join (urgent-order revenue):")
    graft.SparkEntry.queries("bf1_bloom_semijoin")(spark, dir).show()

    // 6. training-batch assembly: sequence packing + domain mixture
    println("2048-token sequence-packing bins:")
    graft.SparkEntry.queries("pack1_sequence_packing")(spark, dir).show(3)
    println("temperature-scaled domain mixture:")
    graft.SparkEntry.queries("mix1_domain_mixture")(spark, dir).show(3)

    // 7. export: curated corpus as JSONL shards, plus a Z-ordered layout
    val out = java.nio.file.Files.createTempDirectory("graft-quickstart").toString
    val n = graft.llm.Curation.curateAndExport(spark, dir, s"$out/corpus", numShards = 4)
    println(s"exported $n curated docs to $out/corpus")
    // ZOrder.interleave16 expects both keys pre-quantized to [0, 65535]
    // (the zo1 discipline) — modulo/clamp here, or ids > 65535 would alias
    graft.sinks.CorpusExport.writeZOrdered(
      graft.core.Tables.events(spark, dir)
        .select(pmod($"user_id", lit(65536L)).as("user_id"),
          greatest(least(($"value" * 100).cast("long"), lit(65535L)), lit(0L)).as("cents")),
      s"$out/events_z", "user_id", "cents", numFiles = 8)
    println(s"z-ordered events layout at $out/events_z")

    spark.stop()
  }
}
