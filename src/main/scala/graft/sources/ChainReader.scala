package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Posterior-chain loader (SURVEY §1.5, §2.1 S9/S10/S11).
  *
  * Reference semantics:
  *  - `chain_1.txt`: whitespace floats, nsamples × (npar+4); the last 4
  *    columns are sampler diagnostics (results.py:499-500).
  *  - `pars.txt`: one parameter name per row (results.py:464-473).
  *  - separated pieces `chain_<14-digit-ts>[_pars].txt` discovered by
  *    regex and concatenated in timestamp order (results.py:428-448,
  *    484-489).
  *
  * The wide matrix immediately becomes LONG form (step, par, value) via
  * `posexplode` + a literal par-name lookup (SURVEY J5) — every downstream
  * per-parameter loop is then one `groupBy("par")`. [[parse]] and [[pivot]]
  * are plain DataFrame transforms, shared with the streaming reader
  * ([[graft.streaming.ChainStream]]).
  */
object ChainReader {

  private val SeparatedRe = """chain_(\d{14})(_.*)?\.txt""".r

  /** Metadata key on [[readChain]]'s `step` column: the chain's total step
    * count. It survives projections and filters ([[toLong]], [[parMask]]),
    * and [[burned]] reads it instead of running a job for `max(step)`. */
  val StepsKey = "chain_steps"

  /** One split of a chain piece: its first id, its parseable lines and the
    * step of its first line. */
  private case class Split(first: Long, lines: Long, start: Long)

  /** S10: discover separated chain pieces in a directory, sorted by their
    * 14-digit timestamp. Driver-side listing (directory metadata, not data). */
  def discoverSeparated(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val names = Option(d.list()).map(_.toSeq).getOrElse(Seq.empty)
    names.flatMap {
      case n @ SeparatedRe(ts, _) => Some((ts, n))
      case _ => None
    }.sortBy(_._1).map { case (_, n) => s"$dir/$n" }
  }

  /** S11: parameter names, in file order — one name per non-blank line,
    * trimmed. Also reads S4 psrlists, which share the format. The file is
    * a handful of names, read on the driver: no Spark job (`spark` is
    * not used). */
  def readPars(spark: SparkSession, path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .lines().iterator().asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** Whitespace-float text lines (`value`) → `vals` ARRAY<DOUBLE>, other
    * columns kept. Empty/garbled lines are dropped (the reference tolerates
    * them via np.loadtxt retry, results.py:481-497). */
  def parse(raw: DataFrame): DataFrame =
    raw.filter(length(trim(col("value"))) > 0)
      .withColumn("vals",
        expr("transform(split(trim(value), '\\\\s+'), x -> try_cast(x AS double))"))
      .filter(!exists(col("vals"), _.isNull))

  /** J5: wide → long, keyed by `key`. Position i of `vals` is labelled
    * `pars(i)`; positions past the names — the trailing sampler
    * diagnostics (results.py:500) — are dropped. A literal array lookup,
    * so no join and no broadcast job; stream-safe. */
  def pivot(wide: DataFrame, key: String, pars: Seq[String]): DataFrame =
    wide.select(col(key), posexplode(col("vals")).as(Seq("pos", "value")))
      .filter(col("pos") < pars.size)
      .select(col(key), element_at(typedLit(pars), col("pos") + 1).as("par"), col("value"))

  /** S9/E4: main chain + separated pieces → (step, vals ARRAY<DOUBLE>), in
    * one text scan over every piece. Empty/garbled lines are dropped
    * ([[parse]]).
    *
    * `step` is a line's index among the parseable lines of the
    * concatenation: main chain first, then the pieces in timestamp order.
    * Each parseable line is tagged with its file, its split's byte offset
    * in that file and a `monotonically_increasing_id`, taken after the
    * garbled-line filter so a split's ids are consecutive. One job then
    * counts each split's lines and takes its first id, one row per split
    * (a split is read by one task, so this needs no shuffle). On the
    * driver the splits are ordered by (piece, byte offset); a line's step
    * is its split's start step plus its id minus the split's first id. A
    * literal map carries the per-split numbers into the plan: no sort, no
    * range shuffle, no collect of chain rows. Every row checks that its id
    * falls inside its split's counted range, so an action whose scan
    * splits or packs the pieces differently (a piece that grew, a changed
    * `spark.sql.files.*` setting) fails instead of misnumbering.
    *
    * The total step count is stamped on `step`'s metadata ([[StepsKey]]).
    */
  def readChain(spark: SparkSession, dir: String, mainFile: String = "chain_1.txt"): DataFrame = {
    import spark.implicits._
    val paths = {
      val main = s"$dir/$mainFile"
      val sep = discoverSeparated(dir)
      (if (new java.io.File(main).exists()) Seq(main) else Seq.empty) ++ sep
    }
    require(paths.nonEmpty, s"no chain files in $dir")
    val lines = parse(spark.read.textFile(paths: _*).toDF("value"))
      .select(input_file_name().as("file"), input_file_block_start().as("block"),
        monotonically_increasing_id().as("id"), col("vals"))

    // (file URI, split offset, lines, first id): one row per split; a
    // task's ids increase, so a split's first id is the first one seen
    val splits = lines.select("file", "block", "id").as[(String, Long, Long)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[(String, Long), (Long, Long)]
        rows.foreach { case (f, b, id) =>
          val (n, first) = acc.getOrElse((f, b), (0L, id))
          acc((f, b)) = (n + 1, first)
        }
        acc.iterator.map { case ((f, b), (n, first)) => (f, b, n, first) }
      }.collect()

    // input_file_name() is a URL-encoded URI; pieces are matched by name
    val pieceOf = paths.map(p => Paths.get(p).getFileName.toString).zipWithIndex.toMap
    def piece(uri: String): Int = pieceOf(new org.apache.hadoop.fs.Path(new java.net.URI(uri)).getName)
    val ordered = splits.sortBy { case (f, b, _, _) => (piece(f), b) }
    val starts = ordered.scanLeft(0L)(_ + _._3)
    val table: Map[String, Map[Long, Split]] =
      ordered.zip(starts).groupBy(_._1._1).map { case (f, ss) =>
        f -> ss.map { case ((_, b, n, first), start) => b -> Split(first, n, start) }.toMap }

    // the lookup is its own projection so that it runs once per row
    val split = col("split")
    val rel = col("id") - split("first")
    val step = when(rel >= 0 && rel < split("lines"), split("start") + rel)
      .otherwise(raise_error(lit(
        s"the chain files in $dir changed, or are split differently, since they were counted: read the chain again")))
    val stamp = new MetadataBuilder().putLong(StepsKey, starts.last).build()
    lines
      .select(col("id"), col("vals"),
        element_at(element_at(typedLit(table), col("file")), col("block")).as("split"))
      .select(step.cast("long").as("step", stamp), col("vals"))
  }

  /** J5: (step, vals) → (step, par, value) by [[pivot]]; the diagnostic
    * columns past `pars` are dropped and the [[StepsKey]] stamp is kept. */
  def toLong(chain: DataFrame, pars: Seq[String]): DataFrame =
    pivot(chain, "step", pars)

  /** F8: burn-in — drop the first `frac` of steps (results.py:499). The
    * step count comes from the [[StepsKey]] stamp [[readChain]] put on
    * `step`, so this runs no job; a frame without it is rejected. */
  def burned(chainLong: DataFrame, frac: Double = 0.25): DataFrame = {
    val stamp = chainLong.schema("step").metadata
    require(stamp.contains(StepsKey),
      s"`step` has no '$StepsKey' metadata: read the chain with ChainReader.readChain")
    chainLong.filter(col("step") >= math.floor(frac * stamp.getLong(StepsKey)).toLong)
  }

  /** F6: parameter-name mask — OR of substring matches (results.py:516-524). */
  def parMask(chainLong: DataFrame, substrings: Seq[String]): DataFrame =
    if (substrings.isEmpty) chainLong
    else chainLong.filter(substrings.map(col("par").contains(_)).reduce(_ || _))
}
