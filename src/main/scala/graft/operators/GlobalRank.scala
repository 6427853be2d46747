package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scalable global ranking: `row_number() OVER (ORDER BY ...)` and
  * `COUNT(*) OVER ()` without a single-partition WindowExec.
  *
  * Spark's `Window.orderBy(...)` with no `partitionBy` moves ALL rows to one
  * partition ("WindowExec: No Partition Defined" warning) — a non-starter at
  * 100 TB. This operator keeps the data distributed:
  *
  *  1. `repartitionByRange(sort)` + `sortWithinPartitions(sort)` — one range
  *     shuffle, the same work a global `orderBy` does;
  *  2. a lightweight counting job over the sorted partitions (reads the
  *     shuffle output once more, the expensive map stage is reused);
  *  3. per-partition streaming rank with the partition's start offset added
  *     (`mapPartitionsWithIndex` — genuine per-partition imperative logic,
  *     the documented last-resort RDD case).
  *
  * The result is exact and deterministic PROVIDED `sort` is a total order
  * (include a unique tiebreak column); with duplicate sort keys spanning a
  * range boundary, tie order — like any engine's ROW_NUMBER — is unspecified.
  *
  * Reference behavior this replaces: numpy row-order slicing of MCMC chains
  * that have no dense step column ([[graft.analytics.Chain.burnThin]] and
  * the fraction splits, results.py:664-691) and equal-count binning
  * (results.py:305-347). The chain loader does not rank:
  * [[graft.sources.ChainReader.readChain]] numbers its steps from
  * per-split line counts of its one scan.
  */
object GlobalRank {

  /** Knuth multiplicative hash of a BIGINT id into [0, 2³²) — the
    * deterministic pseudo-random order SHARED by the training-order
    * permutation (ord1 / tm1 / mf1 / mkl1 / CorpusExport.writeOrderedShards)
    * and dsir1's Gumbel uniforms, and mirrored literally in their DuckDB
    * oracles. ONE definition so the cross-query contract cannot drift: a
    * typo'd constant in a single copy would silently reorder only that
    * query's output.
    *
    * The multiply routes through DECIMAL(38,0): for id ≥ 2⁶³/2654435761
    * ≈ 3.47e9 (a realistic id space at the 100 TB posture) the bigint
    * product overflows — Spark under ANSI throws where DuckDB promotes to
    * HUGEINT and keeps the exact mod-2³² residue. The decimal route
    * computes that same exact residue (and is bit-identical to the long
    * path for every smaller id), so the SQL mirrors stay literal. */
  def knuthHash(id: Column): Column =
    ((id.cast("decimal(38,0)") * lit(2654435761L)) % lit(4294967296L))
      .cast("long")

  /** `df` + 1-based global rank column `rn` by `sort` + (optionally) the
    * total row count as column `n` — both computed in one shuffle plus one
    * lightweight counting pass (no single-partition stage anywhere). */
  def withRowNumber(df: DataFrame, sort: Seq[Column], rn: String = "rn",
      nTotal: Option[String] = Some("n")): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, sort: _*).sortWithinPartitions(sort: _*)
    val rdd = sorted.rdd // memoized: both jobs below share the shuffle stage
    // Job 1: per-partition row counts — partition METADATA (numParts values),
    // not data, so the driver collect is safe at any scale.
    val counts = rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)),
      preservesPartitioning = true).collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val bcOff = spark.sparkContext.broadcast(offsets)
    val extra = nTotal.toSeq
    // Job 2: streaming rank; the shuffle map stage from job 1 is skipped.
    val rows = rdd.mapPartitionsWithIndex { (i, it) =>
      var r = bcOff.value(i)
      it.map { row =>
        r += 1
        Row.fromSeq(row.toSeq ++ (r +: extra.map(_ => total)))
      }
    }
    val schema = extra.foldLeft(sorted.schema.add(rn, LongType, nullable = false)) {
      (sch, nm) => sch.add(nm, LongType, nullable = false)
    }
    spark.createDataFrame(rows, schema)
  }

  /** `df` + an inclusive global running total of `value` ordered by `sort`
    * (`SUM(value) OVER (ORDER BY sort ROWS UNBOUNDED PRECEDING)`) without a
    * single-partition WindowExec — same two-pass shape as [[withRowNumber]]:
    * one range shuffle, a per-partition-sums job (numParts longs to the
    * driver — metadata, not data), then a streaming per-partition scan with
    * broadcast start offsets. `value` must cast losslessly to long (token
    * counts, byte sizes); integer accumulation keeps the result exact and
    * order-independent at any scale. */
  def withPrefixSum(df: DataFrame, sort: Seq[Column], value: Column,
      out: String = "cum"): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val tagged = df.withColumn("__psv", value.cast(LongType))
    val sorted = tagged.repartitionByRange(parts, sort: _*).sortWithinPartitions(sort: _*)
    val vIdx = sorted.schema.fieldIndex("__psv")
    val rdd = sorted.rdd // memoized: both jobs share the shuffle stage
    val sums = rdd.mapPartitionsWithIndex((i, it) => {
      var s = 0L; it.foreach(r => s += r.getLong(vIdx)); Iterator((i, s))
    }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)
    val offsets = sums.scanLeft(0L)(_ + _)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val rows = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = bcOff.value(i)
      it.map { row => s += row.getLong(vIdx); Row.fromSeq(row.toSeq :+ s) }
    }
    val schema = sorted.schema.add(out, LongType, nullable = false)
    spark.createDataFrame(rows, schema).drop("__psv")
  }

  /** SQL NTILE(k) computed from a global rank: the first `n % k` tiles get
    * `ceil(n/k)` rows, the rest `floor(n/k)` — exact NTILE semantics without
    * the single-partition window. `rn` is 1-based, `n` the total count. */
  def ntileFromRank(rn: Column, n: Column, k: Int): Column = {
    val base = ((n - n % k) / k).cast("long") // floor(n/k), exact for n < 2^53
    val rem = (n % k).cast("long")
    val bigSpan = rem * (base + 1)
    when(rn <= bigSpan, (rn - 1 - ((rn - 1) % (base + 1))) / (base + 1) + 1)
      .otherwise(rem + ((rn - bigSpan - 1) - ((rn - bigSpan - 1) % base)) / base + 1)
      .cast("long")
  }
}
