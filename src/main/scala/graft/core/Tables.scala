package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst pushes filters and prunes
  * columns into the scan (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`). Each scan is held in [[StageCache]] under
  * (session, dir, `<name>.parquet`): `spark.read.parquet` re-lists files
  * and re-reads footers on every call, as a metastore would cache, and a
  * hit is the same `DataFrame` instance. A rewritten `dir` is scanned
  * again, and `checkDrift` runs on every (re)load.
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    StageCache.get(spark, dir, s"$name.parquet")(
      checkDrift(name, spark.read.parquet(s"$dir/$name.parquet")))

  /** Tolerance classes for the drift guard: a regenerated file may widen
    * within a class (int32↔int64, float↔double, any timestamp encoding —
    * the `events` ts column has shipped as three different physical types)
    * but a cross-class change (string where a number was, a dropped
    * column) must fail HERE with the table and column named, not five
    * operators deep as an opaque analysis error. */
  private sealed trait Tol { def ok(t: DataType): Boolean; def name: String }
  private case object Integral extends Tol {
    val name = "integral"
    def ok(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true; case _ => false }
  }
  private case object Fractional extends Tol {
    val name = "fractional"
    def ok(t: DataType): Boolean = t match {
      case FloatType | DoubleType | _: DecimalType => true
      case t2 => Integral.ok(t2) } // int where a double was: upcast is safe
  }
  private case object Str extends Tol {
    val name = "string"; def ok(t: DataType): Boolean = t == StringType }
  private case object TimeLike extends Tol {
    val name = "timestamp-like"
    def ok(t: DataType): Boolean = t match {
      case TimestampType | TimestampNTZType | DateType | LongType => true
      case _ => false } // LongType: nanosAsLong legacy encoding
  }
  private case object FloatVec extends Tol {
    val name = "array<float|double>"
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true; case _ => false }
  }

  /** Required columns per table (TESTDATA.md). Additive drift — extra
    * columns — is allowed; operators select what they need. */
  private val expected: Map[String, Seq[(String, Tol)]] = Map(
    "region"   -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "nation"   -> Seq("n_nationkey" -> Integral, "n_name" -> Str,
                      "n_regionkey" -> Integral),
    "customer" -> Seq("c_custkey" -> Integral, "c_name" -> Str,
                      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
                      "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Integral, "s_name" -> Str,
                      "s_nationkey" -> Integral, "s_acctbal" -> Fractional),
    "part"     -> Seq("p_partkey" -> Integral, "p_name" -> Str,
                      "p_brand" -> Str, "p_type" -> Str,
                      "p_size" -> Integral, "p_retailprice" -> Fractional),
    "orders"   -> Seq("o_orderkey" -> Integral, "o_custkey" -> Integral,
                      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
                      "o_orderdate" -> TimeLike, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Integral, "l_partkey" -> Integral,
                      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
                      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
                      "l_discount" -> Fractional, "l_tax" -> Fractional,
                      "l_returnflag" -> Str, "l_linestatus" -> Str,
                      "l_shipdate" -> TimeLike),
    "events"   -> Seq("event_id" -> Integral, "ts" -> TimeLike,
                      "user_id" -> Integral, "event_type" -> Str,
                      "value" -> Fractional, "props" -> Str),
    "documents" -> Seq("doc_id" -> Integral, "text" -> Str, "lang" -> Str,
                      "source" -> Str, "n_chars" -> Integral),
    "embeddings" -> Seq("vec_id" -> Integral, "embedding" -> FloatVec,
                      "label" -> Integral))

  private def checkDrift(table: String, df: DataFrame): DataFrame = {
    expected.get(table).foreach { cols =>
      val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val problems = cols.flatMap { case (c, tol) =>
        have.get(c) match {
          case None => Some(s"$c: MISSING (expected ${tol.name})")
          case Some(t) if !tol.ok(t) => Some(s"$c: scanned $t, expected ${tol.name}")
          case _ => None
        }
      }
      if (problems.nonEmpty) throw new IllegalStateException(
        s"schema drift in table '$table' is not tolerable: ${problems.mkString("; ")}. " +
        s"Scanned schema: ${df.schema.simpleString}")
    }
    df
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events` with its timestamp column normalised to a stable contract:
    * `ts` = TimestampType (µs precision, UTC instant), `ts_ns` = epoch
    * nanoseconds as a long. The physical file has shipped in three
    * encodings across driver regenerations, so we branch on the scanned
    * type instead of assuming one:
    *
    *  - INT64 TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong`
    *    it arrives as a long. Exact nanos become `ts_ns`; `ts` is the
    *    µs-truncated timestamp (integer `div` — a double division would
    *    lose precision above 2^53 ns).
    *  - timestamp[us] without UTC adjustment → TIMESTAMP_NTZ. The session
    *    time zone is pinned UTC ([[GraftSession]]), so `cast(ts as
    *    timestamp)` is an exact wall-clock→instant relabeling and
    *    `ts_ns = unix_micros(ts) * 1000`.
    *  - timestamp[us] UTC-adjusted → TimestampType, same derivation.
    *
    * DuckDB's `epoch_us(ts)` truncates nanos the same way, so µs-level
    * comparisons against the oracle are exact in every case.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
