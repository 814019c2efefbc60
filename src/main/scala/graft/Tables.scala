package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Schema-typed loaders for the driver-generated test tables
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All loaders are plain parquet scans — column pruning and filter
  * pushdown happen in the caller's plan (verify with
  * `.explain("formatted")` → `ReadSchema` / `PushedFilters`).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** JSON source with a DECLARED schema — the reference's Bronze layer
    * is raw JSON validated against declared StructTypes
    * (reference: ingestion/fetch_movies.py:37-45, src/schemas.py).
    *
    * The explicit schema matters twice at 100 TB: it skips Spark's
    * schema-inference pre-pass (a full extra scan of every file), and it
    * pins column types so drift in upstream payloads surfaces as
    * parse-mode failures instead of silent type changes.
    *
    * `mode`:
    *  - "FAILFAST" (default) — any malformed record aborts the read: the
    *    right choice for Bronze ingestion where bad data must be loud.
    *  - "PERMISSIVE" with `corruptColumn` — malformed records land with
    *    nulls + the raw line in `corruptColumn`, so a [[etl.Validate]]
    *    rule can route them to a rejected sink (the reference's
    *    valid/rejected routing).
    */
  def readJson(
      spark: SparkSession,
      path: String,
      schema: StructType,
      mode: String = "FAILFAST",
      corruptColumn: Option[String] = None): DataFrame = {
    val withCorrupt = corruptColumn.fold(schema)(c => schema.add(c, "string"))
    val reader = spark.read.schema(withCorrupt).option("mode", mode)
    corruptColumn.fold(reader)(c => reader.option("columnNameOfCorruptRecord", c)).json(path)
  }

  /** CSV source with a DECLARED schema — same contract as [[readJson]]
    * (no inference pre-pass, FAILFAST by default, PERMISSIVE +
    * `corruptColumn` for reject routing). */
  def readCsv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      mode: String = "FAILFAST",
      corruptColumn: Option[String] = None): DataFrame = {
    val withCorrupt = corruptColumn.fold(schema)(c => schema.add(c, "string"))
    val reader = spark.read.schema(withCorrupt)
      .option("mode", mode).option("header", header.toString)
    corruptColumn.fold(reader)(c => reader.option("columnNameOfCorruptRecord", c)).csv(path)
  }

  /** ORC source with a DECLARED schema — the other columnar format next
    * to parquet (same footer statistics / predicate-pushdown story; no
    * corrupt-record mode: ORC is self-describing binary, so a malformed
    * file fails the read rather than yielding half-parsed rows). The
    * declared schema prunes and type-checks the projection exactly as
    * the parquet loaders do. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.parquet` has shipped `ts` in three physical generations, and
    * the loader must normalize all of them to session-TZ `TimestampType`
    * so every downstream consumer (`unix_micros`, window ranges, as-of
    * joins) sees one contract:
    *
    *  - parquet TIMESTAMP(NANOS): Spark cannot represent nanos natively;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` set at session
    *    construction (`Harness.session` and the test sessions do) it arrives as LONG,
    *    and we rebuild microseconds with integer division (double division
    *    would lose precision above 2^53 ns).
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ; cast to TimestampType. Sessions here run UTC, so
    *    the wall-clock reinterpretation preserves the instant exactly and
    *    DuckDB-oracle comparisons stay bit-identical.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=true): already
    *    TimestampType — pass through.
    *
    * All arms are narrow maps (or no-ops) — no shuffle. The nanosAsLong
    * conf is NOT mutated here: a loader silently flipping shared session
    * config is a hidden side effect and race-prone across concurrent
    * queries; it is harmless when set against MICROS files.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType           => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType   => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType      => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — expected LONG (nanosAsLong), " +
          "TIMESTAMP_NTZ, or TIMESTAMP; a new testdata generation needs a loader arm here")
    }
  }
}
