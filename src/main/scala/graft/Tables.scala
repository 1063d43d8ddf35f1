package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.Published

/** Loaders for the driver-generated parquet fixture tables
  * (see TESTDATA.md / FIXTURES.md §B). All reads go through here so
  * schema expectations and scan options live in one place.
  *
  * Scale notes: each table is a single parquet file locally, but the
  * loaders make no single-file assumption — `spark.read.parquet` on a
  * directory of many files / a partitioned layout works identically on
  * a real cluster. Filters and projections applied by callers are
  * pushed into the scan by Catalyst (verify via `PushedFilters` in
  * `df.explain("formatted")`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `dir/name.parquet`, read once per session and table file
    * inventory ([[graft.state.Published]]): repeated loads of the same
    * table otherwise re-list files and re-read parquet footers on
    * every query — measurable fixed cost when a suite runs 50 queries
    * against the same ten tables — and a table rewritten in place is
    * re-read. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Published(spark, s"tables.$name", dir, Published.inventory(dir, name))(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` normalized to a session-zoned TIMESTAMP regardless of
    * the on-disk encoding. Fixture generations have shipped two
    * layouts, both handled here so the whole engine sees one shape:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's reader rejects it unless the
    *    session sets `spark.sql.legacy.parquet.nanosAsLong=true` (all
    *    graft entry points do, at builder time — a no-op for other
    *    layouts). The raw nanosecond long is truncated to microseconds
    *    with integer arithmetic (`div` — a double round-trip would
    *    lose precision above 2^53 ns), matching DuckDB's truncating
    *    ns→µs read.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ; cast to the session-zoned type (sessions run
    *    UTC, so the wall clock — and every downstream date/hour
    *    bucket — is unchanged, and DuckDB's naive read agrees).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(s, load(s, d, "events"))

  /** See [[events]] — shared with the streaming reader, which must
    * normalize the same way so batch and micro-batch plans agree. */
  def normalizeEventsTs(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        require(s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
          .contains("true"),
          "events.ts read as LongType implies TIMESTAMP(NANOS) data: " +
            "build the session with spark.sql.legacy.parquet.nanosAsLong=true")
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ→timestamp cast interprets the wall clock in the
        // session zone; anything but UTC would silently shift every
        // instant (the LongType branch fails loudly via require when
        // its config is missing — be symmetric here). Normalized via
        // ZoneId so the equivalent spellings (Etc/UTC, GMT, +00:00)
        // pass too, not just the literal "UTC".
        val tz = s.conf.get("spark.sql.session.timeZone")
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          s"events.ts read as TIMESTAMP_NTZ is cast in the session zone " +
            s"(currently '$tz'): build the session with a UTC " +
            "spark.sql.session.timeZone")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
