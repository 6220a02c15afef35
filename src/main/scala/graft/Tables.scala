package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Accessors for the driver-generated test tables (TESTDATA.md).
  *
  * One parquet file per table under `/root/testdata/sf{0.001,0.01,0.1}/`.
  * These stand in for the reference's source systems (Oracle / MSSQL /
  * REST / SFTP-Excel — SURVEY.md §1.4): at cluster scale the same call
  * sites read JDBC-partitioned or object-store paths; the engine only ever
  * sees DataFrames.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    // testdata files are immutable for the run: the session-cached
    // footer schema (same converter + conf Spark's own inference uses)
    // drops the one schema-inference job EVERY schema-less parquet read
    // launches — across a 222-query bench pass that job ran per query
    graft.pipeline.SegmentIO.read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark can only read as
    * long nanos (spark.sql.legacy.parquet.nanosAsLong — set by
    * [[GraftSession.engineConf]]). Convert to TimestampType here with
    * integral FLOOR division (a double-precision divide on ~1.7e18 nanos
    * would be off by hundreds of ns, and a truncating `div` would round
    * pre-1970 negative nanos 1 µs too high where DuckDB's `epoch_ns//1000`
    * floors). `ts - pmod(ts, 1000)` is the floor multiple for either sign.
    */
  private val nanosToMicros = "(ts - pmod(ts, 1000)) div 1000"

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr(nanosToMicros)))
    else raw
  }

  /** Pushdown-safe cursor window over events. Filtering the CONVERTED ts
    * wraps the column in an expression, so only IsNotNull reaches the
    * parquet scan — a full table scan per window at scale. Micros
    * truncation is monotonic, so `micros(ts) >= T ⇔ ts_nanos >= T·1000`
    * exactly: filter the raw int64 nanos (pushes to row-group stats), then
    * convert. Bounds are 'yyyy-MM-dd[ HH:mm:ss]' strings read as UTC. */
  def eventsWindow(s: SparkSession, d: String, start: String, end: String): DataFrame = {
    val raw = read(s, d, "events")
    def nanos(t: String): Long =
      graft.sources.Windowed.parseBound(t).toInstant(java.time.ZoneOffset.UTC)
        .getEpochSecond * 1000000000L
    if (raw.schema("ts").dataType == LongType)
      raw.filter(col("ts") >= nanos(start) && col("ts") < nanos(end))
        .withColumn("ts", timestamp_micros(expr(nanosToMicros)))
    else
      raw.filter(col("ts") >= lit(start).cast("timestamp") && col("ts") < lit(end).cast("timestamp"))
  }

  /** [[eventsWindow]] with the window bounds interpreted as WALL-CLOCK
    * datetimes in `zone` rather than UTC — the reference computes every
    * cursor window in `Asia/Ho_Chi_Minh` before comparing against naive DB
    * timestamps (casreport_to_ods.py:79-86), so a daily 23:00-ICT run must
    * place the half-open boundary 7 hours earlier on the UTC axis. The
    * zone→instant conversion happens DRIVER-SIDE before the nanos literal
    * is built, so the filter still reaches parquet row-group stats. */
  def eventsWindowZoned(s: SparkSession, d: String, start: String, end: String,
                        zone: String): DataFrame = {
    def utc(t: String): String = graft.sources.Windowed.zonedToUtc(t, zone)
    eventsWindow(s, d, utc(start), utc(end))
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
