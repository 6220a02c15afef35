package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.marts.Marts
import graft.meta.{MetaStore, TaskResult}
import graft.ops.Normalize
import graft.pipeline.{Layout, ManifestStore}
import graft.schema.{MergeGuard, TableConfig}
import graft.sources.{Staging, Windowed, WatermarkStore}
import graft.validate.Checks

/** The ODS table and its day mart that `cdc_merge` writes once per
  * cycle. */
object Ods {
  val keys = Seq("l_orderkey", "l_linenumber")

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("l_comment", StringType),
    StructField("updated_at", TimestampType)))

  /** Source naming of the raw change feed -> ODS naming. */
  val renames: Map[String, String] = Map(
    "OrderKey" -> "l_orderkey", "LineNumber" -> "l_linenumber", "PartKey" -> "l_partkey",
    "SuppKey" -> "l_suppkey", "Quantity" -> "l_quantity", "ExtendedPrice" -> "l_extendedprice",
    "Discount" -> "l_discount", "Tax" -> "l_tax", "ReturnFlag" -> "l_returnflag",
    "LineStatus" -> "l_linestatus", "ShipDate" -> "l_shipdate", "Comment" -> "l_comment",
    "UpdatedAt" -> "updated_at")

  val cfg: TableConfig = TableConfig("ods.lineitem", schema, keys,
    cursorField = Some("updated_at"), guard = MergeGuard.TargetOlder("updated_at"),
    renameMap = renames, partitionCol = Some("ship_month"))

  def withMonth(df: DataFrame, tsCol: String, as: String): DataFrame =
    df.withColumn(as, date_format(col(tsCol), "yyyy-MM"))

  def window(feed: DataFrame, startUs: Long, endUs: Long): DataFrame =
    Windowed.cursorWindow(feed, "UpdatedAt",
      timestamp_micros(lit(startUs)), timestamp_micros(lit(endUs)))

  /** Raw window -> ODS rows: rename, scrub, coerce, partition column. */
  def normalize(raw: DataFrame): DataFrame =
    withMonth(Normalize.ingest(raw, cfg), "l_shipdate", "ship_month")

  private val money = DecimalType(38, 2)

  /** Day x return-flag rollup of (signed) rows; sums stay DECIMAL so
    * merged partials are exact. */
  def rollup(rows: DataFrame, sign: Column): DataFrame =
    withMonth(Marts.dayRollup(rows.withColumn("__s", sign), "l_shipdate", Seq("l_returnflag"),
      Seq(sum(col("l_quantity").cast(money) * col("__s")).cast(money).as("sum_qty"),
        sum(col("l_extendedprice").cast(money) * col("__s")).cast(money).as("sum_price"),
        sum(col("__s")).cast(LongType).as("n"))), "day", "month")

  val martKeys = Seq("day", "l_returnflag", "month")
  val martMeasures = Seq("sum_qty", "sum_price", "n")
}

/** `cdc_merge`: one op is one ODS cycle over the seeded change feed,
  * scheduled by the generator: a 5-minute cycle over the next cursor
  * window, or a backdate cycle that re-pulls the day's windows including
  * the changes that landed late, then compacts and vacuums. */
final class CdcMerge(spark: SparkSession, data: String, work: String) extends Workload {
  private val meta = Json.read(s"$data/meta.json")
  private val cycles = meta.get("cycles").asScala.toIndexedSeq
  private val every = meta.get("params").get("backdate_every").asInt
  private val odsRoot = s"$work/ods"
  private val martRoot = s"$work/mart"
  private val stagingRoot = s"$work/staging"
  private val stagingPath = Staging.stagingPath(stagingRoot, Ods.cfg)
  private val roots = Seq(odsRoot, martRoot, stagingRoot)

  // zone maps on the cursor let the post-commit audit skip every file
  // that holds no row of the cycle
  private val store = new ManifestStore(spark, odsRoot, "ship_month",
    statsCols = Seq("updated_at"))
  private val mart = new ManifestStore(spark, martRoot, "month")
  private val watermarks = new WatermarkStore(spark, s"$work/watermarks")
  private val runs = new MetaStore(spark, s"$work/meta")
  private lazy val feed = spark.read.parquet(s"$data/changelog.parquet")
  // the source as a backdate sees it: late arrivals have landed
  private lazy val landed = feed.unionByName(spark.read.parquet(s"$data/late.parquet"))

  val warmupOps = 1
  /** A pass is one simulated day: its 5-minute cycles and the backdate
    * that closes it. */
  override val passSize: Int = every
  val passSeconds = 20.0

  private var done = 0
  private var staged = 0L
  private var audited = -1L
  private var affected = Seq.empty[String]
  private var before = Map.empty[String, Long]
  private var userBytes = 0L
  private var writtenBytes = 0L
  private var diskSamples = Vector.empty[Long]

  def setup(): Unit = {
    val base = spark.read.parquet(s"$data/ods_base.parquet")
    store.snapshot(base)
    mart.snapshot(Ods.rollup(base, lit(1L)))
  }

  override def prepare(i: Int): Unit = before = Disk.snapshot(roots)

  def op(i: Int, tr: Trace): Unit = {
    val c = cycles(i)
    val backdate = c.get("kind").asText == "backdate"
    val startUs = c.get("start_us").asLong
    val endUs = c.get("end_us").asLong
    val rows = Ods.normalize(Ods.window(if (backdate) landed else feed, startUs, endUs))
    tr.span("validate") {
      Checks.enforce(Seq(Checks.schemaMatches(rows, Ods.schema),
        Checks.notNull(rows, Ods.keys :+ "updated_at")))
    }
    staged = tr.span("sources")(Staging.overwrite(rows, stagingPath))
    tr.count("sources.staged_rows", staged.toDouble)
    val v0 = store.latestManifestVersion.get
    val pre = if (tr.enabled) Disk.list(odsRoot) else Map.empty[String, Long]
    affected = tr.span("pipeline.upsert")(store.upsert(Staging.read(spark, stagingPath), Ods.cfg))
    if (tr.enabled) {
      val (files, bytes) = Disk.written(pre, Disk.list(odsRoot))
      tr.count("pipeline.commits", 1)
      tr.count("pipeline.commit_partitions", affected.size.toDouble)
      tr.count("pipeline.commit_files", files.toDouble)
      tr.count("pipeline.commit_bytes", bytes.toDouble)
    }
    val v1 = store.latestManifestVersion.get
    audited = tr.span("pipeline.read") {
      // audit what was published: the cycle's rows, read back by cursor
      def at(us: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, us * 1000))
      val (df, st) = store.readPruned(Seq(Layout.RangePred("updated_at",
        Some(at(startUs)), Some(at(endUs - 1))))).get
      tr.count("pipeline.files_selected", st.selectedFiles.toDouble)
      tr.count("pipeline.files_total", st.totalFiles.toDouble)
      df.collect().length.toLong
    }
    tr.span("marts") {
      // signed change feed of this commit -> additive mart delta
      val cdf = store.changes(v0, v1, Ods.keys, updatePreimage = true)
      val sign = when(col("_change").isin("insert", "update_postimage"), 1L)
        .when(col("_change").isin("delete", "update_preimage"), -1L)
      val delta = Ods.rollup(cdf, sign)
      val merged = Marts.mergeRollup(mart.readPartitions(affected).get, delta,
        Ods.martKeys, Ods.martMeasures)
      mart.overwritePartitions(merged.select(
        (Ods.martKeys ++ Ods.martMeasures).map(col): _*))
    }
    tr.span("meta") {
      val end = java.time.Instant.ofEpochSecond(0, endUs * 1000).toString
      watermarks.set(Ods.cfg.name, end)
      val now = System.currentTimeMillis()
      runs.log(TaskResult("cdc_merge", Ods.cfg.name, end.take(10), now, now, 0.0,
        isSuccess = true, s"staged=$staged partitions=${affected.size}", 1))
    }
    if (backdate) tr.span("pipeline.maintenance") {
      store.compact(); store.vacuum(keepManifests = 4)
      mart.compact(); mart.vacuum(keepManifests = 4)
    }
  }

  def check(i: Int, tr: Trace): Boolean = {
    val c = cycles(i)
    done = i + 1
    val after = Disk.snapshot(roots)
    val stagingBytes = Disk.list(stagingRoot).values.sum
    if (i >= warmupOps) {
      userBytes += stagingBytes
      writtenBytes += Disk.written(before, after)._2
      diskSamples :+= Disk.bytes(Seq(odsRoot, martRoot))
    }
    if (tr.enabled) tr.count("pipeline.live_segments", store.liveSegments.toDouble)
    val months = c.get("months").asScala.map(_.asText).toSeq.sorted
    staged == c.get("rows").asLong && audited == c.get("keys").asLong &&
      affected.sorted == months
  }

  /** Final table and mart for the external check against the change
    * feed; amplification against the live rows written once. */
  def finish(): Map[String, Any] = {
    // written once, compacted: both the checked result and the
    // reference size for space amplification
    store.read.get.coalesce(1).write.parquet(s"$work/final/ods")
    mart.read.get.coalesce(1).write.parquet(s"$work/final/mart")
    val compacted = Disk.bytes(Seq(s"$work/final"))
    Map("final_dir" -> s"$work/final", "cycles" -> done,
      "write_amp" -> writtenBytes.toDouble / userBytes,
      "space_amp" -> Stats.median(diskSamples.map(_.toDouble)) / compacted)
  }
}
