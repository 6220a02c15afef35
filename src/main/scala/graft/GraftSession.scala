package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * Tuned for the harness (single-JVM `local[N]`) but with settings chosen
  * for cluster scale: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to cores rather than the
  * 200 default, and a pinned UTC session timezone (the reference pins
  * Asia/Ho_Chi_Minh at every DAG boundary — see
  * reference plugins/operators/casreport_to_ods.py:79-86; we pin once at
  * the session instead so window arithmetic is deterministic).
  *
  * [[engineConf]] holds the settings every graft session needs whatever
  * its size; the mains and the test session apply it and choose only
  * their master, cores, shuffle partitions and cleaner cadence.
  */
object GraftSession {

  /** Engine-wide session settings.
    *
    * Codegen reuse. The generated-class cache holds 100 entries by default
    * and a many-operator pipeline thrashes it (every micro-batch tick
    * recompiling its stages); stage ids in class names defeat the cache for
    * identical code planned at different stage ids (together 16.4 → 10.3 s
    * on the worst streaming drain, OPTIMIZATION_r21.md §1). Spark also keys
    * the cache on the thread's context class loader, and with session artifact
    * isolation on (the default) every session — each `writeStream.start()`
    * clones one — gets its own class loader, so each drain call recompiled
    * every task-side class: 115–135 Janino compiles per admission tick,
    * 85–95% of them byte-identical to a class from an earlier tick. The
    * engine never adds session artifacts, so isolation has nothing to keep
    * apart. Spark reads that flag only when a session is created; stream
    * clones and `newSession()` inherit it.
    *
    * Fork-free local files. Without libhadoop, Hadoop's local filesystem
    * forks a `chmod` process per created file or directory (about 200 per
    * admission tick, 8–10 ms each in a JVM with a 2 GB heap);
    * [[ForkFreeLocalFileSystem]] sets the same modes through NIO. For the
    * same reason the FileContext-based streaming checkpoint manager is
    * replaced: on the local filesystem it stats every temp-file rename
    * target with a forked `readlink`, and Spark 4.1's checkpoint-checksum
    * wrapper doubles the committed files. The FileSystem-based manager
    * renames via File.renameTo — atomic on POSIX, zero forks. On an
    * HDFS/S3 checkpoint dir the FileContext default renames via RPC and
    * stays preferable: `SPARK_GRAFT_CKPT_FM` and `SPARK_GRAFT_CKPT_CHECKSUM`
    * override the two checkpoint settings for that deployment.
    *
    * testdata events.parquet carries TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects outright; it is read as long nanos and
    * converted at the accessor ([[Tables.events]]).
    */
  val engineConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.sql.streaming.checkpointFileManagerClass" -> sys.env.getOrElse("SPARK_GRAFT_CKPT_FM",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))

  def builder(appName: String = "graft", cores: String = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config(engineConf)

  def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
