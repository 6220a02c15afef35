package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `op(i)` is one unit of user work and is the
  * only thing timed; `prepare`/`check` run outside the op's wall (landing
  * inputs, store listings, result checks). Ops 0 until `warmupOps` run
  * in setup and are not timed. */
trait Workload {
  def warmupOps: Int
  /** Ops per pass; a run times whole passes, so every run covers the
    * same op mix. */
  def passSize: Int = 1
  /** Wall of one pass on the reference box (4 cores); a run of S
    * seconds times round(S / passSeconds) passes (at least one, two when
    * traced), so the op count of a run never depends on how fast the box
    * happens to be. */
  def passSeconds: Double
  def setup(): Unit
  def prepare(i: Int): Unit = ()
  def op(i: Int, tr: Trace): Unit
  /** True when op `i`'s output is complete and correct. */
  def check(i: Int, tr: Trace): Boolean
  /** Untimed end-of-run work: dumps for the external checks and the
    * amplification figures. */
  def finish(): Map[String, Any]
}

/** Benchmark entry point: one client thread in a closed loop. Writes one
  * JSON result file; `perfbench/run.py` turns it into the metrics line.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --out FILE --trace_out FILE
  */
object Main {
  def main(args: Array[String]): Unit =
    // Spark's non-daemon threads would keep a failed run alive
    try { measure(args); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def measure(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    Disk.delete(work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val spark = graft.GraftSession.builder("perfbench", cores = cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val off = new Trace(spark, enabled = false)
    val on = new Trace(spark, enabled = traced)
    val wl: Workload = workload match {
      case "cdc_merge" => new CdcMerge(spark, opt("data"), work)
      case "admission_stream" => new AdmissionStream(spark, opt("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val records = mutable.ArrayBuffer[OpRecord]()
    def run(i: Int, tr: Trace): OpRecord = {
      wl.prepare(i)
      tr.beginOp(i)
      val t0 = System.nanoTime()
      val error = try { tr.span("op")(wl.op(i, tr)); None }
      catch { case e: Throwable => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      tr.endOp()
      val ok = error.isEmpty && (try wl.check(i, tr) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i check threw: $e"); false
      })
      error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      OpRecord(i, wall, ok, tr.enabled)
    }

    def since(ms: Long) = (System.currentTimeMillis() - ms) / 1e3
    System.err.println(f"[perfbench] session ready at ${since(jvmStartMs)}%.1f s")
    wl.setup()
    System.err.println(f"[perfbench] fixture ready at ${since(jvmStartMs)}%.1f s")
    (0 until wl.warmupOps).foreach { i =>
      val r = run(i, off)
      require(r.ok, s"warm-up op $i failed")
    }
    val setupS = since(jvmStartMs)
    System.err.println(f"[perfbench] warm-up done at $setupS%.1f s")

    val rss = new RssSampler
    rss.start()
    val passes = math.max(if (traced) 2L else 1L, math.round(seconds / wl.passSeconds)).toInt
    (0 until passes * wl.passSize).foreach { k =>
      // traced run: each position of the pass is traced in one pass and
      // untraced in the next, so the two medians compare the same op mix
      // and the ratio of the two is the tracing overhead
      val tracedOp = traced && (k % wl.passSize + k / wl.passSize) % 2 == 1
      if (tracedOp) { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); on.install() }
      records += run(wl.warmupOps + k, if (tracedOp) on else off)
      if (tracedOp) on.uninstall()
    }
    rss.finish()

    val finish = wl.finish()
    val layers = if (traced) Layers.compute(on, records.toSeq, cores) else Map.empty[String, Double]
    if (traced) {
      on.writeJsonl(opt("trace_out"),
        Seq(Json.obj("per_layer" -> layers, "unsupported" ->
          Layers.all.filterNot(n => layers.get(n).exists(_ != 0.0)))))
    }
    val env = Map(
      "nproc" -> cores,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    val out = Json.obj(
      "workload" -> workload,
      "seed" -> opt("seed").toLong,
      "setup_s" -> setupS,
      "rss_peak_mb" -> rss.peakMb,
      "ops" -> records.map(r => Json.Raw(Json.obj(
        "i" -> r.index, "wall_s" -> r.wallS, "ok" -> r.ok, "traced" -> r.traced))),
      "per_layer" -> layers,
      "finish" -> finish,
      "env" -> env)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out)
    spark.stop()
  }
}

final case class OpRecord(index: Int, wallS: Double, ok: Boolean, traced: Boolean)

/** Peak resident set size of this JVM over the timed phase, sampled
  * every 20 ms. */
final class RssSampler extends Thread("perfbench-rss") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakMb: Double = Trace.rssMb()
  override def run(): Unit = while (running) {
    peakMb = math.max(peakMb, Trace.rssMb())
    Thread.sleep(20)
  }
  def finish(): Unit = {
    running = false
    join()
    peakMb = math.max(peakMb, Trace.rssMb())
  }
}

/** Per-layer metrics from the traced ops' spans and counters. */
object Layers {
  // span name -> metric: median over traced ops of the op's summed span wall
  private val walls = Seq(
    "sources" -> "sources.stage_s",
    "validate" -> "validate.check_s",
    "pipeline.upsert" -> "pipeline.upsert_s",
    "pipeline.maintenance" -> "pipeline.maintenance_s",
    "pipeline.read" -> "pipeline.read_s",
    "marts" -> "marts.refresh_s",
    "meta" -> "meta.record_s",
    "streaming.minhash" -> "streaming.minhash_drain_s",
    "streaming.ivf" -> "streaming.ivf_drain_s")
  // counters averaged per traced op
  private val perOp = Seq(
    "sources.staged_rows", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s",
    "llm.index_files_per_tick", "llm.index_bytes_per_tick",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.codegen_compiles", "plan.codegen_compile_s",
    "scan.bytes_read", "scan.records_read", "scan.files_read",
    "shuffle.bytes_written", "shuffle.bytes_read",
    "exec.jobs", "exec.tasks", "exec.task_s", "exec.spill_bytes",
    "jvm.gc_pause_s", "jvm.gc_count")
  // gauges: median over the traced ops that recorded them
  private val gauges = Seq("pipeline.live_segments", "llm.live_segments", "jvm.rss_mb")
  // ratio metrics: numerator and denominator counters summed over ops
  private val ratios = Seq(
    "pipeline.partitions_per_commit" -> ("pipeline.commit_partitions", "pipeline.commits"),
    "pipeline.files_per_commit" -> ("pipeline.commit_files", "pipeline.commits"),
    "pipeline.bytes_per_commit" -> ("pipeline.commit_bytes", "pipeline.commits"),
    "pipeline.files_selected_ratio" -> ("pipeline.files_selected", "pipeline.files_total"),
    "llm.minhash.admitted_ratio" -> ("llm.minhash.admitted", "llm.minhash.candidates"),
    "llm.ivf.admitted_ratio" -> ("llm.ivf.admitted", "llm.ivf.candidates"))
  private val derived = Seq("streaming.start_stop_s", "shuffle.skew", "exec.busy_ratio",
    "trace.overhead_ratio")

  val all: Seq[String] =
    (walls.map(_._2) ++ perOp ++ gauges ++ ratios.map(_._1) ++ derived).sorted

  def compute(tr: Trace, records: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val traced = records.filter(_.traced)
    val tracedIds = traced.map(_.index.toLong).toSet
    val spans = tr.opSpans.filter(s => tracedIds(s.op))
    val counters = tr.opCounters.filter { case (o, _) => tracedIds(o) }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def c(o: Long, name: String) = counters.get(o).flatMap(_.get(name))
    def total(name: String) = counters.values.flatMap(_.get(name)).sum
    val n = math.max(1, traced.size)
    val m = mutable.LinkedHashMap[String, Double]()
    walls.foreach { case (span, metric) =>
      m(metric) = med(spans.filter(_.name == span).groupBy(_.op).values
        .map(_.map(_.seconds).sum).toSeq)
    }
    perOp.foreach(name => m(name) = total(name) / n)
    gauges.foreach(name => m(name) = med(tracedIds.toSeq.flatMap(c(_, name))))
    ratios.foreach { case (metric, (num, den)) =>
      val d = total(den)
      m(metric) = if (d > 0) total(num) / d else 0.0
    }
    val drains = spans.filter(s => s.name.startsWith("streaming.")).groupBy(_.op)
    m("streaming.start_stop_s") = med(drains.toSeq.map { case (o, ss) =>
      ss.map(_.seconds).sum - c(o, "streaming.trigger_s").getOrElse(0.0)
    })
    m("shuffle.skew") = med(tr.stageSkews)
    m("exec.busy_ratio") = total("exec.task_s") / (traced.map(_.wallS).sum * cores)
    val untraced = records.filterNot(_.traced).map(_.wallS)
    m("trace.overhead_ratio") =
      if (untraced.isEmpty || traced.isEmpty) 0.0 else med(traced.map(_.wallS)) / med(untraced)
    m.toMap
  }
}
