package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side of
  * the program's public API. Spans of one op share `op`; `parent` is the
  * enclosing span (0 for the op span itself). */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus per-op counters. With `enabled = false` every call is a
  * plain pass-through, so the untraced run measures the program alone.
  *
  * When enabled, [[install]] registers Spark's public listeners (task
  * metrics, query planning phases and scan metrics, streaming progress);
  * their callbacks add to the counters of the op that is current when
  * the event arrives. [[endOp]] drains the listener bus before the next
  * op starts, so no event of one op is booked to another. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[Long, mutable.Map[String, Double]]()
  private var nextId = 1L
  private var stack: List[Long] = Nil
  // `op` books the workload's own counts until the next op begins;
  // `listening` books listener events only while the op runs
  @volatile private var op = -1L
  @volatile private var listening = -1L
  // per (stage, attempt): shuffle bytes read by each task, for skew
  private val stageReads = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(op, id, parent, name, t0, t1)
      }
    }

  def count(name: String, v: Double): Unit = book(op, name, v)

  private def heard(name: String, v: Double): Unit = book(listening, name, v)

  private def book(o: Long, name: String, v: Double): Unit =
    if (enabled && o >= 0) synchronized {
      val m = counters.getOrElseUpdate(o, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  private var gcBase = (0L, 0L)
  private var compileBase = (0L, 0L)

  def beginOp(i: Long): Unit = if (enabled) {
    op = i
    listening = i
    gcBase = Trace.gc()
    compileBase = Trace.compiles()
  }

  /** Close op `op`: wait until Spark has delivered every listener event
    * the op caused, then book the JVM-side deltas. Listener events after
    * this point (the workload's checks) are not booked. */
  def endOp(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (gcMs, gcN) = Trace.gc()
    count("jvm.gc_pause_s", (gcMs - gcBase._1) / 1e3)
    count("jvm.gc_count", (gcN - gcBase._2).toDouble)
    val (cN, cNs) = Trace.compiles()
    count("plan.codegen_compiles", (cN - compileBase._1).toDouble)
    count("plan.codegen_compile_s", (cNs - compileBase._2) / 1e9)
    count("jvm.rss_mb", Trace.rssMb())
    listening = -1
  }

  def opSpans: Seq[Span] = spans.toSeq
  def opCounters: Map[Long, Map[String, Double]] =
    synchronized(counters.map { case (k, v) => k -> v.toMap }.toMap)

  /** Max over median task shuffle-read bytes, per stage whose tasks read
    * shuffle data (at least two such tasks). */
  def stageSkews: Seq[Double] = synchronized {
    stageReads.values.toSeq.flatMap { reads =>
      val rs = reads.filter(_ > 0).sorted
      if (rs.size < 2) None
      else {
        val med = Stats.median(rs.map(_.toDouble).toSeq)
        if (med > 0) Some(rs.last / med) else None
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = heard("exec.jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        heard("exec.tasks", 1)
        heard("exec.task_s", m.executorRunTime / 1e3)
        heard("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        heard("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        heard("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        heard("shuffle.bytes_written", m.shuffleWriteMetrics.bytesWritten.toDouble)
        val read = m.shuffleReadMetrics.totalBytesRead
        heard("shuffle.bytes_read", read.toDouble)
        if (listening >= 0) Trace.this.synchronized {
          stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty) += read
        }
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => heard(s"plan.${p}_s", s.durationMs / 1e3))
      }
      val files = planHelper.collect(qe.executedPlan) {
        case node if node.metrics.contains("numFiles") => node.metrics("numFiles").value
      }
      heard("scan.files_read", files.sum.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      Seq("triggerExecution" -> "streaming.trigger_s", "addBatch" -> "streaming.add_batch_s",
          "queryPlanning" -> "streaming.query_planning_s", "walCommit" -> "streaming.wal_commit_s")
        .foreach { case (k, name) => d.get(k).foreach(v => heard(name, v.longValue / 1e3)) }
    }
  }

  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON lines, each with its self time (duration minus the
    * part covered by its child spans), then one counters line per op. */
  def writeJsonl(path: String, extra: Seq[String]): Unit = {
    val children = spans.groupBy(_.parent)
    val lines = spans.sortBy(s => (s.op, s.startNs)).map { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.op == s.op)
      val self = s.endNs - s.startNs - Trace.covered(kids.map(k => (k.startNs, k.endNs)).toSeq)
      Json.obj("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self)
    } ++ opCounters.toSeq.sortBy(_._1).map { case (o, m) =>
      Json.obj("op" -> o, "counters" -> m)
    } ++ extra
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Trace {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  def gc(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  def compiles(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Resident set size of this JVM, from /proc/self/status. */
  def rssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmRSS:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
