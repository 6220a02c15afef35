package graft

import org.apache.spark.sql.SparkSession

/** Per-JOB attribution for ONE registry query — the measurement tool
  * guide §1 asks for, at a finer grain than Bench's ≥50 ms stage rows.
  *
  * Bench's listener groups jobs by job-group (the query name) but drops
  * the per-job DESCRIPTION, and the streaming drains' jobs run on the
  * stream thread under a UUID group, so a drain's per-tick fixed cost
  * was visible only as an opaque `batchN` wall. This main runs one
  * query (warm: pass 1 untimed, pass 2 attributed) and prints EVERY
  * job — id, seconds, description-or-callsite — so "batch0 = 2.7 s"
  * decomposes into its actual jobs (probe scan, checkpoint, store
  * commits, sink write) instead of staying a mystery.
  *
  * Usage: SPARK_GRAFT_PROFILE=stream_dedup_index [SPARK_GRAFT_SF_DIR=…]
  *        sbt "runMain graft.ProfileQuery"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = sys.env.getOrElse("SPARK_GRAFT_PROFILE",
      args.headOption.getOrElse(sys.error("set SPARK_GRAFT_PROFILE=<query>")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config(GraftSession.engineConf)
    // A/B hook: SPARK_GRAFT_PROFILE_CONF="k=v;k2=v2" layers arbitrary
    // conf over the Bench-identical session — the empirical loop of
    // guide §1.1 without recompiling per hypothesis
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

    final case class Job(id: Int, t0: Long, desc: String, var t1: Long = 0L,
                         var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    @volatile var recording = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (recording) {
          val p = Option(js.properties)
          val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
            .getOrElse("?")
          val j = Job(js.jobId, js.time, desc,
            stages = js.stageInfos.size,
            tasks = js.stageInfos.map(_.numTasks).sum)
          jobs.put(js.jobId, j); order.add(j)
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.t1 = je.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm pass: codegen + JIT compile outside the measurement
    fn(spark, sfDir).count()
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }

    // three timed passes (min printed): single-pass walls on this box
    // swing ±30% — the same reason Bench times twice and takes min
    val walls = (1 to 2).map { _ =>
      val t = System.nanoTime()
      fn(spark, sfDir).count()
      val w = (System.nanoTime() - t) / 1e9
      try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }
      w
    }
    recording = true
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    recording = false
    Thread.sleep(500) // listener bus drain
    println(f"== $name walls: ${(walls :+ wall).map(w => f"$w%.2f").mkString(", ")} min ${(walls :+ wall).min}%.2f s ==")

    import scala.jdk.CollectionConverters._
    val all = order.asScala.toSeq.filter(_.t1 > 0)
    val jobSum = all.map(j => (j.t1 - j.t0) / 1e3).sum
    println(f"== $name: wall ${wall}%.2f s, ${all.size} jobs summing ${jobSum}%.2f s, gap ${wall - jobSum}%.2f s ==")
    all.foreach { j =>
      println(f"  job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3f s  stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(110)}")
    }
    spark.stop()
  }
}
