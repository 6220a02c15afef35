package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // per-stage wall times for instrumented queries land beside the bench
    // detail file (same output dir as BENCH_FULL.json) — the official
    // run's variance (e.g. r7's 7× swing on dedup_clusters) becomes
    // attributable to a stage instead of a mystery. Redirecting
    // SPARK_GRAFT_BENCH_DETAIL moves BOTH artifacts, so an ad-hoc run
    // pointed elsewhere can't clobber the committed round artifacts;
    // GRAFT_STAGE_LOG stays the explicit per-file override.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_FULL.json")
    if (sys.env.get("GRAFT_STAGE_LOG").isEmpty && sys.props.get("graft.stage.log").isEmpty)
      try {
        val detailDir = Option(java.nio.file.Paths.get(detailPath).toAbsolutePath.getParent)
          .getOrElse(java.nio.file.Paths.get(".").toAbsolutePath)
        java.nio.file.Files.createDirectories(detailDir)
        val f = detailDir.resolve("STAGE_TIMINGS.csv")
        java.nio.file.Files.writeString(f, "query,stage,seconds\n")
        System.setProperty("graft.stage.log", f.toString)
      } catch { case e: Throwable => // stage timings are diagnostics, never fatal
        System.err.println(s"[bench] stage log disabled: ${e.getMessage}")
      }
    // job-level attribution for EVERY query, with zero operator changes
    // and zero plan distortion: each timed pass runs inside a job group
    // named after the query, and a listener writes one stage row per
    // Spark job ≥ 50 ms. A cross-round swing on a single-plan query
    // (r8's ann_quantized_topk 0.89→2.43 s had no code change) then
    // shows WHICH job grew instead of staying a mystery. Streaming
    // drains run their jobs on the stream thread (outside the group) —
    // those queries log per-micro-batch rows through their own hooks.
    // same env-then-property resolution as SparkEntry.stageLogger (the
    // GRAFT_STAGE_LOG override must not silently lose the job rows), and
    // the SAME lock: SparkEntry.stageAppend is the one append path for
    // every stage-timing writer, so the listener-bus thread and the
    // stream-hook threads are mutually excluded, not merely hoping
    // O_APPEND keeps small writes whole
    def stageAppend(query: String, stage: String, sec: Double): Unit =
      sys.env.get("GRAFT_STAGE_LOG").orElse(sys.props.get("graft.stage.log")).foreach { p =>
        try SparkEntry.stageAppend(p, query, stage, sec)
        catch { case _: Throwable => } // stage timings are diagnostics, never fatal
      }
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
        // streaming queries overwrite the group with their run-id UUID —
        // those drains log per-micro-batch rows via their own hooks, so
        // drop the unattributable UUID group here
        if (group != null && !group.matches("[0-9a-f-]{36}"))
          jobStarts.put(js.jobId, (group, js.time))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStarts.remove(je.jobId)
        if (s != null) {
          val sec = (je.time - s._2) / 1e3
          if (sec >= 0.05) stageAppend(s._1, s"job${je.jobId}", sec)
        }
      }
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.engineConf)
      // reap unreferenced checkpoint/broadcast/shuffle blocks promptly:
      // the ContextCleaner only runs on driver GC, whose default
      // periodic trigger is 30 MINUTES — far longer than this run, so
      // blocks from 200+ queries' localCheckpoints accumulated in the
      // (4-8 GiB) driver=executor heap and late-alphabet queries ran
      // under memory pressure (r12: m_join_view_incremental 25 s in the
      // full run vs 11.4 s standalone, the whole "regression")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
    // untimed warmup pass: run EVERY query once on the tiny smoke SF so
    // Janino codegen + C2 JIT compile before timing — measured times then
    // reflect steady-state data processing at the target SF, not
    // first-evaluation compilation (which swung totals 26→78 s)
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries —
    // the standalone re-measure protocol for attributing cross-round
    // swings (run the suspects alone, three passes, same JVM settings)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    val warmupFailures = queries.count { case (_, fn) =>
      try { fn(spark, warmupDir).count(); false } catch { case _: Throwable => true }
    }
    if (warmupFailures > 0)
      System.err.println(s"[bench] WARNING: $warmupFailures/${queries.size} " +
        s"warmup queries failed against $warmupDir — timings include cold compilation")
    // Ambient self-calibration: the official run is a single full-suite
    // pass on a box whose load drifts round-to-round (r14 ran ~1.44×
    // slower than r13 by the after-the-fact text_bigram_nll sentinel,
    // and needed a forensic SCALE_SOAK addendum to say so). So measure
    // 2–3 NEVER-TOUCHED queries first and last in every run and emit
    // them in the JSON — BENCH_rN becomes self-attributing: cross-round
    // drift on the sentinels = environment; a swing a sentinel doesn't
    // share = real. Sentinel passes are excluded from the headline
    // total (the same queries still run, timed, in the main loop).
    // Two sentinel CLASSES on purpose: q1_agg/dedup_exact/text_bigram_nll
    // are narrow-map COMPUTE probes, but shuffle/IO-heavy families drift
    // independently of compute on this box (measured 1.5× relative in the
    // r15 A/B work) — so w1_dedup_latest (window over a shuffle) and
    // m4_partition_overwrite (store write + commit IO) calibrate those
    // families' drift too.
    val sentinelNames =
      Seq("q1_agg", "dedup_exact", "text_bigram_nll",
        "w1_dedup_latest", "m4_partition_overwrite").filter(queries.contains)
    // a FAILED sentinel pass fast-fails at near-zero wall — recording it
    // would poison the drift median with noise, so failures are excluded
    // from min/drift and surfaced as ok:false in the JSON instead
    def timeSentinels(tag: String): Seq[(String, Option[Double])] =
      sentinelNames.map { name =>
        def pass(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          spark.sparkContext.setJobGroup(s"ambient.$tag.$name", name)
          val ok = try { queries(name)(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ambient $tag $name FAILED: ${e.getMessage}")
            false
          } finally spark.sparkContext.clearJobGroup()
          val sec = (System.nanoTime() - t0) / 1e9
          stageAppend(s"ambient.$tag.$name", "pass_wall", sec)
          (sec, ok)
        }
        val oks = Seq(pass(), pass()).collect { case (sec, true) => sec }
        try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }
        (name, oks.sorted.headOption) // min-of-ok-passes, same as the suite
      }
    val ambientFirst = timeSentinels("first")
    // failures are explicit: a failed query is listed in "failed" and its
    // time is excluded from the headline (no silent -1L masking);
    // name-sorted order keeps timings attributable across runs.
    // Each query is timed TWICE and the headline takes the min: single-shot
    // timings carried multi-second JIT/GC noise exactly on the most
    // expensive queries (round-2 bench logged dedup_neardup at 17 s vs a
    // ~2 s warm cost), which masked real regressions. Both passes stay in
    // the JSON so noise itself is visible.
    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def onePass(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup(name, name)
        val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        } finally spark.sparkContext.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        // one WALL row per timed pass: wall − Σ job rows = the runner-
        // level non-job cost (driver-side planning, store fs commits,
        // checkpoint handling, test enforcement) — r9's dbt-family
        // inflation was invisible precisely because only jobs ≥ 50 ms
        // were logged
        stageAppend(name, "pass_wall", sec)
        (sec, ok)
      }
      val (t1, ok1) = onePass()
      val (t2, ok2) = if (ok1) onePass() else (t1, ok1)
      // per-query isolation: any cache a fixture left behind is a leak
      // into every LATER query's memory budget — drop them between
      // queries so measured times are position-independent
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
      (name, math.min(t1, t2), t1, t2, ok1 && ok2)
    }
    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that window (BENCH_r02..r04 all recorded parsed:null
    // because the full per-query line at 9-decimal precision overflowed it).
    // So the stdout line is bounded: total + the top-30 slowest queries at
    // 2-decimal precision + an aggregate of the fast remainder; the complete
    // per-query two-pass detail goes to BENCH_FULL.json for the judge.
    def r2(v: Double): String = f"$v%.2f"
    def r3(v: Double): String = f"$v%.3f"
    val ambientLast = timeSentinels("last")
    // intra-run drift: median of last/first per sentinel (median, not
    // max — one sentinel hitting a GC pause shouldn't brand the run);
    // only sentinels that succeeded in BOTH probes contribute a ratio
    val ambientDrift = {
      val ratios = ambientFirst.zip(ambientLast).collect {
        case ((_, Some(f)), (_, Some(l))) if f > 0 => l / f
      }.sorted
      if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    }
    // Cross-round ambient attribution in ONE field: the text_bigram_nll
    // sentinel's calm-box anchor at the official SF is ~3.7 s (measured
    // across r13-r18 idle dry runs, recorded in SCALE_SOAK) — emitting
    // min(sentinel passes)/anchor makes the per-round "is this box
    // noisy?" decomposition a field read instead of a forensic ritual
    // (r14 and r18 both needed one). The anchor only means something at
    // the official SF, so the ratio is null elsewhere (or when the
    // sentinel didn't run); SPARK_GRAFT_SENTINEL_ANCHOR re-pins it if
    // the calm-box baseline ever moves.
    val anchorSec = sys.env.get("SPARK_GRAFT_SENTINEL_ANCHOR").map(_.toDouble)
      .getOrElse(3.7)
    val sentinelRatio: Option[Double] = {
      val obs = (ambientFirst ++ ambientLast)
        .collect { case ("text_bigram_nll", Some(v)) => v }
      if (obs.isEmpty || !sfDir.contains("sf0.1")) None
      else Some(obs.min / anchorSec)
    }
    // Per-CLASS ambient ratios (r21 measurement fix): the r20 official
    // run inflated +26% while `sentinel_ratio_vs_anchor` read a calm
    // 1.03, because that ratio anchors ONLY to the compute-bound
    // text_bigram_nll — and that round's inflation hit shuffle/IO, whose
    // sentinels the bench already measured (+17–58%) but folded into no
    // field. One ratio per sentinel class against its own calm-box
    // anchor (min over the r21 idle runs at sf0.1; env-overridable like
    // the compute anchor), plus a composite = max of the class medians —
    // max, not median-of-all, because inflation confined to one class is
    // still inflation (the r20 case exactly). Sub-0.2 s anchors are
    // scheduler-noise-coarse: read ≤1.3 as calm, not as precision.
    val classAnchors: Seq[(String, Seq[(String, Double)])] = Seq(
      "compute" -> Seq("text_bigram_nll" -> anchorSec,
        "q1_agg" -> 0.16, "dedup_exact" -> 0.12),
      "shuffle" -> Seq("w1_dedup_latest" -> 0.15),
      "io" -> Seq("m4_partition_overwrite" -> 0.09))
    def classRatio(members: Seq[(String, Double)]): Option[Double] = {
      if (!sfDir.contains("sf0.1")) return None
      val rs = members.flatMap { case (name, anch0) =>
        val anch = sys.env.get(s"SPARK_GRAFT_SENTINEL_ANCHOR_${name.toUpperCase}")
          .map(_.toDouble).getOrElse(anch0)
        val obs = (ambientFirst ++ ambientLast).collect { case (`name`, Some(v)) => v }
        if (obs.isEmpty || anch <= 0) None else Some(obs.min / anch)
      }.sorted
      if (rs.isEmpty) None else Some(rs(rs.size / 2))
    }
    val classRatios = classAnchors.map { case (cls, m) => cls -> classRatio(m) }
    val compositeRatio = {
      val rs = classRatios.flatMap(_._2)
      if (rs.isEmpty) None else Some(rs.max)
    }
    val ambientJson = {
      def m(xs: Seq[(String, Option[Double])]) =
        xs.map {
          case (k, Some(v)) => "\"" + k + "\":" + r2(v)
          case (k, None) => "\"" + k + "\":null"
        }.mkString("{", ",", "}")
      s"""{"first":${m(ambientFirst)},"last":${m(ambientLast)},"intra_run_drift":${r2(ambientDrift)},""" +
        s""""sentinel_anchor_sec":${r2(anchorSec)},""" +
        s""""sentinel_ratio_vs_anchor":${sentinelRatio.map(r2).getOrElse("null")},""" +
        classRatios.map { case (cls, r) =>
          s""""sentinel_ratio_$cls":${r.map(r2).getOrElse("null")}"""
        }.mkString(",") + "," +
        s""""sentinel_ratio_composite":${compositeRatio.map(r2).getOrElse("null")}}"""
    }
    val ok = results.filter(_._5)
    val slow = ok.sortBy(-_._2).take(30).sortBy(_._1)
    val fast = ok.sortBy(-_._2).drop(30)
    val qs = slow.map { case (k, v, _, _, _) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val fastSummary =
      if (fast.isEmpty) "{}"
      else s"""{"n":${fast.size},"sum":${r2(fast.map(_._2).sum)},"max":${r2(fast.map(_._2).max)}}"""
    val failed = results.collect { case (k, _, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    val detail = (results.map { case (k, v, t1, t2, okQ) =>
      s"""  "$k":{"min":${r3(v)},"passes":[${r3(t1)},${r3(t2)}],"ok":$okQ}"""
    } :+ s"""  "__ambient":$ambientJson""").mkString("{\n", ",\n", "\n}")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs,"fast_rest":$fastSummary,"ambient":$ambientJson,"failed":$failed,"detail":"$detailPath","sf":"$sfDir"}""")
    Thread.sleep(1000) // let the async listener bus drain its last job rows
    spark.stop()
  }
}
