package graft.streaming

import graft.pipeline.{ManifestStore, MergeSink, TableStore}
import graft.schema.TableConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming restatement of the reference's micro-batch CDC
  * (SURVEY.md §2.8 stretch). The reference polls sources on a 5-minute
  * cron and re-merges late data with hourly backdate DAGs; Spark-first,
  * the same semantics are a file/CDC stream with an event-time watermark
  * and an idempotent merge in `foreachBatch` — `Trigger.AvailableNow`
  * drains whatever arrived and stops, which IS the scheduled-batch shape
  * (run per cron tick, exactly-once via checkpoint + idempotent merge).
  */
object StreamOps {

  /** Incremental file-arrival stream over a landing directory. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(dir)

  /** Watermarked event-time windowed aggregation (late data beyond
    * `lateness` is dropped, matching the reference's bounded backdate
    * re-scan horizon). */
  def windowedCounts(stream: DataFrame, tsCol: String, windowDur: String,
                     lateness: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col).toSeq: _*)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +: keys.map(col) :+ col("n"): _*)

  /** Windowed percentiles via the mergeable KLL sketch
    * ([[graft.functions.QuantileSketchAgg]]): per-window state is the
    * serialized sketch, merged across micro-batches and evicted with
    * the watermark like any windowed aggregate — percentile monitoring
    * over an unbounded stream with O(cap) state per open window.
    * Within the exactness capacity the emitted values are the exact
    * floor(p·(n-1)) order statistics of the window's rows. */
  def windowedQuantiles(stream: DataFrame, tsCol: String, valueCol: String,
                        windowDur: String, lateness: String, keys: Seq[String],
                        ps: Seq[Double], cap: Int = 1 << 16): DataFrame = {
    val labels = ps.map(quantileLabel)
    require(labels.distinct.size == labels.size,
      s"windowedQuantiles probabilities $ps map to colliding column names " +
        s"$labels — every probability needs a distinct label")
    val qs = graft.functions.SketchOps
      .quantileSketch(col(valueCol).cast("double"), ps, cap)
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col).toSeq: _*)
      .agg(qs.as("__qs"), count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +: keys.map(col) ++:
        ps.zipWithIndex.map { case (p, i) =>
          round(element_at(col("__qs"), i + 1), 6).as(labels(i))
        } :+ col("n"): _*)
  }

  /** Windowed approximate DISTINCT counting via the mergeable HLL
    * sketch ([[graft.functions.HllDistinctAgg]]): per-window state is
    * the 2^p-byte register array, merged across micro-batches and
    * evicted with the watermark — live-audience / unique-key monitoring
    * over an unbounded stream without the per-window distinct-set state
    * an exact COUNT DISTINCT would hoard. `valueCol` must be STRING
    * (cast first — the hash contract is over the string form, which is
    * what keeps the estimate SQL-replayable). */
  def windowedDistinct(stream: DataFrame, tsCol: String, valueCol: String,
                       windowDur: String, lateness: String, keys: Seq[String],
                       p: Int = 12): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col).toSeq: _*)
      .agg(round(graft.functions.HllOps.hllDistinct(col(valueCol), p), 2)
             .as("n_distinct_est"),
           count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +: keys.map(col) :+
        col("n_distinct_est") :+ col("n"): _*)

  /** Column label from the FULL probability, not a rounded percent:
    * 0.5 → p50, 0.95 → p95, 0.999 → p99_9, 0.9995 → p99_95 — so
    * sub-percent quantiles and probabilities that round to the same
    * percent (0.995 vs 1.0) stay distinct instead of colliding. */
  private[streaming] def quantileLabel(p: Double): String = {
    val pct = (BigDecimal(p) * 100).underlying.stripTrailingZeros.toPlainString
    "p" + pct.replace(".", "_")
  }

  /** Streaming exact dedup: drop any row whose content fingerprint was
    * already seen, with state bounded by the event-time watermark (a
    * duplicate arriving later than `lateness` after the original is no
    * longer caught — the same bounded-horizon contract as the reference's
    * backdate re-scan window). This is the arrival-time twin of
    * [[graft.llm.Dedup.exact]]: the batch operator dedups a corpus, this
    * one dedups a feed as it lands. */
  def dedupStream(stream: DataFrame, tsCol: String, lateness: String,
                  fingerprintCols: Seq[String]): DataFrame =
    stream
      // fingerprint via to_json(struct(...)): injective over the column
      // values (JSON quoting separates fields; a NULL column is omitted,
      // distinct from any string value) — a delimiter-join would let
      // ("x||","y") collide with ("x","||y") and silently drop data
      .withColumn("__fp", sha2(to_json(struct(fingerprintCols.map(col): _*)), 256))
      .withWatermark(tsCol, lateness)
      // dropDuplicatesWithinWatermark (not plain dropDuplicates): state for
      // a fingerprint is evicted once the watermark passes it — a plain
      // dropDuplicates on a non-event-time column would grow state forever
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stream-stream INNER interval join — the two-feed correlation
    * Structured Streaming is built for (impressions ⋈ conversions,
    * requests ⋈ responses): match `left` and `right` rows sharing
    * `keys` where `right`'s event time falls in
    * `[left.ts, left.ts + within]`. Both sides carry the `lateness`
    * watermark, and the time-bound condition is what lets Spark EVICT
    * join state: a buffered left row is droppable once the right
    * watermark passes `left.ts + within + lateness`, so state is
    * O(in-flight window), not O(stream history) — the property that
    * makes the join runnable forever at CDC cadence.
    *
    * Inner-join matches are emitted eagerly as both sides arrive (no
    * watermark hold-back), so a drained run equals the batch join of
    * the same inputs regardless of micro-batch split — that equality
    * is the oracle. Column names must be disjoint across the sides
    * except `keys` (the joined frame keeps the left copy). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String, keys: Seq[String],
                   within: String, lateness: String): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one equi-key")
    val overlap = (left.columns.toSet -- keys)
      .intersect(right.columns.toSet -- keys)
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across the sides, both have: ${overlap.mkString(", ")}")
    val l = left.withWatermark(leftTs, lateness).alias("l")
    val r = right.withWatermark(rightTs, lateness).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond = col(s"r.$rightTs") >= col(s"l.$leftTs") &&
      col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within")
    val joined = l.join(r, keyCond && timeCond, "inner")
    keys.foldLeft(joined)((df, k) => df.drop(col(s"r.$k")))
  }

  /** Drain all available input and merge each micro-batch into the sink.
    * Checkpoint + idempotent merge = effectively-once upserts; rerunning
    * after new files arrive continues from the checkpoint. Blocks until
    * the drain completes.
    *
    * The sink decides the per-batch write scope ([[graft.pipeline.MergeSink]]):
    * bind a [[graft.pipeline.TableStore]] for small dimensions (full
    * rewrite per tick), a [[graft.pipeline.ManifestStore]] /
    * [[graft.pipeline.PartitionedStore]] for large facts — each
    * micro-batch then writes only the touched partitions' segments,
    * O(batch) IO at the reference's 5-minute CDC cadence instead of
    * O(table). */
  def mergeAvailable(stream: DataFrame, sink: MergeSink, cfg: TableConfig,
                     checkpoint: String,
                     onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession)(sink.mergeBatch(batch, cfg))
        // streaming jobs run on the stream thread, outside any bench job
        // group — the per-batch hook is how drain cost stays attributable
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming incremental view maintenance: drain the stream and fold
    * each micro-batch's partial rollup into the persisted rollup state
    * via [[graft.marts.Marts.mergeRollup]] — the datamart stays current
    * at O(batch + touched keys) per tick, never a full-history
    * re-aggregation. `rollup` maps a raw batch to its partial aggregate
    * (keep sums in DECIMAL — the merge is exact, a double-cast partial
    * is not); `keys`/`addCols` name the rollup identity and its additive
    * measures.
    *
    * Effectively-once for real: an additive fold is NOT idempotent the
    * way a latest-per-key merge is, so a crash between the snapshot and
    * the checkpoint commit would re-fold the batch on restart and
    * silently double-count. [[foldRollupBatch]] therefore stamps every
    * stored row with the folding batch id — it travels ATOMICALLY with
    * the snapshot (same versioned commit) — and a replayed batch id is
    * detected and skipped.
    *
    * This binding snapshots the WHOLE aggregate state per tick (fine at
    * aggregate grain); [[maintainRollupPartitioned]] is the twin that
    * writes only the touched partitions — prefer it when the rollup has
    * a natural partition key (day). */
  def maintainRollup(stream: DataFrame, store: TableStore,
                     rollup: DataFrame => DataFrame,
                     keys: Seq[String], addCols: Seq[String],
                     checkpoint: String,
                     onStage: (String, Double) => Unit = (_, _) => (),
                     mergeWith: Map[String, org.apache.spark.sql.Column =>
                       org.apache.spark.sql.Column] = Map.empty): Unit = {
    var epoch: String = null // resolved at first batch; foreachBatch is single-threaded
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        if (epoch == null) epoch = checkpointEpoch(batch.sparkSession, checkpoint)
        tickConf(batch.sparkSession)(
          foldRollupBatch(store, batch, batchId, epoch, rollup, keys, addCols, mergeWith))
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  private[streaming] val BatchCol = "__last_batch"
  private[streaming] val EpochCol = "__epoch"

  /** The streaming query id from the checkpoint's `metadata` file —
    * Spark writes it before batch 0 runs, keeps it stable across
    * restarts of the SAME checkpoint, and mints a fresh one when the
    * checkpoint directory is replaced. Stamping it alongside the batch
    * id makes the replay guard unambiguous: batch ids restart at 0 when
    * a checkpoint is rebuilt, so "stamp == delivered id" alone cannot
    * distinguish a genuine crash-replay from a NEW stream whose first id
    * happens to collide with the stale stamp (e.g. both are 0). */
  private[streaming] def checkpointEpoch(spark: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no streaming query id found in $checkpoint/metadata"))
  }

  /** One idempotent fold: skip if `batchId` was already applied by THIS
    * stream epoch (stamp + epoch are read back from the stored rows —
    * every row carries the same pair, so one row answers it). A stored
    * epoch differing from the delivered one means the store was written
    * by a different checkpoint lifetime — fail loudly even when the
    * batch ids happen to line up (a rebuilt checkpoint restarts ids at
    * 0, so id equality alone is ambiguous). Exposed package-private so
    * the replay contract is directly testable. */
  private[streaming] def foldRollupBatch(store: TableStore, batch: DataFrame,
      batchId: Long, epoch: String, rollup: DataFrame => DataFrame,
      keys: Seq[String], addCols: Seq[String],
      mergeWith: Map[String, org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = Map.empty): Unit = {
    val prior = store.read
    val stamped: Option[(Long, Option[String])] = prior.flatMap { p =>
      if (!p.columns.contains(BatchCol)) None
      // every row carries the SAME stamp — one row answers it, no
      // full-store aggregation per tick
      else {
        val epochC = if (p.columns.contains(EpochCol)) col(EpochCol)
                     else lit(null).cast("string")
        p.select(col(BatchCol), epochC).limit(1).collect()
          .headOption.map(r => (r.getLong(0), Option(r.getString(1))))
      }
    }
    requireSameEpoch(stamped.flatMap(_._2), epoch)
    val lastApplied = stamped.map(_._1)
    // a legitimate crash-replay re-delivers exactly the last applied id;
    // anything OLDER means the checkpoint was lost or replaced while the
    // store survived — folding would silently never resume (every new id
    // restarts from 0 and skips), so fail loudly instead
    if (lastApplied.exists(_ > batchId))
      throw new IllegalStateException(
        s"rollup store has batch ${lastApplied.get} but the stream delivered " +
        s"$batchId — checkpoint and store are out of step (was the checkpoint " +
        "directory deleted?); point the query at a fresh store or restore the checkpoint")
    if (lastApplied.contains(batchId)) return // crash-replay: already folded
    val delta = rollup(batch)
    val merged = prior match {
      case Some(p) =>
        graft.marts.Marts.mergeRollup(p.drop(BatchCol, EpochCol), delta, keys,
          addCols, mergeWith)
      case None => delta
    }
    store.snapshot(merged.withColumn(BatchCol, lit(batchId))
      .withColumn(EpochCol, lit(epoch)))
  }

  /** A store written under one epoch refuses folds from another: the
    * only legitimate writers are the original checkpoint (same epoch) —
    * a mismatch means the checkpoint was deleted/replaced while the
    * store survived. Stores written before the epoch stamp existed
    * (NULL stored epoch) adopt the delivered epoch on their next fold. */
  private def requireSameEpoch(stored: Option[String], delivered: String): Unit =
    stored.filter(_ != delivered).foreach { e =>
      throw new IllegalStateException(
        s"rollup store was written by stream epoch $e but this stream is epoch " +
        s"$delivered — checkpoint and store are out of step (was the checkpoint " +
        "directory deleted?); point the query at a fresh store or restore the checkpoint")
    }

  /** Partition-scoped twin of [[maintainRollup]]: partials fold into a
    * [[graft.pipeline.ManifestStore]] keyed on one of the rollup keys
    * (typically the day), so a tick WRITES only the partitions the batch
    * touches — O(touched days) bytes per tick, where the TableStore
    * binding snapshots the entire aggregate state every tick (small at
    * aggregate grain, but needlessly O(state) — this closes that gap).
    *
    * Replay contract preserved: the folding batch id is stamped on every
    * row of the touched partitions and commits ATOMICALLY with them (one
    * manifest rename). A crash-replayed batch touches the same
    * partitions (checkpointed source replay is deterministic), so its
    * stamp is found there and the fold is skipped; untouched partitions
    * keep their older stamps, which is fine — the guard only ever needs
    * the stamps of the partitions the current batch would write. */
  def maintainRollupPartitioned(stream: DataFrame, store: ManifestStore,
      rollup: DataFrame => DataFrame,
      keys: Seq[String], addCols: Seq[String],
      checkpoint: String,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    require(keys.contains(store.partitionCol),
      s"ManifestStore partition column '${store.partitionCol}' must be one of the rollup keys ${keys.mkString("[", ",", "]")}")
    var epoch: String = null // resolved at first batch; foreachBatch is single-threaded
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        if (epoch == null) epoch = checkpointEpoch(batch.sparkSession, checkpoint)
        tickConf(batch.sparkSession)(
          foldRollupBatchPartitioned(store, batch, batchId, epoch, rollup, keys, addCols))
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** One idempotent partition-scoped fold (see [[maintainRollupPartitioned]]).
    * Package-private so the replay + write-scope contracts are directly
    * testable. */
  private[streaming] def foldRollupBatchPartitioned(store: ManifestStore,
      batch: DataFrame, batchId: Long, epoch: String, rollup: DataFrame => DataFrame,
      keys: Seq[String], addCols: Seq[String]): Unit = {
    val delta = rollup(batch)
    val touched = delta.select(col(store.partitionCol).cast("string")).distinct()
      .collect().map(r => Option(r.getString(0)).getOrElse("__HIVE_DEFAULT_PARTITION__")).toSeq
    if (touched.isEmpty) return // empty batch: nothing to fold, nothing to stamp
    // partition-pruned prior state: only the touched partitions are read
    val prior = store.readPartitions(touched)
    // stamps can differ ACROSS partitions (each carries the id of the
    // batch that last wrote it) — max over the touched slice is the
    // newest batch that wrote any of them; the epoch is store-uniform
    // (a mismatching fold is refused before it can write), so max is
    // just "any non-null value"
    def stampEpoch(p: DataFrame): (Option[Long], Option[String]) =
      if (!p.columns.contains(BatchCol)) (None, None)
      else {
        val epochC = if (p.columns.contains(EpochCol)) col(EpochCol)
                     else lit(null).cast("string")
        p.agg(max(col(BatchCol)), max(epochC)).collect().headOption
          .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
                     Option(r.getString(1))))
          .getOrElse((None, None))
      }
    val (lastApplied, touchedEpoch) = prior.map(stampEpoch).getOrElse((None, None))
    // same out-of-step detection as foldRollupBatch, in two layers:
    // the epoch stamp distinguishes a rebuilt checkpoint even when batch
    // ids line up (ids restart at 0 — a stale stamp of 0 would otherwise
    // read as a legitimate crash-replay and be silently skipped), and
    // the batch-id ordering catches a same-epoch id regression. When the
    // touched partitions are all NEW (no stamp there — e.g. the first
    // batch of a fresh day), fall back to a store-wide check: a
    // lost-checkpoint restart whose first batch happens to touch only
    // new days must not silently fold a new epoch onto a stale store.
    // The full-store read is column-pruned to the stamps and happens only
    // on the new-partitions-only path (≈ once per day in steady state).
    val (checkStamp, checkEpoch) =
      if (lastApplied.isDefined) (lastApplied, touchedEpoch)
      else store.read.map(stampEpoch).getOrElse((None, None))
    requireSameEpoch(checkEpoch, epoch)
    if (checkStamp.exists(_ > batchId))
      throw new IllegalStateException(
        s"rollup store has batch ${checkStamp.get} but the stream " +
        s"delivered $batchId — checkpoint and store are out of step (was the checkpoint " +
        "directory deleted?); point the query at a fresh store or restore the checkpoint")
    if (lastApplied.contains(batchId)) return // crash-replay: already folded
    val merged = prior match {
      case Some(p) =>
        graft.marts.Marts.mergeRollup(p.drop(BatchCol, EpochCol), delta, keys, addCols)
      case None => delta
    }
    store.overwritePartitions(merged.withColumn(BatchCol, lit(batchId))
      .withColumn(EpochCol, lit(epoch)))
  }

  /** CDC drain with CHANGE-FEED-driven rollup maintenance — the
    * update/delete-correct twin of [[maintainRollup]]: each micro-batch
    * is keyed-upserted into the ManifestStore, the store's row-level
    * change feed across the commit ([[ManifestStore.changes]] with
    * pre/post update images, O(changed partitions)) folds into the
    * rollup via [[graft.pipeline.CdfRollup.applyCdf]]. An additive fold
    * double-counts a correction that REPLACES an earlier row; the CDF
    * fold subtracts the pre-image first, so restated facts (even ones
    * that move across group boundaries) stay exact.
    *
    * Effectively-once without batch-id stamps: the rollup rows carry
    * the store version they have folded up to (`__folded_v`, written
    * atomically with the rollup snapshot), and every tick folds
    * `changes(folded_v, latest)` AFTER its upsert. A crash between the
    * base-table commit and the rollup commit just widens the next
    * tick's version range — the gap delta is folded then, nothing is
    * lost or double-applied. An EMPTY durable rollup reads as
    * folded_v = 0, and folding changes(0, latest) into nothing is a
    * full recompute — also correct. [[cdfRollupTick]] is the per-batch
    * body, exposed so the spec can inject exactly that crash. */
  def maintainRollupCdf(stream: DataFrame, store: ManifestStore, cfg: TableConfig,
                        rollupStore: TableStore, groupCols: Seq[String],
                        valueCol: String, checkpoint: String,
                        onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        cdfRollupTick(batch, store, cfg, rollupStore, groupCols, valueCol)
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  private[graft] val FoldedVersionCol = "__folded_v"

  /** Tag the jobs `body` runs with a description (visible to listeners
    * and the Spark UI) — the per-tick fixed-cost attribution hook. */
  private[graft] def phase[T](spark: org.apache.spark.sql.SparkSession,
                              name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(null)
  }

  /** Run a maintenance tick with AQE off. Spark itself pins streaming
    * plans to non-adaptive execution; a `foreachBatch` body is a batch
    * query and gets AQE back — and on a micro-batch-sized tick AQE
    * contributes nothing (shuffle partitions are already sized to the
    * drain) while materializing EVERY exchange as its own job:
    * measured on stream_cdc_rollup_cdf, ~16 jobs/tick with AQE vs ~6
    * without, each job a scheduler round-trip of pure fixed cost. At
    * real batch sizes the tick's shuffles are still bounded by the
    * batch, not the table, so the static plan stays the right one. */
  // tickConf reentrancy state: concurrent ticks (or a tick nested in a
  // tick) share the default session, so a naive save/flip/restore can
  // capture 'false' as the previous value and leave AQE permanently
  // off. Depth-counted under a lock: EVERY entry captures+flips any
  // session it hasn't seen yet (a depth>0 entry from a DIFFERENT
  // stream brings its own micro-batch clone session, which must flip
  // too); the outermost exit restores them all.
  private[this] val tickLock = new Object
  private[this] var tickDepth = 0
  private[this] var tickSaved: Seq[(org.apache.spark.sql.SparkSession, String)] = Nil

  private[graft] def tickConf[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    // a foreachBatch body sees TWO sessions: the micro-batch CLONE
    // (batch.sparkSession) and the outer session the stores were
    // constructed against — actions go through whichever session owns
    // the DataFrame, so the flag must flip on both
    val key = "spark.sql.adaptive.enabled"
    tickLock.synchronized {
      val sessions = (Seq(spark) ++
        org.apache.spark.sql.SparkSession.getDefaultSession.toSeq).distinct
      val fresh = sessions.filterNot(s => tickSaved.exists(_._1 eq s))
      tickSaved ++= fresh.map(s => s -> s.conf.get(key))
      fresh.foreach(_.conf.set(key, "false"))
      tickDepth += 1
    }
    try body finally tickLock.synchronized {
      tickDepth -= 1
      if (tickDepth == 0) {
        tickSaved.foreach { case (s, v) => s.conf.set(key, v) }
        tickSaved = Nil
      }
    }
  }

  /** One tick of [[maintainRollupCdf]]: upsert, widen the CDF range
    * from the rollup's durable fold marker, fold, snapshot. */
  private[graft] def cdfRollupTick(batch: DataFrame, store: ManifestStore,
                                   cfg: TableConfig, rollupStore: TableStore,
                                   groupCols: Seq[String], valueCol: String): Unit =
    tickConf(batch.sparkSession) {
      cdfRollupTickBody(batch, store, cfg, rollupStore, groupCols, valueCol)
    }

  private def cdfRollupTickBody(batch: DataFrame, store: ManifestStore,
                                cfg: TableConfig, rollupStore: TableStore,
                                groupCols: Seq[String], valueCol: String): Unit = {
    val spark = batch.sparkSession
    // cache the delivery for the tick: the upsert reads it twice (the
    // touched-partition distinct, then the merged write) and a stream
    // source re-executes the batch scan per action otherwise
    val cached = batch.cache()
    try {
      val prior = rollupStore.read
      // the fold marker is a CONSTANT column of the rollup snapshot, so
      // its max lives in the parquet footer stats — a driver-side read,
      // not a Spark job per tick; the aggregate job is the fallback
      // when stats are unusable
      val foldedV = prior.flatMap { df =>
        // any footer-probe failure (e.g. a concurrent retention prune
        // racing the listing) falls back to the aggregate job — the
        // probe is an optimization, never a correctness dependency
        scala.util.Try(rollupStore.latestChainDirs
            .flatMap(graft.pipeline.SegmentIO.footerMaxLong(spark, _, FoldedVersionCol)))
          .toOption.flatten
          .map(_.toInt)
          .orElse {
            val r = phase(spark, "cdf.folded_v")(
              df.select(max(col(FoldedVersionCol))).head())
            if (r.isNullAt(0)) None else Some(r.getInt(0))
          }
      }.getOrElse(0)
      phase(spark, "cdf.upsert")(store.upsert(cached, cfg))
      val newV = store.latestManifestVersion.getOrElse(0)
      val cdf = store.changes(foldedV, newV, cfg.keys, updatePreimage = true)
      val next = graft.pipeline.CdfRollup.applyCdf(
        prior.map(_.drop(FoldedVersionCol)), cdf, groupCols, valueCol)
      phase(spark, "cdf.fold_snapshot")(
        rollupStore.snapshot(next.withColumn(FoldedVersionCol, lit(newV))))
    } finally cached.unpersist()
  }

  /** Streaming near-dup admission: one [[graft.llm.MinhashIndexStore]]
    * ingest tick per micro-batch — each batch screens against
    * everything admitted BEFORE it (the pre-built corpus plus every
    * earlier batch's survivors), exactly the sequential-ingest
    * semantics of the batch store. Per-tick cost is the probe's narrow
    * signature scan + O(batch) state appended; the corpus text is
    * never re-shingled. Survivors append to `admittedOut` parquet —
    * at-least-once on crash replay (the STORE converges idempotently;
    * a re-delivered batch may re-append its survivor rows, so an
    * exactly-once consumer dedups on the id column downstream). */
  def dedupIndexDrain(stream: DataFrame, store: graft.llm.MinhashIndexStore,
                      threshold: Double,
                      admittedOut: String, checkpoint: String,
                      exactlyOnceSink: Boolean = false,
                      retention: Option[(Long, Int)] = None,
                      onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    admissionDrain(stream, (b, adm) => store.ingest(b, threshold, adm = adm),
      admittedOut, checkpoint, exactlyOnceSink, onStage,
      floor = () => store.admFloor,
      retention = retention.map { case (w, n) =>
        Retention(w, n, store.expire, () => store.gcTombstones()) })

  /** Engine-owned retention cadence for an admission drain: every
    * `everyNTicks` micro-batches the drain itself fires
    * `expire(adm − window + 1)` (keep the last `window` ticks'
    * admissions) followed by `gcTombstones()` — the sliding-window
    * door as ONE config value instead of a caller-orchestrated second
    * job. Safe by construction: both fire INSIDE the drain's
    * foreachBatch, after the tick's ingest commit, on the drain's own
    * thread — single-writer, so none of the multi-writer races the
    * stores' locks/refusals exist for can fire (the r19 soaks cover
    * the orchestrated-second-thread shape for callers who still want
    * an external cadence). */
  private[graft] final case class Retention(window: Long, everyNTicks: Int,
                                            expire: Long => Long,
                                            gc: () => Unit) {
    require(window >= 1, "retention window must be at least one tick")
    require(everyNTicks >= 1, "retention cadence must be at least every tick")
  }

  /** The shared drain loop of every persistent-index admission stream
    * (MinHash / IVF / 64-bit signature / clip): one `ingest` tick per
    * micro-batch, survivors to `admittedOut` through [[admittedWrite]].
    * The four public drains differ ONLY in the store's ingest call.
    * Each tick stamps its admissions `base + batchId` — the retention
    * clock `expire(beforeAdm)` evicts against. `base` makes the clock
    * survive CHECKPOINT RE-CREATION: it is resolved once per checkpoint
    * lifetime ([[admissionBase]] — the store's persisted max-adm floor
    * + 1, durably recorded IN the checkpoint directory so crash
    * restarts of the same lifetime reuse it), so a fresh checkpoint
    * over a populated store continues the old clock instead of
    * restarting at 0 (which would stamp new admissions below
    * already-expired watermarks — instantly evictable — while
    * watermarks derived from the new clock stop evicting old state).
    * Within a lifetime the stamp stays monotone and replay-stable (a
    * crash-replayed batch re-reads the same base and re-stamps the
    * same id); a brand-new store reads no floor and keeps base 0. */
  private def admissionDrain(stream: DataFrame,
                             ingest: (DataFrame, Long) => DataFrame,
                             admittedOut: String, checkpoint: String,
                             exactlyOnceSink: Boolean,
                             onStage: (String, Double) => Unit,
                             floor: () => Option[Long] = () => None,
                             retention: Option[Retention] = None): Unit = {
    val base = admissionBase(stream.sparkSession, checkpoint, floor)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        val adm = base + batchId
        tickConf(batch.sparkSession) {
          admittedWrite(ingest(batch, adm), admittedOut, batchId, exactlyOnceSink)
          retention.foreach { r =>
            if ((batchId + 1) % r.everyNTicks == 0) {
              val t1 = System.nanoTime()
              // the stores' documented refusals — a cross-process
              // retrainer's pending intent (IllegalStateException from
              // the geometry check) or a gc publish race
              // (ConcurrentModificationException) — must not kill the
              // ingest drain: the external-cadence pattern retries them
              // at the next tick, and the in-drain cadence does the
              // same (state is unchanged on refusal; the next firing
              // re-derives everything from fresh state)
              try { r.expire(adm - r.window + 1); r.gc() }
              catch {
                case e @ (_: IllegalStateException |
                          _: java.util.ConcurrentModificationException) =>
                  onStage(s"retention${batchId}_deferred", 0.0)
                  System.err.println(s"[drain] retention deferred to next " +
                    s"cadence tick: ${e.getMessage}")
              }
              onStage(s"retention$batchId", (System.nanoTime() - t1) / 1e9)
            }
          }
        }
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** Resolve (once per checkpoint LIFETIME) the admission-stamp base of
    * [[admissionDrain]]: the first drain against a checkpoint records
    * `floor + 1` (the store's persisted high-water admission stamp,
    * `_adm_floor`) in `<checkpoint>/graft_adm_base`; every later start
    * against the SAME checkpoint — including crash restarts mid-drain —
    * reads it back, so replayed batches re-stamp their original ids
    * even though the floor has advanced since. A RE-CREATED checkpoint
    * has no base file and snapshots the floor afresh — above every
    * stamp the previous lifetime issued. Stored beside (not inside)
    * Spark's own checkpoint state; a crash before the write re-derives
    * the identical value (no tick has run, so the floor is unchanged). */
  private def admissionBase(spark: SparkSession, checkpoint: String,
                            floor: () => Option[Long]): Long = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint)
    val p = new org.apache.hadoop.fs.Path(dir, "graft_adm_base")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    } else {
      val base = floor().map(_ + 1L).getOrElse(0L)
      fs.mkdirs(dir)
      val tmp = new org.apache.hadoop.fs.Path(dir, ".tmp_graft_adm_base")
      val out = fs.create(tmp, true)
      try out.write(base.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, p) && !fs.exists(p))
        throw new java.io.IOException(s"failed to record adm base in $checkpoint")
      base
    }
  }

  /** Streaming SEMANTIC (embedding-cosine) near-dup admission: one
    * [[graft.llm.IvfMorIndexStore.ingestNearDup]] tick per micro-batch —
    * each batch screens against everything admitted BEFORE it (the
    * pre-built corpus plus every earlier batch's survivors), the
    * sequential semantics of [[dedupIndexDrain]] with the IVF cell
    * replacing the MinHash band as the candidate generator. Per-tick
    * cost: a partition-pruned read of the batch's ≤ k cells with the
    * batch side broadcast, plus the O(batch) index upsert. Survivor
    * appends are at-least-once on crash replay: the STORE converges
    * (re-admitted rows reconcile by key; nothing is ever deleted), and
    * the union of appends covers every first-delivery survivor. A
    * re-delivered row that had a mutual near-dup WITHIN its own batch
    * may not re-append (its twin is stored now — the within-batch
    * exemption applied only on first delivery), which is exactly why
    * the contract is at-least-once + downstream id-dedup, not
    * append-idempotence. */
  def annDedupDrain(stream: DataFrame, index: graft.llm.IvfMorIndexStore,
                    threshold: Double,
                    admittedOut: String, checkpoint: String,
                    exactlyOnceSink: Boolean = false,
                    retention: Option[(Long, Int)] = None,
                    onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    admissionDrain(stream, (b, adm) => index.ingestNearDup(b, threshold, adm = adm),
      admittedOut, checkpoint, exactlyOnceSink, onStage,
      floor = () => index.admFloor,
      retention = retention.map { case (w, n) =>
        Retention(w, n, index.expire, () => index.gcTombstones()) })

  /** Streaming 64-bit-signature near-dup admission: one
    * [[graft.llm.PhashIndexStore.ingest]] tick per micro-batch of
    * `(id, ahash)` rows — the store is signature-GENERIC (any 64-bit
    * content hash whose resemblance is Hamming distance: image aHash,
    * audio energy-envelope fingerprint, video temporal envelope), so
    * this one drain is the streaming admission leg for every
    * single-signature modality. Sequential semantics, per-tick cost,
    * and the at-least-once survivor contract are [[dedupIndexDrain]]'s
    * verbatim with the banded-Hamming index as the candidate
    * generator. */
  def signatureDedupDrain(stream: DataFrame, store: graft.llm.PhashIndexStore,
                          admittedOut: String, checkpoint: String,
                          exactlyOnceSink: Boolean = false,
                          retention: Option[(Long, Int)] = None,
                          onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    admissionDrain(stream, (b, adm) => store.ingest(b, adm = adm),
      admittedOut, checkpoint, exactlyOnceSink, onStage,
      floor = () => store.admFloor,
      retention = retention.map { case (w, n) =>
        Retention(w, n, store.expire, () => store.gcTombstones()) })

  /** Streaming embedded-CLIP admission: one
    * [[graft.llm.ClipIndexStore.ingest]] tick per micro-batch of FRAME
    * rows `(id, frame, hash)` — each batch's videos screen against
    * everything admitted BEFORE them through the temporal-alignment
    * vote (≥ minFrames matching frame hashes at one consistent offset),
    * the sequential semantics of [[dedupIndexDrain]] with the frame-hash
    * inverted index replacing the MinHash band as the candidate
    * generator. Per-tick cost: the narrow stored-frame scan with the
    * batch broadcast plus the O(batch frames) state append. Survivor
    * appends are at-least-once on crash replay with the usual store
    * convergence (re-admitted frame rows reconcile by (id, frame) key);
    * downstream readers dedup by id. */
  def clipDedupDrain(stream: DataFrame, store: graft.llm.ClipIndexStore,
                     admittedOut: String, checkpoint: String,
                     exactlyOnceSink: Boolean = false,
                     retention: Option[(Long, Int)] = None,
                     onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    admissionDrain(stream, (b, adm) => store.ingest(b, adm = adm),
      admittedOut, checkpoint, exactlyOnceSink, onStage,
      floor = () => store.admFloor,
      retention = retention.map { case (w, n) =>
        Retention(w, n, store.expire, () => store.gcTombstones()) })

  /** The admitted-output writer every admission drain shares. Default
    * (`exactlyOnce = false`): plain append — at-least-once on crash
    * replay, dedup delegated downstream (the historical contract).
    * `exactlyOnce = true`: the batch's rows land in their OWN
    * batch-keyed subdirectory (`__b=<id>`) with OVERWRITE — a replayed
    * micro-batch rewrites exactly its directory instead of appending a
    * second copy, so the sink itself is idempotent and a plain
    * `spark.read.parquet(out)` never sees duplicate deliveries. The
    * directory key is `__b`, not `batch`, so partition discovery can't
    * collide with a data column (the funnel's stage rows carry
    * `batch`). NOTE the guarantee is per-DELIVERY: a stateful drain's
    * replayed batch may truthfully admit fewer rows than its first
    * delivery (store convergence); the sink then holds the replay's
    * answer — current state, no duplicates — which is exactly the
    * reconciliation an at-least-once append cannot offer. */
  private def admittedWrite(df: DataFrame, out: String, batchId: Long,
                            exactlyOnce: Boolean): Unit =
    if (exactlyOnce) df.write.mode("overwrite").parquet(s"$out/__b=$batchId")
    else df.write.mode("append").parquet(out)

  /** The COMPOSED streaming ingest door — the batch
    * `pipeline_curation_funnel`'s streaming twin and the actual 100 TB
    * ingest topology: every micro-batch runs the full admission chain
    * IN ORDER, eval-set decontamination ([[decontaminateDrain]]'s
    * screen) → trained-quality gate ([[qualityGateDrain]]'s scorer) →
    * persistent MinHash near-dup admission ([[dedupIndexDrain]]'s
    * store tick) — one streamed pass, one store commit per tick.
    *
    * Stage semantics compose exactly as the standalone drains: stages
    * 1–2 are per-document with NO cross-doc state (the eval shingles
    * and the weight table broadcast into each tick), so their survivor
    * sets are split-independent; stage 3 screens against everything
    * admitted BEFORE the batch (the pre-seeded corpus plus every
    * earlier batch's survivors — the sequential ingest contract), and
    * mutual near-dups arriving in ONE batch are both admitted (the
    * batch is never screened against itself). Ordering the cheap
    * per-doc gates first is the scale argument: the O(batch·corpus-
    * signature) dedup probe runs only on the quality-surviving
    * remainder.
    *
    * Each tick appends one row per (stage, surviving doc) to `out` —
    * `(batch, stage, stage_name, id)` — so ONE relation carries both
    * the per-stage funnel counts and the exact survivor id sets.
    * Appends are at-least-once on crash replay (the
    * [[dedupIndexDrain]] contract: the store converges idempotently;
    * an exactly-once consumer dedups on (batch, stage, id)) — or pass
    * `exactlyOnceSink` for the batch-keyed overwrite sink
    * ([[admittedWrite]]), under which a replay rewrites its own
    * batch directory instead. */
  def curationFunnelDrain(stream: DataFrame, evalDocs: DataFrame,
                          model: graft.llm.QualityLr.Model,
                          store: graft.llm.MinhashIndexStore,
                          idCol: String, textCol: String,
                          out: String, checkpoint: String,
                          qualityThreshold: Double = 0.45,
                          dedupThreshold: Double = 0.8,
                          shingleSize: Int = 3,
                          contaminationThreshold: Double = 0.5,
                          exactlyOnceSink: Boolean = false,
                          onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    curationFunnelDrainWith(stream, evalDocs, model,
      batch => store.ingest(batch.select(col(idCol), col(textCol)), dedupThreshold),
      idCol, textCol, out, checkpoint, qualityThreshold, shingleSize,
      contaminationThreshold, exactlyOnceSink, onStage = onStage)

  /** [[curationFunnelDrain]] generalized over its stage-3 admission
    * backend: `admit` is the per-tick sequential-admission function —
    * given the quality-surviving batch rows (id, text, and any carried
    * columns, e.g. an embedding), it screens them against everything
    * admitted before the batch, persists the survivors, and returns
    * them. `MinhashIndexStore.ingest` (n-gram Jaccard) and
    * `IvfMorIndexStore.ingestNearDup` (same-cell embedding cosine) are
    * the two shipped backends; both obey the same contract — the batch
    * is never screened against itself, replay converges the store.
    *
    * The backend itself can hot-swap mid-drain: pass an `admit` that
    * REOPENS its index per tick ([[graft.llm.IvfMorIndexStore.open]]
    * follows the persisted layout pointer), an `afterBatch` that
    * publishes the retrain at the wanted boundary, and an
    * `indexVersion` reader ([[graft.llm.IvfMorIndexStore.currentVersion]])
    * — each tick's stage rows are then stamped `index_v` with the
    * geometry that gated them, the exact shape
    * [[curationFunnelDrainVersioned]] gives the quality model. A
    * CAPTURED handle is safe against the same swap the other way
    * round: its per-op stamp verification fails loudly at the first
    * tick after the layout flipped — stale-geometry gating is
    * structurally silent-proof. */
  def curationFunnelDrainWith(stream: DataFrame, evalDocs: DataFrame,
                              model: graft.llm.QualityLr.Model,
                              admit: DataFrame => DataFrame,
                              idCol: String, textCol: String,
                              out: String, checkpoint: String,
                              qualityThreshold: Double = 0.45,
                              shingleSize: Int = 3,
                              contaminationThreshold: Double = 0.5,
                              exactlyOnceSink: Boolean = false,
                              afterBatch: Long => Unit = _ => (),
                              indexVersion: () => Option[Int] = () => None,
                              onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          // version read at tick START: the stamp must name the geometry
          // that gates THIS batch (publishes happen between ticks)
          val iv = indexVersion()
          val rows = funnelTickRows(batch, batchId, evalDocs, model, admit, idCol,
            textCol, qualityThreshold, shingleSize, contaminationThreshold)
          val stamped = iv match {
            case Some(v) => rows.withColumn("index_v", lit(v))
            case None => rows
          }
          admittedWrite(stamped, out, batchId, exactlyOnceSink)
        }
        afterBatch(batchId)
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** [[curationFunnelDrainWith]] with the quality stage reading the
    * LATEST published model per tick — the round's two refresh stories
    * composed: the ingest door keeps draining while a retrained
    * classifier published mid-stream ([[graft.llm.QualityLr.ModelStore]])
    * takes effect at the very next micro-batch, and every stage row is
    * stamped with the `model_v` that gated its batch. Decontamination
    * and dedup admission are untouched by the swap (their state is the
    * eval set and the dedup store); only the quality verdicts — and
    * therefore what reaches the dedup stage — move with the model. */
  def curationFunnelDrainVersioned(stream: DataFrame, evalDocs: DataFrame,
                                   modelStore: graft.llm.QualityLr.ModelStore,
                                   admit: DataFrame => DataFrame,
                                   idCol: String, textCol: String,
                                   out: String, checkpoint: String,
                                   qualityThreshold: Double = 0.45,
                                   shingleSize: Int = 3,
                                   contaminationThreshold: Double = 0.5,
                                   exactlyOnceSink: Boolean = false,
                                   afterBatch: Long => Unit = _ => (),
                                   onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          val (version, model) = modelStore.latest.getOrElse(
            throw new IllegalStateException(
              s"curation funnel has no published model to gate batch $batchId with"))
          admittedWrite(
            funnelTickRows(batch, batchId, evalDocs, model, admit, idCol,
              textCol, qualityThreshold, shingleSize, contaminationThreshold)
              .withColumn("model_v", lit(version)),
            out, batchId, exactlyOnceSink)
        }
        afterBatch(batchId)
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** The AUDITED composed ingest door: [[curationFunnelDrainWith]]
    * with every REJECT attributed — the streaming V3 analog (the
    * reference logs every task outcome to `ds.procedure_log`; at
    * 100 TB "why did doc X disappear" must be answerable from one
    * relation, not by re-running the funnel). Each tick emits exactly
    * ONE row per (batch, doc) of the feed:
    *
    *   - `outcome` — 'admitted' | 'rejected'
    *   - `stage` — the stage that DECIDED the doc (0 contamination,
    *     1 quality, 2 dedup; admitted docs carry 2, the full chain)
    *   - `reason` — NULL for admitted; 'contaminated' /
    *     'low_quality' / 'duplicate'
    *   - `match_id` — for duplicates, the SMALLEST indexed near-dup
    *     that caused the rejection ([[graft.llm.MinhashIndexStore.probeMatches]]'
    *     contract; the IVF twin is
    *     [[graft.llm.IvfMorIndexStore.ingestNearDupWithMatches]]); NULL
    *     otherwise
    *   - `margin_micro` — the quality score for every row the gate
    *     actually scored (stage ≥ 1); NULL for contaminated docs,
    *     which never reach the scorer
    *
    * so survivors ∪ rejects partition the feed EXACTLY — the audit
    * relation is also the funnel's complete trace. Observability costs
    * no extra corpus pass: `admitWithMatches` returns
    * `(admitted, matches)` from ONE probe (the screen is the matches'
    * anti-join), and the quality stage's reject side is the scored
    * frame's complement.
    *
    * Per-tick run metadata (the V3 row): pass a
    * [[graft.meta.MetaStore]] and every tick logs a TaskResult
    * (`tick<id>`, wall seconds, per-stage counts in `result`) plus
    * counter metrics (`admitted`, `rejected_contaminated`,
    * `rejected_low_quality`, `rejected_duplicate`) — one tiny
    * driver-side aggregate over the tick's verdict rows (≤ 4 groups).
    *
    * Replay contract: [[dedupIndexDrain]]'s — at-least-once appends
    * (dedup downstream on (batch, id)), or `exactlyOnceSink` for the
    * batch-keyed overwrite sink under which a replayed tick rewrites
    * its own directory. */
  def curationFunnelDrainAudited(stream: DataFrame, evalDocs: DataFrame,
                                 model: graft.llm.QualityLr.Model,
                                 admitWithMatches: DataFrame => (DataFrame, DataFrame),
                                 idCol: String, textCol: String,
                                 out: String, checkpoint: String,
                                 qualityThreshold: Double = 0.45,
                                 shingleSize: Int = 3,
                                 contaminationThreshold: Double = 0.5,
                                 exactlyOnceSink: Boolean = false,
                                 meta: Option[graft.meta.MetaStore] = None,
                                 metaPipeline: String = "curation_funnel_audited",
                                 onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          val verdicts = auditedTickRows(batch, batchId, evalDocs, model,
            admitWithMatches, idCol, textCol, qualityThreshold, shingleSize,
            contaminationThreshold).localCheckpoint(false)
          admittedWrite(verdicts, out, batchId, exactlyOnceSink)
          meta.foreach { ms =>
            val t1 = System.currentTimeMillis()
            val wall = (System.nanoTime() - t0) / 1e9
            val counts = verdicts
              .groupBy(col("outcome"), col("reason"))
              .agg(count(lit(1)).as("n")).collect()
              .map(r => (if (r.isNullAt(1)) "admitted" else s"rejected_${r.getString(1)}",
                r.getLong(2))).toMap
            def c(k: String) = counts.getOrElse(k, 0L)
            ms.log(graft.meta.TaskResult(metaPipeline, s"tick$batchId", "stream",
              t1 - (wall * 1000).toLong, t1, wall, isSuccess = true,
              s"admitted=${c("admitted")} rejected_contaminated=${c("rejected_contaminated")} " +
                s"rejected_low_quality=${c("rejected_low_quality")} " +
                s"rejected_duplicate=${c("rejected_duplicate")}", 1))
            ms.emit(Seq("admitted", "rejected_contaminated", "rejected_low_quality",
              "rejected_duplicate").map(k => graft.meta.Metric(k, "counter",
              c(k).toDouble, metaPipeline, s"tick$batchId", "stream", t1)) :+
              graft.meta.Metric("tick_wall", "timer", wall, metaPipeline,
                s"tick$batchId", "stream", t1))
          }
        }
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** One audited funnel tick: the verdict rows described on
    * [[curationFunnelDrainAudited]] — every feed doc exactly once. */
  private def auditedTickRows(batch: DataFrame, batchId: Long,
                              evalDocs: DataFrame,
                              model: graft.llm.QualityLr.Model,
                              admitWithMatches: DataFrame => (DataFrame, DataFrame),
                              idCol: String, textCol: String,
                              qualityThreshold: Double, shingleSize: Int,
                              contaminationThreshold: Double): DataFrame = {
    val idType = batch.schema(idCol).dataType
    val contaminated = graft.llm.Dedup.contamination(
        batch, idCol, evalDocs, idCol, textCol,
        shingleSize, contaminationThreshold)
      .select(col("train_id").as(idCol)).distinct()
      .localCheckpoint(false)
    val clean = batch.join(contaminated, Seq(idCol), "left_anti")
      .localCheckpoint(false)
    // one scoring pass feeds BOTH sides of the quality gate
    val scored = clean.join(
        graft.llm.QualityLr.score(clean, idCol, textCol, model, qualityThreshold),
        Seq(idCol))
      .localCheckpoint(false)
    val hqDocs = scored.filter(col("hq")).drop("hq")
    val (admitted, matches) =
      admitWithMatches(hqDocs.drop("margin_micro"))
    val dupRows = matches.join(hqDocs.select(col(idCol), col("margin_micro")),
      Seq(idCol))
    def rows(df: DataFrame, outcome: String, stage: Long, reason: Option[String],
             matchId: org.apache.spark.sql.Column,
             margin: org.apache.spark.sql.Column) =
      df.select(lit(batchId).as("batch"), col(idCol),
        lit(outcome).as("outcome"), lit(stage).as("stage"),
        reason.map(lit(_)).getOrElse(lit(null).cast("string")).as("reason"),
        matchId.cast(idType).as("match_id"), margin.cast("long").as("margin_micro"))
    val nullId = lit(null).cast(idType)
    val nullL = lit(null).cast("long")
    rows(contaminated, "rejected", 0L, Some("contaminated"), nullId, nullL)
      .unionByName(rows(scored.filter(!col("hq")), "rejected", 1L,
        Some("low_quality"), nullId, col("margin_micro")))
      .unionByName(rows(dupRows, "rejected", 2L, Some("duplicate"),
        col("match_id"), col("margin_micro")))
      .unionByName(rows(admitted.join(
          hqDocs.select(col(idCol), col("margin_micro")), Seq(idCol)),
        "admitted", 2L, None, nullId, col("margin_micro")))
  }

  /** One funnel tick: decontaminate → quality-gate → admit, returning
    * the `(batch, stage, stage_name, id)` stage rows — the shared body
    * of the fixed-model and versioned-model doors. */
  private def funnelTickRows(batch: DataFrame, batchId: Long,
                             evalDocs: DataFrame,
                             model: graft.llm.QualityLr.Model,
                             admit: DataFrame => DataFrame,
                             idCol: String, textCol: String,
                             qualityThreshold: Double, shingleSize: Int,
                             contaminationThreshold: Double): DataFrame = {
    val contaminated = graft.llm.Dedup.contamination(
        batch, idCol, evalDocs, idCol, textCol,
        shingleSize, contaminationThreshold)
      .select(col("train_id").as(idCol)).distinct()
    // checkpointed: the clean set feeds the scorer AND the stage
    // row dump; a stream-source batch re-executes its file scan
    // per downstream action otherwise
    val clean = batch.join(contaminated, Seq(idCol), "left_anti")
      .localCheckpoint(false)
    val hqIds = graft.llm.QualityLr
      .score(clean, idCol, textCol, model, qualityThreshold)
      .filter(col("hq")).select(idCol)
    val hqDocs = clean.join(hqIds, Seq(idCol)).localCheckpoint(false)
    val admitted = admit(hqDocs)
    def stageRows(df: DataFrame, stage: Int, name: String) =
      df.select(lit(batchId).as("batch"), lit(stage.toLong).as("stage"),
        lit(name).as("stage_name"), col(idCol))
    stageRows(clean, 0, "decontaminated")
      .unionByName(stageRows(hqDocs, 1, "quality_pass"))
      .unionByName(stageRows(admitted, 2, "admitted"))
  }

  /** Streaming eval-set DECONTAMINATION: every micro-batch of the
    * ingest feed is screened against a FIXED benchmark corpus
    * ([[graft.llm.Dedup.contamination]] — n-gram overlap ≥ threshold
    * flags leakage) and only clean docs are admitted. The eval side
    * broadcasts (benchmarks are small by construction); the batch side
    * streams through the shingle equi-join, so each tick costs
    * O(batch shingles). Per-doc decisions depend only on the fixed
    * eval set — NO cross-doc or cross-batch state — so the admitted
    * set is split-independent by construction. Deliberately NO
    * train-side df-cap here: the cap's document frequencies would be
    * computed over the BATCH and make admission depend on how the
    * feed was chunked. Appends are at-least-once on crash replay (the
    * [[dedupIndexDrain]] contract). */
  def decontaminateDrain(stream: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String,
                         admittedOut: String, checkpoint: String,
                         shingleSize: Int = 3, threshold: Double = 0.5,
                         exactlyOnceSink: Boolean = false,
                         onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          val contaminated = graft.llm.Dedup.contamination(
              batch, idCol, evalDocs, idCol, textCol, shingleSize, threshold)
            .select(col("train_id").as(idCol)).distinct()
          admittedWrite(batch.join(contaminated, Seq(idCol), "left_anti"),
            admittedOut, batchId, exactlyOnceSink)
        }
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** [[qualityGateDrain]] with a HOT-SWAPPABLE model: each micro-batch
    * re-opens the LATEST version from the
    * [[graft.llm.QualityLr.ModelStore]], so a classifier retrained and
    * published mid-stream takes effect at the very next tick — no
    * stream restart, the production gate-refresh shape (the frozen-
    * model drain cannot pick up a model revision without tearing down
    * its query). Admitted rows are stamped with `model_v`, making every
    * admission attributable to the exact model that made it — and the
    * drained output deterministic GIVEN the publish/batch interleaving
    * (which `afterBatch` pins in tests and fixtures; concurrent
    * publishes race ticks by design, exactly like production). The
    * store read is one tiny driver-side file per tick — no job, no
    * plan change; the weight table still broadcasts. At-least-once on
    * crash replay: a re-delivered batch re-scores under the CURRENT
    * latest model — the model_v stamp is what lets an exactly-once
    * consumer notice and reconcile such replays, the
    * [[dedupIndexDrain]] id-dedup contract extended with the version
    * dimension. */
  def qualityGateDrainVersioned(stream: DataFrame,
                                store: graft.llm.QualityLr.ModelStore,
                                idCol: String, textCol: String,
                                admittedOut: String, checkpoint: String,
                                threshold: Double = 0.5,
                                exactlyOnceSink: Boolean = false,
                                afterBatch: Long => Unit = _ => (),
                                onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          val (version, model) = store.latest.getOrElse(throw new IllegalStateException(
            s"quality gate drain has no published model to score batch $batchId with"))
          admittedWrite(
            graft.llm.QualityLr.score(batch, idCol, textCol, model, threshold)
              .filter(col("hq")).drop("hq")
              .withColumn("model_v", lit(version)),
            admittedOut, batchId, exactlyOnceSink)
        }
        afterBatch(batchId)
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming TRAINED-quality gate: the classifier trained offline on
    * a labeled seed ([[graft.llm.QualityLr.train]]) scores every
    * micro-batch and admits the docs above threshold — the standard
    * train-offline / serve-in-stream deployment of a CCNet-style
    * filter. Scoring is per-document with NO cross-doc state (the
    * weight table broadcasts into each tick), so the drained output is
    * split-independent by construction: any micro-batching of the feed
    * admits exactly the batch-scored set. Survivors append to
    * `admittedOut` with their margins — at-least-once on crash replay
    * (scoring a re-delivered batch yields identical rows; an
    * exactly-once consumer dedups on the id downstream, the
    * [[dedupIndexDrain]] contract). The model is FROZEN for the
    * drain's lifetime; [[qualityGateDrainVersioned]] is the variant
    * that re-opens the latest published model per tick. */
  def qualityGateDrain(stream: DataFrame, model: graft.llm.QualityLr.Model,
                       idCol: String, textCol: String,
                       admittedOut: String, checkpoint: String,
                       threshold: Double = 0.5,
                       exactlyOnceSink: Boolean = false,
                       onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        tickConf(batch.sparkSession) {
          admittedWrite(
            graft.llm.QualityLr.score(batch, idCol, textCol, model, threshold)
              .filter(col("hq")).drop("hq"),
            admittedOut, batchId, exactlyOnceSink)
        }
        onStage(s"batch$batchId", (System.nanoTime() - t0) / 1e9)
      }
      .start()
    q.awaitTermination()
  }
}
