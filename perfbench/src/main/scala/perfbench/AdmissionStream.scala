package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.{IvfMorIndexStore, MinhashIndexStore}
import graft.streaming.StreamOps

/** `admission_stream`: one op is one admission tick. The seeded
  * generator's next candidate files land in the two inboxes, then one
  * `Trigger.AvailableNow` drain call each screens them against the
  * MinHash and IVF index stores (in-drain retention on). Tick 0 lands
  * the corpus, so setup pre-admits it through the same drains. */
final class AdmissionStream(spark: SparkSession, data: String, work: String) extends Workload {
  private val meta = Json.read(s"$data/meta.json")
  private val p = meta.get("params")
  private val ticks = meta.get("ticks").asScala.toIndexedSeq
  private val retention = Some((p.get("retention_window").asLong, p.get("retention_every").asInt))
  private val mhRoot = s"$work/minhash"
  private val ivfRoot = s"$work/ivf"
  private val storeRoots = Seq(mhRoot, ivfRoot)
  private val outRoots = Seq(s"$work/admitted_docs", s"$work/admitted_vecs")

  private val minhash = new MinhashIndexStore(spark, mhRoot, "doc_id", "text")
  private lazy val ivf = {
    val cs = Json.read(s"$data/centroids.json").asScala
      .map(_.asScala.map(_.floatValue).toArray).toArray
    new IvfMorIndexStore(spark, ivfRoot, "embedding", "vec_id", cs)
  }
  private lazy val docs = stream("docs")
  private lazy val vecs = stream("vecs")

  private def stream(kind: String): DataFrame = {
    val schema = spark.read.parquet(s"$data/ticks/${kind}_00000.parquet").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$work/inbox_$kind")
  }

  private val every = p.get("retention_every").asInt
  /** Warm-up is the corpus tick alone, so the timed pass (one retention
    * period) includes the first probe of a populated index and the first
    * retention firing; a longer warm-up does not fit the run budget. */
  val warmupOps = 1
  override val passSize: Int = every
  val passSeconds = 25.0

  private var before = Map.empty[String, Long]
  private var userBytes = 0L
  private var writtenBytes = 0L
  private var diskSamples = Vector.empty[Long]

  def setup(): Unit =
    Seq("docs", "vecs").foreach(k => Files.createDirectories(Paths.get(s"$work/inbox_$k")))

  /** The generator lands this tick's candidate files. */
  override def prepare(i: Int): Unit = {
    Seq("docs", "vecs").foreach { k =>
      Files.copy(Paths.get(f"$data/ticks/${k}_$i%05d.parquet"),
        Paths.get(f"$work/inbox_$k/part-$i%05d.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    before = Disk.snapshot(storeRoots ++ outRoots)
  }

  def op(i: Int, tr: Trace): Unit = {
    tr.span("streaming.minhash") {
      StreamOps.dedupIndexDrain(docs, minhash, p.get("minhash_threshold").asDouble,
        outRoots(0), s"$work/ckpt_docs", exactlyOnceSink = true, retention = retention)
    }
    tr.span("streaming.ivf") {
      StreamOps.annDedupDrain(vecs, ivf, p.get("cosine_threshold").asDouble,
        outRoots(1), s"$work/ckpt_vecs", exactlyOnceSink = true, retention = retention)
    }
  }

  /** This tick's admitted ids must be exactly its novel rows: every
    * planted copy of a live row is rejected. */
  def check(i: Int, tr: Trace): Boolean = {
    val after = Disk.snapshot(storeRoots ++ outRoots)
    val t = ticks(i)
    val landed = t.get("docs").get("bytes").asLong + t.get("vecs").get("bytes").asLong
    val bytes = Disk.written(before, after)._2
    if (i >= warmupOps) {
      userBytes += landed
      writtenBytes += bytes
      diskSamples :+= Disk.bytes(storeRoots)
    }
    val results = Seq(("docs", "doc_id", "minhash"), ("vecs", "vec_id", "ivf")).zip(outRoots).map {
      case ((kind, id, layer), out) =>
        val got = spark.read.parquet(s"$out/__b=$i").select(id).collect().map(_.getLong(0)).sorted
        val want = t.get(kind).get("novel").asScala.map(_.asLong).toSeq.sorted
        val candidates = want.size + t.get(kind).get("planted").asLong
        tr.count(s"llm.$layer.admitted", got.length.toDouble)
        tr.count(s"llm.$layer.candidates", candidates.toDouble)
        got.toSeq == want
    }
    if (tr.enabled) {
      def index(m: Map[String, Long]) = m.filter(kv => storeRoots.exists(kv._1.startsWith))
      val (indexFiles, indexBytes) = Disk.written(index(before), index(after))
      tr.count("llm.index_files_per_tick", indexFiles.toDouble)
      tr.count("llm.index_bytes_per_tick", indexBytes.toDouble)
      val (a, b) = minhash.segmentCounts
      val (c, d) = ivf.segmentCounts
      tr.count("llm.live_segments", (a + b + c + d).toDouble)
    }
    results.forall(identity)
  }

  def finish(): Map[String, Any] = {
    minhash.indexedDocs.get.coalesce(1).write.parquet(s"$work/compacted/docs")
    ivf.read.get.coalesce(1).write.parquet(s"$work/compacted/vecs")
    Map("write_amp" -> writtenBytes.toDouble / userBytes,
      "space_amp" -> Stats.median(diskSamples.map(_.toDouble)) /
        Disk.bytes(Seq(s"$work/compacted")))
  }
}
