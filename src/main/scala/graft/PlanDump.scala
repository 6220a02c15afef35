package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for registry queries to files — the
  * audit artifact the optimization rounds commit under `plans/`, so a
  * reviewer without a Spark runtime can check plan-shape claims
  * (Exchange count, join strategy, PushedFilters/ReadSchema) against
  * the code.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <query> [query…]"
  * writes <outDir>/<query>_<suffix>.txt per query. Streaming / multi-
  * phase queries return their FINAL result DataFrame; the dump is that
  * result's plan (the probe/read shape over the mutated store), which
  * is where the reconcile/scan claims live. The query body EXECUTES
  * (drains run their ticks) so the plan reflects real post-run state.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>…")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(GraftSession.engineConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
