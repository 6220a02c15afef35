package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** The engine-wide settings of [[GraftSession.engineConf]]: generated code
  * is shared across sessions, and local files get Hadoop's modes. */
class GraftSessionSpec extends SparkSpec {

  test("a new session reuses the classes an earlier session compiled") {
    def run(s: SparkSession): Unit = {
      val rows = s.range(0, 2000, 1, 4).selectExpr("id % 7 AS k", "id")
        .groupBy("k").agg(sum("id")).collect()
      assert(rows.length == 7)
    }
    run(spark)
    run(spark)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(spark.newSession())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }

  test("the local filesystem writes the same modes, bytes and .crc files as stock Hadoop") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)

    def oct(s: String): Int = Integer.parseInt(s, 8)
    def local(p: Path) = Paths.get(p.toUri)
    def mode(p: Path): Int = Files.getAttribute(local(p), "unix:mode").asInstanceOf[Int] & oct("7777")
    val root = new Path(Files.createTempDirectory("graft-fs").toUri)
    // a directory and a file in it, written through `f`: their modes and the file's .crc
    def write(f: FileSystem, name: String): (Int, Int, Seq[Byte]) = {
      val dir = new Path(root, s"$name/d")
      assert(f.mkdirs(dir))
      val out = f.create(new Path(dir, "f"))
      out.write(Array.tabulate[Byte](4096)(_.toByte))
      out.close()
      (mode(dir), mode(new Path(dir, "f")), Files.readAllBytes(local(new Path(dir, ".f.crc"))).toSeq)
    }
    val ours = write(fs, "ours")
    assert(ours == write(stock, "stock"))
    val umask = FsPermission.getUMask(conf).toShort
    assert((ours._1, ours._2) == (oct("777") & ~umask, oct("666") & ~umask))

    val file = new Path(root, "ours/d/f")
    for (m <- Seq("600", "750")) {
      fs.setPermission(file, new FsPermission(oct(m).toShort))
      assert(mode(file) == oct(m))
    }
    val dir = new Path(root, "ours/d")
    fs.setPermission(dir, new FsPermission(oct("1755").toShort))
    assert(mode(dir) == oct("1755"))
  }
}
