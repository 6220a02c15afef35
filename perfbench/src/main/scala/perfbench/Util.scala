package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case None => "null"
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Local-filesystem helpers: store roots are measured by listing them. */
object Disk {
  /** Every regular file under `root` with its size. */
  def list(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(roots: Seq[String]): Long = roots.map(r => list(r).values.sum).sum

  /** Files present in `after` that were absent from (or differently
    * sized in) `before`: what a commit wrote and kept. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Int, Long) = {
    val fresh = after.filter { case (f, n) => !before.get(f).contains(n) }
    (fresh.size, fresh.values.sum)
  }

  def snapshot(roots: Seq[String]): Map[String, Long] = roots.flatMap(list).toMap

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }
}
