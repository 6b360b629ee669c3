package perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: JSON output, order statistics,
  * stream hashing and file-tree accounting.
  */
object Util {

  /** Serialize maps (ListMap keeps key order), sequences, numbers,
    * booleans, strings and Options to JSON. Doubles keep every digit.
    */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  /** Linear-interpolated quantile (the "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** SHA-256 over the given strings, in order — the stream fingerprint. */
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** (regular files, total bytes) under `root`; (0, 0) when absent. */
  def treeStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally st.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  /** Copy the regular files of `src` (one level) into a fresh `dst`. */
  def copyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val st = Files.list(src)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
    finally st.close()
  }
}
