package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def read(path: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))

  /** fingerprints.json: op name → (sha256, rows). */
  def readFingerprints(path: String): Map[String, (String, Long)] =
    read(path).fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("sha256").asText, e.getValue.get("rows").asLong)
    }.toMap

  /** Total rows of `tables` in a data MANIFEST.json. */
  def tableRows(path: String, tables: Seq[String]): Long = {
    val t = read(path).get("tables")
    tables.map(n => t.get(n).get("rows").asLong).sum
  }
}

/** Order-sensitive fingerprint of a query result: SHA-256 over every
  * value of every row, in row order and column order. Values render
  * losslessly (doubles by their shortest round-trip form), strings are
  * length-prefixed so no separator can collide.
  */
object Fingerprint {
  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\\N")
    case s: String => sb.append(s.length).append(':').append(s)
    case d: Double => sb.append(java.lang.Double.toString(d))
    case f: Float => sb.append(java.lang.Float.toString(f))
    case b: java.math.BigDecimal => sb.append(b.toPlainString)
    case b: scala.math.BigDecimal => sb.append(b.bigDecimal.toPlainString)
    case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case r: Row =>
      sb.append('{'); r.toSeq.foreach { x => render(x, sb); sb.append(',') }; sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append('<')
      m.foreach { case (k, x) => render(k, sb); sb.append('='); render(x, sb); sb.append(',') }
      sb.append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }

  def apply(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      render(r, sb)
      sb.append('\n')
      md.update(sb.toString.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

object Fs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else {
        Files.createDirectories(dst.getParent)
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** SHA-256 per output directory of a sink tree: its data files,
    * concatenated in name order (Spark's part files sort by partition),
    * so two writes of the same rows compare equal whatever their job ids.
    */
  def sinkDigests(root: File): Map[String, String] = {
    val base = root.toPath
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }
      .toSeq
      .groupBy(p => base.relativize(p.getParent).toString)
      .map { case (dir, files) =>
        val md = MessageDigest.getInstance("SHA-256")
        files.sortBy(_.getFileName.toString).foreach(f => md.update(Files.readAllBytes(f)))
        dir -> md.digest().map(b => f"${b & 0xff}%02x").mkString
      }
  }
}
