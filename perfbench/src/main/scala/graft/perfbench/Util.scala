package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the harness's records (no dependency beyond
  * the JDK): maps, sequences, numbers, booleans, strings and null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Stats {

  /** Nearest-rank quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
      s(rank - 1)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}

/** Wall-clock time in epoch nanoseconds, the clock file modification
  * times are stamped with, so landing schedules and commit-marker
  * mtimes can be subtracted directly.
  */
object Clock {
  def wallNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def mtimeNs(p: Path): Long =
    Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)

  /** Sleeps until the wall clock reaches `targetNs`. */
  def sleepUntil(targetNs: Long): Unit = {
    var left = targetNs - wallNs()
    while (left > 0) {
      if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L)
      else Thread.onSpinWait()
      left = targetNs - wallNs()
    }
  }
}

object Fs {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  def deleteRecursively(p: Path): Unit = graft.sink.FsUtil.deleteRecursively(p)

  /** Total bytes of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
