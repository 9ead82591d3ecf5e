package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: JSON output, order
  * statistics, on-disk sizes, process memory and input digests.
  */
object Util {

  /** Minimal JSON writer for nested Maps / Seqs / numbers / strings. */
  def json(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                => json(f.toDouble)
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case o: Option[_]            => o.fold("null")(json)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]          => s.map(json).mkString("[", ",", "]")
    case a: Array[_]             => a.map(json).mkString("[", ",", "]")
    case other                   => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\r'         => sb.append("\\r")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-kind medians weighted by each kind's share of the samples: a
    * mixed request stream's typical latency that does not jump between
    * the modes of its kinds the way a pooled median does.
    */
  def mixMedian(kinds: Seq[String], xs: Seq[Double]): Double =
    kinds.zip(xs).groupBy(_._1).values.map(g => g.size * median(g.map(_._2))).sum / xs.size

  /** Bytes of every regular file under `dir` (0 when absent). */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  /** Order-sensitive digest of a stream of records. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(fields: Any*): Unit = {
      md.update(fields.map(String.valueOf).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    def hex: String = md.digest().map("%02x".format(_)).take(16).mkString
  }

  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, all threads, in ms. */
  def processCpuMs(): Double = os.getProcessCpuTime / 1e6

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
