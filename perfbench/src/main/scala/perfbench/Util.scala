package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  /** Bytes and count of the data files under `p` (parquet parts, not the
    * `_SUCCESS` markers or checksum side files). */
  def dataFiles(p: Path): (Long, Int) = {
    val fs = files(p).filter { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    (fs.map(Files.size).sum, fs.size)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def seconds(body: => Any): Double = timed(body)._2

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  /** The highest percentile that still leaves at least ten samples beyond
    * it, as (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 11) None
    else {
      val p = math.floor(100.0 * (xs.length - 10) / xs.length)
      Some((p, percentile(xs, p)))
    }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    else {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      (m.getHeapMemoryUsage.getCommitted + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
    }
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** 64-bit FNV-1a, for manifest content hashes. */
  def fnv(bytes: Array[Byte], h0: Long = 0xcbf29ce484222325L): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
}

/** Minimal JSON rendering for manifests, spans and the result line. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
