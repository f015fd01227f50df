package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator
import scala.jdk.CollectionConverters._
import scala.util.Using

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count), or None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val n = s.size
      Some((s(n - 11), 100.0 * (n - 10) / n, n))
    }

  /** Bytes of every regular file under `p` (0 when absent). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => try Files.size(f) catch { case _: java.io.IOException => 0L })
        .sum
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { st =>
      st.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)
    }

  /** Peak resident set size of this process, in MB (VmHWM). */
  def peakRssMb: Double =
    Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
}
