package perfbench

import scala.collection.mutable

/** Latency samples of one operation class, in milliseconds. */
final class Samples {
  val ms: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def add(v: Double): Unit = ms += v
  def n: Int = ms.size

  def median: Double = Samples.quantile(ms.sorted.toIndexedSeq, 0.5)
}

object Samples {
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)
}

/** What one run of a workload measured: latencies per operation class,
  * items processed by write operations, operation and failure counts, and
  * sampled space amplification. Correctness failures are counted here
  * when they are found, always outside the timed calls. */
final class Recorder {
  val bulk = new Samples
  val write = new Samples
  val read = new Samples
  var items = 0L
  var attempted = 0L
  var failed = 0L
  val spaceAmp: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def fail(why: String): Unit = {
    failed += 1
    if (notes.size < 20) notes += why
  }

  /** Check an output; a mismatch counts as one failed operation. */
  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
}

/** Plain file-system helpers for the work directories. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val st = JFiles.walk(p)
      try st.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()
      finally st.close()
    }
  }

  def filesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val st = JFiles.walk(p)
      try st.filter(JFiles.isRegularFile(_)).count() finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val st = JFiles.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(JFiles.delete(_))
      finally st.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    JFiles.createDirectories(p.getParent)
    JFiles.write(p, text.getBytes("UTF-8"))
  }

  def read(path: String): String =
    new String(JFiles.readAllBytes(Paths.get(path)), "UTF-8")

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
