package perfbench

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line and the result file (Jackson, from Spark's jars). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile with at least ten samples above
    * it once that is p90 or higher (100+ samples), else the nearest-rank p90.
    * Returns (value, percentile, samples).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 100) (s(n - 11), 100.0 * (n - 10) / n, n)
    else {
      val k = math.ceil(0.9 * n).toInt
      (s(k - 1), 100.0 * k / n, n)
    }
  }
}

/** Captured stdout of one tool call: counts the data lines between the two
  * `;#### DATA RESULTS ####` markers, times the first and last one, and folds
  * them into the same order-sensitive FNV-1a digest the oracle computes.
  */
final class LineSink(startNs: Long) extends ByteArrayOutputStream(256) {
  var markers = 0
  var lines = 0L
  var digest: Long = Oracle.FnvOffset
  var firstNs = -1L
  var lastNs = -1L

  override def write(b: Int): Unit =
    if (b == '\n') endLine() else super.write(b)

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    var from = off
    val end = off + len
    while (i < end) {
      if (b(i) == '\n') {
        super.write(b, from, i - from)
        endLine()
        from = i + 1
      }
      i += 1
    }
    if (from < end) super.write(b, from, end - from)
  }

  private def endLine(): Unit = {
    if (count > 0 && buf(0) == ';' && new String(buf, 0, count, "UTF-8") == LineSink.Marker) {
      markers += 1
    } else if (markers == 1) {
      val now = System.nanoTime()
      if (firstNs < 0) firstNs = now
      lastNs = now
      digest = Oracle.fnv(digest, buf, 0, count)
      digest = (digest ^ '\n') * Oracle.FnvPrime
      lines += 1
    }
    reset()
  }

  def firstLineS: Double = if (firstNs < 0) Double.NaN else (firstNs - startNs) / 1e9
  def deliverS: Double = if (firstNs < 0) 0.0 else (lastNs - firstNs) / 1e9
}

object LineSink {
  val Marker = ";#### DATA RESULTS ####"
}
