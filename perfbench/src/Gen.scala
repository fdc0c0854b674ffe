package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One generated log line. `ts` is unique among all lines of one catalog, so
  * the expected output order is fully determined by time.
  */
final case class Line(ts: Long, comp: Int, message: String)

/** One catalog hour: every component gets `lines` lines, split over
  * `batches` uploader batches (one text file and one ingest call each).
  */
final case class HourSpec(startMs: Long, lines: Int, batches: Int)

/** One uploader batch: a text file of one component. */
final case class TextFile(comp: Int, path: Path, bytes: Long)

/** Seeded log generator. Tokens are planted an exact number of times per
  * component-hour, so hit counts depend on the window, not on the seed.
  */
object Gen {
  val Dc = "99"
  val Service = "benchsvc"
  val Components: Vector[String] = Vector("frontend", "backend", "storage")
  val HourMs = 3600000L
  val BaseMs: Long =
    LocalDate.of(2026, 1, 5).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  // Rare tokens: hit rate 1e-4 to 2e-3 per line.
  val Rare = "qzx-0417" // once per component-hour
  val Rarer = "kv-ERR-7731" // once per component-hour, every 4th hour
  val CaseVariants: Vector[String] = Vector("Fenêtre-Δ7", "FENÊTRE-Δ7", "fenêtre-δ7")
  val PairA = "paxos-stall"
  val PairB = "lease-lost"
  // Common tokens: share of lines carrying each one.
  val Common: Seq[(String, Double)] = Seq("GET" -> 0.30, "WARN" -> 0.10, "status=503" -> 0.05)

  // Lowercase consonant-vowel words: no planted token can occur by chance.
  private val Syllables = Array("ba", "ko", "ri", "su", "te", "mu", "lo", "ne", "zi", "pa",
    "do", "fe", "gu", "hi", "ja", "vo", "ye", "xu", "ca", "qi")
  private val Vocab: Array[String] = {
    val r = new Random(7)
    Array.fill(400)(Array.fill(2 + r.nextInt(3))(Syllables(r.nextInt(Syllables.length))).mkString)
  }

  /** Exact plant counts for hour index `h` of a component with `n` lines. */
  private def plants(h: Int, n: Int, r: Random): Seq[Seq[String]] = {
    val out = ArrayBuffer[Seq[String]]()
    out += Seq(Rare)
    if (h % 4 == 0) out += Seq(Rarer)
    if (h % 2 == 0) {
      out += Seq(CaseVariants(r.nextInt(CaseVariants.size)))
      out += Seq(f"ERR-${r.nextInt(10000)}%04d-zz")
      out += Seq(f"ERR-${r.nextInt(10000)}%04d-zz")
    }
    if (h % 3 == 1) { out += Seq(PairA); out += Seq(PairB); out += Seq(PairA, PairB) }
    Common.foreach { case (t, share) => out ++= Seq.fill(math.round(share * n).toInt)(Seq(t)) }
    out.toSeq
  }

  /** All lines of the given hours, sorted by time. Hour `i` of `hours` is
    * hour index `firstIndex + i` for the plant schedule.
    */
  def lines(seed: Long, hours: Seq[HourSpec], firstIndex: Int = 0): Array[Line] = {
    val out = ArrayBuffer[Line]()
    hours.zipWithIndex.foreach { case (hs, i) =>
      val r = new Random(seed * 1000003L + hs.startMs / HourMs)
      val total = hs.lines * Components.size
      val offs = mutable.HashSet[Int]()
      while (offs.size < total) offs += r.nextInt(HourMs.toInt)
      val shuffled = r.shuffle(offs.toVector.sorted)
      Components.indices.foreach { c =>
        val ts = shuffled.slice(c * hs.lines, (c + 1) * hs.lines).sorted
        val extra = Array.fill(hs.lines)(List.empty[String])
        val ps = plants(firstIndex + i, hs.lines, r)
        require(ps.size <= hs.lines, s"too many plants for ${hs.lines} lines")
        r.shuffle(ts.indices.toVector).take(ps.size).zip(ps).foreach { case (k, p) =>
          extra(k) = p.toList
        }
        ts.indices.foreach { k =>
          out += Line(hs.startMs + ts(k), c, message(r, c, extra(k)))
        }
      }
    }
    out.sortBy(_.ts).toArray
  }

  private def message(r: Random, comp: Int, planted: List[String]): String = {
    val words = ArrayBuffer.fill(6 + r.nextInt(7))(Vocab(r.nextInt(Vocab.length)))
    planted.foreach(t => words.insert(r.nextInt(words.size + 1), t))
    f"host-${r.nextInt(16)}%02d ${Components(comp)}[${1000 + r.nextInt(9000)}]: " +
      words.mkString(" ")
  }

  private val textTs = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS", Locale.ROOT)
    .withZone(ZoneOffset.UTC)

  /** Uploader text files: one per (component, batch), lines in time order,
    * RFC 5424 timestamps.
    */
  def writeText(dir: Path, seed: Long, hours: Seq[HourSpec], lines: Array[Line],
      tag: String): Seq[TextFile] = {
    Files.createDirectories(dir)
    val batchOf = hours.map(h => h.startMs / HourMs -> h.batches).toMap
    val r = new Random(seed * 31 + 17)
    val writers = mutable.LinkedHashMap[(Int, Int), (Path, BufferedWriter)]()
    lines.foreach { l =>
      val b = r.nextInt(batchOf(l.ts / HourMs))
      val (_, w) = writers.getOrElseUpdate((l.comp, b), {
        val p = dir.resolve(s"$tag-${Components(l.comp)}-b$b.log")
        (p, Files.newBufferedWriter(p, UTF_8))
      })
      w.write(textTs.format(Instant.ofEpochMilli(l.ts)))
      w.write("Z ")
      w.write(l.message)
      w.write('\n')
    }
    writers.toSeq.sortBy(_._1).map { case ((c, _), (p, w)) =>
      w.close(); TextFile(c, p, Files.size(p))
    }
  }
}

/** The oracle's answer to one query: matching lines, their digest, and the
  * lines in the query's time window and components before the content test.
  */
final case class Expected(lines: Long, digest: Long, windowLines: Long)

/** The independent oracle, in plain Scala over the generated lines. Output
  * lines are `yyyy-MM-ddTHH:mm:ss.SSS+00:00 <message>` in time order; the
  * digest is 64-bit FNV-1a over their UTF-8 bytes, each followed by '\n'.
  */
object Oracle {
  val FnvOffset = 0xcbf29ce484222325L
  val FnvPrime = 0x100000001b3L

  def fnv(h0: Long, bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = h0
    var i = off
    val end = off + len
    while (i < end) { h = (h ^ (bytes(i) & 0xff)) * FnvPrime; i += 1 }
    h
  }

  private val outTs = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS", Locale.ROOT)
    .withZone(ZoneOffset.UTC)

  def formatted(l: Line): String = outTs.format(Instant.ofEpochMilli(l.ts)) + "+00:00 " + l.message

  /** Line test of one tool invocation, written from the tools' documented
    * semantics: substring, upper-cased substring for `--i`, any/all terms
    * for multisearch, `java.util.regex` find for grep.
    */
  def test(tool: String, terms: Seq[String], ci: Boolean, all: Boolean): String => Boolean = {
    def up(s: String) = s.toUpperCase(Locale.ROOT)
    tool match {
      case "logcat" => _ => true
      case "loggrep" =>
        val p = Pattern.compile(terms.head, if (ci) Pattern.CASE_INSENSITIVE else 0)
        m => p.matcher(m).find()
      case _ =>
        val ts = if (ci) terms.map(up) else terms
        val one: (String, String) => Boolean = (m, t) => m.contains(t)
        m => {
          val mm = if (ci) up(m) else m
          if (all) ts.forall(one(mm, _)) else ts.exists(one(mm, _))
        }
    }
  }
}
