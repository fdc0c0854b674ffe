package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.cli.LogToolCli
import graft.engine._
import graft.maintenance.{MaintenanceConfig, MaintenanceReport, MaintenanceRunner}

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Fail-loudly condition: the run stops without a result line. */
final class Abort(msg: String) extends RuntimeException(msg)

/** One read query, with the oracle's answer. */
final case class Query(id: String, tool: String, argv: Array[String],
    predicate: LogToolCli.Args => LogPredicate, expected: Expected)

/** Generated lines of one catalog, sorted by time, with the oracle over them. */
final class Truth(val lines: Array[Line]) {
  private val ts = lines.map(_.ts)

  def expected(comp: Option[Int], startMs: Long, endMs: Long, test: String => Boolean): Expected = {
    var n = 0L
    var window = 0L
    var h = Oracle.FnvOffset
    var i = java.util.Arrays.binarySearch(ts, startMs) match {
      case k if k >= 0 => k
      case k => -k - 1
    }
    while (i < lines.length && lines(i).ts < endMs) {
      val l = lines(i)
      if (comp.forall(_ == l.comp)) {
        window += 1
        if (test(l.message)) {
          val b = Oracle.formatted(l).getBytes(UTF_8)
          h = Oracle.fnv(h, b, 0, b.length)
          h = (h ^ '\n') * Oracle.FnvPrime
          n += 1
        }
      }
      i += 1
    }
    Expected(n, h, window)
  }
}

/** Result of one tool call through `LogToolCli.runWith`. */
final case class Outcome(latencyS: Double, firstLineS: Double, lines: Long, digest: Long)

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, results: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("results")).toAbsolutePath)
    require(Set("search_sparse", "cat_dense", "ingest_merge")(o.workload), s"unknown workload ${o.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = LogToolCli.session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code =
      try {
        val line = new Bench(spark, o, sessionS).run()
        spark.stop()
        println(line)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ABORT: $e")
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}

/** One run of one workload. Closed loop, one client: each tool call starts
  * after the previous one returned.
  */
final class Bench(spark: SparkSession, o: Main.Opts, sessionS: Double) {
  import Bench._

  private val probe = new Probe(spark)
  private val cores = spark.sparkContext.defaultParallelism
  private var attempted = 0
  private var failed = 0
  private val ops = ArrayBuffer[Map[String, Any]]()
  private var tailDetail: Map[String, Any] = Map.empty
  private val traceDetail = mutable.LinkedHashMap[String, Any]()
  private val rand = new Random(o.seed)

  // Epoch-ms clock for spans, aligned with Spark's event times.
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(ns: Long): Double = wall0 + (ns - nano0) / 1e6

  private def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - nano0) / 1e9 + sessionS}%7.2fs] $msg")

  def run(): String = {
    log(s"session ready; ${o.workload} seed ${o.seed}")
    deleteTree(o.work.resolve("run"))
    if (o.trace) probe.attach()
    val result = o.workload match {
      case "ingest_merge" => ingestMerge()
      case w => readWorkload(w)
    }
    val metrics = result.metrics ++ Map("peak_rss_mb" -> peakRssMb)
    val chosen: Seq[(String, String)] = if (o.trace) PerLayer else EndToEnd
    val missing = chosen.map(_._1).filterNot(metrics.contains)
    if (missing.nonEmpty) throw new Abort(s"metrics not measured: ${missing.mkString(", ")}")
    val out = mutable.LinkedHashMap[String, Any]()
    chosen.foreach { case (name, unit) =>
      out(name) = mutable.LinkedHashMap("value" -> metrics(name), "unit" -> unit)
    }
    val line = mutable.LinkedHashMap[String, Any]("correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> out)
    val file = o.results.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "environment" -> environment(result.corpus),
      "error_rate" -> failed.toDouble / math.max(attempted, 1),
      "result" -> line, "all_metrics" -> metrics, "query_tail" -> tailDetail,
      "detail" -> result.detail, "traced_run" -> traceDetail, "operations" -> ops)
    Files.write(file, Json(record).getBytes(UTF_8))
    log(s"wrote ${o.work.getParent.relativize(file)}")
    deleteTree(o.work.resolve("run"))
    Json(line)
  }

  // ---------------------------------------------------------------- read side

  private final case class Result(metrics: Map[String, Double], corpus: Map[String, Any],
      detail: Map[String, Any])

  private def readWorkload(w: String): Result = {
    // Set-up: build the catalog SetupReps times from the same seed, each
    // into a fresh root; the last one is read.
    val builds = (1 to SetupReps).map(i => buildCatalog(o.work.resolve(s"run/catalog-$i"), s"build$i"))
    builds.init.foreach(b => deleteTree(b.dir))
    val cat = builds.last
    val t0 = System.nanoTime()
    val queries = w match {
      case "search_sparse" => sparseQueries(cat)
      case "cat_dense" => denseQueries(cat)
    }
    val warmup = warmupQueries(cat)
    val setupS = sessionS + Stats.median(builds.map(_.seconds)) + (System.nanoTime() - t0) / 1e9

    log(f"set-up done: setup_s $setupS%.3f")
    if (o.trace) probe.detach()
    warmup.foreach(q => runCli(q, "warmup"))
    log("warm-up done")

    val metrics =
      if (o.trace) tracedPass(queries) ++ writeLayers(builds)
      else {
        val outs = ArrayBuffer[Outcome]()
        runCycles(c => queries.foreach(q => outs += runCli(q, s"cycle$c")))
        log(s"measured ${outs.size} queries")
        queryE2e(outs.toSeq) ++ writeE2e(builds) + ("setup_s" -> setupS)
      }
    Result(metrics, cat.corpus,
      Map("session_s" -> sessionS, "setup_s" -> setupS, "builds" -> builds.map(_.summary),
        "queries" -> queries.map(q => Map("id" -> q.id, "tool" -> q.tool,
          "argv" -> q.argv.filterNot(_.startsWith("--root=")), "expected_lines" -> q.expected.lines,
          "window_lines" -> q.expected.windowLines))))
  }

  /** Latency and delivery metrics of the timed tool calls. */
  private def queryE2e(outs: Seq[Outcome]): Map[String, Double] = {
    val lat = outs.map(_.latencyS)
    val (tail, pct, n) = Stats.tail(lat)
    tailDetail = Map("value_s" -> tail, "percentile" -> pct, "samples" -> n)
    Map("query_p50_s" -> Stats.median(lat), "query_tail_s" -> tail,
      "first_line_p50_s" -> Stats.median(outs.filter(_.lines > 0).map(_.firstLineS)),
      "lines_per_s" -> outs.map(_.lines).sum / lat.sum)
  }

  /** A catalog as the production writer lays it out: the old hours ingested
    * and compacted into `data/` by one maintenance pass, the recent hours
    * left as uploader files in `incoming/`.
    */
  private final case class Catalog(dir: Path, root: String, truth: Truth, seconds: Double,
      ingests: Seq[IngestCall], maintenance: MaintenanceStep, storedRatio: Double,
      corpus: Map[String, Any]) {
    def summary: Map[String, Any] = Map("seconds" -> seconds,
      "ingest_calls" -> ingests.map(_.summary), "maintenance" -> maintenance.summary)
  }

  private def buildCatalog(dir: Path, tag: String): Catalog = {
    val t0 = System.nanoTime()
    val old = (0 until OldHours).map(h => HourSpec(Gen.BaseMs + h * Gen.HourMs, OldLines, OldBatches))
    val recent = (OldHours until OldHours + RecentHours)
      .map(h => HourSpec(Gen.BaseMs + h * Gen.HourMs, RecentLines, RecentBatches))
    val all = Gen.lines(o.seed, old ++ recent)
    val recentStart = recent.head.startMs
    val root = dir.resolve("root")
    val oldText = Gen.writeText(dir.resolve("text"), o.seed, old, all.filter(_.ts < recentStart), "old")
    val recentText = Gen.writeText(dir.resolve("text"), o.seed, recent, all.filter(_.ts >= recentStart), "recent")
    val oldCalls = oldText.map(t => ingest(root, t, s"$tag-old"))
    val maint = maintain(root, s"$tag-maintenance", OldHours * Gen.Components.size)
    val recentCalls = recentText.map(t => ingest(root, t, s"$tag-recent"))
    val truth = new Truth(all)
    val seconds = (System.nanoTime() - t0) / 1e9
    log(f"catalog $tag built in $seconds%.2fs")

    val files = LogCatalog.resolve(spark.sessionState.newHadoopConf(), root.toString, Gen.Dc,
      Gen.Service, "*", Gen.BaseMs, Gen.BaseMs + (OldHours + RecentHours) * Gen.HourMs)
    if (files.isEmpty) throw new Abort(s"catalog at $root lists 0 files")
    val boom = boomFiles(root)
    val textBytes = (oldText ++ recentText).map(_.bytes).sum
    val corpus = Map("lines" -> all.length, "text_mb" -> textBytes / 1e6,
      "boom_mb" -> boom.map(_._2).sum / 1e6, "files" -> files.size,
      "hours" -> (OldHours + RecentHours), "components" -> Gen.Components.size,
      "compacted_hours" -> OldHours, "incoming_hours" -> RecentHours)
    Catalog(dir, root.toString, truth, seconds, oldCalls ++ recentCalls, maint,
      boom.map(_._2).sum.toDouble / textBytes, corpus)
  }

  /** Write-path rates of the set-up builds after the first (cold JVM) one,
    * as total bytes over total seconds.
    */
  private def writeE2e(builds: Seq[Catalog]): Map[String, Double] =
    writeRates(builds.tail.flatMap(_.ingests), builds.tail.map(_.maintenance)) ++
      Map("stored_bytes_per_input_byte" -> Stats.median(builds.map(_.storedRatio)))

  private def writeRates(calls: Seq[IngestCall], passes: Seq[MaintenanceStep]): Map[String, Double] =
    Map("ingest_mb_per_s" -> calls.map(_.textBytes).sum / 1e6 / calls.map(_.seconds).sum,
      "compact_mb_per_s" -> passes.map(_.incomingBytes).sum / 1e6 / passes.map(_.seconds).sum)

  private def writeLayers(builds: Seq[Catalog]): Map[String, Double] =
    ingestLayers(builds.flatMap(_.ingests)) ++ maintenanceLayers(builds.map(_.maintenance))

  private val argTs = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss", Locale.ROOT).withZone(ZoneOffset.UTC)

  private def mkQuery(dir: Path, root: String, truth: Truth, id: String, tool: String,
      comp: Option[Int], startMs: Long, endMs: Long, terms: Seq[String] = Nil,
      ci: Boolean = false, all: Boolean = false): Query = {
    val base = Seq(s"--root=$root", s"-dc=${Gen.Dc}", s"-svc=${Gen.Service}",
      s"-comp=${comp.fold("*")(Gen.Components(_))}",
      s"-start=${argTs.format(Instant.ofEpochMilli(startMs))}",
      s"-end=${argTs.format(Instant.ofEpochMilli(endMs))}")
    val toolArgs = tool match {
      case "logcat" => Nil
      case "logsearch" => Seq(s"-string=${terms.head}")
      case "loggrep" => Seq(s"-regex=${terms.head}")
      case "logmultisearch" =>
        val f = dir.resolve("terms").resolve(s"$id.txt")
        Files.createDirectories(f.getParent)
        Files.write(f, terms.mkString("\n").getBytes(UTF_8))
        Seq(s"-strings=$f")
    }
    val flags = (if (ci) Seq("--i") else Nil) ++ (if (all) Seq("--a") else Nil)
    val predicate: LogToolCli.Args => LogPredicate = tool match {
      case "logcat" => _ => MatchAll
      case "loggrep" => a => Grep(a.regex, a.caseInsensitive)
      case "logsearch" => a => Search(a.string, a.caseInsensitive)
      case "logmultisearch" => a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)
    }
    val exp = truth.expected(comp, startMs, endMs, Oracle.test(tool, terms, ci, all))
    Query(id, tool, (base ++ toolArgs ++ flags).toArray, predicate, exp)
  }

  /** Rare terms over 12-72 h windows ending in the last 90 minutes of the
    * catalog, mostly across every component.
    */
  private def sparseQueries(cat: Catalog): Seq[Query] = {
    val end = Gen.BaseMs + (OldHours + RecentHours) * Gen.HourMs
    def window(hours: Int): (Long, Long) = {
      val e = end - rand.nextInt(90 * 60) * 1000L
      (e - hours * Gen.HourMs, e)
    }
    val pair = Seq(Gen.PairA, Gen.PairB)
    def q(id: String, tool: String, comp: Option[Int], hours: Int, terms: Seq[String],
        ci: Boolean = false, all: Boolean = false) = {
      val (s, e) = window(hours)
      mkQuery(cat.dir, cat.root, cat.truth, id, tool, comp, s, e, terms, ci, all)
    }
    Seq(
      q("s1-search", "logsearch", None, 12, Seq(Gen.Rare)),
      q("s2-search-i", "logsearch", None, 24, Seq("fenêtre-δ7"), ci = true),
      q("s3-multi-or", "logmultisearch", None, 48, pair),
      q("s4-multi-and", "logmultisearch", None, 12, pair, all = true),
      q("s5-grep", "loggrep", None, 12, Seq("ERR-[0-9]{4}-zz")),
      q("s6-search-72h", "logsearch", None, 72, Seq(Gen.Rarer)))
  }

  /** Two cheap one-hour calls run before timing, so JIT and codegen caches
    * are warm for the first timed query.
    */
  private def warmupQueries(cat: Catalog): Seq[Query] = {
    val s = Gen.BaseMs + OldHours * Gen.HourMs
    Seq(mkQuery(cat.dir, cat.root, cat.truth, "w1-cat", "logcat", Some(0), s, s + Gen.HourMs),
      mkQuery(cat.dir, cat.root, cat.truth, "w2-search-i", "logsearch", None, s, s + Gen.HourMs,
        Seq("warn"), ci = true))
  }

  /** Runs whole cycles of the workload's mix, as many as `--seconds` holds
    * at the workload's nominal cycle length on a 4-core host (at least one),
    * so every run measures the same mix with the same sample count.
    */
  private def runCycles(body: Int => Unit): Unit = {
    val cycles = math.max(1, math.round(o.seconds / NominalCycleS(o.workload)).toInt)
    (0 until cycles).foreach(body)
  }

  /** logcat and common terms over 1-4 h windows inside the dense recent hours. */
  private def denseQueries(cat: Catalog): Seq[Query] = {
    val lo = Gen.BaseMs + OldHours * Gen.HourMs
    val hi = lo + RecentHours * Gen.HourMs
    def q(id: String, tool: String, comp: Option[Int], hours: Int, terms: Seq[String] = Nil,
        ci: Boolean = false) = {
      val span = hours * Gen.HourMs
      val s = lo + rand.nextInt(((hi - lo - span) / 1000).toInt + 1) * 1000L
      mkQuery(cat.dir, cat.root, cat.truth, id, tool, comp, s, s + span, terms, ci)
    }
    val one = Some(rand.nextInt(Gen.Components.size))
    Seq(
      q("c1-cat-1h", "logcat", None, 1),
      q("c2-cat-1comp-4h", "logcat", one, 4),
      q("c3-cat-2h", "logcat", None, 2),
      q("c4-search-common", "logsearch", None, 4, Seq("GET")),
      q("c5-grep-common", "loggrep", None, 3, Seq("WARN|status=503")),
      q("c6-search-i-1comp", "logsearch", one, 4, Seq("warn"), ci = true),
      q("c7-cat-3h", "logcat", None, 3))
  }

  /** One call exactly as a CLI user makes it, stdout into a digest sink. */
  private def runCli(q: Query, phase: String): Outcome = {
    val t0 = System.nanoTime()
    val sink = new LineSink(t0)
    val out = new PrintStream(sink, false, UTF_8)
    val errBuf = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(errBuf, true, UTF_8))
    try Console.withOut(out)(LogToolCli.runWith(spark, q.tool, q.argv, q.predicate))
    finally { out.flush(); System.setErr(saved) }
    val latency = (System.nanoTime() - t0) / 1e9
    val status = new String(errBuf.toByteArray, UTF_8)
    val files = """;Running \S+ against (\d+) files""".r.findFirstMatchIn(status).map(_.group(1).toInt)
    val reported = """;(\d+) results""".r.findFirstMatchIn(status).map(_.group(1).toLong)
    check(q, phase, sink, files, reported)
    ops += Map("phase" -> phase, "id" -> q.id, "latency_s" -> latency,
      "first_line_s" -> sink.firstLineS, "lines" -> sink.lines)
    Outcome(latency, sink.firstLineS, sink.lines, sink.digest)
  }

  private def check(q: Query, phase: String, sink: LineSink, files: Option[Int],
      reported: Option[Long]): Unit = {
    attempted += 1
    if (q.expected.lines > 0 && (sink.lines == 0 || files.contains(0)))
      throw new Abort(s"${q.id} ($phase): 0 lines from ${files.getOrElse("?")} files, oracle expects ${q.expected.lines}")
    val ok = sink.markers == 2 && sink.lines == q.expected.lines &&
      sink.digest == q.expected.digest && reported.forall(_ == sink.lines)
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: MISMATCH ${q.id} ($phase): ${sink.lines} lines " +
        s"(expected ${q.expected.lines}), digest ${sink.digest == q.expected.digest}, " +
        s"markers ${sink.markers}, reported $reported")
    }
  }

  // ------------------------------------------------------------------ tracing

  /** Replays `queries` traced, call by call (the calls `runWith` +
    * `printTo` make), each between two untraced `runWith` calls of the same
    * query, and returns the per-layer medians plus the tracing overhead:
    * traced minus the untraced call after it (the one before warms the
    * query's shape). The traced output digest must equal the untraced one.
    */
  private def tracedPass(queries: Seq[Query]): Map[String, Double] = {
    val runs = queries.map { q =>
      val before = runCli(q, "untraced")
      probe.attach()
      val t = traceQuery(q)
      probe.detach()
      val after = runCli(q, "untraced")
      if (t.outcome.digest != before.digest) {
        failed += 1
        System.err.println(s"perfbench: traced output of ${q.id} differs from untraced")
      }
      (t, after.latencyS)
    }
    val traced = runs.map(_._1)
    traceReport(traced, traced.flatMap(_.spans) ++ writeSpans,
      traced.map(_.outcome.latencyS).sum, runs.map(_._2).sum)
  }

  /** Prints and records the self-time and per-query tables of a traced
    * replay; returns the per-layer medians over its queries and the tracing
    * overhead.
    */
  private def traceReport(traced: Seq[Traced], spans: Seq[Span], tracedS: Double,
      untracedS: Double): Map[String, Double] = {
    selfTimeTable(spans)
    printQueryTable(traced)
    traceDetail += "queries" -> traced.map(t => Map("id" -> t.query.id) ++ t.layers)
    traceDetail += "overhead" -> Map("traced_s" -> tracedS, "untraced_s" -> untracedS)
    traced.head.layers.keys.map(k => k -> Stats.median(traced.map(_.layers(k)))).toMap +
      ("trace.overhead_s" -> (tracedS - untracedS))
  }

  private final case class Traced(query: Query, outcome: Outcome, layers: Map[String, Double], spans: Seq[Span])

  private def traceQuery(q: Query): Traced = {
    val key = s"trace-${q.id}"
    val spans = ArrayBuffer[Span]()
    def span[T](name: String)(body: => T): T = {
      val s = System.nanoTime()
      try body
      finally spans += Span(key, name, name, "query", epochMs(s), epochMs(System.nanoTime()))
    }
    val t0 = System.nanoTime()
    val sink = new LineSink(t0)
    val out = new PrintStream(sink, false, UTF_8)
    var files: Seq[String] = Nil
    var plan: SparkPlan = null
    probe.within(key) {
      Console.withOut(out) {
        val a = span("cli.parse")(LogToolCli.parseArgs(q.argv, q.tool))
        val lq = span("engine.build") {
          LogQuery(root = a.root, dc = a.dc, service = a.svc, component = a.comp,
            dateFormat = a.dateFormat).range(a.startMs, a.endMs).where(q.predicate(a))
        }
        files = span("engine.catalog")(lq.resolvePaths(spark))
        val ds = span("engine.query") {
          val d = lq.formatted(spark)
          plan = d.queryExecution.executedPlan
          d
        }
        println(LineSink.Marker)
        span("exec")(ds.toLocalIterator().forEachRemaining(s => println(s)))
        println(LineSink.Marker)
      }
      out.flush()
    }
    val t1 = System.nanoTime()
    spans += Span(key, "query", "query", "", epochMs(t0), epochMs(t1))
    if (sink.firstNs > 0) spans += Span(key, "cli.deliver", "cli.deliver", "exec",
      epochMs(sink.firstNs), epochMs(sink.lastNs))
    check(q, "traced", sink, Some(files.size), None)
    val outcome = Outcome((t1 - t0) / 1e9, sink.firstLineS, sink.lines, sink.digest)

    val c = probe.group(key)
    val all = spans.toSeq ++ c.synchronized(c.spans.toSeq)
    def dur(n: String) = spans.filter(_.name == n).map(_.durS).sum
    val conf = spark.sessionState.newHadoopConf()
    val catalogBytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val hours = files.flatMap(f => HourDir.findFirstIn(f)).distinct.size
    val scans = scanNodes(plan)
    val rowsOut = scans.map(_.metrics("numOutputRows").value).sum
    val execS = dur("exec")
    val layers = Map(
      "cli.deliver_s" -> sink.deliverS,
      "cli.first_line_wait_s" -> (if (sink.firstNs > 0) (sink.firstNs - t0) / 1e9 -
        dur("cli.parse") - dur("engine.build") - dur("engine.catalog") - dur("engine.query") else 0.0),
      "engine.catalog.resolve_s" -> dur("engine.catalog"),
      "engine.catalog.files" -> files.size.toDouble,
      "engine.catalog.bytes" -> catalogBytes.toDouble,
      "engine.catalog.hours" -> hours.toDouble,
      "engine.query.plan_s" -> dur("engine.query"),
      "engine.query.scan_nodes" -> scans.size.toDouble,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.parallel_efficiency" -> c.runMs / 1000.0 / (execS * cores),
      "boom.scan.bytes_read" -> c.bytesRead.toDouble,
      "boom.scan.read_ratio" -> c.bytesRead.toDouble / math.max(catalogBytes, 1L),
      "boom.scan.rows_out" -> rowsOut.toDouble,
      "boom.scan.selectivity" -> rowsOut.toDouble / math.max(q.expected.windowLines, 1L),
      "exec.cpu_s" -> c.cpuNs / 1e9,
      "exec.run_s" -> c.runMs / 1000.0,
      "exec.gc_s" -> c.gcMs / 1000.0,
      "exec.spill_bytes" -> c.spillBytes.toDouble,
      "exec.shuffle_bytes" -> c.shuffleBytes.toDouble,
      "sql.executions" -> c.sqlExecutions.toDouble,
      "query_s" -> outcome.latencyS)
    Traced(q, outcome, layers, all)
  }

  private def scanNodes(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case s: QueryStageExec => scanNodes(s.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scanNodes)
  }

  /** Self time per span name: duration minus the part of it covered by its
    * children, summed over every traced query or batch.
    */
  private def selfTimeTable(spans: Seq[Span]): Unit = {
    val byParent = spans.groupBy(s => (s.key, s.parent))
    val self = mutable.LinkedHashMap[String, Double]()
    spans.foreach { s =>
      val kids = byParent.getOrElse((s.key, s.id), Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      kids.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      self(s.name) = self.getOrElse(s.name, 0.0) + (s.endMs - s.startMs - covered) / 1000.0
    }
    val total = spans.filter(_.parent == "").map(_.durS).sum
    System.err.println("perfbench: self time per layer (traced run)")
    System.err.println(f"  ${"layer"}%-22s ${"self_s"}%10s ${"share"}%8s")
    self.toSeq.sortBy(-_._2).foreach { case (n, v) =>
      System.err.println(f"  $n%-22s $v%10.4f ${100 * v / total}%7.1f%%")
    }
    traceDetail += "self_time_s" -> self
    traceDetail += "spans" -> spans.map(s => Map("key" -> s.key, "name" -> s.name, "id" -> s.id,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)
  }

  private def printQueryTable(traced: Seq[Traced]): Unit = {
    val cols = Seq("query_s", "engine.catalog.resolve_s", "engine.query.plan_s", "spark.tasks",
      "spark.parallel_efficiency", "engine.catalog.files", "boom.scan.rows_out")
    System.err.println("perfbench: per query (traced run): " + cols.mkString(" | "))
    traced.foreach { t =>
      System.err.println(s"  ${t.query.id}: " + cols.map(c => f"${t.layers(c)}%.4g").mkString(" | "))
    }
  }

  // -------------------------------------------------------------- write side

  private final case class IngestCall(seconds: Double, textBytes: Long, tasks: Int, files: Int,
      bytes: Long, blocks: Long, lines: Long) {
    def summary: Map[String, Any] = Map("seconds" -> seconds, "text_bytes" -> textBytes,
      "tasks" -> tasks, "files" -> files, "bytes" -> bytes, "blocks" -> blocks, "lines" -> lines)
  }

  private final case class MaintenanceStep(seconds: Double, incomingBytes: Long, jobs: Int,
      report: MaintenanceReport, bytesRewritten: Long, filesAfter: Int) {
    def summary: Map[String, Any] = Map("seconds" -> seconds, "incoming_bytes" -> incomingBytes,
      "jobs" -> jobs, "merged" -> report.merged.size, "failures" -> report.failures.size,
      "bytes_rewritten" -> bytesRewritten, "files_after" -> filesAfter)
  }

  private var stepNo = 0
  private val writeSpans = ArrayBuffer[Span]()

  /** Run `body` as job group `g` when tracing, with a `layer` span over it
    * and its Spark jobs, stages and tasks as children; plain otherwise.
    */
  private def step[T](g: String, layer: String)(body: => T): T =
    if (!o.trace) body
    else {
      val s = System.nanoTime()
      try probe.within(g)(body)
      finally {
        val c = probe.group(g)
        writeSpans += Span(g, layer, "exec", "", epochMs(s), epochMs(System.nanoTime()))
        writeSpans ++= c.synchronized(c.spans.toSeq)
      }
    }

  /** One uploader batch through `Ingest.textToCatalog` into `incoming/`. */
  private def ingest(root: Path, text: TextFile, tag: String): IngestCall = {
    stepNo += 1
    val g = s"$tag-ingest-$stepNo"
    val before = boomFiles(root).map(_._1).toSet
    val t0 = System.nanoTime()
    step(g, "boom.write") {
      Ingest.textToCatalog(spark, text.path.toString, root.toString, Gen.Dc, Gen.Service,
        Gen.Components(text.comp), runId = s"u$stepNo")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val added = boomFiles(root).filterNot(f => before(f._1))
    var blocks = 0L
    var lines = 0L
    if (o.trace) added.foreach { case (p, _) =>
      val r = new DataFileReader[GenericRecord](p.toFile, new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.foreach { rec =>
        blocks += 1
        lines += rec.get("logLines").asInstanceOf[java.util.Collection[_]].size
      } finally r.close()
    }
    IngestCall(seconds, text.bytes, if (o.trace) probe.group(g).tasks else 0, added.size,
      added.map(_._2).sum, blocks, lines)
  }

  /** One `MaintenanceRunner.run` pass with no quiescence wait. */
  private def maintain(root: Path, g: String, expectMerged: Int): MaintenanceStep = {
    val before = boomFiles(root)
    val incoming = before.filter(_._1.toString.contains("/incoming/")).map(_._2).sum
    val dataBefore = before.filter(_._1.toString.contains("/data/")).map(_._2).sum
    val now = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val report = step(g, "maintenance") {
      MaintenanceRunner.run(spark, root.resolve("service").toString, Gen.Dc, Gen.Service,
        config = MaintenanceConfig(waitTimeMs = 0, nowMs = now + 1))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    if (report.failures.nonEmpty) throw new Abort(s"maintenance failures: ${report.failures}")
    if (report.merged.size != expectMerged)
      throw new Abort(s"maintenance merged ${report.merged.size} partitions, expected $expectMerged")
    val after = boomFiles(root)
    MaintenanceStep(seconds, incoming, if (o.trace) probe.group(g).jobs else 0, report,
      after.filter(_._1.toString.contains("/data/")).map(_._2).sum - dataBefore, after.size)
  }

  private def ingestLayers(calls: Seq[IngestCall]): Map[String, Double] = {
    def med(f: IngestCall => Double) = Stats.median(calls.map(f))
    Map("boom.write.s" -> med(_.seconds), "boom.write.tasks" -> med(_.tasks.toDouble),
      "boom.write.files" -> med(_.files.toDouble), "boom.write.bytes" -> med(_.bytes.toDouble),
      "boom.write.blocks" -> med(_.blocks.toDouble),
      "boom.write.lines_per_block" -> med(c => c.lines.toDouble / math.max(c.blocks, 1L)))
  }

  private def maintenanceLayers(steps: Seq[MaintenanceStep]): Map[String, Double] = {
    def med(f: MaintenanceStep => Double) = Stats.median(steps.map(f))
    Map("maintenance.run_s" -> med(_.seconds), "maintenance.jobs" -> med(_.jobs.toDouble),
      "maintenance.partitions_merged" -> med(_.report.merged.size.toDouble),
      "maintenance.bytes_rewritten" -> med(_.bytesRewritten.toDouble),
      "maintenance.files_after" -> med(_.filesAfter.toDouble),
      "maintenance.failures" -> med(_.report.failures.size.toDouble))
  }

  /** Seeded uploader batches: IngestHours hours per round, ingested into a
    * fresh catalog, compacted by one maintenance pass, then read back with
    * logcat per component and across all of them.
    */
  private def ingestMerge(): Result = {
    // Set-up: generate the input pool (text + oracle) SetupReps times.
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val pool = (0 until PoolSize).map(k => prepareRound(o.work.resolve(s"run/pool-$i/$k"), k))
      ((System.nanoTime() - t0) / 1e9, pool)
    }
    setups.init.foreach(s => s._2.foreach(r => deleteTree(r.dir)))
    val pool = setups.last._2
    val setupS = sessionS + Stats.median(setups.map(_._1))
    log(f"set-up done: setup_s $setupS%.3f")

    if (o.trace) probe.detach()
    var round = 0
    def next(k: Int, phase: String): RoundResult = {
      round += 1
      val r = runRound(pool(k), o.work.resolve(s"run/round-$round"), phase)
      deleteTree(o.work.resolve(s"run/round-$round"))
      r
    }
    next(0, "warmup")
    log("warm-up round done")

    val rounds = ArrayBuffer[RoundResult]()
    val metrics =
      if (o.trace) {
        // One traced round between two untraced ones on the same input;
        // the overhead is traced minus the untraced round after it.
        val before = next(0, "untraced")
        probe.attach()
        val traced = next(0, "traced")
        probe.detach()
        val after = next(0, "untraced")
        if (traced.outcomes.map(_.digest) != before.outcomes.map(_.digest)) {
          failed += 1
          System.err.println("perfbench: traced read-back differs from untraced")
        }
        rounds += traced
        traceReport(traced.traced, traced.spans, traced.seconds, after.seconds) ++
          ingestLayers(traced.calls) ++ maintenanceLayers(Seq(traced.maintenance))
      } else {
        runCycles(i => rounds += next(i % PoolSize, s"round$i"))
        log(s"measured ${rounds.size} rounds")
        queryE2e(rounds.flatMap(_.outcomes).toSeq) ++
          writeRates(rounds.flatMap(_.calls).toSeq, rounds.map(_.maintenance).toSeq) +
          ("stored_bytes_per_input_byte" -> Stats.median(rounds.map(_.storedRatio).toSeq)) +
          ("setup_s" -> setupS)
      }
    Result(metrics, pool.head.corpus, Map("session_s" -> sessionS, "setup_s" -> setupS,
      "rounds" -> rounds.map(r => Map("seconds" -> r.seconds, "ingest" -> r.calls.map(_.summary),
        "maintenance" -> r.maintenance.summary, "stored_ratio" -> r.storedRatio))))
  }

  private final case class RoundInput(dir: Path, hours: Seq[HourSpec], truth: Truth,
      text: Seq[TextFile], corpus: Map[String, Any])
  private final case class RoundResult(seconds: Double, calls: Seq[IngestCall],
      maintenance: MaintenanceStep, storedRatio: Double, outcomes: Seq[Outcome],
      traced: Seq[Traced], spans: Seq[Span])

  private def prepareRound(dir: Path, k: Int): RoundInput = {
    val hours = (0 until IngestHours).map(h =>
      HourSpec(Gen.BaseMs + (k * IngestHours + h) * Gen.HourMs, IngestLines, IngestBatches))
    val lines = Gen.lines(o.seed, hours, k * IngestHours)
    val text = Gen.writeText(dir.resolve("text"), o.seed + k, hours, lines, "batch")
    val textBytes = text.map(_.bytes).sum
    RoundInput(dir, hours, new Truth(lines), text, Map("lines" -> lines.length,
      "text_mb" -> textBytes / 1e6, "hours" -> IngestHours, "components" -> Gen.Components.size,
      "batches_per_component" -> IngestBatches, "pool" -> PoolSize))
  }

  private def runRound(in: RoundInput, dir: Path, phase: String): RoundResult = {
    val root = dir.resolve("root")
    val t0 = System.nanoTime()
    val calls = in.text.map(t => ingest(root, t, phase))
    val maint = maintain(root, s"$phase-maintenance-$stepNo", in.hours.size * Gen.Components.size)
    val boom = boomFiles(root)
    val start = in.hours.head.startMs
    val end = in.hours.last.startMs + Gen.HourMs
    val listed = LogCatalog.resolve(spark.sessionState.newHadoopConf(), root.toString, Gen.Dc,
      Gen.Service, "*", start, end).size
    if (listed == 0) throw new Abort(s"catalog at $root lists 0 files after ingest")
    val reads = (Gen.Components.indices.map(Some(_)) :+ None).map { c =>
      mkQuery(dir, root.toString, in.truth, s"readback-${c.fold("all")(Gen.Components(_))}", "logcat", c, start, end)
    }
    val traced = if (phase == "traced") reads.map(traceQuery) else Nil
    val outcomes = if (phase == "traced") traced.map(_.outcome) else reads.map(q => runCli(q, phase))
    reads.zip(outcomes).foreach { case (q, r) =>
      if (r.lines != q.expected.lines)
        throw new Abort(s"ingest read-back ${q.id}: ${r.lines} lines, ingested ${q.expected.lines}")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    RoundResult(seconds, calls, maint, boom.map(_._2).sum.toDouble / in.text.map(_.bytes).sum,
      outcomes, traced,
      traced.flatMap(_.spans) ++ writeSpans.filter(_.key.startsWith(s"$phase-")))
  }

  // ---------------------------------------------------------------- plumbing

  private def environment(corpus: Map[String, Any]): Map[String, Any] = {
    val conf = spark.conf
    def get(k: String) = scala.util.Try(conf.get(k)).getOrElse("unset")
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> cores,
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "spark.sql.shuffle.partitions" -> get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> get("spark.sql.adaptive.enabled"),
      "spark.sql.unionOutputPartitioning" -> get("spark.sql.unionOutputPartitioning"),
      "seed" -> o.seed,
      "corpus" -> corpus)
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

object Bench {
  val SetupReps = 3
  // Read catalog: OldHours compacted hours, then RecentHours dense hours in incoming/.
  val OldHours = 12
  val OldLines = 600
  val OldBatches = 1
  val RecentHours = 4
  val RecentLines = 4000
  val RecentBatches = 2
  // ingest_merge rounds.
  val IngestHours = 4
  val IngestLines = 2500
  val IngestBatches = 2
  val PoolSize = 3

  /** Seconds one cycle of each workload's mix takes on a 4-core host. */
  val NominalCycleS: Map[String, Double] =
    Map("search_sparse" -> 12.0, "cat_dense" -> 4.0, "ingest_merge" -> 3.0)

  val HourDir = """/logs/\d{8}/\d{2}/""".r

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_s" -> "s", "query_tail_s" -> "s", "first_line_p50_s" -> "s",
    "lines_per_s" -> "lines/s", "ingest_mb_per_s" -> "MB/s", "compact_mb_per_s" -> "MB/s",
    "stored_bytes_per_input_byte" -> "ratio", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "cli.deliver_s" -> "s", "cli.first_line_wait_s" -> "s",
    "engine.catalog.resolve_s" -> "s", "engine.catalog.files" -> "count",
    "engine.catalog.bytes" -> "bytes", "engine.catalog.hours" -> "count",
    "engine.query.plan_s" -> "s", "engine.query.scan_nodes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.parallel_efficiency" -> "ratio",
    "boom.scan.bytes_read" -> "bytes", "boom.scan.read_ratio" -> "ratio",
    "boom.scan.rows_out" -> "count", "boom.scan.selectivity" -> "ratio",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.gc_s" -> "s",
    "exec.spill_bytes" -> "bytes", "exec.shuffle_bytes" -> "bytes",
    "boom.write.s" -> "s", "boom.write.tasks" -> "count", "boom.write.files" -> "count",
    "boom.write.bytes" -> "bytes", "boom.write.blocks" -> "count",
    "boom.write.lines_per_block" -> "count",
    "maintenance.run_s" -> "s", "maintenance.jobs" -> "count",
    "maintenance.partitions_merged" -> "count", "maintenance.bytes_rewritten" -> "bytes",
    "maintenance.files_after" -> "count", "maintenance.failures" -> "count",
    "trace.overhead_s" -> "s")

  /** Boom files under `root` with their sizes (what the reader would list). */
  def boomFiles(root: Path): Seq[(Path, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".tmp")
      }.map(p => (p, Files.size(p))).toVector
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}
