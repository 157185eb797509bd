package perfbench

import graft.crawl.CrawlOracle
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The harness `run.py` starts: one workload, one JVM, one session at
  * local[<cores>]. `setup_s` runs from JVM start until the session is
  * ready. Writes {correct, attempted, failed, metrics} as JSON to
  * `--result`. See README.md for what each metric means. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, data: String, expected: Path, result: Path,
                        record: Option[Path], traceOut: Option[Path])

  /** End-to-end metrics the harness reports (`peak_rss_mb` is measured
    * from outside by run.py). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "crawl_urls_per_s" -> "URLs/s", "fetch_urls_per_s" -> "URLs/s",
    "wave_s_p50" -> "s", "wave_s_p90" -> "s", "resume_wave_s" -> "s",
    "suite_s" -> "s", "query_s_p50" -> "s", "query_s_p90" -> "s",
    "store_bytes_per_url" -> "B/URL")

  val StoreTables: Seq[String] = Seq("frontier", "results", "politeness",
    "source_state", "telemetry", "telemetry_http")

  val QueryGroups: Seq[String] = Seq("queries.crawl_store", "queries.relational",
    "ops.dedup", "ops.ann", "ops.text", "ops.image")

  val LeafQueries: Seq[String] = Seq("q_dedup_groups", "q_dedup_ngram_jaccard",
    "q_x3_byline_clean")

  val SpanKinds: Seq[String] = Seq("workload", "crawl", "wave", "query", "job")

  val PerLayer: Seq[(String, String)] = Seq(
    "crawl.jobs_per_wave" -> "count", "crawl.stages_per_wave" -> "count",
    "crawl.tasks_per_wave" -> "count", "crawl.driver_only_s" -> "s",
    "crawl.task_s" -> "s", "crawl.task_cpu_s" -> "s", "crawl.gc_s" -> "s",
    "crawl.shuffle_write_mb" -> "MB", "crawl.shuffle_read_mb" -> "MB",
    "crawl.stage_skew_max" -> "ratio", "crawl.admit_ratio" -> "ratio",
    "crawl.fetch_ok_ratio" -> "ratio", "crawl.oracle_urls_per_s" -> "URLs/s") ++
    StoreTables.map(t => s"store.files_per_wave.$t" -> "count") ++ Seq(
    "store.live_files.frontier" -> "count", "store.bytes_per_wave" -> "B",
    "store.write_amp" -> "ratio", "store.recover_s" -> "s",
    "store.compact_for_read_s" -> "s",
    "kernel.cascade_links_per_s" -> "1/s", "kernel.normalize_per_s" -> "1/s",
    "kernel.url_filter_per_s" -> "1/s", "kernel.url_hash_per_s" -> "1/s") ++
    QueryGroups.map(g => s"${g}_s" -> "s") ++ Seq(
    "queries.jobs" -> "count", "queries.task_cpu_s" -> "s") ++
    LeafQueries.map(q => s"q.${q.stripPrefix("q_")}_s" -> "s") ++
    SpanKinds.map(k => s"self_s.$k" -> "s") ++ Seq(
    "trace.overhead_s" -> "s")

  /** What a workload hands back: metrics by name, operation counts and
    * the reasons for any failure. */
  final case class Outcome(metrics: Map[String, Double], attempted: Int, failed: Int,
                           problems: Seq[String])

  /** Where the pinned read_suite expectations live under `--expected`. */
  val PinnedFile = "read_suite.tsv"

  val jvmStart: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

  def log(msg: String): Unit =
    System.err.println(f"perfbench: [${Clock.now() - jvmStart}%6.1f s] $msg")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def path(k: String) = Paths.get(m(k)).toAbsolutePath
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.get("trace").contains("1"),
      path("work"), path("data").toString, path("expected"), path("result"),
      m.get("record").map(Paths.get(_).toAbsolutePath),
      m.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wide = Crawls.wide(a.seed)
    val small = Crawls.small(a.seed)
    val shape = if (a.workload == "crawl_wide") wide else small
    // the single-threaded oracle runs beside the session start, on its
    // own thread, and is done before the timed window opens
    val oracleF = Future(Stats.timed(CrawlOracle.run(shape.cfg)))(ExecutionContext.global)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = Clock.now() - jvmStart
    val h = new Harness(spark, a)
    val out = try {
      (a.workload, a.record) match {
        case ("read_suite", Some(dir)) => h.record(dir)
        case ("crawl_wide", None) => h.run(wide, oracleF, suite = false)
        case ("read_suite", None) => h.run(small, oracleF, suite = true)
        case (w, _) => sys.error(s"unknown workload $w (or --record outside read_suite)")
      }
    } finally spark.stop()
    log("session stopped")
    out.problems.foreach(p => log(s"FAIL $p"))

    // an end-to-end metric a failed crawl or pass did not produce is left
    // out, never reported as 0; per-layer metrics a workload does not
    // exercise read 0
    val units = (EndToEnd ++ PerLayer).toMap
    val values = out.metrics + ("setup_s" -> setupS)
    val names = if (a.trace) PerLayer.map(_._1) else EndToEnd.map(_._1).filter(values.contains)
    val metrics = names.map { n =>
      s"${Stats.jsonString(n)}:{\"value\":${Stats.jsonNumber(values.getOrElse(n, 0.0))}," +
        s"\"unit\":${Stats.jsonString(units(n))}}"
    }.mkString("{", ",", "}")
    Files.writeString(a.result,
      s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":$metrics}""")
  }
}

/** One workload run in a fresh JVM: the crawl (a fresh `run()` crashed
  * after wave 0 and a resuming `run()`, then compaction for reading on
  * read_suite), then passes over the crawl's store (two on crawl_wide,
  * one on read_suite), each pass a read-back plus, on read_suite, the
  * testdata queries. Nothing is warmed up first: a user of
  * `graft.Crawl` or `graft.Verify` pays the same first-run plan
  * compilation on every invocation. A traced run
  * also records spans and listener events, times a recover on a copy
  * of the crashed store, probes the URL kernels, times an
  * untraced/traced pair of read-backs for the tracing overhead, and
  * crawls the same seed a second time to check that the WaveMetrics
  * repeat. */
final class Harness(spark: SparkSession, a: Main.Args) {
  import Main._

  private val listener = new JobListener
  if (a.trace) spark.sparkContext.addSparkListener(listener)
  private val spans = new Spans

  def run(shape: Shape, oracleF: Future[(CrawlOracle.Outcome, Double)],
          suite: Boolean): Outcome = {
    val cfg = shape.cfg
    val (oracle, oracleS) = Await.result(oracleF, Duration.Inf)
    val pinned = if (suite) ReadSuite.loadPinned(a.expected.resolve(PinnedFile))
      else Map.empty[String, ReadSuite.Pinned]
    def expect(n: String) = pinned.get(n).map(p => (p.rows, p.hash))
      .orElse(Some((-1L, "no pinned expectation")))
    val storeDir = Files.createDirectories(a.work.resolve("store"))
    log(f"oracle ${oracleS}%.1f s")

    // each timed part starts from a collected heap, so the garbage of
    // the part before it does not land on its clock
    System.gc()
    val windowStart = System.nanoTime()
    if (a.trace) { listener.on = true; spans.on = true }
    val top = spans.add(0, "workload", a.workload, Clock.now(), Double.MaxValue)
    val crawl = Crawls.crawl(spark, shape, storeDir, oracle, spans, top,
      compact = suite, probeRecover = a.trace)
    log(f"crawl ${crawl.wallS}%.1f s, waves ${crawl.waveS.map(w => f"$w%.1f").mkString(" ")}, " +
      s"admitted ${crawl.metrics.map(_.discovered).mkString("+")}, planned ${crawl.planned}, " +
      f"resume ${crawl.resumeEnd - crawl.resumeStart}%.1f s, failed ${crawl.failed}")
    // passes of the read-back (plus the testdata queries on read_suite)
    // until `--seconds` have passed since the crawl started, at least
    // `minPasses`; none after a failed crawl. crawl_wide's five
    // read-back queries are too few for one pass to give a steady
    // median query time, so it makes two: ten samples over some 7 s
    // instead of five over 4 s.
    val store = new SnapshotStore(storeDir.toString)
    val minPasses = if (suite) 1 else 2
    var passes = Vector.empty[Seq[ReadSuite.QueryRun]]
    while (crawl.ok && (passes.size < minPasses || Stats.nanosSince(windowStart) < a.seconds)) {
      System.gc()
      passes :+= Crawls.readBack(spark, store, cfg, oracle, spans, top) ++
        (if (suite) ReadSuite.pass(spark, a.data, expect, spans, top) else Nil)
      log(f"pass ${passes.last.map(_.seconds).sum}%.1f s, " +
        s"failed ${passes.last.count(_.problem.isDefined)}, read-back " +
        passes.last.take(Crawls.ReadBack.size).map(q => f"${q.seconds}%.3f").mkString(" "))
    }
    spans.close(top, Clock.now())
    listener.on = false; spans.on = false
    log("window done")

    // a second crawl at the same seed must give identical WaveMetrics
    // (traced runs only: it costs a warm crawl and is not timed)
    val again = if (!a.trace) None else {
      val dir = Files.createDirectories(a.work.resolve("store-again"))
      Some(Crawls.crawl(spark, shape, dir, oracle, new Spans, 0, compact = false,
        probeRecover = false))
    }
    val determinism = again.filter(_.metrics != crawl.metrics).map(r =>
      s"two crawls at seed ${a.seed} gave different WaveMetrics: ${crawl.metrics} vs ${r.metrics}")
    val queryRuns = passes.flatten
    val problems = crawl.problems ++ queryRuns.flatMap(_.problem) ++ determinism
    val e2e = crawlE2E(crawl) ++ suiteE2E(crawl, passes)
    val layer = if (!a.trace) Map.empty[String, Double] else {
      val overhead = tracingOverhead(shape, store, oracle)
      crawlLayer(crawl, cfg.nWaves, oracle.seen.size / oracleS) ++
        suiteLayer(crawl, passes) ++ Kernels.probe(Crawls.wide(a.seed).cfg) ++
        selfTimes() + ("trace.overhead_s" -> overhead)
    }
    Outcome(e2e ++ layer, crawl.attempted + queryRuns.size + again.size,
      crawl.failed + queryRuns.count(_.problem.isDefined) + determinism.size, problems)
  }

  /** Crawl metrics of the run's crawl and its resume; empty when either
    * failed or mismatched, so a failed crawl is never reported as a
    * timed success. */
  private def crawlE2E(r: CrawlRun): Map[String, Double] =
    if (!r.ok) Map.empty
    else Map(
      "crawl_urls_per_s" -> r.admitted / r.wallS,
      "fetch_urls_per_s" -> r.planned / r.wallS,
      "wave_s_p50" -> Stats.median(r.waveS),
      "wave_s_p90" -> Stats.quantile(r.waveS, 0.9),
      "resume_wave_s" -> r.resumeWaveS,
      "store_bytes_per_url" -> r.store.totalBytes.toDouble / math.max(1L, r.admitted))

  /** Query metrics over every pass: the median time of one pass and
    * per-query percentiles pooled over all passes. Empty unless the
    * crawl and every pass were correct. */
  private def suiteE2E(r: CrawlRun, passes: Seq[Seq[ReadSuite.QueryRun]]): Map[String, Double] =
    if (!r.ok || passes.isEmpty || passes.flatten.exists(_.problem.isDefined)) Map.empty
    else {
      val all = passes.flatten.map(_.seconds)
      Map(
        "suite_s" -> Stats.median(passes.map(_.map(_.seconds).sum)),
        "query_s_p50" -> Stats.median(all),
        "query_s_p90" -> Stats.quantile(all, 0.9))
    }

  /** Per-layer metrics of the crawl, from the listener over its two
    * timed intervals, its WaveMetrics and the store directory. */
  private def crawlLayer(r: CrawlRun, nWaves: Int, oracleRate: Double): Map[String, Double] = {
    val jobs = r.intervals.flatMap { case (s, e) => listener.jobsIn(s, e) }
    val tasks = r.intervals.flatMap { case (s, e) => listener.tasksIn(s, e) }
    val m = r.metrics
    val offered = m.map(w => w.discovered + w.duplicates + w.out_of_scope + w.filtered + w.expired).sum
    Map(
      "crawl.jobs_per_wave" -> jobs.size.toDouble / nWaves,
      "crawl.stages_per_wave" -> jobs.map(_.stages).sum.toDouble / nWaves,
      "crawl.tasks_per_wave" -> tasks.size.toDouble / nWaves,
      "crawl.driver_only_s" -> r.intervals.map { case (s, e) => Layer.driverOnly(listener, s, e) }.sum,
      "crawl.task_s" -> tasks.map(_.runS).sum,
      "crawl.task_cpu_s" -> tasks.map(_.cpuS).sum,
      "crawl.gc_s" -> tasks.map(_.gcS).sum,
      "crawl.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1048576.0,
      "crawl.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / 1048576.0,
      "crawl.stage_skew_max" -> Layer.stageSkewMax(tasks),
      "crawl.admit_ratio" -> m.map(_.discovered).sum.toDouble / math.max(1L, offered),
      "crawl.fetch_ok_ratio" -> m.map(_.fetched).sum.toDouble / math.max(1L, r.planned),
      "crawl.oracle_urls_per_s" -> oracleRate,
      "store.live_files.frontier" -> r.store.liveFrontierFiles.toDouble,
      "store.bytes_per_wave" -> r.store.totalBytes.toDouble / nWaves,
      "store.write_amp" -> r.store.totalBytes.toDouble / math.max(1L, r.store.liveBytes),
      "store.recover_s" -> r.recoverS,
      "store.compact_for_read_s" -> r.compactForReadS) ++
      StoreTables.map(t => s"store.files_per_wave.$t" ->
        r.store.filesWritten.getOrElse(t, 0).toDouble / nWaves)
  }

  /** Per-module query times, medians over passes: the read-back of the
    * crawl store counts as `queries.crawl_store` (its payload decode as
    * `ops.image`), the testdata queries by module. */
  private def suiteLayer(r: CrawlRun, passes: Seq[Seq[ReadSuite.QueryRun]]): Map[String, Double] = {
    def med(f: Seq[ReadSuite.QueryRun] => Double) = Stats.medianOr0(passes.map(f))
    def group(q: String) =
      if (q == "image_decode") "ops.image"
      else if (Crawls.ReadBack.contains(q)) "queries.crawl_store"
      else ReadSuite.group(q)
    val byGroup = QueryGroups.map(g =>
      s"${g}_s" -> med(_.filter(q => group(q.name) == g).map(_.seconds).sum))
    val leaves = LeafQueries.map(q => s"q.${q.stripPrefix("q_")}_s" ->
      med(_.find(_.name == q).map(_.seconds).getOrElse(0.0)))
    val (s, e) = (r.resumeEnd, spans.all.find(_.kind == "workload").map(_.end).getOrElse(r.resumeEnd))
    val jobs = listener.jobsIn(s, e)
    val cpu = listener.tasksIn(s, e).map(_.cpuS).sum
    val n = math.max(1, passes.size)
    (byGroup ++ leaves).toMap ++ Map(
      "queries.jobs" -> jobs.size.toDouble / n, "queries.task_cpu_s" -> cpu / n)
  }

  /** Traced minus untraced wall time of one read-back pass, from one
    * untraced/traced pair after the measured window (a first crawl
    * cannot be repeated cold in one JVM, so the pair times warm reads). */
  private def tracingOverhead(shape: Shape, store: SnapshotStore, oracle: CrawlOracle.Outcome): Double = {
    def once(on: Boolean): Double = {
      listener.on = on
      val t = Crawls.readBack(spark, store, shape.cfg, oracle, new Spans, 0).map(_.seconds).sum
      listener.on = false
      t
    }
    val untraced = once(false)
    once(true) - untraced
  }

  /** Self time per span kind, from the recorded span tree. */
  private def selfTimes(): Map[String, Double] = {
    spans.on = true
    spans.addJobs(listener.allJobs)
    spans.on = false
    a.traceOut.foreach(p => spans.writeJson(p))
    val self = spans.selfTimeByKind
    SpanKinds.map(k => s"self_s.$k" -> self.getOrElse(k, 0.0)).toMap
  }

  /** Rewrite the pinned expectations of the testdata queries and dump
    * their outputs with `graft.Verify`'s layout, for
    * `tools/check_oracle.py <dir> perfbench/data/sf0.01`. */
  def record(dir: Path): Outcome = {
    val runs = ReadSuite.pass(spark, a.data, _ => None, spans, 0)
    val file = a.expected.resolve(PinnedFile)
    Files.createDirectories(file.getParent)
    Files.writeString(file,
      "# query\trows\tcontent hash (ReadSuite.fingerprint), from perfbench/run.py --record\n" +
        runs.flatMap(q => q.result.map { case (n, h) => s"${q.name}\t$n\t$h\n" }).mkString)
    ReadSuite.dump(spark, a.data, dir)
    Outcome(Map.empty, runs.size, runs.count(_.problem.isDefined), runs.flatMap(_.problem))
  }
}
