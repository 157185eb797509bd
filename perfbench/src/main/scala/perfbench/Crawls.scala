package perfbench

import graft.crawl.{CrawlEngine, CrawlOracle}
import graft.model.WaveMetrics
import graft.store.SnapshotStore
import graft.synth.Synth
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import scala.util.Using

/** A crawl world and the wave at which it is resumed. Every measured
  * crawl starts as one `CrawlEngine.run()` on a fresh store, as
  * `graft.Crawl` runs it, and crashes right after wave `restartAt - 1`
  * commits: the benchmark cancels every Spark job that starts after that
  * commit, so `run()` throws at the first job of the next wave, before
  * it writes anything. A fresh engine then resumes the same store with
  * `run()` to `cfg.nWaves`. */
final case class Shape(cfg: Synth.Config, restartAt: Int) {
  require(restartAt > 0 && restartAt < cfg.nWaves)
}

/** Store files and bytes right after a crawl (before any compaction
  * for reading), read from the store directory. */
final case class StoreStats(totalBytes: Long, liveBytes: Long,
                            filesWritten: Map[String, Int], liveFrontierFiles: Int)

/** One crawl, crashed and resumed: its timings as observed from outside
  * the engine, its WaveMetrics and the oracle verdict. The crawl's wall
  * time is its two timed intervals: from the first `run()` call to the
  * last commit before the crash, and the resuming `run()`. */
final case class CrawlRun(
    start: Double, crashAt: Double,
    resumeStart: Double, resumeEnd: Double,
    waveBounds: Seq[(Double, Double)], // from `_commits/wave-*.json` mtimes
    restartAt: Int,
    recoverS: Double,
    compactForReadS: Double,
    metrics: Seq[WaveMetrics],
    store: StoreStats,
    attempted: Int, failed: Int, problems: Seq[String]) {
  def intervals: Seq[(Double, Double)] = Seq((start, crashAt), (resumeStart, resumeEnd))
  def wallS: Double = intervals.map { case (s, e) => e - s }.sum
  def waveS: Seq[Double] = waveBounds.map { case (s, e) => e - s }
  def resumeWaveS: Double = waveS(restartAt)
  def admitted: Long = metrics.map(_.discovered).sum
  def planned: Long = metrics.map(_.planned).sum
  def ok: Boolean = failed == 0
}

object Crawls {

  /** The sf0.1 world of `CrawlQueries.cfgFor` (2000 hosts × 100
    * URLs/host/wave, 64 buckets, no compaction within the crawl) in two
    * waves, crashed after wave 0 and resumed. */
  def wide(seed: Long): Shape = Shape(Synth.Config(nHosts = 2000,
    urlsPerHostPerWave = 100, nWaves = 2, seed = seed, nBuckets = 64),
    restartAt = 1)

  /** The store read_suite reads: 300 hosts × 20 URLs/host/wave, 32
    * buckets, 2 waves, crashed after wave 0 and resumed. Little parallel
    * work: the per-wave serial term. */
  def small(seed: Long): Shape = Shape(Synth.Config(nHosts = 300,
    urlsPerHostPerWave = 20, nWaves = 2, seed = seed, nBuckets = 32),
    restartAt = 1)

  /** The read-back queries, in the order one pass runs them. */
  val ReadBack: Seq[String] = Seq("seen_set", "crawl_order", "status_counts",
    "politeness", "image_decode")

  private def waveMap(m: WaveMetrics): Map[String, Long] =
    m.productElementNames.zip(m.productIterator).collect {
      case (k, v: Long) => k -> v
      case (k, v: Int) => k -> v.toLong
    }.toMap

  /** The cancel reason that marks the simulated crash. */
  private val CrashReason = "perfbench: simulated crash after a wave commit"

  /** Cancels every Spark job that starts once `commit` exists. */
  private final class CrashAfter(sc: SparkContext, commit: Path) extends SparkListener {
    @volatile var armed = true
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (armed && Files.exists(commit)) sc.cancelJob(e.jobId, CrashReason)
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(32)

  /** The WaveMetrics a wave commit records. */
  private def committedMetrics(commit: Path, wave: Int): WaveMetrics = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = (JsonMethods.parse(Files.readString(commit)) \ "metrics") match {
      case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
      case _ => Map.empty[String, Long]
    }
    WaveMetrics(wave, m("discovered"), m("duplicates"), m("out_of_scope"), m("filtered"),
      m("expired"), m("planned"), m("fetched"), m("failed"), m("robots_blocked"),
      m("rss_failures"), m("section_links"), m("paused_sources"))
  }

  /** Run one crawl of `shape` into a fresh store at `dir`: a fresh
    * `run()` crashed after wave `restartAt - 1` commits, then a resuming
    * `run()`. Both are timed from outside, every wave's WaveMetrics are
    * compared with `oracle`, and the store is optionally compacted for
    * reading (`compactForRead`, as the query layer opens a store). With
    * `probeRecover`, a copy of the crashed store is recovered on its own
    * between the two legs, timed, outside both timed intervals. Spans: a
    * "crawl" span per leg under `parent`, each with its "wave" spans. A
    * throw or a mismatch counts as a failed operation. */
  def crawl(spark: SparkSession, shape: Shape, dir: Path, oracle: CrawlOracle.Outcome,
            spans: Spans, parent: Int, compact: Boolean, probeRecover: Boolean): CrawlRun = {
    val cfg = shape.cfg
    val store = new SnapshotStore(dir.toString)
    val commits = Paths.get(store.root, "_commits")
    def commitFile(w: Int) = commits.resolve(f"wave-$w%05d.json")
    def bounds(from: Double, waves: Seq[Int]) = {
      val t = waves.map(w => Files.getLastModifiedTime(commitFile(w)).to(TimeUnit.NANOSECONDS) / 1e9)
      t.indices.map(i => (if (i == 0) from else t(i - 1), t(i)))
    }
    def traced(name: String, s: Double, e: Double, waves: Seq[Int], b: Seq[(Double, Double)]) = {
      val id = spans.add(parent, "crawl", name, s, e)
      b.zip(waves).foreach { case ((ws, we), w) => spans.add(id, "wave", s"wave-$w", ws, we) }
    }
    val firstWaves = 0 until shape.restartAt
    val resumedWaves = shape.restartAt until cfg.nWaves
    val sc = spark.sparkContext
    val crash = new CrashAfter(sc, commitFile(shape.restartAt - 1))
    sc.addSparkListener(crash)
    val start = Clock.now()
    val engine = new CrawlEngine(spark, cfg, store)
    val first = scala.util.Try(engine.run())
    crash.armed = false
    sc.removeSparkListener(crash)
    def failed(msg: String) = CrawlRun(start, start, start, start, Nil, shape.restartAt,
      0.0, 0.0, Nil, StoreStats(0, 0, Map.empty, 0), cfg.nWaves, cfg.nWaves, Seq(msg))
    val crashed = first.failed.toOption.exists(e =>
      causes(e).exists(c => String.valueOf(c.getMessage).contains(CrashReason))) &&
      store.lastCommittedWave() == shape.restartAt - 1
    if (!crashed) return failed(first.fold(e => s"crawl threw: $e",
      _ => s"the first run() was not stopped after wave ${shape.restartAt - 1}"))
    // a crashed driver keeps no cached data
    spark.catalog.clearCache()
    val firstBounds = bounds(start, firstWaves)
    val crashAt = firstBounds.last._2
    traced(s"crawl-${cfg.nHosts}x${cfg.nWaves}", start, crashAt, firstWaves, firstBounds)
    val recoverS = if (!probeRecover) 0.0 else {
      val copy = Paths.get(s"$dir-recover")
      copyTree(dir, copy)
      Stats.timed(new SnapshotStore(copy.toString).recoverToLastCommit(engine.AllTables))._2
    }
    val rStart = Clock.now()
    val resumed = scala.util.Try(new CrawlEngine(spark, cfg, store).run())
    val rEnd = Clock.now()
    resumed match {
      case scala.util.Failure(e) => failed(s"resume threw: $e")
      case scala.util.Success(again) =>
        val resumeBounds = bounds(rStart, resumedWaves)
        traced(s"resume-at-${shape.restartAt}", rStart, rEnd, resumedWaves, resumeBounds)
        val metrics = firstWaves.map(w => committedMetrics(commitFile(w), w)) ++ again
        val problems = (0 until cfg.nWaves).flatMap { w =>
          val got = metrics.lift(w).map(waveMap).getOrElse(Map.empty)
          Option.when(oracle.waveMetrics(w).exists { case (k, v) => !got.get(k).contains(v) })(
            s"wave $w metrics ${metrics.lift(w)} != oracle ${oracle.waveMetrics(w)}")
        }
        val stats = storeStats(store, engine.AllTables)
        val compactS = if (!compact) 0.0
          else Stats.timed(CrawlEngine.compactForRead(spark, store, cfg.nBuckets))._2
        CrawlRun(start, crashAt, rStart, rEnd, firstBounds ++ resumeBounds, shape.restartAt,
          recoverS, compactS, metrics, stats, cfg.nWaves, problems.size, problems)
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from)) { s =>
      s.iterator().asScala.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }

  /** One pass over the crawl's own store, read back through the public
    * API: the URL-seen layer, crawl order, the frontier status
    * histogram, the politeness end state and the decoded payloads, each
    * timed as one query and compared with the oracle. */
  def readBack(spark: SparkSession, store: SnapshotStore, cfg: Synth.Config,
               oracle: CrawlOracle.Outcome, spans: Spans,
               parent: Int): Seq[ReadSuite.QueryRun] = {
    def seenRows = store.read(spark, "frontier").filter(!col("is_update"))
      .select("norm_url").collect().map(_.getString(0))
    def crawlOrder = store.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status").collect()
      .map(r => CrawlOracle.OracleFetch(r.getInt(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4)))
      .sortBy(f => (f.wave, f.host, f.rank)).toSeq
    def statusCounts = CrawlEngine.frontierCurrent(spark, store)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def politeness = store.read(spark, "politeness")
      .select("host", "bot_sensitivity", "tokens_per_wave",
        "consecutive_failures", "bot_encounters", "forbidden_count")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).toSet
    def decoded = graft.ops.ImageOps.decodeFused(
        store.readAll(spark, "results").filter(col("http_status") === 200))
      .toDF().agg(count(lit(1)), min("w"), max("w"), min("h"), max("h")).head()

    val wantOrder = oracle.fetches.sortBy(f => (f.wave, f.host, f.rank))
    val wantImages = oracle.fetches.count(f => CrawlEngine.OkStatuses.contains(f.status))
    val wantPol = oracle.politeness.values.map(p => (p.host, p.bot_sensitivity,
      p.tokens_per_wave, p.consecutive_failures, p.bot_encounters,
      p.forbidden_count)).toSet
    val checks: Map[String, () => Option[String]] = Map(
      "seen_set" -> { () =>
        val rows = seenRows
        Option.when(rows.length != oracle.seen.size || rows.toSet != oracle.seen)(
          s"URL-seen set: ${rows.length} rows vs oracle ${oracle.seen.size}")
      },
      "crawl_order" -> { () =>
        val got = crawlOrder
        Option.when(got != wantOrder)(s"crawl order: ${got.size} fetches vs oracle ${wantOrder.size}")
      },
      "status_counts" -> { () =>
        val got = statusCounts
        Option.when(got != oracle.statusCounts)(s"status histogram $got vs oracle ${oracle.statusCounts}")
      },
      "politeness" -> { () =>
        val got = politeness
        Option.when(got != wantPol)(s"politeness: ${got.size} hosts differ from oracle")
      },
      "image_decode" -> { () =>
        val r = decoded
        val dims = (1 to 4).map(r.getInt)
        Option.when(r.getLong(0) != wantImages || dims.exists(_ != cfg.imageSize))(
          s"decoded payloads: $r, oracle has $wantImages of ${cfg.imageSize}px")
      })
    ReadBack.map { name =>
      val s = Clock.now()
      val verdict = scala.util.Try(checks(name)()) // the comparison is cheap next to the read
      val e = Clock.now()
      spans.add(parent, "query", name, s, e)
      ReadSuite.QueryRun(name, e - s, None,
        verdict.fold(t => Some(s"$name threw: $t"), identity))
    }
  }

  /** Files each table wrote during the crawl (snapshots of wave ≥ 0,
    * from its manifest), the live files of the frontier, and bytes on
    * disk: all of them, and those the current snapshots reference. */
  def storeStats(store: SnapshotStore, tables: Seq[String]): StoreStats = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = Paths.get(store.root)
    def sizeOf(p: Path): Long = if (Files.isRegularFile(p)) Files.size(p) else 0L
    val total = Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
    }
    val written = tables.map { t =>
      val mf = root.resolve(t).resolve("manifest.json")
      val n = if (!Files.exists(mf)) 0 else {
        val snaps = (JsonMethods.parse(Files.readString(mf)) \ "snapshots") match {
          case JArray(xs) => xs
          case _ => Nil
        }
        def files(s: JValue): Set[String] = (s \ "files") match {
          case JObject(fs) => fs.flatMap {
            case (_, JArray(v)) => v.collect { case JString(f) => f }
            case _ => Nil
          }.toSet
          case _ => Set.empty
        }
        val (init, waves) = snaps.partition(s => (s \ "wave") match {
          case JInt(w) => w < 0
          case _ => true
        })
        (waves.flatMap(files).toSet -- init.flatMap(files)).size
      }
      t -> n
    }.toMap
    val live = tables.filter(t => store.currentSnapshot(t).isDefined)
      .flatMap(t => store.currentFiles(t).values.flatten).distinct
    StoreStats(total, live.map(f => sizeOf(Paths.get(f))).sum, written,
      store.currentFiles("frontier").values.map(_.size).sum)
  }
}
