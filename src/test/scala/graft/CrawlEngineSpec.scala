package graft

import graft.CrawlEngineSpec.{CrashAfter, JobStart}
import graft.crawl.{CrawlEngine, CrawlOracle}
import graft.model.{FetchResult, SourceState}
import graft.ops.ImageKernels
import graft.store.SnapshotStore
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** E2E: the parallel engine must reproduce the single-threaded
  * reference-rules oracle exactly — URL-seen set, per-host crawl order,
  * status histogram, per-wave metrics, per-source discovery state —
  * plus payload fidelity, checkpoint/resume (incl. crash mid-wave), and
  * the delta-commit scale invariant (SURVEY.md §5 / north rule).
  *
  * cfg exercises: multi-method cascade + short-circuit, RSS ledger
  * (consec-3 via the zero-new host, wave 2), section discovery + the
  * supplemental section crawl, F10 TTL re-admission (ttl=2 over 5
  * waves), X4 content types, and one mid-run log compaction (wave 2). */
class CrawlEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-e2e")
    .config("spark.sql.shuffle.partitions", "7") // deliberately odd
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // (20 hosts, 20 urls/wave, 5 waves): deterministically exercises two
  // F10 transient-404 recoveries, the consec-3 RSS ledger, sections,
  // X4 content types, and one mid-run compaction (wave 2)
  val cfg = Synth.Config(nHosts = 20, urlsPerHostPerWave = 20, nWaves = 5,
    deadUrlTtlWaves = 2, compactEvery = 3)

  def freshStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("crawl-e2e").toString)

  lazy val oracle: CrawlOracle.Outcome = CrawlOracle.run(cfg)

  lazy val engineStore: SnapshotStore = {
    val store = freshStore()
    new CrawlEngine(spark, cfg, store).run()
    store
  }

  def frontierNow(store: SnapshotStore) = CrawlEngine.frontierCurrent(spark, store)

  test("URL-seen set equals oracle (merged view AND discovery-row key layer)") {
    import org.apache.spark.sql.functions.col
    val fromLog = frontierNow(engineStore)
      .select("norm_url").collect().map(_.getString(0)).toSet
    // the seen KEY layer = the log's immutable discovery rows — exactly
    // one per admitted URL (what the exact-confirm scan reads)
    val keyRows = engineStore.read(spark, "frontier")
      .filter(!col("is_update")).select("norm_url").collect().map(_.getString(0))
    assert(fromLog == oracle.seen)
    assert(keyRows.toSet == oracle.seen)
    assert(keyRows.length == oracle.seen.size, "discovery rows not unique per URL")
    assert(fromLog.nonEmpty)
  }

  test("final status histogram equals oracle (merge-on-read view)") {
    val got = frontierNow(engineStore)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oracle.statusCounts)
    // the state machine actually exercised its branches:
    assert(got.keySet.contains("extracted"))
    assert(got.keySet.contains("404"))
    assert(got.keySet.contains("403"))
    assert(got.keySet.contains("not_article"))
    assert(got.keySet.contains("robots_blocked"))
    // X4 post-fetch content types present
    assert(Set("obituary", "opinion", "wire").exists(got.keySet.contains),
      s"no content-typed fetches in $got")
    // verification HTTP-precheck branch reachable BOTH ways: terminal
    // failure (precheck-enabled source) and non-terminal uncertain
    assert(got.getOrElse("verification_failed", 0L) > 0, s"no verification_failed in $got")
    assert(got.getOrElse("verification_uncertain", 0L) > 0, s"no verification_uncertain in $got")
  }

  test("X4: detector-classified statuses; per-(host,status) telemetry equals oracle") {
    import org.apache.spark.sql.functions.col
    // stored result statuses came from ContentType.detect over the
    // PAYLOAD caption (not from the id) — recompute from stored captions
    val ok = engineStore.readAll(spark, "results")
      .filter(col("http_status") === 200)
      .select("caption", "status").collect()
    assert(ok.nonEmpty)
    ok.foreach { r =>
      assert(graft.crawl.ContentType.detect(r.getString(0), Synth.ContentPatterns) ==
        r.getString(1), s"stored status != detector for caption '${r.getString(0)}'")
    }
    assert(ok.map(_.getString(1)).toSet.intersect(Set("obituary", "opinion", "wire")).nonEmpty)
    // telemetry_http rows reconcile with the oracle's fetch log
    val got = engineStore.readAll(spark, "telemetry_http")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
    val statusHttp = Map("404" -> 404, "403" -> 403, "429" -> 429,
      "timeout" -> 0, "captcha" -> 403).withDefaultValue(200)
    val want = oracle.fetches.groupBy(f => (f.wave, f.host, statusHttp(f.status)))
      .map { case (k, fs) => k -> fs.size.toLong }
    assert(got == want, "telemetry_http diverges from the oracle fetch log")
  }

  test("crawl order (wave, host, rank, url, status) equals oracle") {
    import spark.implicits._
    val got = engineStore.readAll(spark, "results").as[FetchResult]
      .collect()
      .map(r => CrawlOracle.OracleFetch(r.wave, r.host, r.rank, r.norm_url, r.status))
      .sortBy(f => (f.wave, f.host, f.rank))
    val want = oracle.fetches.sortBy(f => (f.wave, f.host, f.rank))
    assert(got.length == want.length)
    assert(got.toSeq == want)
  }

  test("per-wave metrics equal oracle (incl. rss/section/pause counters)") {
    (0 until cfg.nWaves).foreach { w =>
      val txt = Files.readString(
        java.nio.file.Paths.get(engineStore.root, "_commits", f"wave-$w%05d.json"))
      oracle.waveMetrics(w).foreach { case (k, v) =>
        assert(txt.contains(s""""$k":$v"""), s"wave $w metric $k=$v; got $txt")
      }
    }
  }

  test("per-wave metrics equal oracle with AQE off (the scaling-harness config)") {
    // Regression: with AQE disabled, a lazy localCheckpoint whose plan
    // carries an un-run CollectMetrics node posts an empty-metrics
    // query-success event at definition time, latching every riding
    // Observation at zero (AQE hides the node inside the un-executed
    // AdaptiveSparkPlanExec, which is why the AQE-on suite never saw
    // it). ScalingBench runs AQE-off, so the discovered/duplicates
    // counters it reports must be oracle-equal under this config too.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val short = cfg.copy(nWaves = 2)
      val store2 = freshStore()
      new CrawlEngine(spark, short, store2).run()
      val o = CrawlOracle.run(short)
      (0 until short.nWaves).foreach { w =>
        val txt = Files.readString(
          java.nio.file.Paths.get(store2.root, "_commits", f"wave-$w%05d.json"))
        o.waveMetrics(w).foreach { case (k, v) =>
          assert(txt.contains(s""""$k":$v"""), s"AQE-off wave $w metric $k=$v; got $txt")
        }
        assert(o.waveMetrics(w)("discovered").toString.toLong > 0L,
          "degenerate world: oracle discovered nothing")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("per-source discovery state equals oracle (F12/F13/M4 surface)") {
    import spark.implicits._
    val got: Map[String, SourceState] = engineStore.read(spark, "source_state")
      .as[SourceState].collect().map(s => s.source_id -> s).toMap
    assert(got.keySet == oracle.sourceStates.keySet)
    got.foreach { case (sid, s) =>
      val o = oracle.sourceStates(sid)
      assert(s.copy(rss_failure_waves = s.rss_failure_waves.sorted) ==
        o.copy(rss_failure_waves = o.rss_failure_waves.sorted), s"state mismatch for $sid")
    }
    // the synthetic world actually exercised the features:
    assert(got.values.exists(_.rss_missing_wave >= 0), "no RSS feed went missing (F13)")
    assert(got.values.exists(_.discovered_sections.nonEmpty), "no sections discovered (M4)")
    assert(got.values.exists(_.last_successful_method == "rss"))
    // M4 Strategy 1: the nav-ONLY `local` section (never a /sections/
    // URL) was discovered by the nav parse and fed the section crawl
    assert(got.values.exists(_.discovered_sections.contains("local")),
      "nav-only section never discovered (M4 Strategy 1)")
    val localArticles = frontierNow(engineStore)
      .filter(org.apache.spark.sql.functions.col("norm_url").contains("/stories/local-"))
      .count()
    assert(localArticles > 0, "nav-discovered section yielded no section-crawl articles")
  }

  test("A5: effectiveness gating turns a dead feed's RSS off after 2 attempts") {
    import spark.implicits._
    // host 10 (isDeadFeedHost): rss fails w0+w1 (2 attempts, 0 success),
    // homepage succeeds both → homepage PROVEN at wave 2 → rss gated off
    // for the rest of the run: attempts freeze at 2, homepage keeps going
    val st = engineStore.read(spark, "source_state").as[SourceState]
      .collect().map(s => s.source_id -> s).toMap.apply("src-0010")
    assert(st.rss_attempts == 2 && st.rss_successes == 0, s"rss counters: $st")
    assert(st.homepage_attempts == cfg.nWaves && st.homepage_successes == cfg.nWaves,
      s"homepage counters: $st")
    // telemetry agrees: rss attempted=false from wave 2 on
    import org.apache.spark.sql.functions._
    val rssAttempted = engineStore.read(spark, "telemetry")
      .filter(col("source_id") === "src-0010" && col("method") === "rss")
      .select("wave", "attempted").collect()
      .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(rssAttempted(0) && rssAttempted(1), s"rss must run waves 0-1: $rssAttempted")
    (2 until cfg.nWaves).foreach(w =>
      assert(!rssAttempted(w), s"rss must be gated off at wave $w: $rssAttempted"))
    // and the oracle state matches (full equality is asserted above)
    assert(oracle.sourceStates("src-0010").rss_attempts == 2)
  }

  test("O6: method-derived priority decides crawl order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val frontier = frontierNow(engineStore)
      .select("norm_url", "priority", "discovered_by", "status").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getString(2), r.getString(3))).toMap
    // priority column actually varies (O6 is no longer a constant term)
    assert(frontier.values.map(_._1).toSet.size > 1, "priority never varied")
    val fetches = engineStore.readAll(spark, "results").as[FetchResult]
      .select("wave", "host", "rank", "norm_url").as[(Int, String, Int, String)]
      .collect()
    // within every (wave, host), fetch rank order is non-increasing in
    // priority (the ranking's primary term)
    fetches.groupBy(t => (t._1, t._2)).foreach { case ((w, h), rows) =>
      val ps = rows.sortBy(_._3).map(t => frontier(t._4)._1)
      assert(ps.zip(ps.drop(1)).forall { case (a, b) => a >= b },
        s"priority not non-increasing for host $h wave $w: ${ps.toSeq}")
    }
    // the term is DECISIVE, not vacuous: some host-wave fetched BOTH
    // priorities, and (by the monotonicity above) every priority-3 rank
    // preceded every priority-2 rank within it. Under the old constant
    // priority the ordering fell through to (discovered_wave, mix),
    // which interleaves methods.
    val mixed = fetches.groupBy(t => (t._1, t._2)).filter { case (_, rows) =>
      rows.map(t => frontier(t._4)._1).toSet.size > 1
    }
    assert(mixed.nonEmpty, "no host-wave ever fetched two distinct priorities")
  }

  test("F9: pattern-table wire URLs are tagged pre-fetch and never planned") {
    import org.apache.spark.sql.functions._
    val wireRows = frontierNow(engineStore)
      .filter(col("norm_url").contains("/wire/"))
      .select("status", "processed_wave").collect()
    assert(wireRows.nonEmpty, "no wire-pattern URLs ever discovered")
    wireRows.foreach { r =>
      assert(r.getString(0) == "wire", s"wire URL not tagged: $r")
      assert(r.getInt(1) == -1, s"wire URL was fetched: $r")
    }
    // the gate reads the DB-driven pattern table, not a code constant
    val pats = engineStore.read(spark, "wire_patterns")
      .select("pattern").collect().map(_.getString(0)).toSeq
    assert(pats == Synth.WirePatterns)
  }

  test("section crawl produced section-lineage fetch candidates (S13)") {
    val n = frontierNow(engineStore)
      .filter(org.apache.spark.sql.functions.col("discovered_by").startsWith("section_crawl["))
      .count()
    assert(n > 0, "no frontier rows from the supplemental section crawl")
  }

  test("F10: a transient 404 is re-planned after the TTL and recovers") {
    val byUrl = oracle.fetches.groupBy(_.normUrl).filter(_._2.size > 1)
    val recovered = byUrl.values.find { fs =>
      val s = fs.sortBy(_.wave)
      s.head.status == "404" && s.exists(f => CrawlEngine.OkStatuses.contains(f.status)) &&
        s.last.wave >= s.head.wave + cfg.deadUrlTtlWaves
    }
    assert(recovered.nonEmpty, "no transient 404 was re-admitted and recovered")
    // engine equality with the oracle's fetch log is asserted above;
    // this pins that the scenario itself is exercised.
  }

  test("dataset scoping: a scoped run crawls exactly the scope's sources") {
    import spark.implicits._
    val scoped = cfg.copy(datasetScope = "ds-regional", nWaves = 2)
    val o = CrawlOracle.run(scoped)
    val store2 = freshStore()
    new CrawlEngine(spark, scoped, store2).run()
    val got = store2.readAll(spark, "results").as[FetchResult].collect()
      .map(r => CrawlOracle.OracleFetch(r.wave, r.host, r.rank, r.norm_url, r.status))
      .sortBy(f => (f.wave, f.host, f.rank))
    assert(got.nonEmpty)
    assert(got.toSeq == o.fetches.sortBy(f => (f.wave, f.host, f.rank)))
    // every crawled host belongs to the scope dataset (N:M membership)
    got.map(_.host).distinct.foreach { h =>
      val idx = h.stripPrefix("host-").takeWhile(_.isDigit).toInt
      assert(Synth.datasetsOf(idx).contains("ds-regional"), s"out-of-scope host $h crawled")
    }
    // out-of-scope sources were never due: their state never advanced
    val st = store2.read(spark, "source_state").as[SourceState].collect()
    val outOfScope = st.filter(s =>
      !Synth.datasetsOf(s.source_id.stripPrefix("src-").toInt).contains("ds-regional"))
    assert(outOfScope.nonEmpty)
    outOfScope.foreach(s => assert(s.last_wave == -1, s"out-of-scope source advanced: $s"))
    // FULL state + politeness table equality vs the oracle in a SCOPED
    // run: the oracle (like the engine) keeps frozen initial rows for
    // out-of-scope sources, so both tables cover every source
    assert(st.map(s => s.source_id -> s.copy(
        rss_failure_waves = s.rss_failure_waves.sorted)).toMap ==
      o.sourceStates.map { case (k, s) => k -> s.copy(
        rss_failure_waves = s.rss_failure_waves.sorted) },
      "scoped-run source_state diverges from oracle")
    assert(store2.read(spark, "politeness").as[graft.model.PolitenessState]
        .collect().map(p => p.host -> p).toMap == o.politeness,
      "scoped-run politeness diverges from oracle")
    // the dims are real N:M tables (a host can be in 2, 1, or 0 datasets)
    assert(store2.read(spark, "datasets").count() == Synth.DatasetLabels.size.toLong)
    val perSource = store2.read(spark, "dataset_sources")
      .groupBy("source_id").count().collect().map(_.getLong(1)).toSet
    assert(perSource.contains(2L), "no source in two datasets")
    assert(store2.read(spark, "dataset_sources").count() <
      cfg.nHosts.toLong * Synth.DatasetLabels.size, "membership is not selective")
  }

  test("S12: a CSV-seeded crawl reproduces the oracle end-to-end") {
    import spark.implicits._
    // export the spec world's registry as a publisher CSV (what an
    // operator's load-sources input looks like), then seed from it
    val rows = (0 until cfg.nHosts).map { idx =>
      val h = Synth.hostName(idx)
      val freq = Option(Synth.frequencyOf(idx)).getOrElse("")
      f"www.$h,Publisher $idx,$freq,${Synth.sensitivityOf(idx)}," +
        f"src-$idx%04d,${Synth.statusOf(idx)},${Synth.precheckOf(idx)}"
    }
    val csv = Files.createTempFile("sources", ".csv")
    Files.writeString(csv,
      ("host,name,frequency,bot_sensitivity,source_id,status,http_precheck" +: rows)
        .mkString("\n"))
    val short = cfg.copy(nWaves = 2, sourcesCsv = csv.toString)
    val store2 = freshStore()
    new CrawlEngine(spark, short, store2).run()
    val o = CrawlOracle.run(short.copy(sourcesCsv = null)) // oracle = same world
    val got = store2.readAll(spark, "results").as[FetchResult].collect()
      .map(r => CrawlOracle.OracleFetch(r.wave, r.host, r.rank, r.norm_url, r.status))
      .sortBy(f => (f.wave, f.host, f.rank))
    assert(got.nonEmpty)
    assert(got.toSeq == o.fetches.sortBy(f => (f.wave, f.host, f.rank)),
      "CSV-seeded crawl diverges from the oracle")
  }

  test("politeness is honored: ≤ tokens ≤ 3 fetches per host per wave") {
    import spark.implicits._
    val perHostWave = engineStore.readAll(spark, "results").as[FetchResult]
      .groupByKey(r => (r.wave, r.host)).count().collect()
    assert(perHostWave.nonEmpty)
    perHostWave.foreach { case ((w, h), n) =>
      assert(n <= 3, s"host $h wave $w fetched $n > 3")
    }
  }

  test("telemetry: per-(source,method) new urls reconcile with discovery") {
    import org.apache.spark.sql.functions._
    val telem = engineStore.read(spark, "telemetry")
    val perWave = telem.groupBy("wave").agg(sum("new_urls").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until cfg.nWaves).foreach { w =>
      assert(perWave.getOrElse(w, 0L) == oracle.waveMetrics(w)("discovered"),
        s"wave $w telemetry new_urls != discovered")
    }
    val methods = telem.select("method").distinct().collect().map(_.getString(0)).toSet
    assert(methods == Set("rss", "homepage", "section_crawl"))
  }

  test("payload fidelity: caption exact, phash exact, PSNR ≥ 40 dB for jpeg") {
    import spark.implicits._
    val fetched = engineStore.readAll(spark, "results").as[FetchResult]
      .filter(_.http_status == 200).collect()
    assert(fetched.nonEmpty)
    fetched.foreach { r =>
      val id = Synth.idOf(r.norm_url).get
      val truth = Synth.imageFor(cfg)(id)
      assert(r.caption == truth.caption, s"caption mismatch for $id")
      assert(r.image_id == truth.image_id)
      val decoded = ImageKernels.decode(r.bytes)
      val ground = ImageKernels.synthPixels(cfg.seed ^ id, cfg.imageSize, cfg.imageSize)
      val p = ImageKernels.psnr(ground, decoded)
      if (r.fmt == "png") {
        assert(p.isPosInfinity, s"png not lossless for $id")
        assert(r.phash == truth.phash, s"png phash mismatch for $id")
      } else {
        assert(p >= 40.0, s"jpeg PSNR $p < 40 for $id")
        // perceptual hash is robust, not bit-exact, under lossy re-encode
        val hamming = java.lang.Long.bitCount(r.phash ^ truth.phash)
        assert(hamming <= 6, s"jpeg phash hamming $hamming > 6 for $id")
      }
    }
  }

  test("resume from checkpoint reproduces the uninterrupted run") {
    // run only wave 0+1, then resume a fresh engine to completion
    val store2 = freshStore()
    val e1 = new CrawlEngine(spark, cfg, store2)
    e1.init()
    e1.runWave(0); e1.runWave(1)
    assert(store2.lastCommittedWave() == 1)
    new CrawlEngine(spark, cfg, store2).run() // resumes at wave 2
    val a = engineStore.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status")
      .collect().map(_.toString).sorted
    val b = store2.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status")
      .collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("crash mid-wave: uncommitted snapshots are rolled back on resume") {
    val store2 = freshStore()
    val e1 = new CrawlEngine(spark, cfg, store2)
    e1.init()
    e1.runWave(0); e1.runWave(1)
    // simulate a crash between table writes and commitWave: orphan
    // deltas land in results + frontier, politeness advances, no commit
    val orphan = store2.readAll(spark, "results").limit(3)
    store2.appendDelta(orphan, "results", 2, lineage = "orphan (crash)")
    val orphanF = store2.read(spark, "frontier").limit(5)
    store2.appendDelta(orphanF, "frontier", 2,
      bucketCol = Some("host_bucket"), lineage = "orphan (crash)")
    store2.write(store2.read(spark, "politeness"), "politeness", 2)
    new CrawlEngine(spark, cfg, store2).run() // must roll back, then resume
    val a = engineStore.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status")
      .collect().map(_.toString).sorted
    val b = store2.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status")
      .collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("partitioning invariance: different shuffle partitioning, same crawl") {
    val sparkB = spark.newSession()
    sparkB.conf.set("spark.sql.shuffle.partitions", "23")
    val store3 = freshStore()
    new CrawlEngine(sparkB, cfg, store3).run()
    val a = frontierNow(engineStore)
      .select("norm_url", "status").collect().map(_.toString).sorted
    val b = CrawlEngine.frontierCurrent(sparkB, store3)
      .select("norm_url", "status").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("delta commits: a wave writes O(delta) frontier rows, not O(frontier)") {
    val pins0 = engineStore.wavePins(0)
    val pins1 = engineStore.wavePins(1)
    val delta1 = engineStore.readSnapshot(spark, "frontier", pins1("frontier")).count() -
      engineStore.readSnapshot(spark, "frontier", pins0("frontier")).count()
    val m1 = oracle.waveMetrics(1)
    assert(delta1 == m1("discovered") + m1("planned"),
      s"wave-1 frontier delta $delta1 != discovered+planned ${m1("discovered") + m1("planned")}")
  }

  test("seen scan is bucket-pruned: frontier buckets cover only real host buckets") {
    import org.apache.spark.sql.functions.col
    val files = engineStore.currentFiles("frontier")
    val buckets = files.keySet
    val hostBuckets = (0 until cfg.nHosts)
      .map(i => graft.core.functions.hostBucketJvm(Synth.hostName(i), cfg.nBuckets)).toSet
    assert(buckets.subsetOf(hostBuckets))
    // the exact-confirm scan shape: pruned read of one bucket touches
    // only that bucket's files, and its norm_url rows are per-bucket
    // consistent (every URL hashed into the bucket it is stored under)
    val b = buckets.head
    val pruned = engineStore.readBuckets(spark, "frontier", Seq(b))
    assert(pruned.inputFiles.map(f => new java.net.URI(f).getPath).toSet ==
      files(b).toSet)
    assert(pruned.select("host_bucket").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(b))
  }

  test("update-log fold equals full-log merge-on-read (pre-compaction)") {
    import org.apache.spark.sql.functions.col
    // frontierCurrent folds only the update partition over the immutable
    // discovery rows; on an uncompacted log it must equal the brute
    // max-seq merge of the WHOLE log (the O(frontier)-shuffle form it
    // replaced)
    val store2 = freshStore()
    val e = new CrawlEngine(spark, cfg, store2)
    e.init(); e.runWave(0); e.runWave(1) // compactEvery=3 → still raw log
    val log = store2.read(spark, "frontier")
    assert(log.filter(col("is_update")).count() > 0, "no update rows to fold")
    // state columns only: is_update is a log-encoding artifact (the fold
    // view normalizes it to false; the brute merge keeps the winner's)
    val stateCols = CrawlEngine.FrontierCols.filterNot(_ == "is_update")
    val a = CrawlEngine.frontierCurrent(spark, store2)
      .select(stateCols.map(col): _*)
      .collect().map(_.toString).sorted
    val b = CrawlEngine.mergeLog(log)
      .select(stateCols.map(col): _*)
      .collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("plan scan is bucket-pruned: frontier readBuckets reads only those buckets' files") {
    // the wave's plan path reads store.readBuckets("frontier", availBuckets)
    // — a strict bucket subset must touch exactly that subset's files
    val files = engineStore.currentFiles("frontier")
    val buckets = files.keySet.filter(_ >= 0)
    assert(buckets.size > 1, s"world too small to test pruning: $buckets")
    val subset = buckets.toSeq.sorted.take(buckets.size / 2)
    val pruned = engineStore.readBuckets(spark, "frontier", subset)
    val expected = subset.flatMap(b => files.getOrElse(b, Seq.empty)).toSet
    assert(pruned.inputFiles.map(f => new java.net.URI(f).getPath).toSet == expected)
    assert(expected.nonEmpty)
  }

  test("time travel: wave-0 frontier snapshot is readable and smaller") {
    val pins0 = engineStore.wavePins(0)
    val f0 = engineStore.readSnapshot(spark, "frontier", pins0("frontier")).count()
    val fN = engineStore.read(spark, "frontier").count()
    assert(f0 > 0 && f0 < fN)
  }

  test("long log: compaction keeps the read-side file count bounded across cycles") {
    // delta-size invariant: the merge-on-read input depends only on
    // waves-since-last-compaction, never on TOTAL waves run. Two worlds
    // that both end one wave past a compaction (compactEvery=3:
    // 4 waves → compact@2 +1 pending; 7 waves → compact@2,@5 +1
    // pending) must leave the frontier with the same file count — a
    // second compaction cycle adds zero net files. Without compaction
    // the 7-wave log would carry ~3 extra waves of delta files.
    def logAfter(nWaves: Int): (Int, Long, Long) = {
      val c = cfg.copy(nWaves = nWaves, compactEvery = 3)
      val store = freshStore()
      new CrawlEngine(spark, c, store).run()
      val files = store.currentFiles("frontier").values.map(_.size).sum
      val logRows = store.read(spark, "frontier").count()
      val urls = CrawlEngine.frontierCurrent(spark, store).count()
      (files, logRows, urls)
    }
    val (files4, rows4, urls4) = logAfter(4)
    val (files7, rows7, urls7) = logAfter(7)
    // ≤, not ==: auto-paused sources can shrink the later pending
    // delta's bucket set — the invariant is that 3 more waves add ZERO
    // net files once a compaction cycle has passed
    assert(files7 <= files4,
      s"frontier file count grew across compaction cycles: $files4 → $files7")
    // and the fold input stays O(frontier + one pending wave's delta):
    // log-rows per frontier URL must not grow with total waves run
    assert(rows7.toDouble / urls7 <= rows4.toDouble / urls4 + 0.05,
      s"log amplification grew: $rows4/$urls4 → $rows7/$urls7")
  }

  /** Runs `body` between two tagged marker jobs and returns, in start
    * order, the jobs that started between the markers and the closing
    * marker's own jobs (started after `body` returned). The markers
    * keep listener events still queued from earlier tests out of the
    * window, and waiting for the closing marker's event covers the
    * bus's delivery lag. */
  def jobsOf(body: => Unit): (Seq[JobStart], Seq[JobStart]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[JobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(JobStart(e.jobId, prop("spark.job.description"),
          prop("spark.job.tags").toSet.flatMap((t: String) => t.split(",").toSet)))
      }
    }
    def marker(tag: String): Unit = {
      sc.addJobTag(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-of-start")
      body
      marker("jobs-of-end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.tags("jobs-of-end")) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    val all = seen.asScala.toSeq
    val inside = all.dropWhile(!_.tags("jobs-of-start")).drop(1)
      .takeWhile(!_.tags("jobs-of-end"))
    (inside, all.filter(_.tags("jobs-of-end")))
  }

  test("phase labels: every job of a run carries its phase; a later job carries none") {
    val short = cfg.copy(nWaves = 2)
    val (inside, after) = jobsOf(new CrawlEngine(spark, short, freshStore()).run())
    val WaveLabel = """wave (\d+): (\w+)""".r
    val RunLabel = """run: (\w+)""".r
    inside.foreach { j =>
      j.description match {
        case Some(WaveLabel(n, phase)) =>
          assert((0 until short.nWaves).contains(n.toInt), s"job ${j.id}: wave $n")
          assert(CrawlEngine.WavePhases.contains(phase), s"job ${j.id}: phase $phase")
        case Some(RunLabel(phase)) =>
          assert(CrawlEngine.RunPhases.contains(phase), s"job ${j.id}: run phase $phase")
        case other => fail(s"job ${j.id} started inside run() has description $other")
      }
    }
    val waves = inside.flatMap(_.description).collect { case WaveLabel(n, _) => n.toInt }
    assert(waves.toSet == Set(0, 1), s"labelled waves: ${waves.distinct}")
    assert(after.nonEmpty)
    after.foreach(j => assert(j.description.isEmpty, s"job ${j.id} after run(): ${j.description}"))
  }

  test("re-run after a crash on the same engine: oracle-equal, no cache or checkpoint kept") {
    import spark.implicits._
    val sc = spark.sparkContext
    val c3 = cfg.copy(nWaves = 3)
    val store = freshStore()
    val commit0 = java.nio.file.Paths.get(store.root, "_commits", "wave-00000.json")
    // cancels every job that starts once wave 0 has committed: wave 1
    // dies part-way, the way a driver crash would cut it
    val crash = new CrashAfter(sc, commit0)
    def persisted = sc.getPersistentRDDs.keySet
    def cached = org.apache.spark.sql.CacheEntries.count(spark)
    val (persistedBefore, cachedBefore) = (persisted, cached)

    val engine = new CrawlEngine(spark, c3, store)
    sc.addSparkListener(crash)
    val first = try scala.util.Try(engine.run()) finally {
      crash.armed = false
      sc.removeSparkListener(crash)
    }
    assert(first.isFailure, "the crash listener did not stop the first run")
    assert(store.lastCommittedWave() == 0)
    val again = engine.run()
    assert((persisted -- persistedBefore).isEmpty,
      s"RDDs left persisted: ${persisted -- persistedBefore}")
    assert(cached == cachedBefore, "CacheManager entries left behind")

    val o = CrawlOracle.run(c3)
    assert(again.map(_.wave) == Seq(1, 2))
    (0 until c3.nWaves).foreach { w =>
      val txt = Files.readString(
        java.nio.file.Paths.get(store.root, "_commits", f"wave-$w%05d.json"))
      o.waveMetrics(w).foreach { case (k, v) =>
        assert(txt.contains(s""""$k":$v"""), s"wave $w metric $k=$v; got $txt")
      }
    }
    val seenUrls = CrawlEngine.frontierCurrent(spark, store)
      .select("norm_url").collect().map(_.getString(0)).toSet
    assert(seenUrls == o.seen)
    val order = store.readAll(spark, "results").as[FetchResult].collect()
      .map(r => CrawlOracle.OracleFetch(r.wave, r.host, r.rank, r.norm_url, r.status))
      .sortBy(f => (f.wave, f.host, f.rank)).toSeq
    assert(order == o.fetches.sortBy(f => (f.wave, f.host, f.rank)))
  }
}

object CrawlEngineSpec {
  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  /** A job start as the listener bus delivered it: id, description and
    * job tags. */
  final case class JobStart(id: Int, description: Option[String], tags: Set[String])

  /** Cancels every job that starts once `commit` exists, the way a
    * driver crash would cut the wave after it. */
  final class CrashAfter(sc: SparkContext, commit: java.nio.file.Path) extends SparkListener {
    @volatile var armed = true
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (armed && Files.exists(commit)) sc.cancelJob(e.jobId, "simulated crash")
  }
}
