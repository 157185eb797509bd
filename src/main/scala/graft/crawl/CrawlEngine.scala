package graft.crawl

import graft.core.{functions => gf}
import graft.model._
import graft.ops.ImageKernels
import graft.store.SnapshotStore
import graft.synth.{Synth, SynthFunctions}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** The Spark-native URL-frontier + fetch scheduler (BASELINE.json
  * north rule). One wave =
  *
  *   sources⋈state(due) → per-source method cascade (RSS → homepage →
  *     section crawl, ≥max/2 short-circuit) → normalize → scope/skip/
  *     recency → order-preserving batch dedup (W2/U1) → bucket-
  *     co-partitioned Bloom screen → bucket-pruned exact seen confirm
  *   → verification + robots gate applied to the DELTA (per-row rules)
  *   → merge-on-read plan view → per-host bounded top-k token ranking
  *   → fetch (mapPartitions resolver) → X4 content typing
  *   → delta-only state commits (frontier + results appends; host-
  *     cardinality rewrites for politeness/state/telemetry)
  *
  * Scale design (10^10-URL frontier):
  *  - The frontier is an append-only DELTA LOG partitioned by
  *    `host_bucket`: each wave writes O(|delta|) bytes (discovered rows
  *    + fetch-outcome updates), never a frontier rewrite; the current
  *    row of a URL is its max-seq version (merge-on-read), and the log
  *    is compacted to one row per URL every `compactEvery` waves, so
  *    read amplification is bounded and amortized.
  *  - The URL-seen layer is (a) a bucket-keyed Bloom bank held in
  *    executor memory across waves (rebuilt from the frontier on
  *    resume), whose membership checks and merges run bucket-co-
  *    partitioned in executors (the driver never holds or broadcasts
  *    the bank) and (b) the frontier log's immutable discovery rows,
  *    one per admitted URL, as the exact key layer; the exact
  *    confirm join scans only the wave's touched buckets (manifest
  *    file pruning) and joins only the Bloom-positive remainder —
  *    |dups + false positives|, not |batch|, and never a seen shuffle.
  *  - Robots rules and politeness tokens are host-cardinality tables
  *    joined in by broadcast; longest-match is a pre-sorted-array HOF
  *    expression, not a driver map.
  *  - Per-host ranking uses a 64-bit xxhash mix key (not md5 hex) and a
  *    bounded top-k `flatMapGroups` (O(tokens) memory, no per-host
  *    sort), so hot hosts cannot skew or OOM a task.
  *  - All "time" is logical (wave number; 1 wave ≙ 1 day for ledger/TTL
  *    rules), which makes runs bit-identical at any parallelism — the
  *    two-cluster-size equivalence the north rule demands.
  *
  * Reference semantics: discovery cascade source_processing.py:624-677;
  * section discovery/crawl discovery.py:647-997; RSS ledger
  * discovery.py:1158-1515; dead-URL TTL crawler/__init__.py:509-513;
  * adaptive pause source_processing.py:301-380; content types
  * extraction.py:1085-1105; frontier upsert database.py:797-828. */
final class CrawlEngine(spark: SparkSession, cfg: Synth.Config, store: SnapshotStore) {
  import spark.implicits._
  import CrawlEngine._

  private val SeenFpp = 0.01
  private val bloomCapacityPerBucket =
    math.max(1000L, cfg.nHosts.toLong * cfg.urlsPerHostPerWave * cfg.nWaves / cfg.nBuckets * 2)
  // fail fast if the world outgrew its bucket count: a Bloom filter row
  // is a single serialized blob, and an oversized one means nBuckets was
  // not derived from the expected URL volume (Synth.bucketsFor) — at
  // 10^10 URLs with a fixed small bucket count these blobs would reach
  // GBs each and the dedup cogroup would be parallelism-capped
  require(bloomCapacityPerBucket <= 8L * 1000 * 1000,
    s"bloom capacity/bucket $bloomCapacityPerBucket exceeds 8e6 keys — " +
      s"derive nBuckets from world size via Synth.bucketsFor " +
      s"(got nBuckets=${cfg.nBuckets})")

  /** Every state table a wave commit pins (crash recovery rolls each
    * back to the last commit's pin). The URL-seen KEY layer is not a
    * separate table: the frontier log's immutable discovery rows ARE
    * the seen set (one row per admitted URL), and the exact-confirm
    * scan reads just their `norm_url` column (parquet column pruning)
    * from the wave's touched buckets. */
  val AllTables: Seq[String] = Seq("sources", "robots", "politeness",
    "source_state", "frontier", "results", "telemetry", "telemetry_http",
    "wire_patterns", "content_patterns", "datasets", "dataset_sources")

  /** Host-cardinality tables: write a bounded number of files, scaling
    * with host count (not 1, not #shuffle-partitions). */
  private def hostFiles: Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, cfg.nHosts / 10000 + 1))

  def init(): Unit = {
    if (store.lastCommittedWave() >= 0) return // resume — keep state
    // append-only tables initialize as pure driver-side metadata (no
    // Spark job: schema pin + empty manifest); the remaining snapshots
    // are tiny host-cardinality writes run as concurrent Spark jobs
    // (sequential, their fixed per-job latency dominates startup)
    import org.apache.spark.sql.Encoders
    store.writeEmpty(Encoders.product[FrontierRow].schema, "frontier", wave = -1)
    store.writeEmpty(Encoders.product[FetchResult].schema, "results", wave = -1)
    store.writeEmpty(Encoders.product[TelemetryRow].schema, "telemetry", wave = -1)
    store.writeEmpty(Encoders.product[HttpTelemetryRow].schema, "telemetry_http", wave = -1)
    val ws = cfg.waveSeconds
    // S12: a publisher CSV can seed the registry (load-sources CLI,
    // src/cli/commands/load_sources.py); default is the synth world
    val seed = Option(cfg.sourcesCsv) match {
      case Some(path) => graft.sources.SourceCsv.load(spark, path)
      case None => Synth.sources(spark, cfg)
    }
    val robots = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      RobotsHost(Synth.hostName(idx), Synth.crawlDelayOf(idx),
        Synth.robotsRulesOf(idx).map { case (p, a) => RulePrefix(p, a) })
    }
    val pol = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      Politeness.initial(Synth.hostName(idx), Synth.sensitivityOf(idx),
        Synth.crawlDelayOf(idx), ws)
    }
    val state = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      SourceRules.initial(f"src-$idx%04d", Synth.hostName(idx))
    }
    import graft.store.SnapshotStore.FusedPart
    val parts = Seq(
      FusedPart("sources", seed.toDF().coalesce(hostFiles), append = false,
        lineage = Option(cfg.sourcesCsv).map(p => s"csv seed: $p")
          .getOrElse("synth seed registry")),
      FusedPart("robots", robots.toDF().coalesce(hostFiles), append = false,
        lineage = "synth robots, longest-match-sorted (allow wins ties)"),
      FusedPart("politeness", pol.toDF().coalesce(hostFiles), append = false,
        lineage = "sensitivity ladder init"),
      FusedPart("source_state", state.toDF().coalesce(hostFiles), append = false,
        lineage = "discovery state init"),
      // F9 wire patterns as DB-driven rows (models/__init__.py:351-403),
      // not code constants — the verify gate broadcast-joins this table
      FusedPart("wire_patterns",
        Synth.WirePatterns.zipWithIndex
          .map { case (p, i) => (i, p, "wire") }
          .toDF("pattern_order", "pattern", "pattern_type").coalesce(1),
        append = false, lineage = "seeded wire-service patterns"),
      // X4 content-classification patterns as DB-driven rows
      // (content_type_detector.py:237-260 loads these from tables) —
      // the fetch stage broadcasts them; no keyword set in engine code
      FusedPart("content_patterns",
        Synth.ContentPatterns.zipWithIndex
          .map { case ((t, k, p), i) => (i, t, k, p) }
          .toDF("pattern_order", "ptype", "kind", "pattern").coalesce(1),
        append = false, lineage = "seeded content-type patterns"),
      // dataset dims (models/__init__.py:492-630): datasets + the N:M
      // dataset_sources scope table the due-source scan semi-joins
      FusedPart("datasets",
        Synth.DatasetLabels.map(l => (l, s"Dataset $l"))
          .toDF("dataset_id", "canonical_name").coalesce(1),
        append = false, lineage = "seeded dataset registry"),
      FusedPart("dataset_sources",
        spark.range(cfg.nHosts).flatMap { i =>
          val idx = i.toInt
          Synth.datasetsOf(idx).map(ds => (ds, f"src-$idx%04d"))
        }.toDF("dataset_id", "source_id").coalesce(hostFiles),
        append = false, lineage = "seeded N:M scope table"))
    // ONE Spark job seeds all eight snapshots (tagged union, one parquet
    // pass): per-job launch latency is the driver-serial part of init,
    // so 8 concurrent jobs → 1 job attacks the north-rule serial term
    parts.foreach(p => store.writeEmpty(p.df.schema, p.table, wave = -1))
    store.writeFused(parts, wave = -1)
  }

  /** The world config, broadcast once into the cascade, fetch and
    * per-source-facts closures. */
  private lazy val configB = spark.sparkContext.broadcast(cfg)

  /** X4 pattern rows, loaded from the content_patterns TABLE once per
    * engine (tiny: pattern-cardinality) and broadcast into the fetch
    * stage — the DB-driven shape of the reference's detector. */
  private lazy val contentPatsB = spark.sparkContext.broadcast(
    store.read(spark, "content_patterns")
      .select("pattern_order", "ptype", "kind", "pattern")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .toSeq)

  /** X5 Bloom bank held across waves as a local checkpoint (executor
    * memory; the driver never holds a blob). `None` before the first
    * wave of this engine instance — a resume in a fresh JVM rebuilds
    * the bank lazily from the frontier's committed discovery rows. */
  private var bloomBank: Option[Dataset[BloomRow]] = None

  /** The resume path: every admitted URL has exactly one immutable
    * discovery row in the frontier, so grouping those keys by bucket
    * reproduces the bank exactly (Bloom bit-arrays are insertion-order-
    * independent — byte-identical to the incrementally merged bank).
    * Lazy: no action here; the caller's cogroup evaluates it. */
  private def rebuildBankFromFrontier(): Dataset[BloomRow] = {
    val cap = bloomCapacityPerBucket
    val fpp = SeenFpp
    store.read(spark, "frontier")
      .filter(!col("is_update"))
      .select(col("host_bucket"), col("norm_url"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroups { (b, ks) =>
        val bf = BloomFilter.create(cap, fpp)
        ks.foreach(k => bf.putString(k._2))
        val bos = new ByteArrayOutputStream()
        bf.writeTo(bos)
        BloomRow(b, bos.toByteArray)
      }
  }

  /** Next wave's (tag, bucket) sets, carried out of this wave's fused
    * state write by observation (tag 0 = due hosts, 1 = politeness-
    * available hosts) — saves the wave-start pre-stage driver action. */
  private var nextBucketTags: Option[Array[(Int, Int)]] = None

  /** Politeness / source-state carried across waves as lazily
    * localCheckpoint'd frames (the fused state write is the action that
    * materializes them — no extra job): the next wave probes executor
    * memory instead of re-reading the parquet snapshot this wave just
    * wrote. The store copy remains the durable truth — written every
    * wave exactly as before — and a resume in a fresh JVM starts from
    * `store.read`, which holds the same rows by construction (the same
    * pattern as the Bloom bank above). */
  private var politenessCarry: Option[DataFrame] = None
  private var stateCarry: Option[DataFrame] = None

  /** Free the cross-wave carries and forget the carried bucket tags. */
  private def dropCarries(): Unit = {
    (bloomBank ++ politenessCarry ++ stateCarry).foreach(freeCheckpoint)
    bloomBank = None; politenessCarry = None; stateCarry = None
    nextBucketTags = None
  }

  /** Run `body` with the Spark job description `label`, restoring the
    * previous description after. Descriptions are thread-local, so a
    * forked leg sets its own: a pooled thread keeps whatever it
    * inherited when it was created. */
  private def labelled[T](label: String)(body: => T): T = {
    val prev = spark.sparkContext.getLocalProperty(JobDescription)
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setLocalProperty(JobDescription, prev)
  }

  /** `body` labelled `wave <n>: <name>`, `name` one of [[WavePhases]]. */
  private def phase[T](wave: Int, name: String)(body: => T): T =
    labelled(s"wave $wave: $name")(body)

  // ---------------------------------------------------------------- waves

  /** One wave, as a chain of steps: due scan → gate (discovery cascade,
    * dedup + Bloom screen, exact confirm, verification, robots) → plan
    * → fetch → persist (every table write, the carry swap) → commit.
    * Each step runs under its phase label; every cache and checkpoint
    * the wave makes lives in one [[WaveScope]], freed when the wave
    * ends or throws. */
  def runWave(wave: Int): WaveMetrics = WaveScope.using { scope =>
    val w = new Wave(wave, waveParams(wave))
    val d = phase(wave, "due")(dueStep(wave, scope))
    val g = phase(wave, "gate")(gateStep(w, d, scope))
    val p = phase(wave, "plan")(planStep(w, d, g, scope))
    val results = phase(wave, "fetch")(fetchStep(wave, p.plannedWide, scope))
    phase(wave, "persist")(persistStep(w, d, g, p, results, scope))
    phase(wave, "commit")(commitStep(w))
  }

  /** Wave-varying values enter the PLAN as a one-row parameter table,
    * never as literals: literals bake into whole-stage-codegen source,
    * so per-wave constants would force a Janino recompile of every
    * stage every wave (a serial, lock-guarded driver+executor cost
    * measured at ~40% of task runtime); with parameter columns the
    * generated code is byte-identical across waves and the codegen
    * cache hits. n_buckets rides the parameter table too: it differs
    * between the Bench warm-up world and the measured world (32 vs 64),
    * and as a literal the warm-up would prime the wrong generated code. */
  private def waveParams(wave: Int): DataFrame =
    broadcast(Seq((wave, 2L * wave, cfg.seed + wave, cfg.nBuckets.toLong))
      .toDF("cur_wave", "cur_seq", "mix_seed", "n_buckets"))

  /** Due scan: sources ⋈ state under the F11/F12 gates (join-based — no
    * driver map), with the A5 method order decided from the per-source
    * effectiveness telemetry carried in source_state; plus the
    * politeness-available hosts and the wave's two bucket sets. */
  private def dueStep(wave: Int, scope: WaveScope): DueStep = {
    val nb = cfg.nBuckets
    val politeness = politenessCarry
      .map(_.as[PolitenessState])
      .getOrElse(store.read(spark, "politeness").as[PolitenessState])
    // dataset scoping (J1 engine-side): a scoped run semi-joins the seed
    // registry against the N:M dataset_sources rows of the scope label
    // (broadcast — the scope table is dataset×source cardinality).
    // Only the DUE scan is scoped; state rewrites keep every source's
    // row (allSources), so out-of-scope state is preserved untouched.
    val allSources = store.read(spark, "sources").as[Source]
    val sources = (Option(cfg.datasetScope) match {
      case None => allSources.toDF()
      case Some(scope) =>
        allSources.toDF().join(
          broadcast(store.read(spark, "dataset_sources")
            .filter(col("dataset_id") === scope).select("source_id")),
          Seq("source_id"), "left_semi")
    }).as[Source]
    val state = stateCarry
      .map(_.as[SourceState])
      .getOrElse(store.read(spark, "source_state").as[SourceState])
    val robots = store.read(spark, "robots")

    val due = scope.cache(sources
      .joinWith(state, sources("source_id") === state("source_id"), "inner")
      .filter((t: (Source, SourceState)) =>
        SourceRules.due(t._2, t._1.status, t._1.frequency, wave))
      .map { (t: (Source, SourceState)) =>
        val s = t._1; val st = t._2
        DueSource(s.source_id, s.host_norm, s.frequency,
          s.source_id.stripPrefix("src-").toInt,
          SourceRules.rssSkipped(st, s.frequency, wave),
          SourceRules.effectiveMethods(st),
          st.discovered_sections)
      })

    // The wave needs two bucket sets: the due hosts' buckets (seen/
    // bloom scan pruning) and the politeness-available hosts' buckets
    // (plan backlog scan pruning). In steady state BOTH arrive for free
    // on the PREVIOUS wave's fused state write (collect_set observations
    // riding the politeness/source_state legs, evaluated by the same
    // Scala kernels — `nextBucketTags`), so no wave-start driver action
    // runs at all. The pre-stage collect remains only as the fallback
    // for a resume.
    val waveSec = cfg.waveSeconds
    val availHosts = scope.cache(politeness
      .filter(st => Politeness.available(st, wave, waveSec))
      .map(st => (st.host, st.tokens_per_wave))
      .toDF("p_host", "tokens")) // scanned twice: bucket agg + ranking join
    val bucketTags: Array[(Int, Int)] = nextBucketTags.getOrElse(due
      .map(d => (0, gf.hostBucketJvm(d.host_norm, nb)))
      .toDF("t", "b")
      .unionByName(availHosts.select(lit(1).as("t"),
        pmod(xxhash64(col("p_host")), lit(nb.toLong)).cast("int").as("b")))
      .distinct().as[(Int, Int)].collect())
    nextBucketTags = None
    def tagged(tag: Int): Seq[Int] = bucketTags.collect { case (`tag`, b) => b }.toSeq.sorted
    DueStep(politeness, allSources, state, robots, due, availHosts,
      touched = tagged(0), availBuckets = tagged(1))
  }

  /** Discovery gate: cascade and F-chain, the bucket cogroup that dedups
    * the batch and screens it against the Bloom bank, the exact seen
    * confirm, then verification and robots on the delta; returns the
    * URLs new to the crawl. */
  private def gateStep(w: Wave, d: DueStep, scope: WaveScope): GateStep = {
    val candidates = discover(w, d.due)
    // X5 bank: held as a checkpoint across waves (executor memory — the
    // driver never sees a blob) and never written to the store: the
    // frontier's committed discovery rows are the authoritative seen
    // keys, so a resume rebuilds the bank from them lazily (Bloom
    // bit-arrays are insertion-order-independent, so a rebuilt bank is
    // byte-identical to the incrementally merged one).
    val touchedSet = d.touched.toSet
    val bankAll = bloomBank.getOrElse(rebuildBankFromFrontier())
    val blooms = bankAll.filter(r => touchedSet.contains(r.bucket))
    // W2/U1 + J6/X5 in ONE bucket shuffle: norm_url → host → bucket is
    // functional, so the batch dedup (keep the min (attempt, url)
    // occurrence — this wave's A5 attempt order) runs inside the bucket
    // cogroup that also evaluates the Bloom screen, executor-side.
    // F7 invariant the bucket pruning DEPENDS on: every candidate's host
    // equals a due source's host, so its bucket is in `touched`. If a
    // scope rule ever admitted a cross-host link, an untouched bucket's
    // Bloom filter would silently be replaced by a fresh empty one —
    // fail fast instead of corrupting the seen layer.
    val checked: Dataset[(CandRow, Boolean)] = scope.cache(candidates
      .groupByKey(_.host_bucket)
      .cogroup(blooms.groupByKey(_.bucket)) { (b, cs, bs) =>
        require(touchedSet.contains(b),
          s"candidate bucket $b outside the wave's touched set $touchedSet")
        val best = new java.util.HashMap[String, CandRow]()
        cs.foreach { c =>
          val prev = best.get(c.norm_url)
          if (prev == null || c.attempt < prev.attempt ||
            (c.attempt == prev.attempt && c.url < prev.url))
            best.put(c.norm_url, c)
        }
        val bf = bs.nextOption()
          .map(r => BloomFilter.readFrom(new ByteArrayInputStream(r.bloom)))
        import scala.jdk.CollectionConverters._
        bf match {
          case None => best.values().iterator().asScala.map(c => (c, false))
          case Some(f) => best.values().iterator().asScala
            .map(c => (c, f.mightContainString(c.norm_url)))
        }
      })
    val maybeSeen = checked.filter(_._2).map(_._1).toDF()
    val definitelyNew = checked.filter(!_._2).map(_._1).toDF()
    // exact confirm: semi-join the (pruned) seen scan against the small
    // Bloom-positive set, then anti-join — both sides of both joins
    // broadcast the small set; the seen layer is scanned (one column,
    // touched buckets only), never shuffled. The seen KEYS are the
    // frontier log's rows themselves (every admitted URL has exactly
    // one immutable discovery row; update rows only repeat a subset of
    // those keys, harmless under a semi-join) — parquet column pruning
    // makes this scan cost what a dedicated key table would, without a
    // second table write per wave.
    val seenScan = store.readBuckets(spark, "frontier", d.touched).select("norm_url")
    val hits = seenScan.join(maybeSeen.select("norm_url"), Seq("norm_url"), "left_semi")
    val confirmedNew = maybeSeen.join(hits, Seq("norm_url"), "left_anti")
    val newLinks = definitelyNew.unionByName(confirmedNew)
    // localCheckpoint, not cache: both dedupe the computation, but a
    // cache leaves the FULL cascade lineage in every downstream plan —
    // each of the wave's ~7 write/agg actions re-runs the analyzer/
    // optimizer (and janino codegen) over the whole discovery tree
    // before cache substitution kicks in, a parallelism-resistant
    // driver-serial cost. The checkpoint leaf truncates it.
    // EAGER, necessarily: this plan carries the `disc` CollectMetrics
    // node (it counts rows the cascade DROPS, so it cannot ride any
    // later action), and Dataset.checkpoint wraps even the lazy case
    // in withAction — a lazy checkpoint posts a query-success event
    // whose plan holds the un-run metrics node, and with AQE off (the
    // scaling harness config) the Observation latches those zeros.
    // Eager materialization flows the rows first, so the event
    // carries the real counts. Downstream joins are unaffected: every
    // stats-sensitive join on this path carries an explicit
    // broadcast/dim hint (LogicalRDD has no static stats).
    val gatedDelta = scope.checkpoint(verify(newLinks, d.allSources, d.robots), eager = true)
    GateStep(gatedDelta, bankAll, blooms, touchedSet)
  }

  /** Per-source method cascade (S5/S6/S13 + U1 + A5) → normalize →
    * F-chain outcome tag, counted by the `disc` observation; returns
    * the "ok" candidates keyed by host bucket. */
  private def discover(w: Wave, due: Dataset[DueSource]): Dataset[CandRow] = {
    val wave = w.n
    val cfgB = configB
    // methods run in the effectiveness-gated attempt order carried on
    // DueSource; a healthy RSS yield ≥ max/2 short-circuits methods not
    // yet attempted (source_processing.py:624-677); the supplemental
    // section crawl runs for every source with discovered sections. The
    // cascade itself is the SHARED SourceRules.cascade kernel (engine
    // flatMap + dueFacts + oracle — one definition).
    // lineage strings (M5) are NOT built here: the expansion carries
    // (method_rank, attempt, slot, section) ints and the discovered_by
    // label is assembled by a codegen concat only for rows that survive
    // the F-chain + dedup + seen check — deferred formatting keeps ~50
    // bytes/row out of the hottest shuffle.
    val raw = due.repartition(spark.sparkContext.defaultParallelism).flatMap { d =>
      SourceRules.cascade(cfgB.value)(d.host_idx, wave, d.methods,
        d.rss_skip, d.sections).links.map { l =>
        RawLink(d.source_id, d.host_norm, l.url, l.methodRank, l.attempt,
          l.slot, l.section)
      }
    }.toDF("source_id", "src_host", "url", "method_rank", "attempt", "slot", "section")

    // F-chain with a single outcome tag; metrics ride the first action
    // via observe() — no separate counting job (A7)
    val normalized = raw
      .withColumn("norm_url", gf.normalize_url(col("url")))
      .withColumn("host", gf.canonical_host(col("url")))
      .withColumn("pub_day", SynthFunctions.publish_day(col("norm_url"), cfg))
      .withColumn("outcome",
        when(!gf.is_valid_url(col("url")), lit("invalid"))
          .when(col("host") =!= col("src_host"), lit("out_of_scope")) // F7
          .when(!gf.passes_skip_patterns(col("url")), lit("filtered")) // F4
          .when(col("pub_day") =!= -1 &&
            col("pub_day") < lit(cfg.nowDay - cfg.recencyDays), lit("expired")) // F8
          .otherwise(lit("ok")))
      .observe(w.disc,
        count(when(col("outcome") === "out_of_scope", 1)).as("out_of_scope"),
        count(when(col("outcome") === "filtered", 1)).as("filtered"),
        count(when(col("outcome") === "expired", 1)).as("expired"),
        count(when(col("outcome") === "ok", 1)).as("ok"))

    normalized
      .filter(col("outcome") === "ok")
      .select(col("norm_url"), col("method_rank"), col("attempt"), col("url"),
        col("source_id"), col("host"), col("pub_day"), col("slot"), col("section"))
      .crossJoin(w.params)
      .withColumn("host_bucket",
        pmod(xxhash64(col("host")), col("n_buckets")).cast("int"))
      .drop("cur_wave", "cur_seq", "mix_seed", "n_buckets")
      .as[CandRow]
  }

  /** Verification (F5/F6/F9) + robots gate — pure per-row rules applied
    * to the DELTA only (old rows are never re-verified). */
  private def verify(newLinks: DataFrame, allSources: Dataset[Source],
                     robots: DataFrame): DataFrame = {
    // F9 wire patterns come from the wire_patterns TABLE (DB-driven rows
    // like the reference, url_verification.py:372-393): collapsed to a
    // one-row array and broadcast-crossed in — an any-match HOF, the
    // same shape as the robots rule join, and the pattern list never
    // bakes into generated code.
    val wirePats = broadcast(store.read(spark, "wire_patterns")
      .agg(collect_list(col("pattern")).as("wire_pats")))
    // HTTP precheck stage (url_verification.py:218-347): candidates that
    // survive the wire + pattern tiers hit the HEAD/GET health check; an
    // exhausted precheck is terminal `verification_failed` when the
    // source opted into prechecks (run_http_precheck), else the
    // non-terminal `verification_uncertain` (statuses at :542-559).
    // The fault is a pure hash of the URL; the opt-in is a broadcast
    // column off the seed registry.
    val precheckFlag = broadcast(allSources.toDF()
      .select(col("source_id"), col("http_precheck")))
    val verified = newLinks
      .join(precheckFlag, Seq("source_id"), "left")
      .crossJoin(wirePats)
      .withColumn("pre_err",
        pmod(xxhash64(lit(cfg.seed + Synth.PrecheckSeed), col("norm_url")),
          lit(150L)) < 2)
      .withColumn("status",
        when(exists(col("wire_pats"),
          p => contains(lower(col("norm_url")), p)), lit("wire")) // F9
          .when(!gf.is_likely_article_path(pathOf(col("norm_url"))), lit("not_article")) // F5
          .when(col("pre_err") && col("http_precheck"), lit("verification_failed"))
          .when(col("pre_err"), lit("verification_uncertain"))
          .when(gf.check_is_article(col("norm_url")), lit("article")) // F6/X1
          .otherwise(lit("not_article")))
      .drop("wire_pats", "pre_err", "http_precheck")
    // robots: broadcast join + longest-match over the pre-sorted rule
    // array (RFC 9309; equal-length ties favor allow — sorted at build)
    verified
      .join(broadcast(robots.select(col("host").as("r_host"), col("rules"))),
        col("host") === col("r_host"), "left")
      .withColumn("u_path", pathOf(col("norm_url")))
      .withColumn("allowed", coalesce(
        element_at(filter(col("rules"),
          r => startswith(col("u_path"), r.getField("prefix"))), 1).getField("allow"),
        lit(true)))
      .withColumn("status",
        when(col("status") === "article" && !col("allowed"), lit("robots_blocked"))
          .otherwise(col("status")))
      .drop("r_host", "rules", "u_path", "allowed")
  }

  /** Plan: the wave's discovery rows, and the per-host top-k of the
    * eligible backlog. The update log (small) is folded over the
    * immutable discovery rows, F10 re-admits 404s after the TTL, and
    * politeness tokens bound each host. */
  private def planStep(w: Wave, d: DueStep, g: GateStep, scope: WaveScope): PlanStep = {
    // M5 lineage label, assembled post-dedup (same format as the oracle)
    val waveTag = concat(lit("/w"), col("cur_wave").cast("string"), lit("#"))
    val discoveredBy =
      when(col("method_rank") === 0, concat(lit("rss["), col("host"),
        waveTag, col("slot").cast("string"), lit("]")))
        .when(col("method_rank") === 1, concat(lit("homepage["), col("host"),
          waveTag, col("slot").cast("string"), lit("]")))
        .otherwise(concat(lit("section_crawl["), col("host"), lit("/"),
          col("section"), waveTag, col("slot").cast("string"), lit("]")))
    val discovered = g.gatedDelta.crossJoin(w.params).select(
      col("url"), col("norm_url"), col("host"), col("host_bucket"),
      col("source_id"), col("status"),
      // O6: priority varies by discovering method (Synth.priorityOf)
      (lit(3) - col("method_rank")).as("priority"), lit(0).as("crawl_depth"),
      discoveredBy.as("discovered_by"), col("cur_wave").as("discovered_wave"),
      lit(-1).as("processed_wave"), lit(0).as("http_status"),
      col("pub_day").as("publish_day"), lit("").as("content_hash"),
      lit("").as("error_message"),
      col("cur_seq").as("seq"), lit(false).as("is_update"))

    // The backlog side (discovery rows) is NEVER shuffled for the merge:
    // a URL's discovery row is immutable, only its latest update (≤
    // planned rows per wave, reset by compaction) can supersede it, and
    // that update set is merged on its own (tiny) and joined in —
    // broadcast under AQE at working scales, plain join fallback beyond.
    // not_article/wire/robots_blocked rows are never updated and never
    // eligible, so they skip the plan path entirely. The scan is PRUNED
    // to the buckets of politeness-available hosts (manifest file
    // pruning, like the seen/bloom scans): only hosts with tokens this
    // wave can be planned, so no other bucket's backlog is read, and
    // nothing is cached — the only materialized plan product is the
    // (≤ tokens·hosts)-row planned set below. (host, tokens) STAYS a
    // DataFrame: the ranking join takes it under AQE (broadcast at
    // working scales, shuffle join beyond — a 10^8-host politeness
    // table must never materialize on the driver). Only the BUCKET set
    // reaches the driver: ≤ nBuckets ints regardless of host count.
    val log = store.readBuckets(spark, "frontier", d.availBuckets)
    val dRows = log
      .filter(!col("is_update") && col("status").isin("article", "404"))
      .unionByName(discovered.filter(col("status") === "article"))
    val eligible = foldLog(dRows, log.filter(col("is_update")))
      .crossJoin(w.params)
      .filter(col("status") === "article" ||
        (col("status") === "404" &&
          col("cur_wave") - col("processed_wave") >= lit(cfg.deadUrlTtlWaves)))
      .drop("cur_wave", "cur_seq")

    // planned rows keep ALL frontier columns (+ rank): the fetch maps a
    // narrow projection and the outcome updates join back against this
    // same small checkpointed set — the backlog is scanned exactly once
    // per wave and never cached.
    // lazy localCheckpoint (lineage rationale as gatedDelta; lazy is
    // safe HERE because this plan carries no observation node — `dedup`
    // rides the frontier write instead): the frontier update leg
    // re-reads plannedWide after the fetch — the checkpoint keeps the
    // rank/merge subtree out of that plan's analysis
    val plannedWide = scope.checkpoint(rankPerHost(eligible, d.availHosts), eager = false)
    PlanStep(discovered, plannedWide)
  }

  /** Fetch (X2 cascade executor; X4 content typing): the planned URLs
    * resolved, checkpointed as the lineage leaf of the post-fetch legs. */
  private def fetchStep(wave: Int, plannedWide: DataFrame,
                        scope: WaveScope): Dataset[FetchResult] = {
    val cfgB = configB
    val planned = plannedWide
      .select(col("norm_url"), col("host"), col("host_bucket"),
        col("source_id"), col("rank"))
      // FETCH PARALLELISM: the planned set is tiny in bytes, so AQE
      // coalesces the ranking exchange to ONE partition — and the fetch
      // map would inherit it, serializing every resolve (synth + encode
      // + decode + hash) into a single task per wave. An explicit
      // numPartitions repartition is exempt from AQE coalescing; hash on
      // host_bucket keeps the assignment deterministic (no round-robin
      // sort) and bucket-co-located like every other fetch-side shape.
      .repartition(spark.sparkContext.defaultParallelism, col("host_bucket"))
      .as[Planned]
    // the X4 detector's pattern TABLE rides into the fetch closure as a
    // broadcast (content-tier classification over the fetched caption —
    // the type comes from the payload, not from any id)
    val cpB = contentPatsB
    scope.checkpoint(planned.map { p =>
      CrawlEngine.resolve(cfgB.value, cpB.value, p.norm_url, p.host, p.host_bucket,
        p.source_id, wave, p.rank)
    }, eager = false)
  }

  /** Every table write of the wave. The results write runs FIRST and
    * alone: it materializes the whole discovery→plan→fetch chain (and
    * its caches), so every observation completes in one action. The
    * frontier, Bloom and fused state legs then run as concurrent Spark
    * jobs that read only caches and checkpoints. Once every leg is done
    * the new politeness/state/bank frames replace the carries, and the
    * next wave's bucket sets are read off the fused write. */
  private def persistStep(w: Wave, d: DueStep, g: GateStep, p: PlanStep,
                          results: Dataset[FetchResult], scope: WaveScope): Unit = {
    val wave = w.n
    val frontierDelta = frontierLeg(w, p, results)
    val politenessNext = politenessLeg(wave, d, results)
    val perSource = scope.cache(perSourceFacts(wave, d.due, g.gatedDelta))
    // lazy localCheckpoint: the fused state write below is the action
    // that materializes it, and the blocks double as next wave's
    // source_state (stateCarry) — lineage truncated, no extra job
    val stateNextCk = scope.checkpoint(stateLeg(wave, d, perSource), eager = false)
    val stateToWrite = stateNextCk.crossJoin(w.params).observe(w.state,
      count(when(array_contains(col("rss_failure_waves"), col("cur_wave")), 1))
        .as("rss_failures"),
      count(when(col("paused_auto"), 1)).as("paused_sources"),
      collect_set(when(col("__due_b") >= 0, col("__due_b"))).as("due_buckets"))
      .drop("cur_wave", "cur_seq", "mix_seed", "n_buckets", "__due_b")
    // per-(source, method) telemetry (A5 surface, telemetry.py:1777-1910)
    val telemetry = perSource.as[PerSource].flatMap { o =>
      Seq(
        TelemetryRow(wave, o.source_id, "rss", o.rss_attempted,
          o.raw_rss, o.new_rss.getOrElse(0L)),
        TelemetryRow(wave, o.source_id, "homepage", o.homepage_ran,
          o.raw_homepage, o.new_homepage.getOrElse(0L)),
        TelemetryRow(wave, o.source_id, "section_crawl", o.raw_section > 0,
          o.raw_section, o.new_section.getOrElse(0L)))
    }.toDF().observe(w.telem,
      sum(when(col("method") === "section_crawl", col("links_yielded"))
        .otherwise(lit(0L))).as("section_links"))

    // overlap: the source-state rewrite depends only on the gate chain
    // (already checkpointed) and the due facts — NOT on the fetch — so
    // its materialization can back-fill idle cores while the rank/fetch/
    // results action runs, instead of serializing inside the fused state
    // write. Concurrent materialization with the fused write's own scan
    // is safe: local-checkpoint block writes are idempotent and
    // RDDCheckpointData is synchronized; the worst case recomputes a
    // host-cardinality leg.
    scope.fork(phase(wave, "warm_state")(
      stateNextCk.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())))
    phase(wave, "write_results")(store.appendDelta(results.toDF().observe(w.results,
      count(lit(1)).as("planned"),
      count(when(col("http_status") === 200, 1)).as("fetched")),
      "results", wave, lineage = s"wave $wave delta"))
    scope.fork(phase(wave, "write_frontier")(store.appendDelta(
      frontierDelta.repartition(writeParts(spark, cfg.nBuckets), col("host_bucket")),
      "frontier", wave, bucketCol = Some("host_bucket"),
      lineage = s"wave $wave delta (discovered + outcomes)")))
    // the bank only serves the NEXT wave's screen: the final wave skips
    // the merge cogroup
    val nextBank = Option.when(wave + 1 < cfg.nWaves)(
      scope.fork(phase(wave, "bloom_merge")(mergeBank(p.discovered, g, scope))))
    // per-(host, http_status) outcome telemetry (telemetry_orm.py:33-277):
    // a second projection of the checkpointed results — column pruning
    // keeps the payload bytes out of this exchange too
    val httpTelemetry = results.toDF().groupBy(col("host"), col("http_status"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(w.params) // wave as a parameter column, not a literal
      .select(col("cur_wave").as("wave"), col("host"), col("http_status"), col("n"))
    // lazy localCheckpoint, same deal as stateNextCk: materialized by
    // the fused write, reused as next wave's politeness (politenessCarry)
    val politenessNextCk = scope.checkpoint(politenessNext, eager = false)
    // warm the politeness rewrite concurrently with the frontier/bloom
    // legs (it needs the fetch results, so it can only start now);
    // same idempotent-materialization rationale as warm_state above
    scope.fork(phase(wave, "warm_politeness")(
      politenessNextCk.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())))
    // the four host-or-less-cardinality state tables commit in ONE
    // fused Spark job (one tagged union, one parquet pass, per-table
    // manifest registration) — one job launch per wave instead of four.
    import graft.store.SnapshotStore.FusedPart
    scope.fork(phase(wave, "write_state")(store.writeFused(Seq(
      FusedPart("politeness", politenessNextCk
        .observe(w.pol, collect_set(when(col("__avail_b") >= 0,
          col("__avail_b"))).as("avail_buckets"))
        .drop("__avail_b").coalesce(hostFiles),
        append = false, lineage = s"wave $wave politeness"),
      FusedPart("source_state", stateToWrite.coalesce(hostFiles),
        append = false, lineage = s"wave $wave discovery state"),
      FusedPart("telemetry", telemetry.coalesce(hostFiles),
        append = true, lineage = s"wave $wave method telemetry"),
      FusedPart("telemetry_http", httpTelemetry.coalesce(hostFiles),
        append = true, lineage = s"wave $wave http outcomes")), wave)))
    scope.join()

    // every consumer of the old carries has run: free them, and carry
    // the frames the fused write (and the bank merge) materialized
    (nextBank.flatMap(_ => bloomBank) ++ politenessCarry ++ stateCarry).foreach(freeCheckpoint)
    nextBank.foreach(b => bloomBank = Some(scope.release(b.value.get.get)))
    politenessCarry = Some(scope.release(politenessNextCk).drop("__avail_b"))
    stateCarry = Some(scope.release(stateNextCk).drop("__due_b"))

    // carry the NEXT wave's bucket sets out of the fused write's
    // observations (same kernels as the wave-start fallback). For a
    // SCOPED run the state/politeness legs see every source, so the
    // observed due-bucket set is a SUPERSET of the scope's true due
    // buckets — and both consumers of the tags are pure scan PRUNERS
    // (seen/bloom bucket pruning + the plan-backlog bucket pruning),
    // for which a superset is correct (it only prunes less): the actual
    // due scan stays scope-restricted via the seed-registry semi-join.
    if (wave + 1 < cfg.nWaves) {
      def ints(v: Any): Seq[Int] = v match {
        case s: scala.collection.Seq[_] => s.map(x => x.asInstanceOf[Number].intValue).toSeq
        case other => sys.error(s"unexpected observation value: $other")
      }
      nextBucketTags = Some(
        (ints(w.state.get("due_buckets")).map((0, _)) ++
          ints(w.pol.get("avail_buckets")).map((1, _))).distinct.toArray)
    }
  }

  /** Host/source-DIMENSION frames in the state legs broadcast while the
    * dim is broadcast-sized (≤ ~1M hosts ≈ tens of MB): each such join
    * collapses from an exchange+sort pair into a map-side hash probe,
    * taking the fused state write from ~20 scheduled stages to a
    * handful. Past that size the hint is skipped and Catalyst plans the
    * same equi-joins as shuffles. */
  private def dim(df: DataFrame): DataFrame =
    if (cfg.nHosts <= 1000000) broadcast(df) else df

  /** Frontier delta: this wave's discovery rows plus update rows that
    * fold the fetch outcomes into the planned rows (§1.4 transitions);
    * every other frontier row stays by manifest reference. */
  private def frontierLeg(w: Wave, p: PlanStep, results: Dataset[FetchResult]): DataFrame = {
    val out = results.toDF().select(col("norm_url").as("r_url"),
      col("status").as("r_status"), col("http_status").as("r_http"),
      col("wave").as("r_wave"))
    val updates = p.plannedWide.drop("rank")
      .join(broadcast(out), col("norm_url") === col("r_url"), "inner")
      .withColumn("status",
        when(col("r_status").isin("429", "timeout", "captcha"), col("status")) // stay retryable
          .otherwise(col("r_status")))
      .withColumn("http_status", col("r_http").cast("int"))
      .withColumn("processed_wave",
        when(col("r_status").isin(TerminalStatuses: _*), col("r_wave"))
          .otherwise(col("processed_wave")))
      .withColumn("error_message",
        when(col("r_http") =!= 200, col("r_status")).otherwise(lit("")))
      .withColumn("seq", col("r_wave").cast("long") * 2L + 1L)
      .withColumn("is_update", lit(true))
      .drop("r_url", "r_status", "r_http", "r_wave")
    // `dedup` rides ONLY the frontier-write branch (the one action
    // guaranteed to stream every discovered row): attaching it on
    // `discovered` itself would put the metrics node inside
    // plannedWide's lazy checkpoint plan, which posts an empty-metrics
    // query-success event at definition time (see gateStep)
    p.discovered
      .observe(w.dedup,
        count(lit(1)).as("n"),
        count(when(col("status") === "robots_blocked", 1)).as("robots_blocked"))
      .unionByName(updates.select(FrontierCols.map(col): _*))
  }

  /** Politeness: per-host outcome aggregation → pure kernel update, crawl
    * delay joined from the robots table (no driver map); `__avail_b` is
    * the host's bucket if it is available next wave, else -1. */
  private def politenessLeg(wave: Int, d: DueStep, results: Dataset[FetchResult]): DataFrame = {
    val nb = cfg.nBuckets
    val waveSec = cfg.waveSeconds
    // a relational groupBy, NOT a typed mapGroups: column pruning keeps
    // the image payload bytes out of the exchange and the partial
    // aggregation ships one row per (partition, host)
    val outcomes = results.toDF()
      .groupBy(col("host").as("o_host")).agg(
        count(when(col("status").isin(OkStatuses: _*), 1)).as("ok"),
        count(when(col("status") === "404", 1)).as("nf"),
        count(when(col("status") === "403", 1)).as("fb"),
        count(when(col("status") === "429", 1)).as("rl"),
        count(when(col("status") === "timeout", 1)).as("to"),
        count(when(col("status") === "captcha", 1)).as("cp"))
    d.politeness.toDF()
      .join(dim(outcomes), col("host") === col("o_host"), "left").drop("o_host")
      .join(dim(d.robots.select(col("host").as("d_host"), col("crawl_delay_s"))),
        col("host") === col("d_host"), "left").drop("d_host")
      .as[PolJoin]
      .map { j =>
        val st = PolitenessState(j.host, j.bot_sensitivity, j.tokens_per_wave,
          j.cooldown_until_s, j.consecutive_failures, j.paused_until_s,
          j.bot_encounters, j.forbidden_count)
        val next =
          if (j.ok.isEmpty && j.nf.isEmpty && j.fb.isEmpty && j.rl.isEmpty &&
            j.to.isEmpty && j.cp.isEmpty) st
          else Politeness.update(st,
            Politeness.HostOutcome(j.ok.getOrElse(0L).toInt, j.nf.getOrElse(0L).toInt,
              j.fb.getOrElse(0L).toInt, j.rl.getOrElse(0L).toInt,
              j.to.getOrElse(0L).toInt, j.cp.getOrElse(0L).toInt),
            wave, waveSec, j.crawl_delay_s.getOrElse(0.0))
        // next wave's plan-scan bucket, decided by the SAME kernel the
        // wave-start fallback uses — rides out on an observation
        val availB =
          if (Politeness.available(next, wave + 1, waveSec))
            gf.hostBucketJvm(next.host, nb)
          else -1
        (next, availB)
      }
      .select(col("_1.*"), col("_2").as("__avail_b"))
  }

  /** Per-source facts of the wave: the cascade's facts for each due
    * source joined with its per-method new-URL counts and the section
    * names inferred from its new URLs (M4). */
  private def perSourceFacts(wave: Int, due: Dataset[DueSource],
                             gatedDelta: DataFrame): DataFrame = {
    val cfgB = configB
    val dueFacts = due.map { d =>
      // facts-only evaluation: no second URL expansion (the links
      // flatMap in discover is the only place cascade materializes URLs)
      val f = SourceRules.cascadeFacts(cfgB.value)(d.host_idx, wave, d.methods,
        d.rss_skip, d.sections)
      DueFacts(d.source_id, f.ranRss, f.rssFailed, f.ranHomepage,
        f.rawRss, f.rawHomepage, f.rawSection, f.navSections)
    }.toDF()
    // one agg for per-method new counts AND M4 section inference
    val newByMethod = gatedDelta.groupBy("source_id").agg(
      count(when(col("method_rank") === 0, 1)).as("new_rss"),
      count(when(col("method_rank") === 1, 1)).as("new_homepage"),
      count(when(col("method_rank") === 2, 1)).as("new_section"),
      collect_set(nullif(
        regexp_extract(col("norm_url"), "/sections/([a-z]+)$", 1), lit("")))
        .as("sections_found"))
    dueFacts.join(dim(newByMethod), Seq("source_id"), "left")
  }

  /** source_state: set-based S11 rewrite — ledger (F13), pause counter
    * (F12/C8), sections (M4), method telemetry; all per-source facts
    * join-assembled, transition via the shared pure kernel. `__due_b`
    * is the source's bucket if it is due next wave, else -1. */
  private def stateLeg(wave: Int, d: DueStep, perSource: DataFrame): DataFrame = {
    val nb = cfg.nBuckets
    d.state.toDF()
      .join(dim(d.allSources.toDF().select(col("source_id"), col("frequency"),
        col("status"))), Seq("source_id"))
      .join(dim(perSource), Seq("source_id"), "left")
      .as[StateJoin]
      .map { j =>
        val prev = SourceState(j.source_id, j.host, j.last_wave,
          j.rss_consecutive_failures, j.rss_failure_waves, j.rss_missing_wave,
          j.no_effective_consecutive, j.paused_auto, j.last_successful_method,
          j.discovered_sections,
          j.rss_attempts, j.rss_successes, j.homepage_attempts, j.homepage_successes)
        val out = j.rss_attempted match {
          case None => prev // not due this wave
          case Some(ranRss) =>
            SourceRules.update(prev, j.frequency,
              SourceRules.DiscoveryOutcome(ranRss, j.rss_failed.getOrElse(false),
                j.homepage_ran.getOrElse(false),
                Map(0 -> j.new_rss.getOrElse(0L),
                  1 -> j.new_homepage.getOrElse(0L),
                  2 -> j.new_section.getOrElse(0L)),
                // M4: URL-inferred (Strategy 2) ∪ nav-parsed (Strategy 1)
                j.sections_found.getOrElse(Seq.empty) ++
                  j.nav_sections.getOrElse(Seq.empty)),
              wave)
        }
        // next wave's seen-scan bucket, decided by the SAME due kernel
        // the wave-start fallback uses — rides out on the observation
        val dueB =
          if (SourceRules.due(out, j.status, j.frequency, wave + 1))
            gf.hostBucketJvm(out.host, nb)
          else -1
        (out, dueB)
      }
      .select(col("_1.*"), col("_2").as("__due_b"))
  }

  /** Next wave's Bloom bank: a bucket-co-partitioned merge in executors;
    * touched buckets fold this wave's keys, untouched rows carry over
    * from the current bank. */
  private def mergeBank(discovered: DataFrame, g: GateStep, scope: WaveScope): Dataset[BloomRow] = {
    val cap = bloomCapacityPerBucket
    val fpp = SeenFpp
    val newKeys = discovered.select(col("host_bucket"), col("norm_url"))
      .as[(Int, String)]
    val mergedTouched = newKeys.groupByKey(_._1)
      .cogroup(g.blooms.groupByKey(_.bucket)) { (b, ks, olds) =>
        val oldRow = olds.nextOption()
        val bf = oldRow match {
          case Some(r) => BloomFilter.readFrom(new ByteArrayInputStream(r.bloom))
          case None => BloomFilter.create(cap, fpp)
        }
        var n = 0
        ks.foreach { k => bf.putString(k._2); n += 1 }
        if (n == 0) oldRow.iterator // no new keys — bloom unchanged
        else {
          val bos = new ByteArrayOutputStream()
          bf.writeTo(bos)
          Iterator.single(BloomRow(b, bos.toByteArray))
        }
      }
    val ts = g.touched
    // localCheckpoint (eager): materializes the bank in executor
    // storage AND truncates lineage — the bank feeds itself every
    // wave (cogroup + union), so an ordinary persist would double the
    // logical plan per wave (analysis/explain blow up exponentially)
    scope.checkpoint(mergedTouched.union(g.bankAll.filter(r => !ts.contains(r.bucket))),
      eager = true)
  }

  /** Commit: the wave's counters (all from observations riding the
    * write actions) and the cross-table pins, then the cadence
    * compaction. */
  private def commitStep(w: Wave): WaveMetrics = {
    val wave = w.n
    val discMetrics = w.disc.get
    val nOk = discMetrics("ok").asInstanceOf[Long]
    val nDiscovered = w.dedup.get("n").asInstanceOf[Long]
    val nPlanned = w.results.get("planned").asInstanceOf[Long]
    val nFetched = w.results.get("fetched").asInstanceOf[Long]
    val metrics = WaveMetrics(wave,
      discovered = nDiscovered,
      duplicates = math.max(0, nOk - nDiscovered),
      out_of_scope = discMetrics("out_of_scope").asInstanceOf[Long],
      filtered = discMetrics("filtered").asInstanceOf[Long],
      expired = discMetrics("expired").asInstanceOf[Long],
      planned = nPlanned,
      fetched = nFetched,
      failed = nPlanned - nFetched,
      robots_blocked = w.dedup.get("robots_blocked").asInstanceOf[Long],
      rss_failures = w.state.get("rss_failures").asInstanceOf[Long],
      section_links = w.telem.get("section_links").asInstanceOf[Long],
      paused_sources = w.state.get("paused_sources").asInstanceOf[Long])
    // the commit records every WaveMetrics counter under its field name
    store.commitWave(wave,
      AllTables.map(t => t -> store.currentSnapshot(t).getOrElse(-1)).toMap,
      metrics.productElementNames.zip(metrics.productIterator)
        .collect { case (k, v: Long) => k -> v }.toMap)

    // amortized maintenance: compact the delta log back to one row per
    // URL so merge-on-read input stays bounded (Iceberg-style MoR
    // compaction). Runs after the commit (a crash before the next
    // commit rolls it back harmlessly) on the cadence only — NOT after
    // the final wave: an end-of-run rewrite would sit inside the
    // crawl's timed critical path. A store opened for REPEATED reads
    // compacts once via [[CrawlEngine.compactForRead]] instead, so the
    // read side never pays a full-log scan per query.
    if (cfg.compactEvery > 0 && (wave + 1) % cfg.compactEvery == 0 &&
      wave + 1 < cfg.nWaves) {
      phase(wave, "compact")(
        compactFrontier(spark, store, cfg.nBuckets, wave, s"compaction after wave $wave"))
    }
    metrics
  }

  /** Run (or resume) the crawl to `nWaves`. Crash recovery first rolls
    * every table back to the last committed wave's pins (a crash
    * mid-wave leaves some tables ahead of the commit), then continues.
    * The cross-wave carries live only while this runs: a re-run after
    * a failure starts from the store, never from an abandoned attempt. */
  def run(): Seq[WaveMetrics] = {
    dropCarries()
    try {
      labelled("run: init")(init())
      labelled("run: recover")(store.recoverToLastCommit(AllTables))
      val start = store.lastCommittedWave() + 1
      // wave 0 on a fresh store needs no pre-stage driver collect: every
      // active source is due (last_wave = -1) and every host politeness-
      // available (initial state), so the all-buckets set is a known
      // SUPERSET of both tag sets — and both consumers are scan pruners,
      // for which a superset is correct (it only prunes less; the
      // frontier is empty at wave 0 anyway). A crash-resume (start > 0)
      // keeps the exact fallback collect.
      if (start == 0)
        nextBucketTags = Some(
          (0 until cfg.nBuckets).flatMap(b => Seq((0, b), (1, b))).toArray)
      (start until cfg.nWaves).map(runWave)
    } finally dropCarries()
  }

  // ------------------------------------------------------------- helpers

  private def pathOf(c: Column) = regexp_replace(c, "^[a-z]+://[^/]*", "")

}

object CrawlEngine {

  /** Free the storage blocks behind a localCheckpoint'd frame.
    * `Dataset.unpersist()` only clears CacheManager entries; a local
    * checkpoint lives as RDD blocks under a `LogicalRDD` leaf, so the
    * blocks must be unpersisted on the RDD itself. Safe only once no
    * consumer of the frame will run again (recompute is impossible —
    * the lineage was truncated). */
  def freeCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Spark's job-description local property. */
  private val JobDescription = "spark.job.description"

  /** Phase labels of a wave's jobs (`wave <n>: <phase>`): the six wave
    * steps, the persist step's legs and the cadence compaction. */
  val WavePhases: Seq[String] = Seq("due", "gate", "plan", "fetch", "persist",
    "warm_state", "write_results", "write_frontier", "bloom_merge",
    "warm_politeness", "write_state", "commit", "compact")

  /** Phase labels of the jobs `run()` starts outside a wave (`run: <phase>`). */
  val RunPhases: Seq[String] = Seq("init", "recover")

  /** What every step of a wave reads: the wave number, its one-row
    * parameter table and its counters (each Observation rides one
    * action; the commit step reads them all). */
  private final class Wave(val n: Int, val params: DataFrame) {
    val disc, dedup, results, state, telem, pol: Observation = Observation()
  }

  /** Due step output: the wave's input tables, the due sources and the
    * politeness-available hosts (both cached), and the bucket sets that
    * prune the seen scan (`touched`) and the plan scan. */
  private final case class DueStep(politeness: Dataset[PolitenessState],
                                   allSources: Dataset[Source], state: Dataset[SourceState],
                                   robots: DataFrame, due: Dataset[DueSource],
                                   availHosts: DataFrame, touched: Seq[Int],
                                   availBuckets: Seq[Int])

  /** Gate step output: the checkpointed delta of new URLs, and the Bloom
    * bank (whole and restricted to the touched buckets) it was screened
    * against. */
  private final case class GateStep(gatedDelta: DataFrame, bankAll: Dataset[BloomRow],
                                    blooms: Dataset[BloomRow], touched: Set[Int])

  /** Plan step output: the wave's discovery rows and the checkpointed
    * planned rows (all frontier columns + rank). */
  private final case class PlanStep(discovered: DataFrame, plannedWide: DataFrame)


  /** Robots rule row: rules pre-sorted (longest prefix first, allow
    * winning equal-length ties) so longest-match = first array hit. */
  final case class RulePrefix(prefix: String, allow: Boolean)
  final case class RobotsHost(host: String, crawl_delay_s: Double, rules: Seq[RulePrefix])

  final case class DueSource(source_id: String, host_norm: String, frequency: String,
                             host_idx: Int, rss_skip: Boolean,
                             methods: Seq[Int], // A5 attempt order
                             sections: Seq[String])
  final case class RawLink(source_id: String, src_host: String, url: String,
                           method_rank: Int, attempt: Int, slot: Int, section: String)
  // src_host deliberately absent: it dies at the scope check and would
  // otherwise ride the hottest shuffle (the bucket cogroup) for nothing
  final case class CandRow(norm_url: String, method_rank: Int, attempt: Int,
                           url: String, source_id: String, host: String,
                           pub_day: Int, slot: Int, section: String, host_bucket: Int)
  final case class Planned(norm_url: String, host: String, host_bucket: Int,
                           source_id: String, rank: Int)
  final case class DueFacts(source_id: String, rss_attempted: Boolean,
                            rss_failed: Boolean, homepage_ran: Boolean,
                            raw_rss: Long, raw_homepage: Long, raw_section: Long,
                            nav_sections: Seq[String]) // M4 Strategy 1
  final case class PerSource(source_id: String, rss_attempted: Boolean,
                             rss_failed: Boolean, homepage_ran: Boolean,
                             raw_rss: Long, raw_homepage: Long, raw_section: Long,
                             new_rss: Option[Long], new_homepage: Option[Long],
                             new_section: Option[Long],
                             sections_found: Option[Seq[String]])
  final case class StateJoin(source_id: String, host: String, last_wave: Int,
                             rss_consecutive_failures: Int, rss_failure_waves: Seq[Int],
                             rss_missing_wave: Int, no_effective_consecutive: Int,
                             paused_auto: Boolean, last_successful_method: String,
                             discovered_sections: Seq[String],
                             rss_attempts: Int, rss_successes: Int,
                             homepage_attempts: Int, homepage_successes: Int,
                             frequency: String, status: String,
                             rss_attempted: Option[Boolean], rss_failed: Option[Boolean],
                             homepage_ran: Option[Boolean],
                             raw_rss: Option[Long], raw_homepage: Option[Long],
                             raw_section: Option[Long],
                             nav_sections: Option[Seq[String]],
                             new_rss: Option[Long], new_homepage: Option[Long],
                             new_section: Option[Long],
                             sections_found: Option[Seq[String]])
  final case class PolJoin(host: String, bot_sensitivity: Int, tokens_per_wave: Int,
                           cooldown_until_s: Double, consecutive_failures: Int,
                           paused_until_s: Double, bot_encounters: Int,
                           forbidden_count: Int,
                           ok: Option[Long], nf: Option[Long], fb: Option[Long],
                           rl: Option[Long], to: Option[Long], cp: Option[Long],
                           crawl_delay_s: Option[Double])

  /** HTTP-200 post-fetch content types (X4) + hard failures — statuses
    * that end a URL's frontier lifecycle (404 until the TTL elapses). */
  val OkStatuses: Seq[String] = Seq("extracted", "obituary", "opinion", "wire")
  val TerminalStatuses: Seq[String] = OkStatuses ++ Seq("404", "403")

  val FrontierCols: Seq[String] = Seq("url", "norm_url", "host", "host_bucket",
    "source_id", "status", "priority", "crawl_depth", "discovered_by",
    "discovered_wave", "processed_wave", "http_status", "publish_day",
    "content_hash", "error_message", "seq", "is_update")

  /** Per-host token ranking (W1/W4/O1/O3/O6) with a CONSTANT rank bound
    * (= the global ≤3/host cap) so Catalyst plans a WindowGroupLimit:
    * each map task keeps only its partial top-3 per host BEFORE the
    * shuffle — the ranking exchange carries O(3·hosts·tasks) rows, not
    * the whole backlog, and hot-host skew is clipped at the source. The
    * per-host token budget (≤ cap) applies as a residual filter after
    * the window. Ordering: priority desc, discovery wave asc, seeded
    * 64-bit mix, URL as the total-order tiebreak. The per-wave seed
    * arrives as the `mix_seed` COLUMN (not a literal) so the window
    * stage's generated code is wave-invariant. PlanSpec asserts the
    * WindowGroupLimit shape. */
  def rankPerHost(eligible: DataFrame, availHosts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    eligible
      // no broadcast hint: AQE picks broadcast at working scales and a
      // shuffle join when the host table outgrows the driver (10^8
      // hosts) — the token side must never be pinned driver-resident
      .join(availHosts, col("host") === col("p_host"), "inner")
      .withColumn("mix", xxhash64(col("mix_seed"), col("norm_url")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("host")
          .orderBy(col("priority").desc, col("discovered_wave").asc,
            col("mix").asc, col("norm_url").asc)))
      .filter(col("rn") <= Politeness.MaxPerDomainPerWave && col("rn") <= col("tokens"))
      .drop("p_host", "tokens", "mix")
      .withColumnRenamed("rn", "rank") // all input columns preserved + rank
  }

  /** Merge-on-read: latest (max-seq) version of every URL in the log.
    * Only ever applied to the UPDATE partition of the log (bounded by
    * rows planned since the last compaction) — never to the full log,
    * whose bytes would all shuffle through the aggregation buffer. */
  def mergeLog(logDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    logDf.groupBy("norm_url")
      .agg(max(struct((Seq("seq") ++ FrontierCols.filterNot(_ == "seq")).map(col): _*)).as("r"))
      .select(FrontierCols.map(c => col(s"r.$c")): _*)
  }

  /** Fold the (small, merged) update log over the immutable discovery /
    * compacted rows: a URL's non-update row is written once, so the
    * current state is its row overlaid with its latest update's mutable
    * fields. The big side is scanned, never shuffled; the update side
    * is broadcast under AQE at working scales. */
  def foldLog(dRows: DataFrame, updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val u = mergeLog(updates).select(
      col("norm_url").as("u_url"), col("status").as("u_status"),
      col("http_status").as("u_http"), col("processed_wave").as("u_processed"),
      col("error_message").as("u_error"), col("seq").as("u_seq"))
    dRows
      .join(u, col("norm_url") === col("u_url"), "left")
      .withColumn("status", coalesce(col("u_status"), col("status")))
      .withColumn("http_status", coalesce(col("u_http"), col("http_status")))
      .withColumn("processed_wave", coalesce(col("u_processed"), col("processed_wave")))
      .withColumn("error_message", coalesce(col("u_error"), col("error_message")))
      .withColumn("seq", coalesce(col("u_seq"), col("seq")))
      .drop("u_url", "u_status", "u_http", "u_processed", "u_error", "u_seq")
  }

  /** Compact the frontier delta log to one row per URL (the same form
    * cadence compaction writes). Called ONCE when a finished store is
    * opened for repeated reads (CrawlQueries / Bench): afterwards every
    * current-state read scans |frontier| compacted rows with an empty
    * update fold, instead of re-merging the raw log per query. Runs
    * OUTSIDE the crawl's timed critical path by design. */
  def compactForRead(spark: SparkSession, store: SnapshotStore, nBuckets: Int): Unit = {
    import org.apache.spark.sql.functions._
    val hasUpdates = store.read(spark, "frontier")
      .filter(col("is_update")).limit(1).count() > 0
    if (!hasUpdates) return // already one row per URL
    compactFrontier(spark, store, nBuckets, store.lastCommittedWave(), "open-for-read compaction")
  }

  /** Rewrite the frontier log as one row per URL: compacted rows become
    * snapshot rows (is_update=false), so the plan pre-filter excludes
    * terminal rows from the merge. */
  private def compactFrontier(spark: SparkSession, store: SnapshotStore, nBuckets: Int,
                              wave: Int, lineage: String): Unit =
    store.writeBucketed(
      frontierCurrent(spark, store).repartition(writeParts(spark, nBuckets), col("host_bucket")),
      "frontier", wave, "host_bucket", lineage)

  /** Bucketed writes hash the bucket key into ~2×cores partitions, NOT
    * one partition per bucket: physicalWrite's partitionBy still emits
    * exactly one file per bucket (a bucket hashes to one task), so the
    * per-bucket manifest and pruning are unchanged, while task-launch
    * and scheduling overhead stay proportional to the CLUSTER, not the
    * bucket count. */
  private def writeParts(spark: SparkSession, nBuckets: Int): Int =
    math.min(nBuckets, spark.sparkContext.defaultParallelism * 2)

  /** The frontier's current state (one row per URL) — queries/tests.
    * The update-log fold, NOT a full-log mergeLog: merge-on-read cost
    * is O(updates since last compaction), not O(frontier). Snapshot
    * view: is_update is a log-encoding artifact, normalized to false
    * (the same form compaction writes). */
  def frontierCurrent(spark: SparkSession, store: SnapshotStore): DataFrame = {
    import org.apache.spark.sql.functions._
    val log = store.read(spark, "frontier")
    foldLog(log.filter(!col("is_update")), log.filter(col("is_update")))
      .withColumn("is_update", lit(false))
      .select(FrontierCols.map(col): _*)
  }

  /** RFC 9309 longest-match allow decision over pre-sorted rules (pure;
    * shared with the oracle — mirrors the HOF expression in the gate). */
  def robotsAllows(rules: Seq[(String, Boolean)], path: String): Boolean =
    rules.find { case (p, _) => path.startsWith(p) }.map(_._2).getOrElse(true)

  /** Fetch-hot-path SHA-256 hex: one digest per executor thread (the
    * per-row `MessageDigest.getInstance` provider lookup allocates) and
    * table-driven hex (a `"%02x".format` per byte allocates a
    * java.util.Formatter each — 32 per row, GC-visible at 10^5 rows/s).
    * Output is byte-identical to the oracle's independent `%02x` form. */
  private val sha256Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))
  private val HexChars = "0123456789abcdef".toCharArray
  private[graft] def sha256Hex(bytes: Array[Byte]): String = {
    val d = sha256Local.get()
    d.reset()
    val h = d.digest(bytes)
    val out = new Array[Char](h.length * 2)
    var i = 0
    while (i < h.length) {
      val b = h(i) & 0xff
      out(2 * i) = HexChars(b >>> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Deterministic fetch resolver — the synthetic server. Computes the
    * ground-truth payload, applies the fault schedule (with F10
    * transient-404 recovery), classifies content type (X4), and
    * verifies the decode round-trip (phash + PSNR fidelity invariant).
    * Lives on the companion so the fetch closure ships no engine
    * state. */
  private[crawl] def resolve(c: Synth.Config, contentPats: Seq[(String, String, String)],
                             norm: String, host: String, bucket: Int,
                             srcId: String, wave: Int, rank: Int): FetchResult = {
    val id = Synth.idOf(norm).getOrElse(-1L)
    val hostIdx = srcId.stripPrefix("src-").toInt
    val f = if (id < 0) Synth.NotFound else Synth.fault(c)(hostIdx, id, wave)
    f match {
      case Synth.Ok =>
        // payloadFor, not imageFor: the result row records the DECODED
        // round-trip's phash, so the source-image phash scan is skipped
        val (img, _) = Synth.payloadFor(c)(id)
        val decoded = ImageKernels.decode(img.bytes)
        val hash = sha256Hex(img.bytes)
        FetchResult(norm, host, bucket, srcId, wave, rank, 200,
          // X4: the status comes from the PAYLOAD via the pattern table
          ContentType.detect(img.caption, contentPats),
          img.image_id, img.bytes, decoded.getWidth, decoded.getHeight,
          img.fmt, img.caption, ImageKernels.phash64(decoded), hash)
      case other =>
        val status = other match {
          case Synth.NotFound => "404"
          case Synth.Forbidden => "403"
          case Synth.RateLimited => "429"
          case Synth.Timeout => "timeout"
          case Synth.Captcha => "captcha"
          case Synth.Ok => "extracted"
        }
        FetchResult(norm, host, bucket, srcId, wave, rank, Synth.httpStatus(other),
          status, "", Array.empty, 0, 0, "", "", 0L, "")
    }
  }
}
