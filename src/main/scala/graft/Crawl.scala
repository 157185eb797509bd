package graft

import graft.crawl.CrawlEngine
import graft.store.SnapshotStore
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the crawl itself:
  *
  *   graft.Crawl <storeDir> [nHosts] [urlsPerHostPerWave] [nWaves]
  *
  * Resumable: re-running with the same storeDir continues from the last
  * committed wave. Prints one JSON line with wave metrics + throughput
  * (URLs/sec frontier drained — the BASELINE.json headline metric). */
object Crawl {
  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-crawl").toString)
    val nHosts = args.lift(1).map(_.toInt).getOrElse(200)
    val perWave = args.lift(2).map(_.toInt).getOrElse(50)
    val nWaves = args.lift(3).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Synth.Config(nHosts = nHosts, urlsPerHostPerWave = perWave, nWaves = nWaves)
    val store = new SnapshotStore(storeDir)
    val t0 = System.nanoTime()
    val metrics = new CrawlEngine(spark, cfg, store).run()
    val sec = (System.nanoTime() - t0) / 1e9
    val discovered = metrics.map(_.discovered).sum
    val planned = metrics.map(_.planned).sum
    val waves = metrics.map(m =>
      s"""{"wave":${m.wave},"discovered":${m.discovered},"planned":${m.planned},""" +
        s""""fetched":${m.fetched},"failed":${m.failed},"robots_blocked":${m.robots_blocked}}""")
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"crawl_urls_per_sec","value":${discovered / math.max(sec, 1e-9)},""" +
        s""""unit":"urls/sec","seconds":$sec,"discovered":$discovered,"planned":$planned,""" +
        s""""cpus":"$cpus","waves":$waves}""")
    spark.stop()
  }
}
