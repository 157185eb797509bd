package perfbench

import graft.core.UrlKernels
import graft.crawl.SourceRules
import graft.synth.Synth

/** Single-thread probes of the URL kernels the crawl runs per link,
  * over a fixed sample: the wave-0 discovery cascade of the first 200
  * hosts of the crawl_wide world. */
object Kernels {

  @volatile private var sink = 0L

  /** Items per second: `body` handles `items` items per call; repeat it
    * for at least 0.2 s per sample and take the median of five. */
  private def rate(items: Int)(body: => Long): Double = {
    val samples = (0 until 5).map { _ =>
      var calls = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) { sink += body; calls += 1 }
      items.toDouble * calls / Stats.nanosSince(t0)
    }
    Stats.median(samples)
  }

  def probe(cfg: Synth.Config): Map[String, Double] = {
    val hosts = 0 until math.min(200, cfg.nHosts)
    def cascadeAll() = hosts.map { h =>
      val st = SourceRules.initial(f"src-$h%04d", Synth.hostName(h))
      SourceRules.cascade(cfg)(h, 0, SourceRules.effectiveMethods(st),
        rssSkip = false, sections = Seq.empty).links
    }
    val links = cascadeAll().flatten.map(_.url).toArray
    val norm = links.map(UrlKernels.normalizeUrl)
    Map(
      "kernel.cascade_links_per_s" -> rate(links.length)(cascadeAll().map(_.size).sum.toLong),
      "kernel.normalize_per_s" -> rate(links.length) {
        var n = 0L
        links.foreach { u =>
          n += UrlKernels.normalizeUrl(u).length + UrlKernels.canonicalHost(u).length
        }
        n
      },
      "kernel.url_filter_per_s" -> rate(norm.length) {
        norm.count(u => UrlKernels.isValidUrl(u) && UrlKernels.passesSkipPatterns(u) &&
          UrlKernels.checkIsArticle(u)).toLong
      },
      "kernel.url_hash_per_s" -> rate(norm.length) {
        var h = 0L
        norm.foreach(u => h ^= UrlKernels.urlHash64(u))
        h
      })
  }
}
