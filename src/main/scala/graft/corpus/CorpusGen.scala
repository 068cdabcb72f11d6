package graft.corpus

import graft.model.{Document, Span}

/**
 * Deterministic synthetic web (SURVEY.md §7.1.3, FIXTURES.md §4) — replaces
 * the reference's mockito HTTP mock (worker/src/downloader.rs:54-88) with a
 * durable interleaved text+media+link span table in exactly the
 * BASELINE.json input_hint shape.
 *
 * Everything is a pure function of (cfg, hostIdx, pageIdx): the Spark
 * generator and the sequential golden oracle share these functions, so the
 * per-row span-sequence invariant (kind, text, media_ref, order) is checkable
 * exactly. Host sizes follow a Zipf(1) distribution to exercise hot-host
 * skew handling; hrefs mix absolute/relative/dot-segment/non-http/dead forms
 * to exercise the canonicalizer and outcome routing.
 */
final case class CorpusConfig(
    seed: Long = 42L,
    numHosts: Int = 100,
    /** pages on the largest host; host at Zipf rank r gets ~maxPages/(r+1). */
    maxPages: Int = 200,
    robotsEveryNthHost: Int = 4,
    /** Every Nth host declares a robots `Crawl-delay` (0 = none, the
     * default — existing fixtures and oracles are delay-free). */
    delayEveryNthHost: Int = 0
)

object CorpusGen {

  // --- splittable deterministic RNG (splitmix64 finalizer) ------------------
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rng(cfg: CorpusConfig, parts: Long*): Long =
    mix64(parts.foldLeft(cfg.seed)((acc, p) => mix64(acc ^ p)))
  private def bounded(r: Long, n: Int): Int = (Math.floorMod(r, n.toLong)).toInt

  // --- topology -------------------------------------------------------------
  def hostName(h: Int): String = s"h$h.example"
  def pageCount(cfg: CorpusConfig, h: Int): Int = math.max(1, cfg.maxPages / (h + 1))
  def pageUrl(h: Int, p: Int): String = s"http://${hostName(h)}/p$p"
  def totalPages(cfg: CorpusConfig): Long =
    (0 until cfg.numHosts).map(pageCount(cfg, _).toLong).sum

  /** Does a canonical URL exist in the corpus? (fetch: 200 vs 404 vs net-err)
   *
   * Hand-rolled parse of `^http://h([0-9]+)\.example/p([0-9]+)$` — this runs
   * once per SELECTED task per generation (classification) plus once per Ok
   * page (link extraction), and the previous regex form compiled its Pattern
   * on EVERY call (a `val ...".r` inside the method), several µs of
   * Pattern.compile + Matcher allocation per URL ≈ tens of wasted cpu-s per
   * steady-state generation. Semantics preserved, incl. the regex's
   * leading-zero acceptance ("h007" resolves host 7); indices beyond Int
   * range, of any length, classify by magnitude (host ≥ numHosts ⇒
   * Unreachable, page ≥ pageCount ⇒ NotFound) where the old `.toInt` threw:
   * the parsed values saturate at Int.MaxValue. */
  def resolvePage(cfg: CorpusConfig, url: String): PageLookup = {
    if (url != null && url.startsWith("http://h")) {
      val n = url.length
      var i = 8
      var h = 0L
      while (i < n && url.charAt(i) >= '0' && url.charAt(i) <= '9') {
        h = math.min(Int.MaxValue.toLong, h * 10 + (url.charAt(i) - '0')); i += 1
      }
      if (i > 8 && url.startsWith(".example/p", i)) {
        var j = i + 10
        var p = 0L
        while (j < n && url.charAt(j) >= '0' && url.charAt(j) <= '9') {
          p = math.min(Int.MaxValue.toLong, p * 10 + (url.charAt(j) - '0')); j += 1
        }
        if (j > i + 10 && j == n) {
          return if (h < cfg.numHosts) {
            if (p < pageCount(cfg, h.toInt)) PageLookup.Found(h.toInt, p.toInt)
            else PageLookup.NotFound // 404 ⇒ Err(InvalidPage)
          } else PageLookup.Unreachable // no such host ⇒ Reject
        }
      }
    }
    if (url != null && url.startsWith("http://") && url.contains(".unreachable/"))
      PageLookup.Unreachable
    else PageLookup.NotFound
  }

  sealed trait PageLookup
  object PageLookup {
    final case class Found(host: Int, page: Int) extends PageLookup
    case object NotFound extends PageLookup
    case object Unreachable extends PageLookup
  }

  // --- robots (north_rule addition; SURVEY.md §7.1.1) ------------------------
  /** Every Nth host disallows paths starting /x (its "private" section). */
  def robotsDisallows(cfg: CorpusConfig, h: Int): Seq[String] =
    if (cfg.robotsEveryNthHost > 0 && h % cfg.robotsEveryNthHost == 0) Seq("/x") else Nil

  /** (host, disallow_prefix) rows for the whole corpus. */
  def robotsTable(cfg: CorpusConfig): Seq[(String, String)] =
    (0 until cfg.numHosts).flatMap(h => robotsDisallows(cfg, h).map(d => hostName(h) -> d))

  /** Disallow rules of a host NAME — the per-row (executor-side) form of
   * robotsTable ∘ groupBy: rules are a pure function of (cfg, host index),
   * so deriving them where the row already is beats materialising and
   * broadcasting a numHosts-sized driver map (12 s of serial driver time
   * per generation at 4.8M hosts, jstack-measured — BENCH.md §2f).
   * Non-corpus host names get Nil, exactly like the map's getOrElse. */
  def robotsForHostName(cfg: CorpusConfig, host: String): Seq[String] = {
    if (host == null || host.length < 10 ||
        host.charAt(0) != 'h' || !host.endsWith(".example")) Nil
    else {
      val mid = host.substring(1, host.length - 8)
      var i = 0
      // leading zeros never occur in hostName's output — "h00.example"
      // must get Nil like the map's getOrElse, not host 0's rules
      var ok = mid.nonEmpty && mid.length <= 9 && // numHosts < 10^9 ⇒ no overflow
        !(mid.length > 1 && mid.charAt(0) == '0')
      while (ok && i < mid.length) {
        val c = mid.charAt(i); if (c < '0' || c > '9') ok = false; i += 1
      }
      if (!ok) Nil
      else {
        val h = mid.toInt
        if (h < cfg.numHosts) robotsDisallows(cfg, h) else Nil
      }
    }
  }

  /** Robots `Crawl-delay` of host h in POLITENESS WINDOWS (one BSP generation
   * = one window): a host with delay d fetches at most 1 URL per d
   * generations. 0 = no delay. Deterministic 2..4 on every Nth host. */
  def crawlDelayOf(cfg: CorpusConfig, h: Int): Int =
    if (cfg.delayEveryNthHost > 0 && h % cfg.delayEveryNthHost == 0)
      2 + (h / cfg.delayEveryNthHost) % 3
    else 0

  /** (host, delay) rows for every delayed host — the politeness ground truth
   * the corpus fetch modes consult a priori (Http mode learns the same
   * values from fetched robots.txt via the robots cache). */
  def delayTable(cfg: CorpusConfig): Seq[(String, Int)] =
    if (cfg.delayEveryNthHost <= 0) Nil
    else (0 until cfg.numHosts).flatMap { h =>
      val d = crawlDelayOf(cfg, h)
      if (d > 0) Some(hostName(h) -> d) else None
    }

  // --- page content ----------------------------------------------------------
  private val Vocab: Array[String] = Array(
    "the", "a", "of", "and", "crawl", "frontier", "spark", "shuffle", "join",
    "bloom", "cuckoo", "host", "queue", "fetch", "parse", "span", "media",
    "link", "page", "graph", "zipf", "skew", "salt", "merge", "scan")

  /** Raw href of the k-th link span on page (h,p) — deterministic mix of
   * absolute / relative / dot-segment / needs-canonicalization / non-http /
   * dead-404 / unreachable forms. */
  def linkHref(cfg: CorpusConfig, h: Int, p: Int, k: Int): String = {
    val r = rng(cfg, hostKey(h), p.toLong, k.toLong)
    val kind = bounded(r, 20)
    // target host: 60% same host, else Zipf-biased random host
    val th =
      if (bounded(mix64(r), 5) < 3) h
      else bounded(mix64(r ^ 0x5eedL), math.max(1, bounded(mix64(r ^ 0xa11L), cfg.numHosts) + 1))
    val tp = bounded(mix64(r ^ 0x7a6eL), math.max(1, pageCount(cfg, th)))
    kind match {
      case 0 | 1 | 2 | 3 | 4 | 5 => pageUrl(th, tp)                        // absolute, clean
      case 6 | 7 | 8             => s"/p$tp"                               // rooted relative (same host)
      case 9 | 10                => s"p$tp"                                // relative to dir
      case 11                    => s"../p$tp"                             // dot segments
      case 12                    => s"HTTP://H$th.EXAMPLE:80/p$tp?b=2&a=1#frag" // needs canonicalization
      case 13                    => s"http://h$th.example/p$tp#section-$k" // fragment strip
      case 14                    => s"http://h$th.example/p%2a$tp"         // 404 + %-triplet
      case 15                    => "mailto:someone@example.com"           // non-http ⇒ dropped
      case 16                    => "urn:isbn:0451450523"                  // non-http ⇒ dropped
      case 17                    => s"http://h$th.unreachable/p$tp"        // network ⇒ reject
      case 18                    => s"http://h$th.example/p${pageCount(cfg, th) + tp}" // 404 ⇒ err
      case _                     => s"/x$tp"                               // robots-gated section
    }
  }
  // widen host into the rng stream distinctly from page/k
  private def hostKey(h: Int): Long = 0x10000000L + h.toLong

  /** Number of link spans on page (h,p): 0-29, hub pages have more. */
  def linkCountOf(cfg: CorpusConfig, h: Int, p: Int): Int = {
    val r = rng(cfg, 1L, h.toLong, p.toLong)
    if (p == 0) 12 + bounded(r, 18) else bounded(r, 24)
  }

  /** The full span sequence of page (h,p) — interleaved text/media/link,
   * offsets dense from 0 in order. This IS the ground truth for the
   * per-row span-sequence invariant. */
  def pageSpans(cfg: CorpusConfig, h: Int, p: Int): Seq[Span] = {
    val nLinks = linkCountOf(cfg, h, p)
    val spans = Seq.newBuilder[Span]
    var off = 0
    var li = 0
    // leading text span
    spans += Span(Span.Text, textOf(cfg, h, p, off), "", off); off += 1
    while (li < nLinks) {
      val r = rng(cfg, 2L, h.toLong, p.toLong, off.toLong)
      bounded(r, 4) match {
        case 0 =>
          spans += Span(Span.Text, textOf(cfg, h, p, off), "", off); off += 1
        case 1 =>
          spans += Span(Span.Media, "", s"img://h$h/p$p/m$off", off); off += 1
        case _ =>
          spans += Span(Span.Link, s"anchor $li", linkHref(cfg, h, p, li), off)
          off += 1; li += 1
      }
    }
    spans += Span(Span.Text, textOf(cfg, h, p, off), "", off)
    spans.result()
  }

  private def textOf(cfg: CorpusConfig, h: Int, p: Int, off: Int): String = {
    val r = rng(cfg, 3L, h.toLong, p.toLong, off.toLong)
    val n = 3 + bounded(r, 8)
    (0 until n).map(i => Vocab(bounded(mix64(r ^ i.toLong), Vocab.length))).mkString(" ")
  }

  def pageDoc(cfg: CorpusConfig, h: Int, p: Int): Document =
    Document(pageUrl(h, p), pageSpans(cfg, h, p))

  /** Render page (h,p) as HTML — what the loopback test server serves to the
   * real HTTP fetcher. The anchor hrefs round-trip verbatim through
   * Extract.rawHrefs, so an HTTP crawl extracts exactly `pageHrefs`. The
   * href-less anchor exercises the reference's skip rule (html.rs:97-120). */
  def pageHtml(cfg: CorpusConfig, h: Int, p: Int): String = {
    val sb = new StringBuilder(512)
    sb.append("<html><body><a name=\"top\">no-href anchor</a>")
    pageSpans(cfg, h, p).foreach { s =>
      s.kind match {
        case Span.Text  => sb.append("<p>").append(s.text).append("</p>")
        case Span.Media => sb.append("<img src=\"").append(s.media_ref).append("\">")
        case _          => sb.append("<a href=\"").append(s.media_ref)
                             .append("\">").append(s.text).append("</a>")
      }
    }
    sb.append("</body></html>").toString
  }

  /** Just the raw link hrefs of page (h,p), in link order — identical to
   * the link spans inside `pageSpans` (same linkHref stream) but without
   * materialising text/media spans. This is the Generator-fetch hot path:
   * extraction output only, no page-body allocation. */
  def pageHrefs(cfg: CorpusConfig, h: Int, p: Int): Seq[String] = {
    val n = linkCountOf(cfg, h, p)
    (0 until n).map(k => linkHref(cfg, h, p, k))
  }

  /** All (host, page) ids — for the oracle and for Spark generation. */
  def allPageIds(cfg: CorpusConfig): Seq[(Int, Int)] =
    for { h <- 0 until cfg.numHosts; p <- 0 until pageCount(cfg, h) } yield (h, p)

  /** Seeds: front page of the top-k hosts. */
  def seeds(cfg: CorpusConfig, k: Int = 3): Seq[String] =
    (0 until math.min(k, cfg.numHosts)).map(pageUrl(_, 0))
}
