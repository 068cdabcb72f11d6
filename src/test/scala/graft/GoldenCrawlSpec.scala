package graft

import graft.corpus.{CorpusConfig, CorpusGen}
import graft.loop.CrawlLoop
import graft.operators.CrawlConfig
import graft.oracle.SeqCrawler
import graft.plans.TableIO
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Golden E2E (SURVEY.md §5.4): the Spark BSP engine and the sequential
 * reference-semantics oracle must produce (a) identical final seen-set,
 * (b) identical (url → generation) map, (c) identical per-URL outcomes —
 * the ordering-equivalence of SURVEY.md §7.6. Plus checkpoint resume. */
class GoldenCrawlSpec extends AnyFunSuite {

  /** TableIO of the most recent runBoth — for post-run table inspection. */
  private var lastIo: TableIO = _

  private def runBoth(cfg: CrawlConfig, seeds: Seq[String], maxGens: Int) = {
    val spark = SparkSuite.spark
    val dir = Files.createTempDirectory("graft-golden").toString
    val io = new TableIO(dir)
    CrawlLoop.run(spark, io, seeds, cfg, maxGens)
    lastIo = io
    val engineGen = CrawlLoop.seenWithGen(spark, io).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val engineOutcomes = CrawlLoop.allOutcomes(spark, io).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val oracle = SeqCrawler.crawl(cfg, seeds, maxGens)
    (engineGen, engineOutcomes, oracle)
  }

  /** The seen-probe regime each crawled generation's manifest records. */
  private def prefilters(io: TableIO) = io.committedGens().filter(_ > 0)
    .map(g => io.readManifest(g)).map { m =>
      """"prefilter":"([a-z_]+)"""".r.findFirstMatchIn(m).map(_.group(1)).orNull
    }

  test("golden crawl: seen-set, generation map, and outcomes match the oracle") {
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30),
      perHostCap = 3)
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 30)

    assert(engineGen.keySet == oracle.seenGen.keySet, {
      val extra = engineGen.keySet -- oracle.seenGen.keySet
      val missing = oracle.seenGen.keySet -- engineGen.keySet
      s"seen-set mismatch: engine-extra=${extra.take(5)} engine-missing=${missing.take(5)}"
    })
    val genMismatches = oracle.seenGen.collect {
      case (u, g) if engineGen(u) != g => (u, g, engineGen(u))
    }
    assert(genMismatches.isEmpty, s"generation mismatches: ${genMismatches.take(10)}")
    assert(engineOutcomes == oracle.outcomes.toSet, {
      val eo = engineOutcomes -- oracle.outcomes.toSet
      val oe = oracle.outcomes.toSet -- engineOutcomes
      s"outcome mismatch: engine-only=${eo.take(5)} oracle-only=${oe.take(5)}"
    })
    // sanity: the crawl actually crawled several generations and outcomes vary
    assert(engineGen.values.max >= 3)
    assert(engineOutcomes.map(_._3).intersect(Set("ok", "err", "reject")).size == 3)

    // A2: per-stage timing table — every crawled generation carries rows for
    // the three writes, each with attributed task wall-time
    val timings = CrawlLoop.stageTimings(SparkSuite.spark, lastIo).collect()
      .map(r => (r.getAs[Int]("gen"), r.getAs[String]("action"),
        r.getAs[Long]("task_time_ms"), r.getAs[Long]("tasks")))
    assert(timings.nonEmpty, "metrics table empty")
    val gens = timings.map(_._1).distinct
    assert(gens.length >= 3, s"stage timings cover too few generations: ${gens.toSeq}")
    gens.foreach { g =>
      val actions = timings.filter(_._1 == g).map(_._2).toSet
      assert(Set("frontier_write", "seen_write", "outcomes_write").subsetOf(actions),
        s"gen $g missing action timings: $actions")
    }
    assert(timings.filter(_._2 == "frontier_write").map(_._3).sum > 0,
      "frontier_write recorded zero task time")
    assert(timings.forall(_._4 > 0))
  }

  test("golden crawl with a global generation budget ≡ oracle; completeness preserved") {
    val corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30)
    val seeds = CorpusGen.seeds(corpus, 3)
    // tight budget: fewer fetches per generation than the per-host selection
    // would take — the crawl trace (url → generation map AND per-gen
    // outcomes) must still match the sequential oracle exactly
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 3, genBudget = 7)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 40)
    assert(engineGen == oracle.seenGen, {
      val d = oracle.seenGen.collect {
        case (u, g) if engineGen.get(u) != Some(g) => (u, g, engineGen.get(u)) }
      s"budgeted crawl diverged: ${d.take(5)}"
    })
    assert(engineOutcomes == oracle.outcomes.toSet)
    // the budget really bit: no generation fetched more than genBudget pages
    val perGen = engineOutcomes.groupBy(_._1).view.mapValues(_.size)
    assert(perGen.values.max <= 7, s"a generation exceeded the budget: $perGen")
    assert(perGen.values.exists(_ == 7), "budget never reached — test too loose")
    // completeness: demotion only DELAYS work, it never loses it — at
    // exhaustion (frontier empty) the budgeted crawl reaches exactly the
    // unbudgeted seen set. Proven at the oracle level (the engine ≡ this
    // oracle trace-for-trace above; running the engine to exhaustion under
    // a 7-page budget would be ~100 generations of Spark jobs for the same
    // statement): both oracles run until their frontier drains.
    val budgetedFull = SeqCrawler.crawl(cfg, seeds, maxGens = 1000)
    val free = SeqCrawler.crawl(cfg.copy(genBudget = 0), seeds, maxGens = 1000)
    assert(budgetedFull.seenGen.keySet == free.seenGen.keySet,
      "budgeted crawl failed to reach the unbudgeted seen set at exhaustion")
    assert(budgetedFull.outcomes.map(o => (o._2, o._3)).toSet ==
      free.outcomes.map(o => (o._2, o._3)).toSet,
      "budgeted crawl's per-URL outcomes diverged at exhaustion")
  }

  test("golden crawl with blacklist filter + reject requeue matches oracle") {
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 7L, numHosts = 10, maxPages = 20),
      perHostCap = 2,
      filter = graft.core.HostFilter.Blacklist(Seq("h3.", "h5.")),
      requeueRejects = true, maxRetries = 2)
    val seeds = CorpusGen.seeds(cfg.corpus, 2)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 25)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    // the blacklist actually bit: no h3/h5 URLs in the seen set
    assert(!engineGen.keySet.exists(u => u.contains("//h3.") || u.contains("//h5.")))
  }

  test("golden crawl with WHITELIST filter matches oracle (host-less drops)") {
    // whitelist semantics differ from !blacklist: a host-less URL is ALWAYS
    // dropped (filter.rs:77-86 returns false when there is no host)
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 7L, numHosts = 10, maxPages = 20),
      perHostCap = 3,
      filter = graft.core.HostFilter.Whitelist(Seq("h0.", "h1.", "h2.", "h4.")))
    val seeds = CorpusGen.seeds(cfg.corpus, 2)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 25)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    // the whitelist actually bit: only whitelisted hosts beyond the seeds
    val nonSeed = engineGen.collect { case (u, g) if g > 0 => u }
    assert(nonSeed.nonEmpty)
    assert(nonSeed.forall(u => Seq("h0.", "h1.", "h2.", "h4.")
      .exists(graft.core.UrlCanon.hostOf(u).contains)))
  }

  test("cuckoo seen-sketch mode is crawl-identical to bloom mode and the oracle") {
    val base = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator)
    val seeds = CorpusGen.seeds(base.corpus, 3)
    val (genB, outB, _) = runBoth(base, seeds, maxGens = 15)
    val (genC, outC, oracle) = runBoth(base.copy(seenSketch = "cuckoo"), seeds, maxGens = 15)
    assert(genC == genB)
    assert(outC == outB)
    assert(genC == oracle.seenGen)
  }

  test("cuckoo under overflow: taint + in-loop rebuild keep the crawl exact") {
    // designed capacity far below the crawl's seen set ⇒ shards overflow,
    // get tainted (answer maybe), and the loop's rebuild grows them — the
    // crawl must stay oracle-identical and the seen table duplicate-free
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      seenSketch = "cuckoo", bloomExpectedItems = 64, sketchShards = 4)
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 15)
    val seenRows = CrawlLoop.seenWithGen(SparkSuite.spark, lastIo).collect()
    assert(seenRows.length == seenRows.map(_.getString(0)).distinct.length,
      "duplicate urls in seen — cuckoo taint/rebuild leaked a false negative")
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
  }

  test("retro-blacklist retraction: purged host URLs become re-crawlable (cuckoo delete path)") {
    // at fetch-gen 4 every h2. seen entry is forgotten: purged from the seen
    // table AND deleted from the cuckoo sketch; links still point at h2, so
    // its URLs are re-discovered and re-fetched with a fresh generation —
    // the deletion-capable sketch variant doing the job it exists for
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      seenSketch = "cuckoo",
      retractHosts = Map(4 -> Seq("h2.")))
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 20)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    // h2 URLs were re-discovered AFTER the retraction generation
    val h2gens = engineGen.collect { case (u, g) if u.contains("//h2.") => g }
    assert(h2gens.nonEmpty && h2gens.forall(_ > 4),
      s"expected all h2 entries rediscovered after gen 4, got ${h2gens.take(5)}")
    // and at least one h2 URL was FETCHED twice (before and after the purge)
    val h2Fetches = engineOutcomes.toSeq.filter(_._2.contains("//h2."))
      .groupBy(_._2).map { case (u, os) => u -> os.map(_._1).toSet }
    assert(h2Fetches.exists { case (_, gens) => gens.exists(_ <= 4) && gens.exists(_ > 4) },
      "no h2 URL was re-fetched after retraction")
    // the tiny cuckoo sketch took the broadcast regime in every generation —
    // in the retraction generation a snapshot of the post-delete checkpoint
    val bcModes = prefilters(lastIo)
    assert(bcModes.nonEmpty && bcModes.forall(_ == "cuckoo_bc"),
      s"expected the broadcast cuckoo regime under the threshold, manifests say: $bcModes")
    // the routed regime (threshold 0) reaches the same crawl
    val (genRt, outRt, _) = runBoth(cfg.copy(sketchBroadcastMaxBytes = 0L), seeds, maxGens = 20)
    val rtModes = prefilters(lastIo)
    assert(rtModes.nonEmpty && rtModes.forall(_ == "sharded"),
      s"expected the routed regime at threshold 0, manifests say: $rtModes")
    assert(genRt == engineGen)
    assert(outRt == engineOutcomes)
    // bloom mode (no deletion; stale bits are FPs only) reaches the same crawl
    val (genBl, outBl, _) = runBoth(cfg.copy(seenSketch = "bloom"), seeds, maxGens = 20)
    assert(genBl == engineGen)
    assert(outBl == engineOutcomes)
  }

  test("retraction right after a full-cover compaction (staged same-range rewrite)") {
    // seenCompactEvery=1 folds the cover to ONE merge [0, prevGen] every
    // generation, so the retraction's [0, prevGen] rewrite targets the very
    // dir it reads from — the staged-swap path must engage (an in-place
    // overwrite is rejected by Spark as overwriting an input path). Crawl
    // must stay oracle-identical to the uncompacted retraction golden above.
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      seenSketch = "cuckoo", seenCompactEvery = 1,
      retractHosts = Map(4 -> Seq("h2.")))
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 20)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    val h2gens = engineGen.collect { case (u, g) if u.contains("//h2.") => g }
    assert(h2gens.nonEmpty && h2gens.forall(_ > 4),
      s"expected all h2 entries rediscovered after gen 4, got ${h2gens.take(5)}")
    // the swap completed: no .stage leftovers, no spent retraction
    // checkpoint, and the final state reads back as exactly one live cover
    val seenDirs = new java.io.File(lastIo.root, "seen").listFiles().map(_.getName)
    assert(!seenDirs.exists(_.endsWith(".stage")), s"stage leftover in $seenDirs")
    val sketchDirs = new java.io.File(lastIo.root, "sketch").listFiles().map(_.getName)
    assert(!sketchDirs.exists(_.endsWith("_retract")),
      s"spent retraction checkpoint left behind: ${sketchDirs.mkString(",")}")
  }

  test("archive path (S7): fetched payloads land durably, spans = generator ground truth") {
    val corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 20)
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 3, archiveFetched = true)
    val seeds = CorpusGen.seeds(corpus, 2)
    val (_, outcomes, _) = runBoth(cfg, seeds, maxGens = 8)
    val spark = SparkSuite.spark
    val archived = CrawlLoop.archivedDocs(spark, lastIo)
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s =>
          (s.getString(0), s.getString(1), s.getString(2), s.getInt(3)))).toMap
    val okUrls = outcomes.filter(_._3 == "ok").map(_._2)
    assert(archived.keySet == okUrls, // every ok fetch archived, nothing else
      s"missing=${(okUrls -- archived.keySet).take(3)} extra=${(archived.keySet -- okUrls).take(3)}")
    // per-row span-sequence invariant on the archived payloads
    archived.foreach { case (url, spans) =>
      val CorpusGen.PageLookup.Found(h, p) = CorpusGen.resolvePage(corpus, url)
      val want = CorpusGen.pageSpans(corpus, h, p)
        .map(s => (s.kind, s.text, s.media_ref, s.offset))
      assert(spans == want, s"archived spans differ for $url")
    }
    // Generator mode archives the identical payloads
    val (_, _, _) = runBoth(cfg.copy(fetchMode = graft.operators.FetchMode.Generator),
      seeds, maxGens = 8)
    val archivedGen = CrawlLoop.archivedDocs(spark, lastIo)
      .collect().map(r => r.getString(0)).toSet
    assert(archivedGen == okUrls)
  }

  test("archive → training-data pipeline: archivedText feeds dedup/quality/lang-id") {
    // the integration seam: a crawl's archive table, adapted by
    // CrawlLoop.archivedText to the (doc_id, text) documents shape, must be
    // directly consumable by the LLM-pipeline operators — text content
    // byte-equal to the corpus ground truth, exact dedup accounting closed,
    // quality/lang-id total (every row scores)
    val corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 20)
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 3, archiveFetched = true)
    val seeds = CorpusGen.seeds(corpus, 2)
    runBoth(cfg, seeds, maxGens = 8)
    val spark = SparkSuite.spark
    val texts = CrawlLoop.archivedText(spark, lastIo).persist()
    val got = texts.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.nonEmpty)
    got.foreach { case (url, text) =>
      val CorpusGen.PageLookup.Found(h, p) = CorpusGen.resolvePage(corpus, url)
      val want = CorpusGen.pageSpans(corpus, h, p)
        .filter(_.kind == "text").map(_.text).mkString(" ")
      assert(text == want, s"archived text differs for $url")
    }
    // exact dedup over the archived text: survivors + duplicate count must
    // account for every archived page (the group-size invariant)
    val dedup = graft.operators.Dedup.exact(texts).collect()
    assert(dedup.map(r => 1 + r.getLong(2)).sum == got.size)
    // quality + lang-id run total over the adapted shape
    val q = org.apache.spark.sql.functions.udf(
      (t: String) => graft.functions.TextFunctions.qualityScore(t))
    val l = org.apache.spark.sql.functions.udf(
      (t: String) => graft.functions.TextFunctions.langId(t)._1)
    import org.apache.spark.sql.functions.col
    val scored = texts.select(col("doc_id"), q(col("text")).as("quality"),
      l(col("text")).as("lang")).collect()
    assert(scored.length == got.size)
    assert(scored.forall(r => !r.isNullAt(1) && r.getDouble(1) >= 0.0 &&
      r.getDouble(1) <= 1.0 && r.getString(2).nonEmpty))
    texts.unpersist()
  }

  test("politeness Crawl-delay: engine ≡ oracle, ≤1 fetch per d generations per host") {
    // every 3rd host declares Crawl-delay 2..4 (politeness windows); the
    // engine must (a) stay crawl-identical to the sequential oracle with the
    // same delay semantics and (b) actually space the fetches out
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24,
      delayEveryNthHost = 3)
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 3,
      fetchMode = graft.operators.FetchMode.Generator)
    val seeds = CorpusGen.seeds(corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 25)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)

    // the ≤1-per-⌈d⌉-generations property, measured on the engine's outcomes
    val delays = CorpusGen.delayTable(corpus).toMap
    assert(delays.nonEmpty)
    val byHost = engineOutcomes.toSeq
      .groupBy(o => graft.core.UrlCanon.hostOf(o._2))
    var spacedHosts = 0
    delays.foreach { case (host, d) =>
      val gens = byHost.getOrElse(host, Nil).map(_._1).sorted
      // ≤1 fetch per generation on a delayed host
      assert(gens.distinct.length == gens.length,
        s"$host (delay $d) fetched >1 URL in one generation: $gens")
      // consecutive fetches spaced ≥ d generations apart
      gens.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= d,
          s"$host (delay $d) fetched at $a and $b — window violated")
        case _ => ()
      }
      if (gens.length >= 2) spacedHosts += 1
    }
    // the property actually bit: some delayed host was fetched repeatedly
    assert(spacedHosts > 0, "no delayed host ever fetched twice — test too weak")
    // CorpusJoin mode takes the identical crawl (delay logic is fetch-mode
    // independent)
    val (genJ, outJ, _) = runBoth(
      cfg.copy(fetchMode = graft.operators.FetchMode.CorpusJoin), seeds, maxGens = 25)
    assert(genJ == engineGen && outJ == engineOutcomes)
  }

  test("robots rules are enforced (no /x pages on robots-gated hosts)") {
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30))
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, _, oracle) = runBoth(cfg, seeds, maxGens = 20)
    assert(engineGen == oracle.seenGen)
    val gated = engineGen.keySet.filter { u =>
      val host = graft.core.UrlCanon.hostOf(u)
      CorpusGen.robotsTable(cfg.corpus).exists(_._1 == host) &&
        graft.core.Robots.pathOf(u).startsWith("/x")
    }
    assert(gated.isEmpty, s"robots-disallowed URLs crawled: ${gated.take(5)}")
  }

  test("Generator fetch mode produces an identical crawl to CorpusJoin mode") {
    val base = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30),
      perHostCap = 3)
    val seeds = CorpusGen.seeds(base.corpus, 3)
    val (genJ, outJ, _) = runBoth(base, seeds, maxGens = 15)
    val (genG, outG, oracle) = runBoth(
      base.copy(fetchMode = graft.operators.FetchMode.Generator), seeds, maxGens = 15)
    assert(genJ == genG)
    assert(outJ == outG)
    assert(genG == oracle.seenGen)
  }

  /** Loopback corpus server harness: /hN.example/pM serves pageHtml (200),
   * missing pages 404, '.unreachable' hosts are rewritten to a refused port,
   * and /robots.txt serves the corpus ground truth (Disallow + Crawl-delay)
   * over the wire, counting GETs per host. */
  private def withLoopbackServer[T](corpus: CorpusConfig,
      failFirstRobotsOf: Set[Int] = Set.empty)(
      f: (String => String, java.util.concurrent.ConcurrentHashMap[Int, Integer]) => T): T = {
    val robotsGets = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      // reconstruct the ORIGINAL url from the raw (undecoded) path + query —
      // '/h3.example/p5' came from 'http://h3.example/p5' — and classify it
      // with the same resolver the Generator/CorpusJoin modes use, so a
      // query-string or %-encoded page 404s identically in all three modes
      val raw = ex.getRequestURI.getRawPath.stripPrefix("/") +
        Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
      val RobotsRe = "^h([0-9]+)\\.example/robots\\.txt$".r
      // transient-failure injection: the host's FIRST robots GET drops the
      // connection without a response (client sees EOF ⇒ Reject)
      val transientDrop = raw match {
        case RobotsRe(hs) if failFirstRobotsOf.contains(hs.toInt) =>
          robotsGets.merge(hs.toInt, 1, (a, b) => a + b) == 1
        case _ => false
      }
      if (transientDrop) ex.close()
      else {
        val (status, body) = raw match {
          case RobotsRe(hs) => // REAL robots over the wire (north_rule)
            if (!failFirstRobotsOf.contains(hs.toInt)) // flaky hosts counted above
              robotsGets.merge(hs.toInt, 1, (a, b) => a + b)
            val dis = CorpusGen.robotsDisallows(corpus, hs.toInt)
            val dly = CorpusGen.crawlDelayOf(corpus, hs.toInt)
            if (dis.isEmpty && dly == 0) (404, "no robots here")
            else (200, "User-agent: *\n" +
              dis.map("Disallow: " + _).mkString("\n") +
              (if (dly > 0) s"\nCrawl-delay: $dly" else ""))
          case _ => CorpusGen.resolvePage(corpus, s"http://$raw") match {
            case CorpusGen.PageLookup.Found(h, p) => (200, CorpusGen.pageHtml(corpus, h, p))
            case _ => (404, "gone")
          }
        }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    val port = server.getAddress.getPort
    val rewrite: String => String = { url =>
      val host = graft.core.UrlCanon.hostOf(url)
      val path = graft.core.Robots.pathOf(url)
      if (host.endsWith(".unreachable")) s"http://127.0.0.1:1$path" // refused ⇒ Reject
      else s"http://127.0.0.1:$port/$host$path"
    }
    try f(rewrite, robotsGets) finally server.stop(0)
  }

  private def httpMode(rewrite: String => String) =
    graft.operators.FetchMode.Http(rewrite,
      connectTimeoutMs = 2000, requestTimeoutMs = 10000)

  test("HTTP fetch mode over real loopback sockets is crawl-identical to Generator") {
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    withLoopbackServer(corpus) { (rewrite, robotsGets) =>
      val base = CrawlConfig(corpus = corpus, perHostCap = 3)
      val seeds = CorpusGen.seeds(corpus, 3)
      val (genG, outG, _) = runBoth(
        base.copy(fetchMode = graft.operators.FetchMode.Generator), seeds, maxGens = 12)
      val (genH, outH, oracle) = runBoth(
        base.copy(fetchMode = httpMode(rewrite)), seeds, maxGens = 12)
      assert(genH == genG)
      assert(outH == outG)
      assert(genH == oracle.seenGen)
      // all three outcome kinds crossed the real sockets
      assert(outH.map(_._3).intersect(Set("ok", "err", "reject")).size == 3)
      // robots enforcement happened over HTTP: gated hosts' /x URLs absent
      // even though the server would happily 200 some of them as pages
      val gated = genH.keySet.filter { u =>
        val host = graft.core.UrlCanon.hostOf(u)
        CorpusGen.robotsTable(corpus).exists(_._1 == host) &&
          graft.core.Robots.pathOf(u).startsWith("/x")
      }
      assert(gated.isEmpty, s"robots-over-HTTP failed to gate: ${gated.take(5)}")
      // robots CACHE: a 12-generation crawl re-meeting the same hosts every
      // generation pays each host's robots RTT exactly once
      import scala.jdk.CollectionConverters._
      val over = robotsGets.asScala.filter(_._2 > 1)
      assert(over.isEmpty, s"robots re-fetched for hosts: $over")
    }
  }

  test("HTTP robots cache: blacklisted hosts never contacted, others GET robots once") {
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    withLoopbackServer(corpus) { (rewrite, robotsGets) =>
      val blacklisted = Seq("h2.", "h5.")
      val cfg = CrawlConfig(corpus = corpus, perHostCap = 3,
        filter = graft.core.HostFilter.Blacklist(blacklisted),
        fetchMode = httpMode(rewrite))
      val seeds = CorpusGen.seeds(corpus, 3)
      val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 12)
      assert(engineGen == oracle.seenGen)
      assert(engineOutcomes == oracle.outcomes.toSet)
      import scala.jdk.CollectionConverters._
      val gets = robotsGets.asScala.toMap
      // the crawler is configured never to contact h2/h5 — not even robots
      assert(!gets.contains(2) && !gets.contains(5),
        s"robots fetched from blacklisted hosts: $gets")
      // every other contacted host paid its robots RTT exactly once
      assert(gets.values.forall(_ == 1), s"robots re-fetched: $gets")
      assert(gets.nonEmpty)
    }
  }

  test("robots cache compaction: delta log folds, hosts still pay one GET, crawl ≡ oracle") {
    // the robots cache is read every generation, so its delta log must
    // compact like seen's (unbounded dir lists are the 10^5-generation
    // scale killer); compaction must not lose rules or re-trigger GETs
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    withLoopbackServer(corpus) { (rewrite, robotsGets) =>
      val cfg = CrawlConfig(corpus = corpus, perHostCap = 3,
        seenCompactEvery = 3, fetchMode = httpMode(rewrite))
      val seeds = CorpusGen.seeds(corpus, 3)
      val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 12)
      assert(engineGen == oracle.seenGen)
      assert(engineOutcomes == oracle.outcomes.toSet)
      assert(lastIo.committedMerges("robots").nonEmpty,
        "robots delta log never compacted")
      import scala.jdk.CollectionConverters._
      val over = robotsGets.asScala.filter(_._2 > 1)
      assert(over.isEmpty, s"robots re-fetched after compaction: $over")
    }
  }

  test("robots TTL: expired answers re-fetch on candidacy, crawl stays ≡ oracle") {
    // robotsTtlGens bounds cache staleness: an answer fetched at gen g is
    // honored through g+ttl-1 and re-fetched when the host is next a
    // candidate. With the server's rules STABLE the crawl must be
    // byte-identical to the oracle (TTL only adds GETs, never changes
    // behavior); the GET counts prove expiry actually happened and stayed
    // bounded. seenCompactEvery=3 folds the robots delta log mid-crawl, so
    // expiry is also exercised across merged segments (fetched_gen must
    // survive compaction).
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    withLoopbackServer(corpus) { (rewrite, robotsGets) =>
      val ttl = 3
      val maxGens = 12
      val cfg = CrawlConfig(corpus = corpus, perHostCap = 3,
        seenCompactEvery = 3, robotsTtlGens = ttl, fetchMode = httpMode(rewrite))
      val seeds = CorpusGen.seeds(corpus, 3)
      val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens)
      assert(engineGen == oracle.seenGen)
      assert(engineOutcomes == oracle.outcomes.toSet)
      import scala.jdk.CollectionConverters._
      val gets = robotsGets.asScala.toMap
      assert(gets.exists(_._2 > 1),
        s"a $maxGens-gen crawl with ttl=$ttl never re-fetched robots: $gets")
      // a host re-fetches at most once per ttl window (+1 for the bootstrap)
      val cap = maxGens / ttl + 1
      val over = gets.filter(_._2 > cap)
      assert(over.isEmpty, s"robots re-fetched beyond the TTL bound $cap: $over")
    }
  }

  test("robots TTL change across resume: newest answer wins, crawl stays ≡ oracle") {
    // a resumed crawl may change --robots-ttl-gens; a LARGER ttl resurrects
    // rows that a re-fetch already superseded, and without the newest-wins
    // read a host would carry TWO live rows — duplicating its candidates
    // through the rules join and double-fetching. Stable server rules ⇒ the
    // two-phase crawl must remain byte-identical to the single oracle run.
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    withLoopbackServer(corpus) { (rewrite, robotsGets) =>
      val dir = Files.createTempDirectory("graft-ttlchange").toString
      val seeds = CorpusGen.seeds(corpus, 3)
      val base = CrawlConfig(corpus = corpus, perHostCap = 3,
        fetchMode = httpMode(rewrite))
      val spark = SparkSuite.spark
      // phase 1: short TTL — hosts re-fetch and supersede their gen-0 rows
      CrawlLoop.run(spark, new TableIO(dir), seeds,
        base.copy(robotsTtlGens = 2), maxGens = 6)
      // phase 2 (resume): TTL large enough that phase-1's superseded rows
      // fall back INSIDE the visibility window next to their replacements
      CrawlLoop.run(spark, new TableIO(dir), seeds,
        base.copy(robotsTtlGens = 10), maxGens = 12)
      val io = new TableIO(dir)
      val engineGen = CrawlLoop.seenWithGen(spark, io).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val engineOutcomes = CrawlLoop.allOutcomes(spark, io).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      val oracle = SeqCrawler.crawl(base, seeds, 12)
      assert(engineGen == oracle.seenGen)
      assert(engineOutcomes == oracle.outcomes.toSet)
      import scala.jdk.CollectionConverters._
      assert(robotsGets.asScala.exists(_._2 > 1), "phase 1 never re-fetched")
    }
  }

  test("HTTP Crawl-delay learned from robots.txt over the wire ≡ corpus ground truth") {
    // every 3rd host serves 'Crawl-delay: d' in its robots.txt; the Http
    // crawl must learn it via the robots cache and space fetches exactly as
    // the Generator mode (a-priori delays) and the oracle do. One seed is a
    // DELAYED host (h3): discovered hosts get their robots at candidacy, but
    // seed hosts are only covered because the BOOTSTRAP fetches their robots
    // into the gen-0 cache — without it, gen 1 would select h3's URLs
    // delay-blind at the full cap and diverge from the a-priori modes
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24,
      delayEveryNthHost = 3)
    withLoopbackServer(corpus) { (rewrite, _) =>
      val seeds = Seq(CorpusGen.pageUrl(1, 0), CorpusGen.pageUrl(3, 0))
      val base = CrawlConfig(corpus = corpus, perHostCap = 3)
      val (genG, outG, _) = runBoth(
        base.copy(fetchMode = graft.operators.FetchMode.Generator), seeds, maxGens = 18)
      val (genH, outH, oracle) = runBoth(
        base.copy(fetchMode = httpMode(rewrite)), seeds, maxGens = 18)
      assert(genH == genG)
      assert(outH == outG)
      assert(genH == oracle.seenGen)
      // the delay property held over real sockets: delayed hosts spaced ≥ d
      val delays = CorpusGen.delayTable(corpus).toMap
      val byHost = outH.toSeq.groupBy(o => graft.core.UrlCanon.hostOf(o._2))
      var spaced = 0
      delays.foreach { case (host, d) =>
        val gens = byHost.getOrElse(host, Nil).map(_._1).sorted
        assert(gens.distinct.length == gens.length, s"$host fetched twice in one gen")
        gens.sliding(2).foreach {
          case Seq(a, b) => assert(b - a >= d, s"$host (delay $d): fetched at $a,$b")
          case _ => ()
        }
        if (gens.length >= 2) spaced += 1
      }
      assert(spaced > 0, "no delayed host fetched repeatedly — test too weak")
    }
  }

  test("transient robots failure is allow-all for ONE generation, never cached (ADVICE r3)") {
    // the flaky host's FIRST robots GET drops the connection (network blip);
    // the durable cache must NOT remember the blip as allow-all — the next
    // generation re-fetches, learns the real Disallow rules, and the crawl
    // stays oracle-identical. Pre-fix behaviour: the blip was cached, the
    // host's rules were permanently erased, and its /x URLs got crawled.
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    val flaky = (0 until 12).find { h =>
      CorpusGen.robotsDisallows(corpus, h).nonEmpty &&
        CorpusGen.pageCount(corpus, h) > 0
    }.get
    withLoopbackServer(corpus, failFirstRobotsOf = Set(flaky)) { (rewrite, robotsGets) =>
      val second = if (flaky == 1) 4 else 1
      val seeds = Seq(CorpusGen.pageUrl(flaky, 0), CorpusGen.pageUrl(second, 0))
      val cfg = CrawlConfig(corpus = corpus, perHostCap = 3,
        fetchMode = httpMode(rewrite))
      val (genH, outH, oracle) = runBoth(cfg, seeds, maxGens = 12)
      assert(genH == oracle.seenGen)
      assert(outH == oracle.outcomes.toSet)
      // the blip was retried exactly once: bootstrap drop + candidacy re-GET
      assert(robotsGets.get(flaky) == 2,
        s"flaky host robots GETs = ${robotsGets.get(flaky)}; blip was cached")
      // …and the recovered rules actually gate: no /x URL of the flaky host
      val gated = genH.keySet.filter { u =>
        graft.core.UrlCanon.hostOf(u) == s"h$flaky.example" &&
          graft.core.Robots.pathOf(u).startsWith("/x")
      }
      assert(gated.isEmpty, s"flaky host /x crawled through the blip: ${gated.take(5)}")
    }
  }

  test("HTTP archive: spans parsed in the fetch partition ≡ Generator ground truth") {
    val corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 20)
    withLoopbackServer(corpus) { (rewrite, _) =>
      val seeds = CorpusGen.seeds(corpus, 2)
      val cfg = CrawlConfig(corpus = corpus, perHostCap = 3, archiveFetched = true,
        fetchMode = httpMode(rewrite))
      val (_, outcomes, _) = runBoth(cfg, seeds, maxGens = 8)
      val spark = SparkSuite.spark
      val archived = CrawlLoop.archivedDocs(spark, lastIo)
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(s =>
            (s.getString(0), s.getString(1), s.getString(2), s.getInt(3)))).toMap
      val okUrls = outcomes.filter(_._3 == "ok").map(_._2)
      assert(archived.keySet == okUrls,
        s"missing=${(okUrls -- archived.keySet).take(3)} extra=${(archived.keySet -- okUrls).take(3)}")
      // per-row span-sequence invariant: the HTML round-trips to the exact
      // interleaved (kind, text, media_ref, order) sequence of the corpus
      archived.foreach { case (url, spans) =>
        val CorpusGen.PageLookup.Found(h, p) = CorpusGen.resolvePage(corpus, url)
        val want = CorpusGen.pageSpans(corpus, h, p)
          .map(s => (s.kind, s.text, s.media_ref, s.offset))
        assert(spans == want, s"HTTP-archived spans differ for $url")
      }
    }
  }

  test("narrow-shuffle variant (host re-derived post-dedup) is crawl-identical") {
    val base = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator)
    val seeds = CorpusGen.seeds(base.corpus, 2)
    val (genA, outA, _) = runBoth(base, seeds, maxGens = 12)
    val (genB, outB, oracle) = runBoth(
      base.copy(carryHostThroughDedup = false), seeds, maxGens = 12)
    assert(genA == genB)
    assert(outA == outB)
    assert(genB == oracle.seenGen)
  }

  test("in-loop bloom saturation triggers per-shard rebuild, crawl unaffected") {
    // absurdly small designed capacity (16 per shard across 4 shards) so the
    // crawl's discovered set saturates shards within a few generations —
    // the loop must rebuild them (count-sized geometry) rather than let the
    // prefilter silently degrade, and the crawl must stay oracle-identical
    val cfg = CrawlConfig(
      corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      bloomExpectedItems = 64, sketchShards = 4)
    val seeds = CorpusGen.seeds(cfg.corpus, 3)
    val (engineGen, engineOutcomes, oracle) = runBoth(cfg, seeds, maxGens = 15)
    // set semantics survive rebuilds: NO duplicate url across seen deltas
    // (a rebuild from an incomplete seen slice creates sketch false
    // negatives ⇒ re-discovery ⇒ duplicate rows — this is the regression
    // guard for exactly that bug)
    val seenRows = CrawlLoop.seenWithGen(SparkSuite.spark, lastIo).collect()
    assert(seenRows.length == seenRows.map(_.getString(0)).distinct.length,
      "duplicate urls in the seen table — sketch false negative leaked")
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    // the final sketch grew: some shard is bigger than the initial geometry
    // and no shard is saturated (read back from the per-shard checkpoint
    // files — the only place the sketch lives now)
    val lastGen = lastIo.lastCommittedGen().get
    val blooms = graft.functions.ShardStore.readAll(lastIo, lastGen, 4)
      .collect { case b: graft.functions.BloomSeenShard => b }
    assert(blooms.length == 4, s"expected 4 bloom shard files, got ${blooms.length}")
    val initialBits = graft.functions.BloomSketch.create(16, 0.01).sizeBits
    assert(blooms.exists(_.sketch.sizeBits > initialBits), "no shard ever rebuilt/grew")
    assert(blooms.forall(_.sketch.fillRatio <= 0.47),
      s"saturated shards remain: fills=${blooms.map(_.sketch.fillRatio)}")
  }

  test("aggressive seen compaction is invisible to results and to resume") {
    val spark = SparkSuite.spark
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, seenCompactEvery = 3) // compact nearly every generation
    val seeds = CorpusGen.seeds(cfg.corpus, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val io = new TableIO(dir)
    CrawlLoop.run(spark, io, seeds, cfg, maxGens = 6) // interrupted mid-crawl
    CrawlLoop.run(spark, io, seeds, cfg, maxGens = 18) // resume over compacted log
    assert(io.committedMerges("seen").nonEmpty, "compaction never triggered")
    val engineGen = CrawlLoop.seenWithGen(spark, io).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val oracle = SeqCrawler.crawl(cfg, seeds, maxGens = 18)
    assert(engineGen == oracle.seenGen)
  }

  test("resume from checkpoint is byte-identical to an uninterrupted run") {
    val spark = SparkSuite.spark
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3)
    val seeds = CorpusGen.seeds(cfg.corpus, 2)

    val fullDir = Files.createTempDirectory("graft-full").toString
    CrawlLoop.run(spark, new TableIO(fullDir), seeds, cfg, maxGens = 20)

    val resDir = Files.createTempDirectory("graft-resumed").toString
    CrawlLoop.run(spark, new TableIO(resDir), seeds, cfg, maxGens = 3) // "crash" after gen 3
    CrawlLoop.run(spark, new TableIO(resDir), seeds, cfg, maxGens = 20) // resume

    def state(dir: String) = {
      val io = new TableIO(dir)
      (CrawlLoop.seenWithGen(spark, io).collect().map(r => (r.getString(0), r.getInt(1))).toSet,
        CrawlLoop.allOutcomes(spark, io).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet)
    }
    assert(state(fullDir) == state(resDir))
  }

  test("cuckoo-mode resume from checkpoint is identical to an uninterrupted run") {
    // the sketch state lives in per-shard checkpoint files (ShardStore), so a
    // "crash" (new run over the same workDir) must pick the shards back up —
    // round 2's localCheckpoint chains had no such recovery path
    val spark = SparkSuite.spark
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      seenSketch = "cuckoo")
    val seeds = CorpusGen.seeds(cfg.corpus, 2)
    val fullDir = Files.createTempDirectory("graft-ck-full").toString
    CrawlLoop.run(spark, new TableIO(fullDir), seeds, cfg, maxGens = 16)
    val resDir = Files.createTempDirectory("graft-ck-res").toString
    CrawlLoop.run(spark, new TableIO(resDir), seeds, cfg, maxGens = 4) // "crash"
    CrawlLoop.run(spark, new TableIO(resDir), seeds, cfg, maxGens = 16) // resume
    def state(dir: String) = {
      val io = new TableIO(dir)
      (CrawlLoop.seenWithGen(spark, io).collect().map(r => (r.getString(0), r.getInt(1))).toSet,
        CrawlLoop.allOutcomes(spark, io).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet)
    }
    assert(state(fullDir) == state(resDir))
  }

  test("hybrid seen-probe: broadcast and routed regimes are crawl-identical, switchover pinned") {
    // the loop sizes the sketch from its checkpoint files each generation:
    // under the threshold it assembles a broadcast ShardedBloom and probes
    // through the codegen'd expression (no extra shuffle); over it
    // candidates route to the shard partitions. Both regimes must
    // crawl identically, and the manifests must record which ran.
    val base = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator)
    val seeds = CorpusGen.seeds(base.corpus, 3)
    val (genBc, outBc, oracle) = runBoth(base, seeds, maxGens = 12) // tiny sketch ⇒ broadcast regime
    val bcModes = prefilters(lastIo)
    assert(bcModes.nonEmpty && bcModes.forall(_ == "bloom_bc"),
      s"expected broadcast regime under the threshold, manifests say: $bcModes")
    val (genRt, outRt, _) = runBoth(
      base.copy(sketchBroadcastMaxBytes = 0L), seeds, maxGens = 12) // force routed
    val rtModes = prefilters(lastIo)
    assert(rtModes.nonEmpty && rtModes.forall(_ == "sharded"),
      s"expected routed regime at threshold 0, manifests say: $rtModes")
    assert(genRt == genBc)
    assert(outRt == outBc)
    assert(genBc == oracle.seenGen)
  }

  test("a user-cached Dataset survives a crawl run (targeted unpersist, no cache wipe)") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val user = (1 to 100).toDF("n").cache()
    user.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 20),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator)
    val dir = Files.createTempDirectory("graft-cache").toString
    CrawlLoop.run(spark, new TableIO(dir), CorpusGen.seeds(cfg.corpus, 2), cfg, maxGens = 6)
    assert(user.storageLevel.useMemory, "crawl wiped the caller's cached Dataset")
    assert(user.collect().length == 100)
    // …and the crawl left no persists of its own behind (poll briefly:
    // unpersist(blocking=false) may lag a beat)
    val deadline = System.nanoTime() + 5000000000L
    var leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leftover.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(leftover.isEmpty, s"crawl leaked persisted RDDs: $leftover")
    user.unpersist()
  }

  test("state layer is Hadoop-FS addressable: crawl, compaction and resume over a file:// URI workDir") {
    // the whole state layer — commit fence, delta listing, compaction
    // markers, lineage, sketch checkpoints + GC — must work when the workDir
    // is addressed through a Hadoop FileSystem URI (on a real cluster:
    // hdfs:// or s3a://; in the sandbox the file:// scheme exercises the
    // same code path: every probe goes through FileSystem/FileContext,
    // nothing through java.nio)
    val spark = SparkSuite.spark
    val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24),
      perHostCap = 3, fetchMode = graft.operators.FetchMode.Generator,
      seenCompactEvery = 3) // exercise the compaction markers over the URI too
    val seeds = CorpusGen.seeds(cfg.corpus, 2)
    val uriDir = "file://" + Files.createTempDirectory("graft-uri").toString
    CrawlLoop.run(spark, new TableIO(uriDir), seeds, cfg, maxGens = 4) // "crash"
    CrawlLoop.run(spark, new TableIO(uriDir), seeds, cfg, maxGens = 16) // resume via FS listing
    val io = new TableIO(uriDir)
    assert(io.committedMerges("seen").nonEmpty,
      "compaction never committed over the URI workDir")
    val engineGen = CrawlLoop.seenWithGen(spark, io).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val engineOutcomes = CrawlLoop.allOutcomes(spark, io).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val oracle = SeqCrawler.crawl(cfg, seeds, maxGens = 16)
    assert(engineGen == oracle.seenGen)
    assert(engineOutcomes == oracle.outcomes.toSet)
    // lineage metadata was recorded through the FS API as well
    assert(io.readManifest(io.lastCommittedGen().get).contains("\"lineage\""))
  }

  test("resume after a sketch-MODE switch rebuilds the sketch from seen (no false negatives)") {
    // run gens 0-4 with --sketch=none (no shard files on disk), then resume
    // with --sketch=bloom: the loop must rebuild the cumulative sketch from
    // the committed seen table, NOT start from an empty one — an empty
    // sketch answers "definitely new" for every previously seen URL, those
    // skip the exact anti-join, and the seen table grows duplicates
    val spark = SparkSuite.spark
    val corpus = CorpusConfig(seed = 42L, numHosts = 12, maxPages = 24)
    val seeds = CorpusGen.seeds(corpus, 2)
    val noneCfg = CrawlConfig(corpus = corpus, perHostCap = 3,
      fetchMode = graft.operators.FetchMode.Generator, seenSketch = "none")
    val bloomCfg = noneCfg.copy(seenSketch = "bloom")
    val dir = Files.createTempDirectory("graft-modeswitch").toString
    CrawlLoop.run(spark, new TableIO(dir), seeds, noneCfg, maxGens = 4)
    CrawlLoop.run(spark, new TableIO(dir), seeds, bloomCfg, maxGens = 16)
    val seenRows = CrawlLoop.seenWithGen(spark, new TableIO(dir)).collect()
    assert(seenRows.length == seenRows.map(_.getString(0)).distinct.length,
      "duplicate urls in seen — resume started from an empty sketch")
    val engineGen = seenRows.map(r => r.getString(0) -> r.getInt(1)).toMap
    val oracle = SeqCrawler.crawl(bloomCfg, seeds, maxGens = 16)
    assert(engineGen == oracle.seenGen)
  }
}
