package graft.operators

import graft.core.HostFilter
import graft.corpus.{CorpusConfig, CorpusGen}
import graft.functions.{BloomSketch, UrlFunctions}
import graft.model.{Document, Outcome}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** How pages are fetched (reference: Downloader trait, traits.rs:46-48).
 *  - CorpusJoin: equi-join frontier × documents table — the "corpus as a
 *    durable table" path; exercises the join machinery; cost ∝ corpus size.
 *  - Generator: narrow per-row fetch from the deterministic corpus function —
 *    the exact dataflow shape of the production `mapPartitions` HTTP fetcher
 *    (HttpFetcher): cost ∝ SELECTED tasks only, zero shuffle, no corpus scan.
 *  Both modes are golden-tested to produce identical crawls. */
sealed trait FetchMode extends Serializable
object FetchMode {
  case object CorpusJoin extends FetchMode
  case object Generator extends FetchMode
  /** Production path: real sockets via HttpFetcher (one pooled client per
   * executor), HTML anchor extraction, fused resolve+canonicalize. `rewrite`
   * maps a task URL to the URL actually fetched (identity in production; the
   * loopback golden test maps corpus hosts to 127.0.0.1:port).
   * `fetchWindow` = async requests in flight per fetch partition
   * (HttpFetcher.fetchWindowed): a real crawl is latency-bound, and a
   * synchronous send per task slot caps throughput at cores/RTT; the window
   * restores it to ≈ window×partitions/RTT. Per-host concurrency stays
   * ≤ perHostCap cluster-wide (the politeness cap bounds a host's selected
   * tasks per generation — the reference's prefetch-5 shape). 1 ⇒ strictly
   * sequential. `maxBodyBytes` caps every page body read (truncate-at-cap,
   * HttpFetcher bounded-bodies contract; `<= 0` = unbounded = the
   * reference's exact behavior); robots fetches use the fixed 512 KiB
   * robots convention regardless. */
  final case class Http(rewrite: String => String = identity,
      connectTimeoutMs: Int = 5000, requestTimeoutMs: Int = 20000,
      fetchWindow: Int = 16,
      maxBodyBytes: Long = graft.sources.HttpFetcher.DefaultMaxBodyBytes) extends FetchMode
}

/** Engine configuration for the BSP crawl loop. */
final case class CrawlConfig(
    corpus: CorpusConfig = CorpusConfig(),
    perHostCap: Int = 5,        // reference prefetch_count default (main.rs:126-132)
    /** Global fetches-per-generation cap, 0 = unlimited (reference parity).
     * The per-host cap bounds each HOST's work; nothing bounds the
     * GENERATION — at 10^8 discovered hosts one BSP step is hosts·cap
     * fetches. With a budget, only the best `genBudget` selected tasks
     * (global (priority, next_fetch, url) order, exact distributed top-B —
     * Politeness.capGlobalBudget) fetch this generation; the rest take the
     * deferred path and re-compete next generation. Winners ⊆ the per-host
     * selection, so politeness invariants are untouched. */
    genBudget: Long = 0L,
    saltBuckets: Int = 16,
    filter: HostFilter = HostFilter.NoFilter,
    useRobots: Boolean = true,
    requeueRejects: Boolean = false, // reference OBSERVED behaviour: requeue=false (rmqredis.rs:243-249 bug; SURVEY §7.4)
    maxRetries: Int = 3,
    bloomExpectedItems: Long = 1L << 20,
    bloomFpp: Double = 0.01,
    useBloomPrefilter: Boolean = true,
    /** Seen-sketch flavour: "bloom" (partitioned, union-merged, per-shard
     * growable), "cuckoo" (deletion-capable), or "none" (every candidate
     * takes the exact anti-join). */
    seenSketch: String = "bloom",
    /** Hash buckets of the partitioned seen-sketch. */
    sketchShards: Int = 16,
    /** Hybrid probe switchover: when the sketch's total checkpoint bytes
     * (bloom or cuckoo) are at or under this, the loop reads a snapshot ONCE
     * from the shard files and probes via the broadcast codegen'd expression
     * (zero extra shuffle, stays inside whole-stage codegen); above it
     * candidates route to the shard partitions (no sketch bytes move). 64 MB
     * default: well under executor/driver headroom, far above any sketch
     * that would make the routed shuffle noticeable. */
    sketchBroadcastMaxBytes: Long = 64L << 20,
    /** Bloom shard fill ratio that triggers a per-bucket rebuild with
     * doubled geometry (0.5 is the designed load). */
    shardFillCap: Double = 0.47,
    /** fetch-generation → host substrings whose seen entries are RETRACTED
     * at the start of that generation (retro-blacklist purge): removed from
     * the seen table and deleted from a cuckoo sketch, so rediscovered URLs
     * become re-crawlable. */
    retractHosts: Map[Int, Seq[String]] = Map.empty,
    fetchMode: FetchMode = FetchMode.CorpusJoin,
    /** Carry `host` through the global dedup shuffle (true) or re-derive it
     * after dedup by char-scan (false). Carrying is ~15% faster on a single
     * box (tmpfs shuffle ≈ memcpy); re-deriving cuts ~25% of shuffle BYTES —
     * the right trade on a network-shuffled cluster. Results identical
     * (golden-tested both ways). */
    carryHostThroughDedup: Boolean = true,
    /** Compact the `seen` delta log whenever it exceeds this many segments
     * (0 = never). Log-structured maintenance: at 10^10 URLs an unbounded
     * delta list would make every anti-join open thousands of directories. */
    seenCompactEvery: Int = 16,
    /** Archive fetched page payloads (url + span sequence) into a durable
     * per-generation `archive` table — the reference's non-default archive
     * path made real (archive/rmq.rs:29-43 publishes payload bytes; the
     * default Void archive, void.rs:7-11, remains `false`). All three fetch
     * modes supported; in Http mode the spans are parsed INSIDE the fetch
     * partition (Extract.spansFromHtml), so the raw body still never leaves
     * it. */
    archiveFetched: Boolean = false,
    /** Http-mode robots cache TTL in generations (0 = never expire, the
     * prior behavior). A cached robots answer fetched at generation g is
     * honored through generation g + ttl - 1 and re-fetched at g + ttl —
     * bounded staleness for long crawls (a site that tightens its
     * Disallow rules is obeyed within ttl generations, instead of never).
     * At most one answer per host is live at any generation (the windows
     * are disjoint by construction), so the cache needs no per-host dedup.
     * An updated Crawl-delay takes effect the generation AFTER the
     * re-check, exactly like a newly met host's. */
    robotsTtlGens: Int = 0
)

/** Output of one BSP generation (SURVEY.md §3.4). All DataFrames are lazy. */
final case class StepResult(
    /** Task rows for gen+1: newly discovered ∪ politeness-deferred ∪ requeued rejects. */
    nextFrontier: DataFrame,
    /** Newly discovered canonical URLs (⊆ nextFrontier) — the seen-set delta. */
    discovered: DataFrame,
    /** (gen, url, outcome, error_kind) for every fetch attempted this gen. */
    outcomes: DataFrame,
    /** Fetched payloads (doc_id, spans) when cfg.archiveFetched (S7). */
    archive: Option[DataFrame] = None,
    /** Per-stage row counts (A1/A2), populated once an action evaluates the
     * pipeline: extracted links, post-dedup candidates, post-filter allowed.
     * The observations ride the main job — no extra scans. */
    stageObservations: Map[String, org.apache.spark.sql.Observation] = Map.empty,
    /** (host, next_fetch) — earliest generation each crawl-delayed host may
     * fetch again; None when the delay feature is inactive. The caller
     * persists it per generation and feeds it back as `priorHostNext`. */
    hostNext: Option[DataFrame] = None,
    /** (host, disallows, delay) — robots rules fetched over the wire THIS
     * generation (Http mode, cache misses only). The caller appends them to
     * the durable robots cache and feeds the union back as `robotsCache`. */
    newRobots: Option[DataFrame] = None,
    /** Every frame `step` persisted — the caller unpersists EXACTLY these
     * once the generation is committed. (A session-wide
     * `spark.catalog.clearCache()` would silently evict any tables the
     * CALLER cached alongside the crawl.) */
    persisted: Seq[DataFrame] = Nil
)

/**
 * One generation of the BSP frontier pipeline — the declarative re-expression
 * of the reference's task-resolution loop (worker/src/worker.rs:58-172):
 *
 *   frontier(g) ─ politeness top-k per host (O1)
 *     ─ fetch = equi-join against the corpus table (S5; the HTTP `mapPartitions`
 *       fetcher is the production path, `HttpFetcher`)
 *     ─ explode link spans + resolve + scheme filter (P1-P3)
 *     ─ canonicalize (P4-P6) + per-gen dedup (P7)
 *     ─ white/blacklist (F2/F3) + robots (north_rule)
 *     ─ bloom-prefiltered LEFT ANTI join vs `seen` (J1)
 *     ─ outcome routing (O2): ok / err / reject
 *
 * Everything before the two shuffles (per-host window; anti-join on url) is
 * narrow and stays inside whole-stage codegen except the four pure URL UDFs.
 */
object FrontierStep {

  import graft.model.Span

  /** Canonical seed tasks at gen 0 (deterministic priority from url hash). */
  def seedFrontier(spark: SparkSession, urls: Seq[String]): DataFrame = {
    import spark.implicits._
    urls.flatMap(graft.core.UrlCanon.canonicalize)
      .distinct
      .map(u => (u, graft.core.UrlCanon.hostOf(u), 0, 0L, 0, 0))
      .toDF("url", "host", "priority", "next_fetch", "retry_count", "gen")
  }

  /** Compat overload: a bare bloom sketch (or none) as the prefilter. */
  def step(
      spark: SparkSession,
      frontier: DataFrame,
      seen: DataFrame,
      seenBloom: Option[BloomSketch],
      docs: Dataset[Document],
      cfg: CrawlConfig,
      gen: Int): StepResult =
    step(spark, frontier, seen,
      seenBloom.map(b => SeenPrefilter.Bloom(
          spark.sparkContext.broadcast(new graft.functions.ShardedBloom(Array(b)))))
        .getOrElse(SeenPrefilter.Off),
      docs, cfg, gen)

  def step(
      spark: SparkSession,
      frontier: DataFrame,       // Task schema, all rows at generation g
      seen: DataFrame,           // single column `url`
      prefilter: SeenPrefilter,
      docs: Dataset[Document],
      cfg: CrawlConfig,
      gen: Int,
      /** (host, delay) — robots Crawl-delay per host in politeness windows;
       * None disables delay handling (zero plan overhead). */
      delays: Option[DataFrame] = None,
      /** (host, next_fetch) carried from the previous generation — stamps
       * NEW tasks of hosts whose delay window is still open (their existing
       * tasks already carry the stamp; a brand-new link to the same host
       * must not sneak in early). */
      priorHostNext: Option[DataFrame] = None,
      /** (host, disallows, delay) robots cache accumulated over previous
       * generations (Http mode): only cache-miss hosts get a robots.txt GET
       * this generation — at 10^6 hosts the cache saves 10^6 RTTs/gen. */
      robotsCache: Option[DataFrame] = None): StepResult = {
    import spark.implicits._

    // every frame this step persists, returned via StepResult.persisted so
    // the caller can unpersist exactly these after the commit fence
    val persistedFrames = Seq.newBuilder[DataFrame]

    // --- O1: politeness priority-queue cap, skew-salted, delay-aware ----------
    val delaysActive = delays.isDefined || priorHostNext.isDefined
    val polMarked = if (!delaysActive)
        Politeness.markTopKPerHost(frontier, cfg.perHostCap, cfg.saltBuckets)
      else
        Politeness.markEligibleTopK(frontier, cfg.perHostCap, cfg.saltBuckets,
          gen.toLong, delays)
    val marked = (if (cfg.genBudget > 0) {
        // capGlobalBudget runs an immediate counts job over the selected
        // rows — persist the politeness result first so the demote pass and
        // the unselected branch read it back instead of re-ranking
        val pm = polMarked.persist()
        persistedFrames += pm
        Politeness.capGlobalBudget(pm, cfg.genBudget)
      } else polMarked)
      .persist()
    persistedFrames += marked
    // Skew-break (north_rule "skewed-host salting to break hot-domain
    // partitions"): the politeness window leaves rows HOST-partitioned, so a
    // Zipf-head host would put its whole fetch+extract fan-out in one task.
    // Rebalance by url hash before the expensive per-page work. The partition
    // count is EXPLICIT: AQE would coalesce by map-output size, blind to the
    // ~12× link fan-out and per-page fetch cost downstream.
    val fetchParts = spark.sparkContext.defaultParallelism * 3
    val fetchable = marked.filter(col("selected")).drop("selected")
      .repartition(fetchParts, col("url"))
    val deferred = marked.filter(!col("selected")).drop("selected")

    // --- S5: fetch (reference downloader.rs:26-41) ----------------------------
    // Two physical strategies with identical semantics (golden-tested equal):
    //  - CorpusJoin: equi-join against the documents table ("the mock internet"
    //    as data). Broadcast never applies at web scale (corpus = the web) ⇒
    //    shuffle join on url; the joined rows (with spans) are persisted since
    //    recomputing the join is expensive.
    //  - Generator: narrow per-row fetch — the dataflow shape of the
    //    production mapPartitions HTTP path (HttpFetcher): cost ∝ selected
    //    tasks, zero shuffle. Outcome classification is split from span
    //    generation so the outcomes branch never materialises spans and
    //    NOTHING span-heavy is ever cached (spans exist only inside the ok
    //    branch of the link pipeline).
    // Missing pages classify 404 (Err) vs unreachable (Reject) via the pure
    // resolver (reference error mapping errors.rs:89-183).
    val corpusCfg = cfg.corpus
    val classify = udf((url: String) => CorpusGen.resolvePage(corpusCfg, url) match {
      case CorpusGen.PageLookup.Found(_, _) => Outcome.Ok
      case CorpusGen.PageLookup.NotFound    => Outcome.Err
      case CorpusGen.PageLookup.Unreachable => Outcome.Reject
    })
    val fetched = cfg.fetchMode match {
      case FetchMode.CorpusJoin =>
        fetchable
          .join(docs.toDF("doc_id", "spans"), fetchable("url") === col("doc_id"), "left")
          .withColumn("outcome",
            when(col("doc_id").isNotNull, Outcome.Ok).otherwise(classify(col("url"))))
          .persist()
      case FetchMode.Generator =>
        // PERSISTED like the other two modes (r6): the outcomes branch, the
        // link pipeline and (in the loop) the next-frontier write each run
        // as separate actions over this frame — unpersisted, every action
        // re-paid the politeness-output repartition AND the per-row
        // classification (measured ~3.3 s of the steady-state bench's two
        // actions). The Generator frame is narrow (task columns + outcome,
        // no spans), so the cache is cheap; span-heavy data still never
        // caches in this mode.
        fetchable.withColumn("outcome", classify(col("url"))).persist()
      case FetchMode.Http(rewrite, cTo, rTo, window, maxBody) =>
        // production shape: fetch + extract + normalise as ONE mapPartitions
        // (one pooled client per executor, downloader.rs:13-21; up to
        // `window` requests pipelined in flight per partition — see
        // FetchMode.Http scaladoc); the page body never leaves the
        // partition — only the per-page-deduped canonical (url, host)
        // pairs, the outcome, and (when archiving) the parsed span sequence
        // do. PERSISTED: the outcomes / links / rejects branches must not
        // re-fetch the network.
        val rw = rewrite
        val doArchive = cfg.archiveFetched
        fetchable
          .select("url", "host", "priority", "next_fetch", "retry_count", "gen")
          .as[graft.model.Task]
          .mapPartitions { it =>
            lazy val client = graft.sources.HttpFetcher.sharedClient(cTo)
            graft.sources.HttpFetcher.fetchWindowed(
                client, it, (tk: graft.model.Task) => rw(tk.url), rTo, window, maxBody)
              .map { case (tk, r) =>
              val (outcome, links, spans, cov) =
                if (r.outcome != Outcome.Ok) (r.outcome, Nil, Nil, 0.0)
                else graft.core.UrlCanon.decodeUtf8(r.body) match {
                  case None => (Outcome.Err, Nil, Nil, 0.0) // undecodable page ⇒ Parsing error (errors.rs:122-140)
                  case Some(html) =>
                    // ONE tokenizer pass yields hrefs + spans + coverage; the
                    // archive span parse (S7) happens HERE, inside the fetch
                    // partition — the raw body never leaves it
                    // (archive/rmq.rs:29-43 analogue). parse_cov is exact
                    // under the tolerant tokenizer (Extract.spanCoverage).
                    val (hrefs, allSp, cv) = graft.core.Extract.parsePage(html, doArchive)
                    val inPage = new java.util.HashSet[String]()
                    val ls = hrefs.iterator.flatMap { href =>
                      graft.core.UrlCanon.resolveCanonHost(tk.url, href) match {
                        case Some((u, host)) if inPage.add(u) => Iterator.single((u, host))
                        case _ => Iterator.empty
                      }
                    }.toSeq
                    val sp = if (doArchive) allSp else Nil
                    (Outcome.Ok, ls, sp, if (doArchive) cv else 0.0)
                }
              (tk.url, tk.host, tk.priority, tk.next_fetch, tk.retry_count, tk.gen,
                outcome, links, spans, cov)
            }
          }
          .toDF("url", "host", "priority", "next_fetch", "retry_count", "gen",
            "outcome", "links", "spans", "parse_cov")
          .persist()
    }

    persistedFrames += fetched // all three modes persist the fetch frame

    // --- S7 (non-default): durable archive of fetched payloads ----------------
    val archive: Option[DataFrame] =
      if (!cfg.archiveFetched) None
      else cfg.fetchMode match {
        case FetchMode.CorpusJoin =>
          Some(fetched.filter(col("outcome") === Outcome.Ok)
            .select(col("url").as("doc_id"), col("spans")))
        case FetchMode.Generator =>
          Some(fetched.filter(col("outcome") === Outcome.Ok).select("url").as[String]
            .mapPartitions { it =>
              it.flatMap(u => CorpusGen.resolvePage(corpusCfg, u) match {
                case CorpusGen.PageLookup.Found(h, p) =>
                  Iterator.single(CorpusGen.pageDoc(corpusCfg, h, p))
                case _ => Iterator.empty
              })
            }.toDF())
        case _: FetchMode.Http =>
          // spans were parsed inside the fetch partition (body never left it);
          // parse_cov flags pages whose markup escaped the corpus-shape scan
          Some(fetched.filter(col("outcome") === Outcome.Ok)
            .select(col("url").as("doc_id"), col("spans"), col("parse_cov")))
      }

    val outcomes = fetched.select(lit(gen).as("gen"), col("url"), col("outcome"),
      when(col("outcome") === Outcome.Ok, lit(""))
        .when(col("outcome") === Outcome.Err, lit("InvalidPage"))
        .otherwise(lit("NetworkError")).as("error_kind"))

    // --- P1-P6: link spans → resolved, canonical, hosted candidates.
    // Fused resolve+canonicalize+host UDF: one URL parse per link instead of
    // three — the per-link hot path is allocation-bound at scale.
    // The link streams emit (url, host) or canonical url only, per
    // cfg.carryHostThroughDedup (shuffle-bytes vs recompute trade, see flag).
    val carryHost = cfg.carryHostThroughDedup
    val links = cfg.fetchMode match {
      case FetchMode.CorpusJoin =>
        // the durable span table: links are kind='link' spans, resolved and
        // canonicalized by the fused single-parse UDF
        fetched.filter(col("outcome") === Outcome.Ok)
          .select(col("url").as("base_url"),
            explode(filter(col("spans"), s => s.getField("kind") === Span.Link)).as("span"))
          .select(col("base_url"), col("span.media_ref").as("href"))
          .withColumn("rch", UrlFunctions.resolveCanonHost(col("base_url"), col("href")))
          .filter(col("rch").isNotNull)
          .select((col("rch._1").as("url") +:
            (if (carryHost) Seq(col("rch._2").as("host")) else Nil)): _*)
      case FetchMode.Generator =>
        // inline fetch+extract+normalise as ONE typed mapPartitions — the
        // production HTTP path's shape (SURVEY S5; the reference worker runs
        // fetch→extract→normalise per task, worker.rs:70-119). One row
        // crossing per candidate instead of three UDF boundaries + explode;
        // within-page dedup (reference P7, defaultnormaliser.rs:22-34)
        // shrinks the global dedup shuffle.
        val pairs = fetched.filter(col("outcome") === Outcome.Ok).select("url").as[String]
          .mapPartitions { it =>
            it.flatMap { base =>
              CorpusGen.resolvePage(corpusCfg, base) match {
                case CorpusGen.PageLookup.Found(h, p) =>
                  val inPage = new java.util.HashSet[String]()
                  CorpusGen.pageHrefs(corpusCfg, h, p).iterator.flatMap { href =>
                    graft.core.UrlCanon.resolveCanonHost(base, href) match {
                      case Some((u, host)) if inPage.add(u) => Iterator.single((u, host))
                      case _ => Iterator.empty
                    }
                  }
                case _ => Iterator.empty
              }
            }
          }.toDF("url", "host")
        if (carryHost) pairs else pairs.select("url")
      case _: FetchMode.Http =>
        // links already extracted + canonicalized + page-deduped in the fetch pass
        val pairs = fetched.filter(col("outcome") === Outcome.Ok)
          .select(explode(col("links")).as("l"))
          .select(col("l._1").as("url"), col("l._2").as("host"))
        if (carryHost) pairs else pairs.select("url")
    }

    // --- P7: per-generation dedup (map-side partial via AQE + shuffle) -------
    val obsLinks = new org.apache.spark.sql.Observation(s"links_g$gen")
    val hostOfCanon = udf((u: String) => graft.core.UrlCanon.hostOfCanonical(u))
    val deduped = links.observe(obsLinks, count(lit(1)).as("n"))
      .dropDuplicates("url")
    val candidates =
      if (carryHost) deduped
      else deduped.withColumn("host", hostOfCanon(col("url"))) // re-derived post-dedup
    val obsCandidates = new org.apache.spark.sql.Observation(s"candidates_g$gen")
    val candidatesObs = candidates.observe(obsCandidates, count(lit(1)).as("n"))

    // --- F2/F3 + robots -------------------------------------------------------
    val hostFilter = cfg.filter
    val keepHost = udf((h: String) => hostFilter.keep(if (h == null) "" else h))
    val obsAllowed = new org.apache.spark.sql.Observation(s"allowed_g$gen")
    // NoFilter keeps everything — don't pay a per-candidate UDF round-trip
    // for a constant-true predicate (F1 is the common production setting)
    val hostFiltered =
      if (hostFilter == HostFilter.NoFilter) candidatesObs
      else candidatesObs.filter(keepHost(col("host")))
    var newRobotsOut: Option[DataFrame] = None
    val robotsFiltered =
      if (!cfg.useRobots) hostFiltered
      else cfg.fetchMode match {
        case FetchMode.Http(rewrite, cTo, rTo, window, _) =>
          // REAL robots over the wire, cached across generations: only hosts
          // missing from the durable robots cache get a GET this generation,
          // and only hosts that SURVIVED the white/blacklist — the crawler
          // never contacts a host it is configured to avoid. Missing/
          // unreachable robots ⇒ allow-all (standard lenient behaviour),
          // cached as such so the 404 is also paid once.
          val rw = rewrite
          val hostsNeeded = hostFiltered.select("host").distinct()
          val missingHosts = robotsCache match {
            case Some(c) => hostsNeeded.join(c.select("host"), Seq("host"), "left_anti")
            case None    => hostsNeeded
          }
          val fetchedRules = FrontierStep.fetchRobotsRules(missingHosts.as[String], rw, cTo, rTo, window)
            .persist() // read twice: the filter join below + the cache append
          persistedFrames += fetchedRules
          // only DEFINITIVE answers enter the durable cache — a transient
          // robots failure (outcome Reject ⇒ definitive=false) is allow-all
          // for this generation only and re-fetched next generation
          newRobotsOut = Some(
            fetchedRules.filter(col("definitive")).drop("definitive"))
          // rules relevant THIS generation: the cache rows for needed hosts
          // (semi-join prune) plus ALL fresh fetches, transient included.
          // Explicit projection: cache rows carry fetched_gen (TTL bookkeeping,
          // CrawlLoop) which the rules join doesn't want
          val rules = (robotsCache
              .map(_.select("host", "disallows", "delay")
                .join(hostsNeeded, Seq("host"), "left_semi")).toSeq :+
              fetchedRules.drop("definitive"))
            .reduce(_ unionByName _)
          val robotsAllowed = udf((ds: Seq[String], url: String) =>
            graft.core.Robots.allowed(if (ds == null) Nil else ds, url))
          // no broadcast hint: the rules side is semi-join-pruned to this
          // generation's candidate hosts, but that set is UNBOUNDED (the
          // politeness cap bounds per-host fetches, not distinct candidate
          // hosts) — at 10^6+ hosts/gen with disallow arrays a forced
          // broadcast is a driver/executor memory risk. AQE picks broadcast
          // by measured size at small host counts, shuffle join otherwise.
          hostFiltered.join(rules.select("host", "disallows"), Seq("host"), "left")
            .filter(robotsAllowed(col("disallows"), col("url")))
            .drop("disallows")
        case _ =>
          // corpus modes: rules derived PER ROW from the deterministic
          // corpus (a modulo on the parsed host index). The previous form —
          // robotsTable → driver groupBy map → broadcast — cost ~12 s of
          // serial driver wall per generation at 4.8M hosts (SizeEstimator +
          // java-serialize + lz4 of a numHosts-sized HashMap, jstack-
          // measured), paid identically at every cluster size: exactly the
          // §2d/§2f "idle wall" term. Deriving at the row is free and scales
          // with executors, not with the driver.
          val robotsOk = udf((host: String, url: String) =>
            graft.core.Robots.allowed(
              CorpusGen.robotsForHostName(corpusCfg, host), url))
          hostFiltered.filter(robotsOk(col("host"), col("url")))
      }
    val allowed = robotsFiltered.observe(obsAllowed, count(lit(1)).as("n"))

    // --- J1: cull_known — sketch-prefiltered exact anti-join ------------------
    // One LEFT ANTI join keyed on the url, with the sketch's "maybe seen" tag
    // in its condition: only a maybe-seen row can be culled, and the sketch
    // has no false negatives, so no URL is lost (SURVEY §7.3). Every row
    // still takes the join's key lookup and, when `seen` is too large to
    // broadcast, its exchange; keyed on the url, the rows stay evenly spread
    // over that exchange. Not split into a
    // definitely-new half and a maybe-seen half: uncached, the candidates
    // would be computed once per half (link extraction and the dedup
    // exchange included); cached, their plan would nest in every write's
    // plan, which the SQL status store retains. The tagged rows are read
    // once, so the routed probe's RDD round trip runs once.
    val discoveredUrls = prefilter match {
      case SeenPrefilter.Off =>
        allowed.join(seen, Seq("url"), "left_anti")
      case pf if cfg.useBloomPrefilter =>
        val tagged = pf.tag(allowed)
        tagged.join(seen, tagged("url") === seen("url") && tagged("_maybe"), "left_anti")
          .drop("_maybe")
      case _ =>
        allowed.join(seen, Seq("url"), "left_anti")
    }

    val discovered = discoveredUrls.select("url", "host").persist()
    persistedFrames += discovered

    // --- O2: outcome routing — requeue rejects (documented semantics, flagged)
    val rejects =
      if (cfg.requeueRejects)
        fetched.filter(col("outcome") === Outcome.Reject && col("retry_count") < cfg.maxRetries)
          .select(col("url"), col("host"), col("priority"),
            col("next_fetch"), (col("retry_count") + 1).as("retry_count"),
            lit(gen + 1).as("gen"))
      else spark.emptyDataFrame

    // priority via the engine's own pure hash so the sequential golden oracle
    // (plain Scala, no Spark) computes byte-identical values
    val prioUdf = udf((u: String) => FrontierStep.priorityOf(u))
    val newTasks = discovered.select(
      col("url"), col("host"),
      prioUdf(col("url")).as("priority"),
      lit(0L).as("next_fetch"), lit(0).as("retry_count"), lit(gen + 1).as("gen"))

    val carried = deferred.select(col("url"), col("host"), col("priority"),
      col("next_fetch"), col("retry_count"), col("gen"))

    val nextFrontierRaw =
      if (cfg.requeueRejects) newTasks.unionByName(carried).unionByName(rejects)
      else newTasks.unionByName(carried)

    // --- crawl-delay bookkeeping (north_rule "per-host politeness delays"):
    // hosts fetched this generation with Crawl-delay d may not fetch again
    // before gen + d. The host-level state (tiny: one row per delayed host
    // with an open window) is authoritative for NEW tasks; every task row in
    // the next frontier gets next_fetch = max(own, host window) in ONE
    // host-keyed join — the optimizer broadcasts the small side.
    val hostNextUpdated: Option[DataFrame] = {
      val fetchedDelayed = delays.map { d =>
        marked.filter(col("selected")).select("host").distinct()
          .join(d.select(col("host"), col("delay")), Seq("host"))
          .select(col("host"),
            (lit(gen.toLong) + col("delay").cast("long")).as("next_fetch"))
      }
      val stillOpen = priorHostNext.map(_.filter(col("next_fetch") > gen.toLong))
      (stillOpen.toSeq ++ fetchedDelayed.toSeq).reduceOption(_ unionByName _)
        .map(_.groupBy("host").agg(max("next_fetch").as("next_fetch")))
    }
    val nextFrontier = hostNextUpdated match {
      case None => nextFrontierRaw
      case Some(hn) =>
        nextFrontierRaw
          .join(hn.withColumnRenamed("next_fetch", "_hnf"), Seq("host"), "left")
          .withColumn("next_fetch",
            greatest(col("next_fetch"), coalesce(col("_hnf"), lit(0L))))
          .drop("_hnf")
    }

    StepResult(nextFrontier, discovered, outcomes, archive,
      Map("links" -> obsLinks, "candidates" -> obsCandidates, "allowed" -> obsAllowed),
      hostNext = hostNextUpdated, newRobots = newRobotsOut,
      persisted = persistedFrames.result())
  }

  /** Deterministic task priority ∈ [0,10) — pure, shared with the oracle. */
  def priorityOf(url: String): Int =
    Math.floorMod(BloomSketch.hash(url, 0x70726fL), 10L).toInt

  /** GET + parse `/robots.txt` for each host (pooled client per partition).
   * Returns (host, disallows, delay, definitive). Used per generation for
   * cache-miss candidate hosts AND at bootstrap for the seed hosts — without
   * the bootstrap fetch, generation 1's politeness would select seed-host
   * URLs delay-blind at the full per-host cap (the cache is only appended
   * AFTER a generation's fetches).
   *
   * `definitive` separates answers the host actually gave from answers the
   * NETWORK gave: a 200 parse or an HTTP error status (404 ⇒ allow-all, the
   * standard lenient reading) is the host's answer and safe to cache
   * forever; a connect/timeout/5xx-free transport failure (outcome Reject)
   * says nothing about the host's rules. Transient failures still act as
   * allow-all for THIS generation (the reference fetches robots per task and
   * is equally blind during a blip, worker.rs:90-104) but callers must NOT
   * cache them — a cached blip would permanently erase the host's Disallow
   * rules and Crawl-delay, since cached hosts are never re-fetched. */
  def fetchRobotsRules(hosts: org.apache.spark.sql.Dataset[String],
      rewrite: String => String, connectTimeoutMs: Int,
      requestTimeoutMs: Int, window: Int = 16): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    hosts.mapPartitions { it =>
      lazy val client = graft.sources.HttpFetcher.sharedClient(connectTimeoutMs)
      graft.sources.HttpFetcher.fetchWindowed(
          client, it, (h: String) => rewrite(s"http://$h/robots.txt"),
          requestTimeoutMs, window,
          // robots bodies cap at the conventional 512 KiB (parse the prefix)
          graft.sources.HttpFetcher.RobotsMaxBodyBytes)
        .map { case (h, r) =>
          val rules =
            if (r.outcome != Outcome.Ok) graft.core.RobotsRules.allowAll
            else graft.core.UrlCanon.decodeUtf8(r.body)
              .map(graft.core.RobotsRules.parse)
              .getOrElse(graft.core.RobotsRules.allowAll)
          (h, rules.disallows, rules.crawlDelay.getOrElse(0),
            r.outcome != Outcome.Reject)
        }
    }.toDF("host", "disallows", "delay", "definitive")
  }
}
