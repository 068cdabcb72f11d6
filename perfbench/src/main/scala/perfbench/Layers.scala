package perfbench

import graft.SparkEntry
import graft.core.{Robots, UrlCanon}
import graft.corpus.{CorpusGen, CorpusTables}
import graft.functions.{BloomSeenShard, CuckooSeenShard, SeenShard, ShardStore, ShardedBloom}
import graft.loop.CrawlLoop
import graft.operators.{CrawlConfig, FrontierStep, Politeness, SeenPrefilter}
import graft.plans.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * Per-layer metrics of the traced run, each taken by timing calls into a
 * module's public entry points from outside the program.
 *
 * Every traced run reports every per-layer metric (`allNames`); a layer the
 * run does not drive reports 0.
 */
object Layers {
  val Actions = Seq("frontier_write", "seen_write", "outcomes_write", "sketch_build",
    "seen_compaction", "retraction")
  /** Actions that run before a generation's commit, inside its manifest wall. */
  private val PostCommit = Set("seen_compaction", "robots_compaction")

  val LoopNames: Seq[String] =
    Actions.flatMap(a => Seq(s"$a.wall_ms", s"$a.task_ms", s"$a.shuffle_bytes")) ++
      Seq("driver_gap_ms", "trace.labelled_share", "trace.unaccounted_ms",
        "sketch.fill", "sketch.bytes")
  val ReplayNames: Seq[String] = Seq(
    "politeness.wall_s", "politeness.rows_in", "politeness.selected",
    "fetch_extract.ns_per_page", "fetch_extract.links_per_page",
    "frontier.links", "frontier.candidates", "frontier.allowed", "frontier.dedup_shuffle_bytes",
    "robots.ns_per_check",
    "seen_probe.wall_s", "seen_probe.maybe_seen", "seen_probe.maybe_ratio", "seen_probe.fp_rate",
    "seen_probe.bloom_wall_s", "seen_probe.sharded_wall_s",
    "anti_join.wall_s", "anti_join.rows_in", "anti_join.seen_rows",
    "retraction_cuckoo.wall_s", "retraction_cuckoo.deleted")
  def catalogueNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.map(n => s"q.${n.take(3)}.warm_s") ++
      Catalogue.Families.flatMap { case (f, _) => Seq(s"q.$f.cold_s", s"q.$f.warm_s") } :+
      "q.cached_left"

  def allNames: Seq[String] = LoopNames ++ ReplayNames ++ catalogueNames :+ "trace.overhead_s"

  /** Labelled job time per generation that may fall outside its window
   * before the self-check fails: the manifest wall is whole milliseconds and
   * the listener's event instants are the driver's millisecond clock. */
  val UnaccountedTolMsPerGen = 10L

  /**
   * Labelled loop actions of one traced crawl. A generation's window is its
   * manifest wall, ending at the manifest's commit instant; `driver_gap_ms`
   * is the part of that window no pre-commit labelled job covers.
   *
   * Self-check: every labelled job must belong to a generation with a
   * manifest, pre-commit jobs must run inside their generation's window and
   * post-commit jobs (compaction) after its commit. Job time that breaks
   * this is `trace.unaccounted_ms`; above the tolerance, or with a job
   * whose generation has no manifest, the run fails. Sketch health is read
   * from the crawl's last committed sketch.
   */
  def loopActions(ctx: RunCtx, cfg: CrawlConfig, tracer: Tracer, dir: String,
      res: CrawlLoop.RunResult): Unit = {
    val rec = ctx.rec
    tracer.settle()
    val io = new TableIO(dir)
    val commits = Loop.commitTimes(dir, res.lastGen).map(_ / 1000000L)
    val WallRe = """"wall_ms"\s*:\s*(\d+)""".r
    val jobs = tracer.labelledJobs
    val orphans = jobs.map(_.label).filter { case (g, _) => g < 1 || g > res.lastGen }.distinct
    if (orphans.nonEmpty)
      rec.fail(s"traced crawl: labelled jobs of generations without a manifest: ${orphans.take(5)}")
    val gaps = mutable.ArrayBuffer.empty[Double]
    var labelled = 0L
    var walls = 0L
    var outside = 0L
    for (g <- 1 to res.lastGen) {
      val wall = WallRe.findFirstMatchIn(io.readManifest(g)).map(_.group(1).toLong).getOrElse {
        rec.fail(s"traced crawl: generation $g manifest has no wall_ms")
        0L
      }
      val (hi, lo) = (commits(g), commits(g) - wall)
      val (post, pre) = jobs.filter(_.label._1 == g).partition(j => PostCommit(j.label._2))
      val preSpans = pre.map(j => (j.start, j.end))
      val inside = Tracer.unionMs(preSpans, lo, hi)
      outside += Tracer.unionMs(preSpans) - inside
      outside += Tracer.unionMs(post.map(j => (j.start, j.end)), hi = hi)
      gaps += (wall - inside).toDouble
      labelled += inside
      walls += wall
    }
    if (outside > UnaccountedTolMsPerGen * res.lastGen)
      rec.fail(s"traced crawl: $outside ms of labelled job time fall outside their " +
        s"generation's manifest wall (tolerance ${UnaccountedTolMsPerGen * res.lastGen} ms)")
    val totals = tracer.labelTotals
    for (a <- Actions) {
      val mine = jobs.filter(_.label._2 == a)
      val wallMs = mine.groupBy(_.label._1).values.map(js => Tracer.unionMs(js.map(j => (j.start, j.end)))).sum
      val (taskMs, shuffle) = totals.collect { case ((_, act), v) if act == a => v }
        .foldLeft((0L, 0L)) { case ((x, y), (p, q)) => (x + p, y + q) }
      rec.layer(s"$a.wall_ms") = wallMs.toDouble
      rec.layer(s"$a.task_ms") = taskMs.toDouble
      rec.layer(s"$a.shuffle_bytes") = shuffle.toDouble
    }
    rec.layer("driver_gap_ms") = Stats.median(gaps.toSeq)
    rec.layer("trace.labelled_share") = if (walls > 0) labelled.toDouble / walls else 0.0
    rec.layer("trace.unaccounted_ms") = outside.toDouble
    rec.info("driver_gap_ms_per_generation") = gaps.toSeq

    val sketch = ShardStore.readAll(io, res.lastGen, math.max(1, cfg.sketchShards))
    rec.layer("sketch.fill") = if (sketch.isEmpty) 0.0 else sketch.map(fill).sum / sketch.size
    rec.layer("sketch.bytes") = sketch.map(_.serialize().length.toLong).sum.toDouble
  }

  /**
   * Replays the generation after a finished crawl from outside the program:
   * the last committed frontier against the whole seen table. Times
   * `Politeness.markTopKPerHost`; runs `FrontierStep.step` without a probe
   * for the link funnel and the size of its url-keyed dedup exchange;
   * recomputes the generation's allowed set and times `SeenPrefilter.tag`
   * on it — the loop's own broadcast bloom path and the routed cuckoo shards,
   * both sketches built by `ShardStore.build` — then the exact anti-join of
   * the maybe-seen rows; times fetch+extract+canonicalize and the
   * host+robots check single-threaded.
   */
  def crawlReplay(ctx: RunCtx, cfg: CrawlConfig, dir: String, gen: Int): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    import spark.implicits._
    val io = new TableIO(dir)
    val frontier = spark.read.parquet(io.genDir("frontier", gen))
    val seen = CrawlLoop.seenWithGen(spark, io).select("url")

    // politeness
    val (sel, polS) = Stats.time(
      Politeness.markTopKPerHost(frontier, cfg.perHostCap, cfg.saltBuckets)
        .groupBy("selected").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap)
    rec.layer("politeness.wall_s") = polS
    rec.layer("politeness.rows_in") = sel.values.sum.toDouble
    rec.layer("politeness.selected") = sel.getOrElse(true, 0L).toDouble

    // link funnel and dedup exchange of the real step, probe off
    val st = FrontierStep.step(spark, frontier, seen, SeenPrefilter.Off,
      CorpusTables.documents(spark, cfg.corpus), cfg, gen)
    st.discovered.count()
    def observed(k: String): Long =
      st.stageObservations(k).get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
    rec.layer("frontier.links") = observed("links").toDouble
    rec.layer("frontier.candidates") = observed("candidates").toDouble
    rec.layer("frontier.allowed") = observed("allowed").toDouble
    rec.layer("frontier.dedup_shuffle_bytes") = dedupExchangeBytes(st.discovered.queryExecution.executedPlan).toDouble
    val stepAllowed = observed("allowed")
    st.persisted.foreach(_.unpersist(blocking = true))

    // the allowed set, recomputed from the corpus functions
    val corpus = cfg.corpus
    val keep = cfg.filter
    val robotsOk = udf((host: String, url: String) =>
      keep.keep(host) && Robots.allowed(CorpusGen.robotsForHostName(corpus, host), url))
    val selected = Politeness.markTopKPerHost(frontier, cfg.perHostCap, cfg.saltBuckets)
      .filter(col("selected")).select("url").as[String]
    val allowed = selected.mapPartitions(_.flatMap(pageLinks(corpus, _)))
      .toDF("url", "host").dropDuplicates("url")
      .filter(robotsOk(col("host"), col("url"))).persist()
    val allowedN = allowed.count()
    if (allowedN != stepAllowed)
      rec.fail(s"replayed generation: FrontierStep observed $stepAllowed allowed rows, " +
        s"recomputation has $allowedN")

    // seen probe: both paths on the same allowed set
    val seenUrls = seen.select("url").as[String]
    val seenN = seen.count()
    val shardsN = math.max(1, cfg.sketchShards)
    val perShard = math.max(64L, cfg.bloomExpectedItems / shardsN)
    def build(kind: String) = {
      val b = ShardStore.build(seenUrls, shardsN, kind, perShard, cfg.bloomFpp).persist()
      b.count()
      b
    }
    val bloomShards = build("bloom")
    val bc = spark.sparkContext.broadcast(new ShardedBloom(
      bloomShards.collect().collect { case b: BloomSeenShard => b }.sortBy(_.id).map(_.sketch)))
    val routedShards = build("cuckoo")
    def probe(pf: SeenPrefilter): (DataFrame, Long, Double) = {
      val t0 = System.nanoTime()
      val tagged = pf.tag(allowed).persist()
      val maybe = tagged.filter(col("_maybe")).count()
      (tagged, maybe, Stats.secs(t0))
    }
    val (tagged, maybe, bloomS) = probe(SeenPrefilter.Bloom(bc))
    val (routedTagged, _, routedS) = probe(SeenPrefilter.Sharded(routedShards))
    rec.layer("seen_probe.bloom_wall_s") = bloomS
    rec.layer("seen_probe.sharded_wall_s") = routedS
    rec.layer("seen_probe.wall_s") = bloomS
    rec.layer("seen_probe.maybe_seen") = maybe.toDouble
    rec.layer("seen_probe.maybe_ratio") = if (allowedN > 0) maybe.toDouble / allowedN else 0.0

    // exact anti-join of the maybe-seen rows (J1)
    val (survivors, ajS) = Stats.time(
      tagged.filter(col("_maybe")).drop("_maybe").join(seen.select("url"), Seq("url"), "left_anti").count())
    rec.layer("anti_join.wall_s") = ajS
    rec.layer("anti_join.rows_in") = maybe.toDouble
    rec.layer("anti_join.seen_rows") = seenN.toDouble
    rec.layer("seen_probe.fp_rate") = if (maybe > 0) survivors.toDouble / maybe else 0.0

    // the retraction path on a cuckoo sketch (the loop's bloom keeps stale
    // bits and deletes nothing): routed fingerprint deletion of every seen
    // url of a fixed slice of hosts. Each deletion of a present url must
    // remove exactly one fingerprint unless a shard overflowed on insert.
    val hostOf = udf((u: String) => UrlCanon.hostOfCanonical(u))
    val retracted = seenUrls.filter(pmod(hash(hostOf(col("url"))), lit(RetractSlice)) === 0)
    val retractN = retracted.count()
    def cuckooItems(shards: org.apache.spark.rdd.RDD[SeenShard]): (Long, Boolean) =
      shards.map {
        case c: CuckooSeenShard => (c.items, c.tainted)
        case _ => (0L, true)
      }.collect().foldLeft((0L, false)) { case ((n, t), (m, u)) => (n + m, t || u) }
    val (itemsBefore, tainted) = cuckooItems(routedShards)
    val ((deletedShards, itemsAfter), retractS) = Stats.time {
      val d = ShardStore.update(routedShards, retracted, delete = true).persist()
      (d, cuckooItems(d)._1)
    }
    if (!tainted && itemsBefore - itemsAfter != retractN)
      rec.fail(s"replayed cuckoo retraction: deleted ${itemsBefore - itemsAfter} " +
        s"fingerprints for $retractN retracted urls")
    rec.layer("retraction_cuckoo.wall_s") = retractS
    rec.layer("retraction_cuckoo.deleted") = (itemsBefore - itemsAfter).toDouble
    rec.info("retraction_cuckoo_urls") = retractN
    rec.info("retraction_cuckoo_tainted") = tainted
    deletedShards.unpersist(blocking = true)

    bc.destroy()
    Seq(bloomShards, routedShards).foreach(_.unpersist(blocking = true))
    Seq(allowed, tagged, routedTagged).foreach(_.unpersist(blocking = true))

    // single-threaded: fetch+extract+canonicalize, then host+robots checks
    val pages = selected.limit(SamplePages).collect().toSeq
    val links = pages.flatMap(pageLinks(corpus, _))
    val perPage = timeEach(pages)(u => pageLinks(corpus, u).size)
    rec.layer("fetch_extract.ns_per_page") = perPage
    rec.layer("fetch_extract.links_per_page") = if (pages.isEmpty) 0.0 else links.size.toDouble / pages.size
    rec.layer("robots.ns_per_check") = timeEach(links) { case (u, h) =>
      if (keep.keep(h) && Robots.allowed(CorpusGen.robotsForHostName(corpus, h), u)) 1 else 0
    }
  }

  val SamplePages = 4000
  /** The replayed cuckoo retraction removes the hosts with hash % this == 0. */
  val RetractSlice = 20

  /** Fetch one page from the corpus and return its canonical, page-deduped
   * (url, host) links — what the Generator fetch does per selected task. */
  def pageLinks(corpus: graft.corpus.CorpusConfig, base: String): Seq[(String, String)] =
    CorpusGen.resolvePage(corpus, base) match {
      case CorpusGen.PageLookup.Found(h, p) =>
        val inPage = new java.util.HashSet[String]()
        CorpusGen.pageHrefs(corpus, h, p).flatMap { href =>
          UrlCanon.resolveCanonHost(base, href).filter(l => inPage.add(l._1))
        }
      case _ => Nil
    }

  /** ns per item of `f` over `items`, repeated until ≥ 0.2 s was measured. */
  private def timeEach[T](items: Seq[T])(f: T => Int): Double =
    if (items.isEmpty) 0.0
    else {
      var sink = 0L
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) {
        items.foreach(x => sink += f(x))
        n += items.size
      }
      val ns = (System.nanoTime() - t0).toDouble / n
      if (sink == Long.MinValue) println(sink) // keeps the work observable
      ns
    }

  private def fill(s: SeenShard): Double = s match {
    case b: BloomSeenShard => b.sketch.fillRatio
    case c: CuckooSeenShard => c.filter.table.count(_ != 0).toDouble / c.filter.table.length
    case _ => 0.0
  }

  /** Bytes written by the exchange that dedups links on `url`: a hash
   * partitioning on `url` directly above an aggregate grouped by `url`. */
  def dedupExchangeBytes(plan: SparkPlan): Long = {
    val found = mutable.ArrayBuffer.empty[Long]
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case other => other
    }
    def isUrlDedup(e: ShuffleExchangeExec): Boolean = {
      val onUrl = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("url")
        case _ => false
      }
      onUrl && (strip(e.child) match {
        case a: BaseAggregateExec => // the partial (map-side) half of the dedup
          a.requiredChildDistributionExpressions.isEmpty && a.groupingExpressions.map(_.name) == Seq("url")
        case _ => false
      })
    }
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case e: ShuffleExchangeExec =>
        if (isUrlDedup(e))
          found += e.metrics.get("shuffleBytesWritten").orElse(e.metrics.get("dataSize")).map(_.value).getOrElse(0L)
        walk(e.child)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    found.sum
  }
}
