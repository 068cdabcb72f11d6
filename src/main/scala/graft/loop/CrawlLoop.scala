package graft.loop

import graft.corpus.CorpusTables
import graft.functions.{SeenShard, ShardStore}
import graft.model.Document
import graft.operators.{CrawlConfig, FrontierStep, SeenPrefilter}
import graft.plans.TableIO
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Checkpointed BSP crawl loop (SURVEY.md §3.4, §4.4) — replaces the
 * reference's continuous RabbitMQ consumer loop (worker/src/rmqredis.rs:213-257)
 * with deterministic, resumable supersteps:
 *
 *   per generation g: read frontier(g) → FrontierStep.step → write
 *   frontier(g+1) + seen delta(g) + outcomes(g) → route the delta into the
 *   partitioned seen-sketch shards (never collected; each shard
 *   checkpoints ITSELF to sketch/gen=g — ShardStore scaladoc) →
 *   atomic commit manifest with per-partition lineage and per-stage metrics.
 *
 * The commit fence closes the reference's seen-set race (SURVEY.md §3.2):
 * generation g+1's anti-join only ever reads committed state, so a URL can
 * never be fetched twice — strictly fewer duplicate fetches than the
 * reference, identical final seen-set (set union is order-insensitive).
 *
 * Resume = `TableIO.lastCommittedGen()`; a crash mid-generation leaves no
 * visible state (manifest is written last, atomically).
 *
 * Action economy (this is the per-generation fixed cost that dominates when
 * frontiers are small, and is amortised when they are 10^6+ rows): every
 * row count and outcome tally piggybacks on the three writes via
 * `Observation` — no extra scan jobs; the only extra pass is the bloom
 * build over the (persisted) discovered set. The next generation's
 * frontier row count travels in the commit manifest, so the loop never
 * issues a bare `count()`.
 */
object CrawlLoop {

  final case class GenStats(
      gen: Int, frontierRows: Long, fetched: Long, discovered: Long,
      okCount: Long, errCount: Long, rejectCount: Long, wallMs: Long)

  final case class RunResult(stats: Seq[GenStats], lastGen: Int)

  private val taskCols =
    Seq("url", "host", "priority", "next_fetch", "retry_count", "gen")

  private val FrontierRowsRe = """"next_frontier_rows"\s*:\s*(\d+)""".r

  /** Run (or resume) the crawl until the frontier drains or maxGens. */
  def run(
      spark: SparkSession,
      io: TableIO,
      seeds: Seq[String],
      cfg: CrawlConfig,
      maxGens: Int = 50): RunResult = {

    val docs: Dataset[Document] = CorpusTables.documents(spark, cfg.corpus)
    import spark.implicits._

    // politeness Crawl-delay source: corpus fetch modes know it a priori;
    // Http mode learns it from robots.txt fetched over the wire, remembered
    // in the durable robots cache. None when inactive — zero plan overhead.
    val isHttp = cfg.fetchMode match {
      case _: graft.operators.FetchMode.Http => true
      case _ => false
    }
    val staticDelaysDf: Option[DataFrame] =
      if (!cfg.useRobots || isHttp) None
      else {
        val dt = graft.corpus.CorpusGen.delayTable(cfg.corpus)
        if (dt.isEmpty) None else Some(dt.toDF("host", "delay"))
      }
    /** Robots cache accumulated through generation `upTo` (Http mode),
     * serving generation `upTo + 1`. With a TTL, answers older than
     * `robotsTtlGens` generations are invisible — their hosts re-enter the
     * cache-miss path and re-fetch (CrawlConfig.robotsTtlGens contract);
     * every row carries `fetched_gen` so expiry survives compaction (a
     * merged segment keeps the original fetch generation per row). */
    def robotsCacheDf(upTo: Int): Option[DataFrame] = {
      val dirs = io.deltaDirs("robots", upTo)
      if (dirs.isEmpty) None
      else {
        // mergeSchema: segments written before the fetched_gen column
        // existed must not dictate the footer schema Spark samples
        val all = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        if (!all.columns.contains("fetched_gen"))
          // wholly pre-fetched_gen table: with a TTL every row's age is
          // unknown ⇒ treat all as expired (each host re-fetches once and
          // the table heals); without one, the original behavior
          if (cfg.robotsTtlGens > 0) None else Some(all)
        else {
          val visible =
            if (cfg.robotsTtlGens <= 0) all
            else all.filter(col("fetched_gen").isNotNull &&
              col("fetched_gen") > lit(upTo + 1 - cfg.robotsTtlGens))
          // newest answer wins. Under one fixed TTL the visibility windows
          // are disjoint (at most one live row per host), but a RESUMED
          // crawl may change the TTL — a larger one resurrects rows a
          // re-fetch already superseded, and ttl=0 after a TTL phase sees
          // every historical row; duplicate hosts here would duplicate
          // candidate rows through the rules join. One small aggregation
          // (#hosts rows, far below the frontier) makes the read robust to
          // any TTL history. null fetched_gen (pre-upgrade rows mixed with
          // new ones) ranks oldest.
          Some(visible
            .groupBy("host")
            .agg(max_by(
              struct(col("disallows"), col("delay"), col("fetched_gen")),
              coalesce(col("fetched_gen"), lit(-1))).as("_r"))
            .select(col("host"), col("_r.disallows").as("disallows"),
              col("_r.delay").as("delay"), col("_r.fetched_gen").as("fetched_gen")))
        }
      }
    }

    val useSketch = cfg.useBloomPrefilter && cfg.seenSketch != "none"
    val shardsN = math.max(1, cfg.sketchShards)
    val perShardExpected = math.max(64L, cfg.bloomExpectedItems / shardsN)

    // --- unified distributed seen-sketch (ShardStore scaladoc) ---------------
    // Shards live as a persisted RDD with FILE-BACKED lineage: each
    // generation they write themselves to sketch/gen=K/shard_I.bin (from
    // inside their partitions) and the next generation re-loads from those
    // files — reliable-checkpoint semantics (executor loss re-reads a file),
    // no driver collect, no monolithic blob. Only a sketch under
    // sketchBroadcastMaxBytes is broadcast, read from those files.
    var shards: Option[RDD[SeenShard]] = None
    // the checkpoint dir `shards` was loaded from: the hybrid probe's
    // snapshot source (gen=K_retract after a cuckoo retraction, so its
    // deletes are visible to the broadcast probe)
    var shardsDir = ""
    // the generation-scoped broadcast of the hybrid probe's SMALL regime
    // (destroyed after each generation; None in the routed regime)
    var genSketchBc: Option[org.apache.spark.broadcast.Broadcast[
      graft.functions.ShardedBloom]] = None

    /** Load the shard files in `dir`; persist + swap, dropping the previous
     * RDD. */
    def swapInShards(dir: String): Unit = {
      val loaded = ShardStore.load(spark, dir, shardsN, Some(cfg.seenSketch))
        .map(_.persist(StorageLevel.MEMORY_AND_DISK))
      shards.foreach(_.unpersist(blocking = false))
      shards = loaded
      shardsDir = dir
    }

    /** Rebuild the sketch from the committed seen table (derived state) —
     * the resume path when shard files are missing: a workDir previously run
     * with a different --sketch mode or pre-shard-file layout. Without this
     * an EMPTY sketch would answer "definitely new" for seen URLs ⇒ false
     * negatives ⇒ duplicate fetches. */
    def rebuildShardsFromSeen(upToGen: Int): Unit = {
      val seenSoFar = spark.read.parquet(io.deltaDirs("seen", upToGen): _*)
        .select("url").as[String]
      val built = ShardStore.build(
        seenSoFar, shardsN, cfg.seenSketch, perShardExpected, cfg.bloomFpp)
      ShardStore.write(built, io.sketchDir(upToGen))
      swapInShards(io.sketchDir(upToGen))
    }

    // --- bootstrap or resume -------------------------------------------------
    var frontierRows: Long = 0L
    val startGen: Int = io.lastCommittedGen() match {
      case Some(g) =>
        frontierRows = FrontierRowsRe.findFirstMatchIn(io.readManifest(g))
          .map(_.group(1).toLong)
          .getOrElse(spark.read.parquet(io.genDir("frontier", g)).count())
        if (useSketch) {
          swapInShards(io.sketchDir(g))
          if (shards.isEmpty) rebuildShardsFromSeen(g)
        }
        g + 1
      case None =>
        // bootstrap commit: seeds become frontier(0) AND seen delta(0) — the
        // reference marks a URL seen when enqueued (fanout to both queues,
        // rmqredis.rs:138-159; SURVEY §3.3)
        val seedDf = FrontierStep.seedFrontier(spark, seeds)
        seedDf.write.mode("overwrite").parquet(io.genDir("frontier", 0))
        seedDf.select(col("url"), lit(0).as("gen"))
          .write.mode("overwrite").parquet(io.genDir("seen", 0))
        // Http mode: fetch the SEED hosts' robots.txt into the gen-0 cache
        // delta, so generation 1's politeness already knows their
        // Crawl-delays — the per-generation cache append only covers
        // DISCOVERED hosts, and without this bootstrap fetch a delayed seed
        // host would be selected delay-blind at the full cap in gen 1
        // (diverging from the sequential oracle, which knows delays a
        // priori). Filtered hosts are never contacted, as everywhere.
        cfg.fetchMode match {
          case graft.operators.FetchMode.Http(rw, cTo, rTo, w, _) if cfg.useRobots =>
            val f = cfg.filter
            val keepSeed = udf((h: String) => f.keep(if (h == null) "" else h))
            FrontierStep.fetchRobotsRules(
                seedDf.filter(keepSeed(col("host"))).select("host")
                  .distinct().as[String], rw, cTo, rTo, w)
              .filter(col("definitive")).drop("definitive") // transient robots failures re-fetch at candidacy
              .withColumn("fetched_gen", lit(0))
              .write.mode("overwrite").parquet(io.genDir("robots", 0))
          case _ => ()
        }
        if (useSketch) {
          val built = ShardStore.build(
            spark.read.parquet(io.genDir("seen", 0)).select("url").as[String],
            shardsN, cfg.seenSketch, perShardExpected, cfg.bloomFpp)
          ShardStore.write(built, io.sketchDir(0))
          swapInShards(io.sketchDir(0))
        }
        val n = seedDf.count()
        io.commit(0,
          s"""{"gen":0,"kind":"bootstrap","seeds":${seeds.size},"next_frontier_rows":$n}""")
        frontierRows = n
        1
    }

    val stats = Seq.newBuilder[GenStats]
    var gen = startGen

    // per-stage wall-time attribution (A2): every action below is labelled;
    // the listener rows land in the `metrics` table at commit time
    val stageMetrics = new StageMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(stageMetrics)

    // Concurrent job submission for the per-generation writes: frontier,
    // seen, outcomes (+ optional archive/host_next/robots) are independent
    // actions over the same persisted step output, and running them
    // sequentially stacks their fixed costs (scheduling, commit protocol,
    // driver round-trips) into the ~5 s/generation floor that dominates
    // small-frontier (Crawl-delay-heavy) crawls. Submitted from separate
    // threads they overlap; shared un-materialised cache partitions are
    // computed exactly once (BlockManager write locks serialize concurrent
    // getOrElseUpdate), so no fetch or extract runs twice. Each thread sets
    // its own job-local metrics label (localProperties are per-thread).
    val writePool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val t = new Thread(r, "graft-gen-write"); t.setDaemon(true); t })
    implicit val writeEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(writePool)
    // Awaits COMPLETION of every write, then rethrows the first failure. A
    // fail-fast Future.sequence would propagate one write's exception while
    // sibling write jobs are still running; the error path's cleanup then
    // destroys the generation's probe broadcast under them (shutdown() does
    // not cancel in-flight jobs), masking the root cause with
    // broadcast-destroyed errors from the survivors.
    def awaitAll(fs: Seq[scala.concurrent.Future[Unit]]): Unit = {
      val settled = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          fs.map(_.transform(t => scala.util.Success(t)))),
        scala.concurrent.duration.Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
    }

    // metrics writes are observability-only and land AFTER the commit fence;
    // submitted async (r6) so their job latency leaves the per-generation
    // wall — awaited once before returning so failures still surface
    val metricsFuts = Seq.newBuilder[scala.concurrent.Future[Unit]]

    try {

    while (gen <= maxGens && frontierRows > 0L) {
      val t0 = System.nanoTime()
      val prevGen = gen - 1

      // --- retro-blacklist retraction (deletion path): purge matching hosts
      // from the seen table (atomic compaction rewrite) and DELETE them from
      // the cuckoo sketch; a bloom keeps its stale bits (false positives
      // only — the exact anti-join rescreens them). Rediscovered URLs are
      // then re-crawlable with a fresh generation.
      cfg.retractHosts.get(prevGen).foreach { subs =>
        stageMetrics.labelled(gen, "retraction") {
          val matchHost = udf((u: String) =>
            subs.exists(graft.core.UrlCanon.hostOfCanonical(u).contains))
          val allSeen = spark.read.parquet(io.deltaDirs("seen", prevGen): _*)
          // (1) STAGE the purged rewrite: the final [0, prevGen] merge dir
          // is itself an INPUT whenever the previous generation's compaction
          // collapsed the whole cover — an in-place overwrite would read and
          // delete the same files in one job. The stage dir never collides.
          val obsP = Observation()
          allSeen.filter(!matchHost(col("url")))
            .repartition(spark.sparkContext.defaultParallelism, col("url"))
            .observe(obsP, count(lit(1)).as("rows"))
            .write.mode("overwrite").parquet(io.mergeStageDir("seen", 0, prevGen))
          // (2) routed per-shard fingerprint deletion (cuckoo only — bloom
          // keeps stale bits by design), file-checkpointed to a
          // retraction-scoped sketch dir and RELOADED before any old segment
          // is deleted: a cached-only RDD's lineage still reads the old
          // files, and an executor loss after the GC below would recompute
          // from deleted paths. The dedicated dir (not prevGen's, not
          // gen's) keeps crash replay exact: resume always reloads the
          // PRE-delete prevGen checkpoint, so the delete-scan never runs
          // twice against already-deleted fingerprints (a cuckoo delete of
          // an absent key can evict a colliding present key).
          val retractCkpt = io.sketchDir(gen) + "_retract"
          if (cfg.seenSketch == "cuckoo") shards.foreach { rdd =>
            ShardStore.write(ShardStore.update(rdd,
                allSeen.filter(matchHost(col("url"))).select("url").as[String],
                delete = true), retractCkpt)
            swapInShards(retractCkpt)
          }
          // (3) swap the staged data into place, then commit and GC: every
          // reader of the old segments (the stage write, the delete-scan,
          // the checkpoint) has finished, and the live sketch RDD's lineage
          // is the retraction checkpoint files, not the old segments
          io.promoteStagedMerge("seen", 0, prevGen)
          io.commitMerge("seen", 0, prevGen,
            obsP.get.apply("rows").asInstanceOf[Long])
          io.gcCovered("seen")
        }
      }

      val frontier = spark.read.parquet(io.genDir("frontier", prevGen))
      val seen = spark.read.parquet(io.deltaDirs("seen", prevGen): _*).select("url")
      // hybrid probe selection (sized by the live shards' checkpoint files,
      // one FS listing): a SMALL sketch, bloom or cuckoo, is read once
      // driver-side from the files the live RDD was loaded from and probed
      // through the broadcast codegen'd expression — zero extra shuffle, no
      // RDD round-trip out of Catalyst; past the threshold candidates route
      // to the shard partitions and no sketch bytes move at all.
      val prefilter: SeenPrefilter = shards match {
        case None => SeenPrefilter.Off
        case Some(rdd) =>
          val bytes = io.dirBytes(shardsDir)
          val snapshot =
            if (bytes >= 0 && bytes <= cfg.sketchBroadcastMaxBytes)
              ShardStore.readDir(io, shardsDir, shardsN)
            else Nil
          if (snapshot.size == shardsN) {
            val bc = spark.sparkContext.broadcast(
              new graft.functions.ShardedBloom(snapshot.toArray))
            genSketchBc = Some(bc)
            SeenPrefilter.Bloom(bc)
          } else SeenPrefilter.Sharded(rdd)
      }

      // per-generation delay table: static corpus ground truth, or the
      // delayed hosts remembered in the robots cache (Http mode)
      val robotsCache: Option[DataFrame] =
        if (isHttp && cfg.useRobots) robotsCacheDf(prevGen) else None
      val delaysDf: Option[DataFrame] =
        if (isHttp) robotsCache.map(_.filter(col("delay") >= 1).select("host", "delay"))
        else staticDelaysDf

      // host-level delay windows carried from the previous generation
      val priorHostNext: Option[DataFrame] = {
        val d = io.genDir("host_next", prevGen)
        if ((delaysDf.isDefined || isHttp) && io.dirExists(d))
          Some(spark.read.parquet(d))
        else None
      }

      val res = FrontierStep.step(spark, frontier, seen, prefilter, docs, cfg,
        prevGen, delaysDf, priorHostNext, robotsCache)

      // ---- the "fanout exchange" writes: discovered computed once, two
      // readers; all counts observed on the writes themselves (no extra
      // scans); the 3-6 independent write actions submit CONCURRENTLY so
      // their fixed costs overlap (see writePool note above)
      val obsFrontier = Observation()
      val obsSeen = Observation()
      val obsOut = Observation()
      // the sketch's routed insert + file checkpoint reads only the persisted
      // discovered frame — independent of the parquet writes, so it joins the
      // concurrent batch (r6; it previously ran as its own sequential phase
      // after awaitAll, adding its full wall to every generation). Only the
      // RARE degraded-rebuild path needs this generation's seen files on
      // disk; it runs after the barrier below.
      val sketchFut: Option[scala.concurrent.Future[
          (RDD[SeenShard], Seq[ShardStore.ShardMeta])]] =
        if (!useSketch) None
        else shards.map { prev => scala.concurrent.Future {
          stageMetrics.labelled(gen, "sketch_build") {
            val updated = ShardStore.update(
              prev, res.discovered.select("url").as[String])
            (updated, ShardStore.write(updated, io.sketchDir(gen), cfg.shardFillCap))
          }
        }}
      awaitAll(Seq(
        scala.concurrent.Future {
          stageMetrics.labelled(gen, "frontier_write") {
            // politeness + fetch + extract + normalise + filter + cull all
            // evaluate inside this action (the reference's per-task pipeline,
            // worker.rs:68-131) — its Spark stages carry their wall-times
            res.nextFrontier.select(taskCols.map(col): _*)
              .observe(obsFrontier, count(lit(1)).as("rows"))
              .write.mode("overwrite").parquet(io.genDir("frontier", gen))
          }
        },
        scala.concurrent.Future {
          stageMetrics.labelled(gen, "seen_write") {
            res.discovered.select(col("url"), lit(gen).as("gen"))
              .observe(obsSeen, count(lit(1)).as("rows"))
              .write.mode("overwrite").parquet(io.genDir("seen", gen))
          }
        },
        scala.concurrent.Future {
          stageMetrics.labelled(gen, "outcomes_write") {
            res.outcomes
              .observe(obsOut,
                count(lit(1)).as("n"),
                sum(when(col("outcome") === "ok", 1L).otherwise(0L)).as("ok"),
                sum(when(col("outcome") === "err", 1L).otherwise(0L)).as("err"),
                sum(when(col("outcome") === "reject", 1L).otherwise(0L)).as("reject"))
              .write.mode("overwrite").parquet(io.genDir("outcomes", gen))
          }
        }) ++
        // S7 archive (non-default): fetched payloads per generation
        res.archive.map(a => scala.concurrent.Future {
          stageMetrics.labelled(gen, "archive_write") {
            a.write.mode("overwrite").parquet(io.genDir("archive", gen))
          }
        }) ++
        // crawl-delay host windows for the next generation (tiny table:
        // one row per delayed host with an open window)
        res.hostNext.map(hn => scala.concurrent.Future {
          stageMetrics.labelled(gen, "host_next_write") {
            hn.write.mode("overwrite").parquet(io.genDir("host_next", gen))
          }
        }) ++
        // robots cache append (Http mode): this generation's cache-miss
        // fetches become a durable delta — each host pays its robots RTT once
        res.newRobots.map(nr => scala.concurrent.Future {
          stageMetrics.labelled(gen, "robots_write") {
            nr.withColumn("fetched_gen", lit(gen))
              .write.mode("overwrite").parquet(io.genDir("robots", gen))
          }
        }) ++
        // the concurrent sketch insert+checkpoint (see sketchFut above) —
        // awaited in the same barrier so a failure surfaces with the writes
        sketchFut.map(f => f.map(_ => ())))

      // ---- incremental seen-sketch maintenance: the routed insert + file
      // checkpoint already ran concurrently with the writes (sketchFut);
      // here only the RARE degraded-rebuild path (which needs this
      // generation's just-written seen files) and the shard swap remain
      sketchFut.foreach { f =>
        val fr = scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf)
        locally {
          val (updated, meta) = fr
          val degraded = meta.filter(_.needsRebuild).map(_.id).toSet
          if (degraded.nonEmpty) {
            // rare path: degraded shards (bloom fill past the cap / cuckoo
            // kick-loop overflow ⇒ tainted) rebuild ALONE inside their
            // partitions with geometry grown from their exact item count —
            // the sketch never silently degrades (north_rule partitioned
            // union-merge). The full seen set = committed deltas ≤ prevGen
            // PLUS this generation's just-written delta (gen's manifest
            // isn't committed yet, so deltaDirs(gen) would MISS it — a
            // rebuild from that subset loses this generation's URLs ⇒
            // sketch false negatives ⇒ duplicate seen entries; caught by
            // the saturation golden test).
            val seenAll = spark.read.parquet(
                (io.deltaDirs("seen", prevGen) :+ io.genDir("seen", gen)): _*)
              .select("url").as[String]
            val fromFiles = ShardStore.load(spark, io.sketchDir(gen), shardsN,
                Some(cfg.seenSketch))
              .getOrElse(updated) // files just written; fallback can't happen
            val healthy = ShardStore.rebuildDegraded(
              fromFiles, seenAll, cfg.shardFillCap, cfg.bloomFpp, Some(degraded))
            // only the rebuilt shards' files need rewriting — the healthy
            // ones' files from the write above are already current
            ShardStore.write(healthy, io.sketchDir(gen), onlyIds = Some(degraded))
          }
          swapInShards(io.sketchDir(gen))
        }
      }
      // a retraction's sketch checkpoint is dead once sketch_build swapped
      // the live RDD to this generation's own files (no-op otherwise)
      if (cfg.retractHosts.contains(prevGen))
        io.deleteDir(io.sketchDir(gen) + "_retract")

      // ---- metrics + lineage (A1-A3) from the observations
      val nextRows = obsFrontier.get.apply("rows").asInstanceOf[Long]
      val discoveredN = obsSeen.get.apply("rows").asInstanceOf[Long]
      val om = obsOut.get
      def l(k: String): Long = Option(om(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val fetchedN = l("n")
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val st = GenStats(prevGen, frontierRows, fetchedN, discoveredN,
        l("ok"), l("err"), l("reject"), wallMs)
      stats += st
      // stage-level counts (A1/A2): observed on the main job, no extra scans
      val stages = res.stageObservations.toSeq.sortBy(_._1).map { case (k, o) =>
        // safe to block: the frontier write above evaluated the full pipeline
        val v = o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
        s""""$k":$v"""
      }.mkString("{", ",", "}")
      // per-partition lineage: the committed output files of this generation
      // (name + bytes straight from directory metadata — no data scan),
      // FS-API-addressed like the rest of the state layer
      def lineage(table: String): String = io.lineageJson(table, gen)
      val prefilterMode = prefilter match {
        case SeenPrefilter.Off        => "off"
        case _: SeenPrefilter.Bloom   => s"${cfg.seenSketch}_bc"
        case _: SeenPrefilter.Sharded => "sharded"
      }
      io.commit(gen,
        s"""{"gen":$gen,"frontier_rows":$frontierRows,"fetched":$fetchedN,""" +
        s""""discovered":$discoveredN,"ok":${st.okCount},"err":${st.errCount},""" +
        s""""reject":${st.rejectCount},"wall_ms":$wallMs,""" +
        s""""next_frontier_rows":$nextRows,""" +
        s""""stages":$stages,""" +
        s""""prefilter":"$prefilterMode",""" +
        s""""partitions":${spark.sparkContext.defaultParallelism},""" +
        s""""lineage":{"frontier":${lineage("frontier")},"seen":${lineage("seen")}}}""")

      // commit fence passed: generations < gen-1 can never be a resume
      // point again, so their sketch checkpoints are garbage
      if (useSketch) io.dropSketchesBefore(gen - 1)

      // drop exactly this step's persists (next gen reads parquet) — a
      // session-wide clearCache() would silently evict tables the CALLER
      // cached alongside the crawl — and this generation's probe broadcast
      res.persisted.foreach(_.unpersist(blocking = false))
      genSketchBc.foreach(_.destroy())
      genSketchBc = None

      // ---- log-structured seen compaction: size-tiered INCREMENTAL merge —
      // fold the loose deltas once their count passes the threshold, absorb
      // an adjacent predecessor only while it is no larger than the fold
      // (crash-safe: data first, atomic marker second; covered segments
      // GC'd after the marker). One compaction's I/O ∝ recent discoveries,
      // amortized O(N log N) over the crawl — never the old periodic
      // O(total-seen) rewrite (the round-4 scale defect at 10^10 URLs).
      if (cfg.seenCompactEvery > 0) {
        compactTiered(spark, io, stageMetrics, gen, "seen", "url",
          cfg.seenCompactEvery)
        // the robots cache is read EVERY generation (Http mode) and appends
        // a delta per generation that met new hosts — without compaction its
        // dir list grows with the crawl exactly like seen's would (each host
        // appears in exactly one segment, so merging is a plain union)
        if (isHttp && cfg.useRobots)
          compactTiered(spark, io, stageMetrics, gen, "robots", "host",
            cfg.seenCompactEvery)
      }

      // ---- per-stage timing table (A2): one row per (action, spark stage)
      // with summed task wall-time, records and shuffle bytes — the
      // influx_client.rs:60-135 equivalent, as queryable parquet. Written
      // after the commit fence: metrics are observability, not crawl state
      // (a crash here loses one generation's timings, never data).
      val stageRows = stageMetrics.drain(gen)
      if (stageRows.nonEmpty) {
        val mgen = gen
        metricsFuts += scala.concurrent.Future {
          spark.createDataFrame(stageRows)
            .write.mode("overwrite").parquet(io.genDir("metrics", mgen))
        }
      }

      frontierRows = nextRows
      gen += 1
    }
    awaitAll(metricsFuts.result())
    RunResult(stats.result(), gen - 1)
    } finally {
      writePool.shutdown()
      shards.foreach(_.unpersist(blocking = false))
      genSketchBc.foreach(_.destroy())
      spark.sparkContext.removeSparkListener(stageMetrics)
    }
  }

  /** Size-tiered incremental compaction of an append-only table: fold the
   * loose (uncovered) deltas up to `gen` into one merge segment when at
   * least `k` have accumulated, absorbing the adjacent predecessor segment
   * while it covers no more generations than the fold built so far — the
   * classic LSM invariant, so segment count stays O(log gens) and total
   * merge I/O over a crawl is O(N log N) rows, with the COMMON per-call cost
   * proportional to the recent deltas only (the predecessor is absorbed
   * only when it's comparably small). The absorb set is decided up front
   * from the markers, so the fold is written ONCE — each input row is read
   * and written exactly once per call. Covered segments are GC'd after the
   * marker commits. */
  private[graft] def compactTiered(spark: SparkSession, io: TableIO,
      stageMetrics: StageMetrics, gen: Int, table: String, keyCol: String,
      k: Int): Unit = {
    val (merges, loose) = io.cover(table, gen)
    if (loose.size < k) return
    stageMetrics.labelled(gen, s"${table}_compaction") {
      // fold range starts right after the newest merge (adjacency by GEN
      // RANGE, not dir existence — a zero-discovery generation still counts)
      var lo = merges.lastOption.map(_._2 + 1).getOrElse(0)
      var span = gen - lo + 1
      val absorbed = Seq.newBuilder[(Int, Int)]
      var prevHi = lo - 1
      var done = false
      while (!done) {
        merges.find(_._2 == prevHi) match {
          case Some((plo, phi)) if (phi - plo + 1) <= span =>
            absorbed += ((plo, phi)); span += phi - plo + 1
            lo = plo; prevHi = plo - 1
          case _ => done = true
        }
      }
      val inputs = (absorbed.result().map(m => io.mergeDir(table, m._1, m._2)) ++
        loose.map(io.genDir(table, _))).filter(io.dirExists)
      val rows =
        if (inputs.isEmpty) 0L
        else {
          val obsC = Observation()
          spark.read.parquet(inputs: _*)
            .repartition(spark.sparkContext.defaultParallelism, col(keyCol))
            .observe(obsC, count(lit(1)).as("rows"))
            .write.mode("overwrite").parquet(io.mergeDir(table, lo, gen))
          obsC.get.apply("rows").asInstanceOf[Long]
        }
      io.commitMerge(table, lo, gen, rows)
      io.gcCovered(table)
    }
  }

  /** Final crawl output: the full seen set with the generation each URL was
   * first enqueued at — the (url → generation) map of SURVEY §7.6. Seen
   * segments (deltas and compactions alike) carry the gen column. */
  def seenWithGen(spark: SparkSession, io: TableIO): DataFrame = {
    val last = io.lastCommittedGen().getOrElse(0)
    spark.read.parquet(io.deltaDirs("seen", last): _*).select("url", "gen")
  }

  /** All archived fetched payloads across committed generations (S7). */
  def archivedDocs(spark: SparkSession, io: TableIO): DataFrame = {
    val dirs = io.committedGens().map(g => io.genDir("archive", g))
      .filter(io.dirExists)
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[Document].toDF()
    } else spark.read.parquet(dirs: _*)
  }

  /** Archived pages as (doc_id, text) — the bridge from the crawl's archive
   * table to the training-data operators: `Dedup.exact`/`minhashPairs`,
   * the TextFunctions quality/lang-id/fingerprint queries, Similarity — all
   * of which consume a (doc_id, text) documents shape. Text spans
   * concatenate in document order (the fetch partition emits spans ordered
   * by offset) separated by single spaces; media and link spans contribute
   * nothing. Builtin filter/transform/array_join only — no UDF, the
   * projection stays inside whole-stage codegen and prunes `parse_cov`
   * at the scan. */
  def archivedText(spark: SparkSession, io: TableIO): DataFrame =
    archivedDocs(spark, io).select(col("doc_id"),
      array_join(
        transform(
          filter(col("spans"), s => s.getField("kind") === lit("text")),
          s => s.getField("text")),
        " ").as("text"))

  /** All per-stage timing rows across committed generations (A2 surface):
   * (gen, action, stage_id, tasks, task_time_ms, records_read,
   * shuffle_read_bytes, shuffle_write_bytes). */
  def stageTimings(spark: SparkSession, io: TableIO): DataFrame = {
    val dirs = io.committedGens().map(g => io.genDir("metrics", g))
      .filter(io.dirExists)
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[StageRow].toDF()
    } else spark.read.parquet(dirs: _*)
  }

  /** All outcomes across committed generations. */
  def allOutcomes(spark: SparkSession, io: TableIO): DataFrame = {
    val last = io.lastCommittedGen().getOrElse(0)
    val dirs = io.deltaDirs("outcomes", last)
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[(Int, String, String, String)]
        .toDF("gen", "url", "outcome", "error_kind")
    } else spark.read.parquet(dirs: _*)
  }
}
