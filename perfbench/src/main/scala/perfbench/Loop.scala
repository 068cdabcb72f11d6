package perfbench

import graft.corpus.{CorpusConfig, CorpusGen}
import graft.loop.CrawlLoop
import graft.operators.{CrawlConfig, FetchMode}
import graft.oracle.SeqCrawler
import graft.plans.TableIO
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/**
 * `crawl_loop_bloom` and `crawl_loop_cuckoo`: `CrawlLoop.run` for `MaxGens`
 * generations from `NumSeeds` seeds, Generator fetch, seen compaction every
 * 4 generations, and three hosts retracted once generation 3 has committed
 * (the retraction runs in generation 4) — so the seen probe, the exact
 * anti-join, the commit writes, sketch upkeep, compaction and retraction all
 * do real work. With `sketch = "bloom"` the seen probe is the broadcast
 * codegen expression and retraction only purges the seen table; with
 * `"cuckoo"` it is the routed `SeenPrefilter.Sharded` probe and retraction
 * also deletes the hosts' fingerprints from the shards.
 *
 * A run times one crawl (about 25 s on 4 cores, longer than `--seconds`).
 * Timed operation: one generation, from one commit manifest to the next, so
 * post-commit work (compaction) and pre-step work (retraction) count in it.
 * Each crawl runs in a fresh directory that is deleted afterwards, and its
 * url→generation map and outcomes are checked against `SeqCrawler`.
 *
 * A traced run replaces the timed crawl with three: a full untraced crawl,
 * a traced one (`Tracer`), after which the next generation is replayed
 * layer by layer (`Layers`), and an untraced one for the tracing overhead.
 */
final class Loop(seed: Long, sketch: String) {
  import Loop._

  val cfg = CrawlConfig(
    corpus = CorpusConfig(seed, numHosts = NumHosts, maxPages = MaxPages),
    perHostCap = PerHostCap,
    fetchMode = FetchMode.Generator,
    seenSketch = sketch,
    seenCompactEvery = 4,
    retractHosts = Map(3 -> Seq("h1.example", "h2.example", "h3.example")))
  val seeds: Seq[String] = CorpusGen.seeds(cfg.corpus, NumSeeds)

  def run(ctx: RunCtx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    var cached = 0
    var iteration = 0
    lazy val want = SeqCrawler.crawl(cfg, seeds, MaxGens)

    /** One crawl in a fresh directory; `inspect` reads the directory before
     * it is deleted. Outputs are checked against the sequential crawler. */
    def crawl(inspect: (String, CrawlLoop.RunResult) => Unit = (_, _) => ()): Option[LoopRun] = {
      iteration += 1
      val dir = ctx.dir(s"crawl-$iteration")
      val r = rec.attempt(s"crawl $iteration") {
        val t0 = System.nanoTime()
        val res = CrawlLoop.run(spark, new TableIO(dir), seeds, cfg, MaxGens)
        val wall = Stats.secs(t0)
        val commits = commitTimes(dir, res.lastGen)
        val gens = commits.sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }.toVector
        val ok = check(rec, s"crawl $iteration", outputs(spark, dir), want)
        inspect(dir, res)
        if (ok) Some(LoopRun(wall, res.stats.map(_.fetched).sum, gens)) else None
      }.flatten
      cached += Session.cachedLeftThenClear(spark)
      deleteTree(dir)
      r
    }

    // untimed warm-up: a one-generation crawl of a tiny corpus, so the timed
    // crawl's first generation does not carry the JIT and codegen warm-up
    rec.attempt("warm-up crawl") {
      val dir = ctx.dir("warm-up")
      val tiny = cfg.copy(corpus = cfg.corpus.copy(numHosts = 200, maxPages = 200))
      CrawlLoop.run(spark, new TableIO(dir), CorpusGen.seeds(tiny.corpus, 20), tiny, 1)
      deleteTree(dir)
    }
    cached += Session.cachedLeftThenClear(spark)

    ctx.setupDone()
    if (!ctx.trace) {
      // one timed crawl: it outlasts `--seconds` on its own
      crawl().foreach { run =>
        rec.e2e("gen_wall_p50_s") = Stats.median(run.gens)
        rec.e2e("gen_wall_max_s") = run.gens.max
        rec.e2e("fetched_per_s") = run.fetched / run.wall
        rec.info("fetched_per_crawl") = run.fetched
        rec.info("crawl_wall_s") = run.wall
        rec.info("generation_walls_s") = run.gens
      }
    } else {
      // the traced crawl is compared with an untraced one run after it; both
      // follow a full untraced crawl, because the JVM's first full crawl
      // runs its generations about 1.5 s slower
      crawl()
      val tracer = Tracer.attach(spark)
      val traced = crawl { (dir, res) =>
        Layers.loopActions(ctx, cfg, tracer, dir, res)
        Layers.crawlReplay(ctx, cfg, dir, res.lastGen)
      }
      tracer.detach()
      val untraced = crawl()
      rec.info("generation_walls_s") = traced.map(_.gens)
      rec.layer("trace.overhead_s") = (for (t <- traced; u <- untraced)
        yield Stats.median(t.gens) - Stats.median(u.gens)).getOrElse(Double.NaN)
      rec.layer("q.cached_left") = cached.toDouble
    }
  }
}

object Loop {
  val NumHosts = 4000
  val MaxPages = 4000
  val PerHostCap = 50
  val NumSeeds = 400
  val MaxGens = 4

  final case class Outputs(seenGen: Map[String, Int], outcomes: Seq[(Int, String, String, String)])
  final case class LoopRun(wall: Double, fetched: Long, gens: Vector[Double])

  def outputs(spark: SparkSession, dir: String): Outputs = {
    val io = new TableIO(dir)
    val seenGen = CrawlLoop.seenWithGen(spark, io).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val outcomes = CrawlLoop.allOutcomes(spark, io).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSeq.sorted
    Outputs(seenGen, outcomes)
  }

  /** The crawl must equal the sequential crawler: the exact url→generation
   * map and the multiset of (generation, url, outcome, error kind). */
  def check(rec: Record, what: String, got: Outputs, want: SeqCrawler.OracleResult): Boolean = {
    if (got.seenGen != want.seenGen) {
      val extra = got.seenGen.keySet -- want.seenGen.keySet
      val missing = want.seenGen.keySet -- got.seenGen.keySet
      val moved = want.seenGen.collect { case (u, g) if got.seenGen.get(u).exists(_ != g) => u }
      rec.fail(s"$what: url->generation map differs from SeqCrawler: " +
        s"extra=${extra.take(3)} missing=${missing.take(3)} moved=${moved.take(3)}")
    }
    val wantOutcomes = want.outcomes.sorted
    if (got.outcomes != wantOutcomes)
      rec.fail(s"$what: outcomes differ from SeqCrawler: engine=${got.outcomes.size} " +
        s"oracle=${wantOutcomes.size} engine-only=${got.outcomes.diff(wantOutcomes).take(3)}")
    got.seenGen == want.seenGen && got.outcomes == wantOutcomes
  }

  /** Commit instants (ns, manifest file mtimes) of generations 0..last. */
  def commitTimes(dir: String, last: Int): Seq[Long] = (0 to last).map { g =>
    val t = Files.getLastModifiedTime(Paths.get(dir, "_commits", f"gen_$g%05d.json")).toInstant
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
  }
}
