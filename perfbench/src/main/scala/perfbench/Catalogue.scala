package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * The catalogue: all `SparkEntry.queries` leaves over the benchmark's
 * sf0.01 tables. It is the traced run of `crawl_loop_cuckoo`. The leaves are
 * the only place the `Dedup`/`Similarity`/text operators run, and their
 * figures are per-layer ones: run alone, these sub-second leaves are CPU-bound, and
 * on the shared 4-core VM this was sized on their times followed the host's
 * CPU speed, which moved by up to a factor of 1.9 within a minute (see
 * README.md, Steadiness).
 *
 * The first pass runs each leaf once (its first execution in the JVM:
 * codegen compile plus JIT), in an order the seed shuffles, and writes the
 * result as parquet for the DuckDB oracle check in `run.py`. A second pass
 * runs each leaf again, in name order, through the `noop` sink. Cached
 * tables or RDDs a leaf leaves behind are counted and released before the
 * next leaf runs.
 */
final class Catalogue(seed: Long, dataDir: String, outDir: String) {
  import Catalogue._

  def run(ctx: RunCtx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    var cached = 0
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.LinkedHashMap.empty[String, Double]
    val leaves = SparkEntry.queries.toSeq.sortBy(_._1)
    val firstOrder = new scala.util.Random(seed).shuffle(leaves)

    for ((name, fn) <- firstOrder) {
      rec.attempt(s"$name first execution") {
        val (_, dt) = Stats.time(
          fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$name"))
        cold(name) = dt
      }
      cached += Session.cachedLeftThenClear(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.render(SparkEntry.oracleSql))

    for ((name, fn) <- leaves) {
      rec.attempt(s"$name warm") {
        val (_, dt) = Stats.time(fn(spark, dataDir).write.format("noop").mode("overwrite").save())
        warm(name) = dt
      }
      cached += Session.cachedLeftThenClear(spark)
    }

    rec.info("leaf_first_s") = cold
    rec.info("leaf_warm_s") = warm
    rec.info("leaf_first_order") = firstOrder.map(_._1)
    for ((name, dt) <- warm) rec.layer(s"q.${name.take(3)}.warm_s") = dt
    for ((fam, _) <- Families) {
      val members = leaves.map(_._1).filter(n => familyOf(n) == fam)
      rec.layer(s"q.$fam.cold_s") = members.flatMap(cold.get).sum
      rec.layer(s"q.$fam.warm_s") = members.flatMap(warm.get).sum
    }
    rec.layer("q.cached_left") = cached.toDouble
  }
}

object Catalogue {
  /** Leaf families by query number: plain Spark SQL (the control family),
   * row functions, `operators.Dedup`, `operators.Similarity`, and the
   * crawl operators (`FrontierStep`/`Politeness`/`HostGraph`). */
  val Families: Seq[(String, Set[Int])] = Seq(
    "sql" -> ((1 to 8) ++ (13 to 16)).toSet,
    "rowfn" -> Set(9, 10, 12, 17, 19, 20, 21, 25, 26, 28, 30, 31, 32, 43),
    "dedup" -> Set(11, 18, 33, 34, 35, 36, 38, 40, 41, 42, 44),
    "similarity" -> Set(22, 23, 29),
    "crawlops" -> Set(24, 27, 37, 39))

  def familyOf(leaf: String): String = {
    val n = leaf.drop(1).takeWhile(_.isDigit).toInt
    Families.collectFirst { case (f, ns) if ns(n) => f }.getOrElse("other")
  }
}
