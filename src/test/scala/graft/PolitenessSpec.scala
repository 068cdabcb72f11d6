package graft

import graft.operators.Politeness
import org.scalatest.funsuite.AnyFunSuite

/** The politeness operator must be EXACTLY a per-host top-k by
 * (priority, next_fetch, url), whatever the internal shape (count gate +
 * salted two-stage) does — compared against a plain Scala reference over a
 * frontier mixing under-cap, exactly-at-cap and hot hosts. */
class PolitenessSpec extends AnyFunSuite {

  test("markTopKPerHost == brute-force per-host top-k (mixed under/over-cap)") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val k = 3
    // host i gets i rows (i = 0..12): under (1,2), exactly k (3), over (4..12)
    val rows = for {
      h <- 1 to 12
      i <- 1 to h
    } yield (s"http://h$h.example/p$i-${rnd.nextInt(1000)}", s"h$h.example",
      rnd.nextInt(5), rnd.nextInt(100).toLong)
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val got = Politeness.markTopKPerHost(df, k, saltBuckets = 4).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    assert(got.size == rows.size, "politeness dropped or duplicated rows")
    val want = rows.groupBy(_._2).flatMap { case (_, ts) =>
      val sel = ts.sortBy(t => (t._3, t._4, t._1)).take(k).map(_._1).toSet
      ts.map(t => t._1 -> sel.contains(t._1))
    }
    assert(got == want, {
      val diff = want.collect { case (u, s) if got(u) != s => (u, s, got(u)) }
      s"selection mismatch: ${diff.take(5)}"
    })
  }

  test("markEligibleTopK (single pass, per-row caps) == brute force with delays") {
    // delayed hosts compete under cap 1, normal hosts under k, ineligible
    // rows (next_fetch > gen) pass through unselected — all in ONE count
    // gate + ONE ranking pass (the former two-subset split is gone)
    val spark = SparkSuite.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val k = 3
    val gen = 5L
    val delayed = Set("h2.example", "h6.example", "h9.example")
    val rows = for {
      h <- 1 to 10
      i <- 1 to h
    } yield (s"http://h$h.example/p$i-${rnd.nextInt(1000)}", s"h$h.example",
      rnd.nextInt(5), if (rnd.nextInt(4) == 0) gen + 2 else 0L)
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val delaysDf = delayed.toSeq.map((_, 3)).toDF("host", "delay")
    val got = Politeness.markEligibleTopK(df, k, saltBuckets = 4, gen, Some(delaysDf))
      .collect().map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    assert(got.size == rows.size, "rows dropped or duplicated")
    val want = rows.groupBy(_._2).flatMap { case (host, ts) =>
      val (inel, elig) = ts.partition(_._4 > gen)
      val cap = if (delayed(host)) 1 else k
      val sel = elig.sortBy(t => (t._3, t._4, t._1)).take(cap).map(_._1).toSet
      inel.map(t => t._1 -> false) ++ elig.map(t => t._1 -> sel.contains(t._1))
    }
    assert(got == want, {
      val diff = want.collect { case (u, s) if got(u) != s => (u, s, got(u)) }
      s"selection mismatch: ${diff.take(5)}"
    })
  }

  test("plan audit: stage-2 window ranks only stage-1 survivors (bounded by salt·k per host)") {
    // The scale property the salt exists for: no window partition may receive
    // all rows of a hot host. Stage 1 partitions by (host, salt); stage 2 by
    // host alone but MUST sit above a `_rn1 <= _k` filter, so its per-host
    // input is ≤ salt·k rows. A formulation that routes stage-1 losers
    // through a window (e.g. partitionBy(host, _rn1 <= _k)) re-creates the
    // single-task hot-host sort — this test pins the plan shape against that.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow}
    val spark = SparkSuite.spark
    import spark.implicits._
    val rows = (1 to 100).map(i => (s"http://hot.example/p$i", "hot.example", 1, i.toLong))
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val plan = Politeness.markTopKPerHost(df, k = 3, saltBuckets = 4)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    // stage-1 appears once per union branch (survivors + losers), stage-2 once
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.forall(_.references.nonEmpty),
        s"window partitions by a computed predicate (loser-sort shape): ${w.partitionSpec}")
    }
    val stage2 = windows.filter(_.partitionSpec.size == 1)
    assert(stage2.size == 1, s"expected one host-only window, got ${stage2.map(_.partitionSpec)}")
    val bounded = stage2.head.child.collect {
      case f: LFilter if f.condition.references.map(_.name).exists(_ == "_rn1") => f
    }
    assert(bounded.nonEmpty,
      "stage-2 window is not fed by a _rn1 survivor filter — its input is unbounded per host")
  }

  test("hot-host (Zipf head) selection == brute force, losers unselected") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val k = 5
    // one head host with 5000 rows + a small tail
    val rows = (1 to 5000).map(i =>
        (s"http://head.example/p$i-${rnd.nextInt(100000)}", "head.example",
          rnd.nextInt(7), rnd.nextInt(50).toLong)) ++
      (1 to 4).map(i => (s"http://tail.example/p$i", "tail.example", 1, i.toLong))
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val got = Politeness.markTopKPerHost(df, k, saltBuckets = 8).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    assert(got.size == rows.size, "politeness dropped or duplicated rows")
    val want = rows.groupBy(_._2).flatMap { case (_, ts) =>
      val sel = ts.sortBy(t => (t._3, t._4, t._1)).take(k).map(_._1).toSet
      ts.map(t => t._1 -> sel.contains(t._1))
    }
    assert(got == want, {
      val diff = want.collect { case (u, s) if got(u) != s => (u, s, got(u)) }
      s"selection mismatch: ${diff.take(5)}"
    })
  }

  test("contract-violating null hosts are kept, grouped and capped at k") {
    // the crawl guarantees non-null hosts, but if the contract is ever
    // violated the operator must behave like the pure window formulation:
    // nulls form ONE group (groupBy and Window both group nulls), ranked
    // together, top-k selected — not dropped, and not all selected uncapped
    val spark = SparkSuite.spark
    import spark.implicits._
    val k = 2
    val rows =
      (1 to 5).map(i => (s"http://x/null$i", Option.empty[String], 1, i.toLong)) ++
      (1 to 3).map(i => (s"http://a/p$i", Option("a.example"), 1, i.toLong))
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val got = Politeness.markTopKPerHost(df, k, saltBuckets = 4).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    assert(got.size == rows.size, "null-host rows vanished from the frontier")
    val nullSel = (1 to 5).map(i => got(s"http://x/null$i")).count(identity)
    assert(nullSel == k, s"null-host group selected $nullSel rows; cap is $k")
    // ordering within the null group: lowest next_fetch wins
    assert(got("http://x/null1") && got("http://x/null2") && !got("http://x/null5"))
    assert((1 to 3).map(i => got(s"http://a/p$i")).count(identity) == k)
  }

  test("capGlobalBudget == brute-force global top-B over the per-host selection") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val k = 3
    val rows = for {
      h <- 1 to 40
      i <- 1 to (h % 7) + 1
    } yield (s"http://h$h.example/p$i-${rnd.nextInt(1000)}", s"h$h.example",
      rnd.nextInt(5), rnd.nextInt(100).toLong)
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val marked = Politeness.markTopKPerHost(df, k, saltBuckets = 4)
    for (budget <- Seq(1L, 17L, 60L)) {
      val got = Politeness.capGlobalBudget(marked, budget).collect()
        .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
      assert(got.size == rows.size, "budget pass dropped or duplicated rows")
      // reference: per-host top-k, then global top-B by (priority, next_fetch, url)
      val hostSel = rows.groupBy(_._2).values.flatMap(ts =>
        ts.sortBy(t => (t._3, t._4, t._1)).take(k)).toSeq
      val winners = hostSel.sortBy(t => (t._3, t._4, t._1))
        .take(budget.toInt).map(_._1).toSet
      val want = rows.map(t => t._1 -> winners.contains(t._1)).toMap
      assert(got == want, s"budget=$budget mismatch: " +
        want.collect { case (u, s) if got(u) != s => (u, s, got(u)) }.take(5))
      assert(got.values.count(identity) == math.min(budget, hostSel.size))
    }
  }

  test("capGlobalBudget under budget is the identity; winner set is partition-invariant") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val rows = (1 to 30).map(i =>
      (s"http://h${i % 6}.example/p$i", s"h${i % 6}.example", i % 4, 0L))
    val df = rows.toDF("url", "host", "priority", "next_fetch")
    val marked = Politeness.markTopKPerHost(df, k = 3, saltBuckets = 4)
    // budget >= selected count: nothing demoted (fast path returns input)
    val sel = marked.filter(org.apache.spark.sql.functions.col("selected")).count()
    val same = Politeness.capGlobalBudget(marked, sel + 5).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    val base = marked.collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Boolean]("selected"))).toMap
    assert(same == base)
    // winner set independent of the input's physical layout
    val w1 = Politeness.capGlobalBudget(marked, 7).collect()
      .filter(_.getAs[Boolean]("selected")).map(_.getAs[String]("url")).toSet
    val w2 = Politeness.capGlobalBudget(marked.repartition(13), 7).collect()
      .filter(_.getAs[Boolean]("selected")).map(_.getAs[String]("url")).toSet
    assert(w1 == w2 && w1.size == 7)
  }
}
