package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * Benchmark JVM entry. One process runs one workload:
 *
 *   set-up (SparkSession + a small warm-up job, then the workload's untimed
 *   warm-up: JIT and codegen) → the timed crawl (or the traced run) →
 *   forced full GC and heap reading.
 *
 * `setup_s` is the time from JVM start to the timed crawl, so warm-up work
 * counts in it.
 *
 * The record (end-to-end metrics, per-layer metrics when traced, failures
 * and the environment stamp) is written as JSON to `--result`; `run.py`
 * adds the DuckDB oracle check for the catalogue and prints the final line.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: String, dataDir: String, result: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "42").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("data", ""), m("result"))
  }

  /** Exits explicitly: a pool thread the run leaves behind must not hold
   * the JVM open until its keep-alive expires. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val rec = new Record
    val loadStart = Env.loadavg()
    val steal0 = Env.stealS()
    // the traced run of crawl_loop_cuckoo runs the catalogue leaves, which
    // no timed operation runs; the loop layers are traced in crawl_loop_bloom
    val workload: RunCtx => Unit = (a.workload, a.trace) match {
      case ("crawl_loop_bloom", _) => new Loop(a.seed, "bloom").run
      case ("crawl_loop_cuckoo", false) => new Loop(a.seed, "cuckoo").run
      case ("crawl_loop_cuckoo", true) =>
        new Catalogue(a.seed, a.dataDir, s"${a.workDir}/leaf-results").run
      case (other, _) => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val (spark, sessionS) = Stats.time(Session.create(cores, a.workDir))
    val (_, warmUpS) = Stats.time(Session.warmUp(spark))
    rec.info("jvm_boot_s") = bootS
    rec.info("session_s") = sessionS
    rec.info("session_warm_up_s") = warmUpS

    val gc0 = Env.gcMillis()
    val ctx = new RunCtx(spark, a, rec, cores, bootS + Stats.secs(startNs))
    val (_, runS) = Stats.time(workload(ctx))
    rec.info("run_s") = runS
    ctx.setupS.foreach(rec.e2e("setup_s") = _)
    val gcMs = Env.gcMillis() - gc0
    rec.info("gc_ms") = gcMs

    val (heapMb, heapS) = Stats.time(Env.retainedHeapMb())
    rec.e2e("heap_retained_mb") = heapMb
    rec.info("heap_s") = heapS
    val loadEnd = Env.loadavg()
    if (a.trace) {
      // a layer the traced run does not drive reports 0
      Layers.allNames.foreach(n => rec.layer.getOrElseUpdate(n, 0.0))
      rec.layer("jvm.gc_ms") = gcMs.toDouble
      rec.layer("load.start") = loadStart
      rec.layer("load.end") = loadEnd
    }
    rec.stamp ++= Env.stamp(cores, a) ++ Seq("loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "steal_s" -> (Env.stealS() - steal0))
    Session.stop(spark)
    Files.writeString(Paths.get(a.result), rec.json)
  }
}

/** Everything a workload needs while it runs. */
final class RunCtx(val spark: SparkSession, val args: Main.Args, val rec: Record,
    val cores: Int, startedS: Double) {
  private val t0 = System.nanoTime()
  /** Seconds from JVM start to the first timed operation. */
  var setupS: Option[Double] = None
  /** Marks the end of set-up: the first timed operation starts now. */
  def setupDone(): Unit = setupS = Some(startedS + Stats.secs(t0))
  def trace: Boolean = args.trace
  def dir(name: String): String = s"${args.workDir}/$name"
}

/** Result record: end-to-end metrics, per-layer metrics and failures. */
final class Record {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val stamp = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Run one operation; an exception counts it as failed and yields None. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Exception =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  /** A check that failed after its operation ran. */
  def fail(what: String): Unit = failures += what

  def json: String = Json.render(mutable.LinkedHashMap(
    "attempted" -> attempted, "failed" -> failures.size.toLong,
    "failures" -> failures.take(50), "e2e" -> e2e, "layer" -> layer,
    "info" -> info, "stamp" -> stamp))
}

object Stats {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }
}

object Session {
  def create(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", "600000")
      // the status store keeps per-job/stage/task records for a UI that is
      // off; bounded retention keeps them out of the heap reading
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small aggregate with a shuffle: brings up the scheduler, codegen and
   * shuffle machinery of a fresh session. */
  def warmUp(s: SparkSession): Unit =
    s.range(0, 200000, 1, s.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k").groupBy("k").count().collect()

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Cached tables and RDDs left behind by the previous operation; all of
   * them are released before the next one runs. */
  def cachedLeftThenClear(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    val tables = if (spark.sharedState.cacheManager.isEmpty) 0 else 1
    spark.catalog.clearCache()
    rdds.foreach(_.unpersist(blocking = true))
    rdds.size + tables
  }
}

object Env {
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** CPU time the host withheld from this machine's CPUs (`steal` in
   * /proc/stat), in seconds; -1 where it cannot be read. */
  def stealS(): Double =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim
      .split("\\s+")(8).toDouble / 100.0
    catch { case _: Exception => -1.0 }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Heap in use after forced full collections, in MB. Spark's context
   * cleaner releases broadcast and shuffle blocks asynchronously once their
   * handles are collected, so collections repeat until the reading settles. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) > 0.5 && rounds < 8) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  def stamp(cores: Int, a: Main.Args): Seq[(String, Any)] = {
    import scala.jdk.CollectionConverters._
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(f => f.startsWith("-X")).toSeq
    Seq("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> cores, "local_n" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_flags" -> jvmFlags,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "spark" -> org.apache.spark.SPARK_VERSION)
  }
}
