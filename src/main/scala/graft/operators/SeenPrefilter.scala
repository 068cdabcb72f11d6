package graft.operators

import graft.functions.{NativeExpressions, ShardedBloom}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The seen-set prefilter seam (J1): decides per candidate row whether it is
 * "maybe seen" (⇒ exact LEFT ANTI join) or "definitely new" (⇒ skip the
 * join). Implementations uphold the no-false-negative rule — a false
 * positive costs one join probe, a false negative would duplicate a URL, so
 * anything uncertain must answer `true`.
 *
 * Contract: `tag` takes the candidate DataFrame with columns (url, host) and
 * returns (url, host, _maybe: boolean).
 */
sealed trait SeenPrefilter extends Serializable {
  def tag(allowed: DataFrame): DataFrame
}

object SeenPrefilter {

  /** No sketch: every row takes the exact anti-join. */
  case object Off extends SeenPrefilter {
    def tag(allowed: DataFrame): DataFrame = allowed.withColumn("_maybe", lit(true))
  }

  /** Broadcast snapshot of the shards — bloom or cuckoo, despite the name —
   * shipped once per executor; the probe is a native codegen'd expression
   * (no per-row boxing, no per-stage sketch shipping, no exchange). The
   * crawl loop takes it while the sketch is at or under
   * `CrawlConfig.sketchBroadcastMaxBytes`. */
  final case class Bloom(bc: Broadcast[ShardedBloom]) extends SeenPrefilter {
    def tag(allowed: DataFrame): DataFrame =
      allowed.withColumn("_maybe", NativeExpressions.shardedBloomProbe(col("url"), bc))
  }

  /** The routed probe over the distributed sketch (bloom or cuckoo
   * `SeenShard`s), the crawl loop's path once the sketch is past
   * `sketchBroadcastMaxBytes`: candidates route to the partition owning their
   * shard — no sketch bytes ever move, in either direction (ShardStore
   * scaladoc). An RDD round trip out of Catalyst. */
  final case class Sharded(shards: RDD[graft.functions.SeenShard]) extends SeenPrefilter {
    def tag(allowed: DataFrame): DataFrame = {
      val spark = allowed.sparkSession
      import spark.implicits._
      val tagged = graft.functions.ShardStore.probe(
        allowed.select("url", "host").as[(String, String)], shards)
      spark.createDataFrame(tagged).toDF("url", "host", "_maybe")
    }
  }
}
