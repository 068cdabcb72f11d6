package graft.functions

/**
 * Read-side snapshot of the seen sketch for the BROADCAST probe path
 * (SeenPrefilter.Bloom + NativeExpressions.shardedBloomProbe), for both
 * sketch kinds despite the name: the shards, bloom or cuckoo, read once from
 * their checkpoint
 * files and shipped once per executor; each candidate probes
 * `shards(routeOf(url)).maybe(url)` inside whole-stage codegen. When the
 * sketch is small this beats routing every candidate row to its shard's
 * partition (the crawl loop's `sketchBroadcastMaxBytes` regime). A snapshot
 * of shards after a cuckoo delete answers exactly as those shards do.
 *
 * The crawl loop's live seen-sketch does NOT live here — it is the
 * partitioned `RDD[SeenShard]` (SeenShards.scala), which owns construction,
 * union-merge, per-shard growth, deletion and per-shard checkpointing. This
 * class is intentionally probe-only.
 */
final class ShardedBloom(val shards: Array[SeenShard]) extends Serializable {

  /** Bloom-only snapshot: sketch i is shard i. */
  def this(blooms: Array[BloomSketch]) =
    this(blooms.zipWithIndex.map { case (b, i) => BloomSeenShard(i, b, 0L): SeenShard })

  def mightContain(u: String): Boolean =
    shards(ShardStore.routeOf(u, shards.length)).maybe(u)
}
