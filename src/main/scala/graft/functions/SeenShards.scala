package graft.functions

import java.nio.ByteBuffer

import graft.plans.TableIO
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * The unified DISTRIBUTED seen-sketch: one partitioned store for both sketch
 * flavours (north_rule: "partitioned bloom-filter union-merge, with a
 * cuckoo-filter variant for deletions"). Shards live as an
 * `RDD[SeenShard]` hash-partitioned by shard id and are NEVER collected or
 * serialized whole:
 *
 *  - **probe**: candidate urls route to the partition owning their shard
 *    (zipPartitions) — no filter bytes move, in either direction. (A sketch
 *    under `sketchBroadcastMaxBytes` is instead read from its checkpoint
 *    files and broadcast as a `ShardedBloom` snapshot.)
 *  - **update** (insert / cuckoo delete): the url batch routes the same way
 *    into COPIES of the shards (RDD immutability).
 *  - **rebuild**: a shard that degraded (bloom fill past the cap; cuckoo
 *    kick-loop overflow ⇒ tainted) is rebuilt ALONE inside its partition
 *    from its routed slice of the seen table, with geometry grown from its
 *    exact `items` count. Only the tiny (id, needsRebuild) metadata ever
 *    reaches the driver.
 *  - **persistence**: each generation every shard writes ITSELF to
 *    `<workDir>/sketch/gen=K/shard_I.bin` from inside its partition (Hadoop
 *    FileSystem API — local fs in the sandbox, HDFS/S3 on a cluster), and
 *    the next generation's RDD re-loads from those files. Lineage is
 *    therefore one file read deep: an executor loss recomputes a shard by
 *    re-reading its file (reliable checkpoint semantics), replacing the
 *    round-2 `localCheckpoint` chains that could not survive executor loss.
 *
 * Versus the round-2 bloom path this removes the three driver-side
 * scale-killers at 10^10 URLs (~12 GB sketch): per-generation driver
 * collect+merge, whole-sketch broadcast to every executor, and monolithic
 * blob rewrite. Per generation, no process ever holds more than one shard.
 *
 * The no-false-negative design rule (SURVEY.md §7.3) is unchanged: a probe
 * answers "maybe seen" (⇒ exact anti-join) or "definitely new" (⇒ skip the
 * join); anything uncertain (tainted shard, missing shard/file) answers
 * maybe=true — a false positive costs a probe, never a URL.
 */
sealed trait SeenShard extends Serializable {
  def id: Int
  /** Exact count of distinct urls routed into this shard (route-disjoint and
   * globally deduped by the anti-join, so increments are exact) — sizes
   * rebuild geometry without a counting pass. */
  def items: Long
  def maybe(u: String): Boolean
  def needsRebuild(cap: Double): Boolean
  /** Copy-on-write batch insert (parents of a persisted RDD stay immutable). */
  def inserted(us: Iterator[String]): SeenShard
  /** Copy-on-write batch delete. Bloom: identity (stale bits are false
   * positives only — the exact anti-join rescreens them); cuckoo: real
   * fingerprint removal (the variant's reason to exist). */
  def deleted(us: Iterator[String]): SeenShard
  /** Stream-rebuild from this shard's full seen slice with geometry grown
   * from `items` (strictly larger than the current geometry). */
  def rebuilt(slice: Iterator[String], fpp: Double): SeenShard
  def serialize(): Array[Byte]
}

final case class BloomSeenShard(id: Int, sketch: BloomSketch, items: Long)
    extends SeenShard {
  def maybe(u: String): Boolean = sketch.mightContain(u)
  def needsRebuild(cap: Double): Boolean = sketch.fillRatio > cap
  def inserted(us: Iterator[String]): SeenShard = {
    val sk = new BloomSketch(sketch.bits.clone(), sketch.numHashes) // deep copy
    var n = 0L
    us.foreach { u => if (u != null) { sk.put(u); n += 1 } }
    BloomSeenShard(id, sk, items + n)
  }
  def deleted(us: Iterator[String]): SeenShard = this
  def rebuilt(slice: Iterator[String], fpp: Double): SeenShard = {
    // 2× headroom over the exact count so one rebuild absorbs the overload
    // (designed fill ≈ half the cap) instead of re-saturating next gen;
    // floored at double the current geometry so progress is guaranteed
    val sized = BloomSketch.create(math.max(64L, items * 2), fpp)
    // Long doubling + ceiling clamp: at MaxWords the shard stops growing and
    // its FP rate degrades (FP-only ⇒ correct, slower) — the design answer
    // past that point is more shards, enforced at create() time
    val words = math.min(BloomSketch.MaxWords.toLong,
      math.max(sized.bits.length.toLong, sketch.bits.length.toLong * 2)).toInt
    val sk = BloomSketch.createWithGeometry(words, sized.numHashes)
    var n = 0L
    slice.foreach { u => if (u != null) { sk.put(u); n += 1 } }
    BloomSeenShard(id, sk, n)
  }
  def serialize(): Array[Byte] = {
    val payload = sketch.serialize()
    val bb = ByteBuffer.allocate(1 + 4 + 8 + payload.length)
    bb.put(SeenShard.KindBloom).putInt(id).putLong(items).put(payload)
    bb.array()
  }
}

final case class CuckooSeenShard(id: Int, filter: CuckooFilter,
    tainted: Boolean, items: Long) extends SeenShard {
  def maybe(u: String): Boolean = tainted || filter.contains(u)
  def needsRebuild(cap: Double): Boolean = tainted
  def inserted(us: Iterator[String]): SeenShard = {
    val f = filter.copyOf
    var t = tainted
    var n = 0L
    us.foreach { u => if (u != null) { if (!f.insert(u)) t = true; n += 1 } }
    CuckooSeenShard(id, f, t, items + n)
  }
  def deleted(us: Iterator[String]): SeenShard = {
    val f = filter.copyOf
    var n = 0L
    us.foreach { u => if (u != null && f.delete(u)) n += 1 }
    CuckooSeenShard(id, f, tainted, math.max(0L, items - n))
  }
  def rebuilt(slice: Iterator[String], fpp: Double): SeenShard = {
    val curCap = (filter.table.length * 0.84).toLong
    val f = CuckooFilter.create(math.max(64L, math.max(items * 2, curCap * 2)))
    var t = false
    var n = 0L
    slice.foreach { u => if (u != null) { if (!f.insert(u)) t = true; n += 1 } }
    CuckooSeenShard(id, f, t, n)
  }
  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + 4 + 8 + 1 + 4 + filter.table.length * 2)
    bb.put(SeenShard.KindCuckoo).putInt(id).putLong(items)
      .put(if (tainted) 1.toByte else 0.toByte)
      .putInt(filter.numBuckets)
    filter.table.foreach(bb.putShort)
    bb.array()
  }
}

object SeenShard {
  val KindBloom: Byte = 1
  val KindCuckoo: Byte = 2

  def deserialize(bytes: Array[Byte]): SeenShard = {
    val bb = ByteBuffer.wrap(bytes)
    val kind = bb.get()
    val id = bb.getInt
    val items = bb.getLong
    kind match {
      case KindBloom =>
        val payload = new Array[Byte](bb.remaining())
        bb.get(payload)
        BloomSeenShard(id, BloomSketch.deserialize(payload), items)
      case KindCuckoo =>
        val tainted = bb.get() == 1
        val numBuckets = bb.getInt
        val table = new Array[Short](bb.remaining() / 2)
        var i = 0
        while (i < table.length) { table(i) = bb.getShort; i += 1 }
        CuckooSeenShard(id, new CuckooFilter(table, numBuckets), tainted, items)
      case k => throw new IllegalArgumentException(s"unknown shard kind $k")
    }
  }

  /** Fresh empty shard of the requested flavour. */
  def empty(kind: String, id: Int, expectedItems: Long, fpp: Double): SeenShard =
    kind match {
      case "cuckoo" => CuckooSeenShard(id, CuckooFilter.create(expectedItems), tainted = false, 0L)
      case _        => BloomSeenShard(id, BloomSketch.create(expectedItems, fpp), 0L)
    }
}

object ShardStore {

  /** Routing salt — distinct from every in-sketch hashing salt. */
  private val RouteSalt: Long = 0x5ca4d0L

  /** Shard of url u — shared by the routed store and the broadcast snapshot
   * (ShardedBloom), so both probe the shard the url was inserted into. */
  @inline def routeOf(u: String, n: Int): Int =
    Math.floorMod(BloomSketch.hash(u, RouteSalt), n.toLong).toInt

  private def routed(urls: Dataset[String], n: Int): RDD[(Int, String)] =
    urls.rdd.keyBy(routeOf(_, n)).partitionBy(new HashPartitioner(n))

  /** Build shards from scratch (bootstrap / resume-rebuild-from-seen): urls
   * hash-route to their shard's partition; each shard is built whole inside
   * one task. */
  def build(urls: Dataset[String], numShards: Int, kind: String,
      expectedItemsPerShard: Long, fpp: Double): RDD[SeenShard] =
    routed(urls, numShards).mapPartitionsWithIndex({ (pid, it) =>
      Iterator.single(
        SeenShard.empty(kind, pid, expectedItemsPerShard, fpp)
          .inserted(it.map(_._2)))
    }, preservesPartitioning = true)

  /** Insert or delete a url batch — routes with the shards' partitioner and
   * zipPartitions into copies. Caller persists the result. */
  def update(shards: RDD[SeenShard], urls: Dataset[String],
      delete: Boolean = false): RDD[SeenShard] = {
    val n = shards.getNumPartitions
    shards.zipPartitions(routed(urls, n), preservesPartitioning = true) { (sit, uit) =>
      sit.map { s =>
        val us = uit.map(_._2)
        if (delete) s.deleted(us) else s.inserted(us)
      }
    }
  }

  /** Rebuild every shard that degraded (bloom fill > cap / cuckoo tainted)
   * from its slice of the seen set — only the shard ids cross the driver
   * (pass `knownIds` from `write` metadata to avoid even that extra job);
   * healthy shards pass through untouched and their seen slice is never
   * routed. */
  def rebuildDegraded(shards: RDD[SeenShard], seenUrls: Dataset[String],
      cap: Double, fpp: Double, knownIds: Option[Set[Int]] = None): RDD[SeenShard] = {
    val n = shards.getNumPartitions
    val ids = knownIds.getOrElse(
      shards.filter(_.needsRebuild(cap)).map(_.id).collect().toSet)
    if (ids.isEmpty) shards
    else {
      val slice = seenUrls.rdd
        .keyBy(routeOf(_, n))
        .filter { case (sid, _) => ids(sid) }
        .partitionBy(new HashPartitioner(n))
      shards.zipPartitions(slice, preservesPartitioning = true) { (sit, uit) =>
        sit.map { s =>
          if (ids(s.id)) s.rebuilt(uit.map(_._2), fpp) else s
        }
      }
    }
  }

  /** Tag (url, host) pairs with `_maybe` by routing them to their shard —
   * the distributed probe. A missing shard answers maybe=true. */
  def probe(pairs: Dataset[(String, String)],
      shards: RDD[SeenShard]): RDD[(String, String, Boolean)] = {
    val n = shards.getNumPartitions
    val routedPairs = pairs.rdd
      .keyBy { case (u, _) => routeOf(u, n) }
      .partitionBy(new HashPartitioner(n))
    shards.zipPartitions(routedPairs) { (sit, uit) =>
      val shard = if (sit.hasNext) Some(sit.next()) else None
      uit.map { case (_, (u, h)) =>
        (u, h, shard.fold(true)(_.maybe(u)))
      }
    }
  }

  // --- per-shard durable persistence (the sketch's reliable checkpoint) -----

  /** Per-shard metadata returned by `write` — the ONLY sketch bytes that
   * ever reach the driver. `needsRebuild` piggybacks the degradation check
   * on the write action, so a healthy generation pays exactly one sketch
   * action. */
  final case class ShardMeta(id: Int, items: Long, bytes: Long, needsRebuild: Boolean)

  /** Write shards to `<dir>/shard_I.bin` from INSIDE their partitions via
   * the Hadoop FileSystem API. The job's hadoopConfiguration is shipped to
   * the tasks (fs credentials / defaultFS set through Spark reach the
   * executors — a fresh executor-side `new Configuration()` would drop
   * them), and the tmp name carries the task attempt id so concurrent
   * attempts of the same task (speculation, zombie attempt after an
   * executor "loss" against shared storage) can never publish each other's
   * half-written bytes — each attempt renames only its own complete file,
   * and rename is atomic per attempt. This is an action.
   *
   * `onlyIds`: restrict the file writes to those shard ids (the degraded
   * rebuild path — healthy shards' files from the pre-rebuild write are
   * already current, so rewriting the whole sketch for one degraded shard
   * would double the rare path's IO). Metadata still returns for every
   * shard; skipped shards report bytes = 0. */
  def write(shards: RDD[SeenShard], dir: String,
      rebuildCap: Double = Double.MaxValue,
      onlyIds: Option[Set[Int]] = None): Seq[ShardMeta] = {
    val confBc = shards.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        shards.sparkContext.hadoopConfiguration))
    shards.map { s =>
      if (onlyIds.forall(_.contains(s.id))) {
        val bytes = s.serialize()
        val path = new org.apache.hadoop.fs.Path(dir, f"shard_${s.id}%05d.bin")
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmp = new org.apache.hadoop.fs.Path(
          dir, f"_tmp_shard_${s.id}%05d.$attempt%d.bin")
        val fs = path.getFileSystem(confBc.value.value)
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        // OVERWRITING atomic rename (FileContext honours Rename.OVERWRITE;
        // FileSystem.rename does not). A delete-then-rename pair would open
        // a window where a zombie attempt deletes the committed file and
        // dies before its own rename — the shard file would be missing even
        // though the job succeeded, degrading recovery to rebuild-from-seen.
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.makeQualified(path).toUri, confBc.value.value)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(path),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        // best-effort sweep of THIS shard's tmp files from killed/zombie
        // attempts (a dead attempt between create and rename leaves its
        // file forever, and sizing listings would count it)
        try fs.globStatus(new org.apache.hadoop.fs.Path(
            dir, f"_tmp_shard_${s.id}%05d.*.bin"))
          .foreach(st => fs.delete(st.getPath, false))
        catch { case _: java.io.IOException => () }
        ShardMeta(s.id, s.items, bytes.length.toLong, s.needsRebuild(rebuildCap))
      } else ShardMeta(s.id, s.items, 0L, s.needsRebuild(rebuildCap))
    }.collect().toSeq
  }

  /** Re-load shards from a generation's files: shard i reads its own file in
   * partition i — one-file-deep lineage, recompute-safe on executor loss.
   * None if the directory is missing, holds fewer than `numShards` files,
   * holds MORE (file `shard_<numShards>` exists — the workDir was previously
   * run with a different sketch mode or shard count; loading a mis-routed
   * subset would answer "definitely new" for seen urls ⇒ duplicate fetches),
   * or any file's kind byte mismatches the requested `kind` (resuming with
   * `--sketch=cuckoo` over bloom shard files would load blooms silently —
   * conservative, but compaction deletes would become identity no-ops,
   * defeating the deletion variant the user asked for). In every None case
   * the caller must rebuild from the seen table instead. */
  def load(spark: SparkSession, dir: String, numShards: Int,
      kind: Option[String] = None): Option[RDD[SeenShard]] = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wantKind: Option[Byte] = kind.map {
      case "cuckoo" => SeenShard.KindCuckoo
      case _        => SeenShard.KindBloom
    }
    val complete = fs.exists(hPath) && (0 until numShards).forall { i =>
      val p = new org.apache.hadoop.fs.Path(dir, f"shard_$i%05d.bin")
      fs.exists(p) && wantKind.forall { k =>
        val in = fs.open(p) // kind is the first byte; one tiny driver read per shard
        try in.read() == k.toInt finally in.close()
      }
    } && !fs.exists(new org.apache.hadoop.fs.Path(dir, f"shard_$numShards%05d.bin"))
    if (!complete) None
    else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      Some(
        spark.sparkContext.parallelize(0 until numShards, numShards).map { i =>
          val p = new org.apache.hadoop.fs.Path(dir, f"shard_$i%05d.bin")
          val f = p.getFileSystem(confBc.value.value)
          val st = f.getFileStatus(p)
          require(st.getLen <= Int.MaxValue.toLong,
            s"shard file $p is ${st.getLen} bytes — past the 2 GiB " +
            "single-array ceiling; raise sketchShards so shards stay smaller")
          val bytes = new Array[Byte](st.getLen.toInt)
          val in = f.open(p)
          try in.readFully(0L, bytes) finally in.close()
          SeenShard.deserialize(bytes)
        })
    }
  }

  /** Driver-side read of a generation's shard files (tests / inspection). */
  def readAll(io: TableIO, gen: Int, numShards: Int): Seq[SeenShard] =
    readDir(io, io.sketchDir(gen), numShards)

  /** Driver-side read of the shard files in `dir`, in shard order; missing
   * files are skipped. The crawl loop reads its broadcast snapshot this way,
   * only while the files are under `sketchBroadcastMaxBytes`. */
  def readDir(io: TableIO, dir: String, numShards: Int): Seq[SeenShard] =
    (0 until numShards).flatMap { i =>
      val f = s"$dir/" + f"shard_$i%05d.bin"
      if (io.fileExists(f)) Some(SeenShard.deserialize(io.readBytes(f)))
      else None
    }
}
