package graft.seen

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Partitioned bloom-filter URL-seen set (north-star R7; SURVEY.md §2.K).
  *
  * The reference realizes "seen" as queue-key uniqueness enforced by the DB
  * (`SqlQueueTaskProvider.scala:59-77`). At 10^10 URLs (~12 GB of filter
  * bytes at 1% FPP) a single filter doesn't fit one task's memory and the
  * whole set must never be resident on the driver or broadcast per round,
  * so the seen set is SHARDED and stays a (shard, bytes, inserts) Dataset
  * end to end: key k lives in shard `pmod(xxhash64(k), nShards)`, and keys
  * shuffle to their shard's partition and meet the filter bytes in a
  * cogroup. Per-round network cost is ∝ keys probed/inserted + touched
  * shard bytes, never ∝ total seen-set size, and driver memory is O(1).
  *
  * Membership semantics: bloom is a PRE-FILTER only — a probe keeps every
  * true member (no false negatives, asserted in BloomShardsSpec) and
  * [[notSeen]] confirms the "maybe" rows with an exact anti-join (C2), so
  * the URL-seen set stays exact while the anti-join's shuffle input drops
  * by the filter's ~99% rejection rate.
  */
object BloomShards {

  private def withShard(df: DataFrame, keyCol: String, nShards: Int) =
    df.select(col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)
      .withColumn("shard", pmod(xxhash64(col("k")), lit(nShards.toLong)).cast("int"))

  /** All-empty shard table, built distributed (one row per shard id).
    * Besides the filter bytes each row carries `inserts` — the cumulative
    * number of keys ever inserted into the shard (duplicates included:
    * it's a cheap upper bound on distinct insertions). A bloom filter
    * sized for `expectedPerShard` keys degrades its FPP silently past that
    * capacity (still CORRECT — bloom is a pre-filter, the exact anti-join
    * confirms — but the anti-join traffic grows), so the counter is the
    * saturation signal [[saturationDf]] and the engine's manifest warning
    * read. */
  def emptyDf(spark: SparkSession, nShards: Int,
              expectedPerShard: Long = 1L << 16, fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    spark.range(nShards).as[Long].map { s =>
      val bos = new ByteArrayOutputStream()
      BloomFilter.create(math.max(expectedPerShard, 1L), fpp).writeTo(bos)
      (s.toInt, bos.toByteArray, 0L)
    }.toDF("shard", "bytes", "inserts")
  }

  /** Saturation report: (shard, inserts, capacity, fillRatio) per shard.
    * fillRatio ≥ 1.0 means the shard has absorbed more keys than its
    * filter was sized for — FPP is now worse than configured and the
    * remedy is a rebuild ([[buildDf]]) with a larger `expectedPerShard`. */
  def saturationDf(shards: DataFrame, expectedPerShard: Long): DataFrame =
    shards.select(col("shard"), col("inserts"),
      lit(expectedPerShard).as("capacity"),
      (col("inserts").cast("double") / lit(math.max(expectedPerShard, 1L).toDouble))
        .as("fillRatio"))

  /** `newKeys` grouped by shard, cogrouped with the shard rows: `f` gets a
    * shard id, its snapshot rows and its keys, and emits the shard rows to
    * write. */
  private def cogroupKeys(shards: DataFrame, newKeys: DataFrame, keyCol: String, nShards: Int)(
      f: (Int, Iterator[(Int, Array[Byte], Long)], Iterator[(String, Int)]) =>
        Iterator[(Int, Array[Byte], Long)]): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val keysKV = withShard(newKeys, keyCol, nShards)
      .as[(String, Int)].groupByKey(_._2)
    val shardsKV = shards.select(col("shard"), col("bytes"), col("inserts"))
      .as[(Int, Array[Byte], Long)].groupByKey(_._1)
    shardsKV.cogroup(keysKV)(f).toDF("shard", "bytes", "inserts")
  }

  /** Shard `sid` after inserting `ks`: its one snapshot row `bs` as is
    * when `ks` is empty, else deserialized, inserted into and serialized
    * with `inserts` advanced. Throws unless `bs` holds exactly one row. */
  private def insertKeys(sid: Int, bs: Iterator[(Int, Array[Byte], Long)],
                         ks: Iterator[(String, Int)]): (Int, Array[Byte], Long) = {
    val existing = bs.toList
    if (existing.isEmpty)
      throw new IllegalStateException(s"seen-shard $sid missing from snapshot")
    if (existing.sizeIs > 1)
      throw new IllegalStateException(s"seen-shard $sid duplicated in snapshot")
    if (ks.isEmpty) existing.head
    else {
      val f = BloomFilter.readFrom(new ByteArrayInputStream(existing.head._2))
      var n = 0L
      ks.foreach { case (k, _) => f.putString(k); n += 1 }
      val bos = new ByteArrayOutputStream(); f.writeTo(bos)
      (sid, bos.toByteArray, existing.head._3 + n)
    }
  }

  /** Insert `newKeys` into a shard Dataset, emitting ONLY the shards that
    * received at least one key — a commit's change set (round-2
    * scale-killer A: a full rewrite of every shard's bytes per round is
    * ~12 GB of parquet at 10^10 URLs @1% FPP no matter how few shards
    * changed). Keys shuffle to their shard; each touched shard
    * deserializes once, inserts its keys, re-serializes. Untouched shards
    * are neither read nor rewritten: the snapshot layer keeps the newest
    * row per shard, so the probe modulus never shrinks. Throws if a key's
    * shard row is missing — a truncated snapshot must never silently
    * shrink the probe modulus. */
  def updateTouchedDf(shards: DataFrame, newKeys: DataFrame, keyCol: String,
                      nShards: Int): DataFrame =
    cogroupKeys(shards, newKeys, keyCol, nShards) { (sid, bs, ks) =>
      if (ks.isEmpty) Iterator.empty else Iterator.single(insertKeys(sid, bs, ks))
    }

  /** The shard ids of the non-null keys of `newKeys` (a `shard` column):
    * the shards [[updateTouchedDf]] emits for them, from a plan without the
    * cogroup. Deduplicated within each partition only — no shuffle — so
    * the result has at most `nShards` rows per partition of `newKeys`. */
  def shardIds(newKeys: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    val spark = newKeys.sparkSession
    import spark.implicits._
    withShard(newKeys, keyCol, nShards).select("shard").as[Int]
      .mapPartitions(_.toSet.iterator).toDF("shard")
  }

  /** Build a shard Dataset from scratch over a key column: every shard,
    * keyless ones empty (the cogroup is full-outer on shard id). */
  def buildDf(keys: DataFrame, keyCol: String, nShards: Int,
              expectedPerShard: Long = 1L << 16, fpp: Double = 0.01): DataFrame =
    cogroupKeys(emptyDf(keys.sparkSession, nShards, expectedPerShard, fpp), keys, keyCol, nShards)(
      (sid, bs, ks) => Iterator.single(insertKeys(sid, bs, ks)))

  /** Distributed probe: (key as string, maybe) for every non-null key row
    * of `keys`. Keys shuffle to their shard's cogroup group; each group
    * deserializes its filter once and streams its keys through it. */
  def probeFlagsDf(keys: DataFrame, keyCol: String, shards: DataFrame, nShards: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val keysKV = withShard(keys, keyCol, nShards)
      .as[(String, Int)].groupByKey(_._2)
    val shardsKV = shards.select(col("shard").cast("int"), col("bytes"))
      .as[(Int, Array[Byte])].groupByKey(_._1)
    shardsKV.cogroup(keysKV) { (sid, bs, ks) =>
      if (ks.isEmpty) Iterator.empty
      else {
        val existing = bs.map(_._2).toList
        if (existing.isEmpty)
          throw new IllegalStateException(s"seen-shard $sid missing from snapshot")
        val f = BloomFilter.readFrom(new ByteArrayInputStream(existing.head))
        ks.map { case (k, _) => (k, f.mightContainString(k)) }
      }
    }.toDF(keyCol, "maybe")
  }

  /** The exact-seen pattern: rows of `candidates` whose `keyCol` is NOT
    * among `seenKeys`. Each distinct candidate key is probed against
    * `shards` ([[probeFlagsDf]]) and its flag joined back 1:1. Probes key
    * on the string form, so the flag key is cast back to the candidates'
    * key type explicitly rather than left to the session's comparison
    * coercion. Keys the filter has never seen are new for sure and skip
    * the anti-join; only the "maybe" rows are confirmed by an exact
    * anti-join against `seenKeys`. The result equals a plain anti-join
    * (bloom has no false negatives); only the anti-join's input shrinks.
    * `shards` must hold every key of `seenKeys`. */
  def notSeen(candidates: DataFrame, seenKeys: DataFrame, keyCol: String,
              shards: DataFrame, nShards: Int): DataFrame = {
    val flags = probeFlagsDf(candidates.select(col(keyCol)).distinct(), keyCol, shards, nShards)
      .select(col(keyCol).cast(candidates.schema(keyCol).dataType).as(keyCol),
        col("maybe").as("__maybe"))
    val flagged = candidates.join(flags, Seq(keyCol), "left")
    val maybe = coalesce(col("__maybe"), lit(false))
    val sure = flagged.filter(not(maybe)).drop("__maybe")
    val confirmed = flagged.filter(maybe).drop("__maybe")
      .join(seenKeys, Seq(keyCol), "left_anti")
    sure.unionByName(confirmed)
  }
}
