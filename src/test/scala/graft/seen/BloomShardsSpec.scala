package graft.seen

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.frontier.SnapshotStore

class BloomShardsSpec extends AnyFunSuite with SparkSpec {

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"https://host${i % 37}.example/p$i")
    val shardsDf = BloomShards.buildDf(keys.toDF("k"), "k", 8, expectedPerShard = 2048)
    val flags = BloomShards.probeFlagsDf(keys.toDF("k"), "k", shardsDf, 8)
      .as[(String, Boolean)].collect().toMap
    assert(flags.size == keys.size)
    assert(keys.forall(flags), "bloom false negative")
  }

  test("notSeen equals exact anti-join") {
    import spark.implicits._
    // string keys, and bigint keys with repeats (the seen_bloom_probe
    // oracle's c_custkey): probes key on the string form, so the flags
    // must join back onto the bigint candidates, once per distinct key
    val inputs = Seq(
      ((0 until 3000).map(i => s"u$i").toDF("k"),
        (1500 until 4500).map(i => s"u$i").toDF("k"), 1500L),
      ((0L until 3000L).toDF("k"),
        (1500L until 4500L).flatMap(i => Seq.fill((i % 3).toInt + 1)(i -> s"row$i")).toDF("k", "v"),
        (3000L until 4500L).map(_ % 3 + 1).sum))
    inputs.foreach { case (seen, candidates, nNew) =>
      val shards = BloomShards.buildDf(seen, "k", 4)
      val viaBloom = BloomShards.notSeen(candidates, seen, "k", shards, 4)
      assert(viaBloom.schema == candidates.schema)
      val exact = candidates.join(seen, Seq("k"), "left_anti")
      assert(viaBloom.collect().map(_.toString).sorted.toSeq ==
        exact.collect().map(_.toString).sorted.toSeq)
      assert(exact.count() == nNew)
    }
  }

  test("distributed shard lifecycle: build/update/probe with no driver-side bytes") {
    import spark.implicits._
    val n = 8
    val keys = (0 until 3000).map(i => s"u$i")
    val shardsDf = BloomShards.buildDf(keys.toDF("k"), "k", n, expectedPerShard = 1024)
    assert(shardsDf.count() == n)
    // no false negatives through the cogroup probe
    val probeAll = BloomShards.probeFlagsDf(keys.toDF("k"), "k", shardsDf, n)
    assert(probeAll.filter(not(col("maybe"))).count() == 0, "distributed bloom false negative")
    // incremental update (touched shards replacing theirs) keeps old + new members
    val more = (0 until 500).map(i => s"new$i")
    val shards2 = SnapshotStore.replaceByKey(shardsDf,
      SnapshotStore.Changes(BloomShards.updateTouchedDf(shardsDf, more.toDF("k"), "k", n)), "shard")
    assert(BloomShards.probeFlagsDf((keys ++ more).toDF("k"), "k", shards2, n)
      .filter(not(col("maybe"))).count() == 0)
  }

  test("distributed probe/update refuse a truncated shard snapshot") {
    import spark.implicits._
    val shardsDf = BloomShards.buildDf((0 until 100).map(i => s"u$i").toDF("k"), "k", 4)
      .filter(col("shard") =!= 2) // simulate a partially-written snapshot
    val keys = (0 until 100).map(i => s"u$i").toDF("k")
    val ex = intercept[org.apache.spark.SparkException] {
      BloomShards.probeFlagsDf(keys, "k", shardsDf, 4).count()
    }
    assert(ex.getMessage.contains("seen-shard") || ex.getCause != null)
  }

  test("updateTouchedDf writes only touched shards; merged view equals a full update") {
    import spark.implicits._
    val n = 8
    val base = BloomShards.buildDf((0 until 1000).map(i => s"u$i").toDF("k"), "k", n,
      expectedPerShard = 1024)
    val newKeys = Seq("zz-new-key-1").toDF("k") // one key → exactly one touched shard
    val touched = BloomShards.updateTouchedDf(base, newKeys, "k", n)
    assert(touched.count() == 1, "delta write set must contain only the touched shard")
    // shardIds names the touched shards without the cogroup
    val many = (0 until 40).map(i => s"m$i").toDF("k")
    assert(BloomShards.shardIds(many, "k", n).as[Int].collect().toSet ==
      BloomShards.updateTouchedDf(base, many, "k", n).select("shard").as[Int].collect().toSet)
    // the store's full form: touched rows override, untouched come from base
    val merged = SnapshotStore.replaceByKey(base,
      SnapshotStore.Changes(touched, Some(BloomShards.shardIds(newKeys, "k", n))), "shard")
    assert(merged.count() == n)
    val all = ((0 until 1000).map(i => s"u$i") :+ "zz-new-key-1").toDF("k")
    assert(BloomShards.probeFlagsDf(all, "k", merged, n)
      .filter(not(col("maybe"))).count() == 0, "merged delta view has a false negative")
    // bit-parity with shards built from every key, on an arbitrary probe set
    val full = BloomShards.buildDf(all, "k", n, expectedPerShard = 1024)
    val probes = (0 until 3000 by 3).map(i => s"p$i").toDF("k")
    val a = BloomShards.probeFlagsDf(probes, "k", merged, n)
      .as[(String, Boolean)].collect().toMap
    val b = BloomShards.probeFlagsDf(probes, "k", full, n)
      .as[(String, Boolean)].collect().toMap
    assert(a == b)
  }

  test("repeated notSeen calls accumulate no broadcast blocks") {
    import spark.implicits._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    // shard bytes stay a Dataset that meets the keys in a cogroup, never an
    // explicit broadcast the library could not destroy — so nothing can
    // accumulate across calls once jobs complete and references drop.
    val seen = (0 until 2000).map(i => s"u$i").toDF("k")
    val candidates = (1000 until 3000).map(i => s"u$i").toDF("k")
    val shards = BloomShards.buildDf(seen, "k", 4)
    def blocks() = org.apache.spark.sql.graftaccess.GraftTestAccess.broadcastBlockCount(spark)
    System.gc()
    val baseline = eventually(timeout(Span(30, Seconds))) { val b = blocks(); b }
    (0 until 5).foreach { _ =>
      assert(BloomShards.notSeen(candidates, seen, "k", shards, 4).count() == 1000)
    }
    eventually(timeout(Span(30, Seconds))) {
      System.gc() // let the ContextCleaner reap anything unreferenced
      assert(blocks() <= baseline + 2,
        s"broadcast blocks grew from $baseline to ${blocks()} over 5 probe calls")
    }
  }

  test("empty seen set: everything is new") {
    import spark.implicits._
    val seen = Seq.empty[String].toDF("k")
    val candidates = (0 until 10).map(i => s"x$i").toDF("k")
    val out = BloomShards.notSeen(candidates, seen, "k", BloomShards.buildDf(seen, "k", 2), 2)
    assert(out.count() == 10)
  }

  test("saturation signal: per-shard insert counters accumulate and flag over-capacity") {
    import spark.implicits._
    val n = 4
    val cap = 64L
    val empty = BloomShards.emptyDf(spark, n, expectedPerShard = cap)
    // fresh shards report zero inserts
    assert(BloomShards.saturationDf(empty, cap)
      .agg(max(col("inserts"))).head().getLong(0) == 0L)
    val s1 = BloomShards.buildDf((0 until 100).map(i => s"u$i").toDF("k"), "k", n, expectedPerShard = cap)
    val s2 = SnapshotStore.replaceByKey(s1, SnapshotStore.Changes(
      BloomShards.updateTouchedDf(s1, (100 until 400).map(i => s"u$i").toDF("k"), "k", n)), "shard")
    val sat = BloomShards.saturationDf(s2, cap)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    // counters accumulate across updates: 400 keys total across 4 shards
    assert(sat.map(_._2).sum == 400L, s"got $sat")
    // every shard holds ~100 keys against capacity 64: the signal must flag
    assert(sat.forall(_._3 > 1.0), s"expected fillRatio > 1 everywhere: $sat")
    // membership stays exact regardless of saturation (bloom = pre-filter)
    val probe = BloomShards.probeFlagsDf((0 until 400).map(i => s"u$i").toDF("k"), "k", s2, n)
    assert(probe.filter(not(col("maybe"))).count() == 0)
    // delta path counts too, and only emits touched shards
    val touched = BloomShards.updateTouchedDf(s2, Seq("u400").toDF("k"), "k", n)
    val tRows = touched.collect().map(r => r.getInt(0) -> r.getLong(2))
    val s2Counts = sat.map(t => t._1 -> t._2).toMap
    assert(tRows.length < n)
    assert(tRows.forall { case (sid, ins) => ins == s2Counts(sid) + 1L }, s"got ${tRows.toSeq}")
  }
}
