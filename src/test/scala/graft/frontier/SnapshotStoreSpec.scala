package graft.frontier

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Snapshot-layer unit contract: manifest escaping, orphan robustness
  * (round-3 VERDICT wrong #2 + ADVICE), the commit's await-all failure
  * path, and the fixed-schema merge-on-read read path. */
class SnapshotStoreSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-store-$tag").toString

  private def df2(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("manifest round-trips keys/values with quotes, backslashes and newlines") {
    val store = new SnapshotStore(tmp("esc"), spark)
    val nasty = Map(
      "nextRound" -> "0", "nextId" -> "1",
      """resource.used.px-"q"""" -> "3",
      "resource" -> "a\\b\nc\t\"d\"",
      "plain" -> "value")
    store.commit(0, df2(Seq(1L -> "a")), df2(Nil), None, nasty)
    val back = store.readMeta(0)
    nasty.foreach { case (k, v) =>
      assert(back.get(k).contains(v), s"key $k: got ${back.get(k)}, want $v")
    }
    assert(back("version") == "0" && back("hasResults") == "false")
  }

  test("allResults survives a truncated part file in a crash-orphaned results dir") {
    val dir = tmp("orphan")
    val store = new SnapshotStore(dir, spark)
    store.commit(0, df2(Seq(1L -> "a")), df2(Nil), Some(df2(Seq(10L -> "r0"))),
      Map("nextRound" -> "0", "nextId" -> "1"))
    store.commit(1, df2(Seq(1L -> "a")), df2(Nil), Some(df2(Seq(11L -> "r1"))),
      Map("nextRound" -> "1", "nextId" -> "1"))
    // crash artifact: an UNCOMMITTED results/v=2 with a truncated part file.
    // Reading the results ROOT let parquet schema inference sample it and
    // fail until manually cleaned; listing only committed dirs must not.
    val orphan = Paths.get(s"$dir/results/v=2")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000-trunc.snappy.parquet"),
      "PAR1 this is not a parquet file".getBytes("UTF-8"))
    val all = store.allResults().get.collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(10L, 11L))
  }

  test("commit awaits every write before rethrowing a failed one") {
    val dir = tmp("await")
    val store = new SnapshotStore(dir, spark)
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("hosts write"); x })
    val badHosts = spark.range(1).select(boom(col("id")).as("host"))
    val finished = new AtomicBoolean(false)
    val slowUnit = () => { Thread.sleep(3000); finished.set(true) }
    val ex = intercept[Exception] {
      store.commit(0, df2(Seq(1L -> "a")), badHosts, None,
        Map("nextRound" -> "0", "nextId" -> "1"), concurrent = Some(slowUnit))
    }
    assert(finished.get(), s"commit rethrew ($ex) while a sibling write was still running")
    assert(!Files.exists(Paths.get(s"$dir/manifest-0.json")), "a failed commit published")
  }

  /** Store whose latest version `depth` merges a full v0 with `depth` delta
    * versions of all three state tables. v0 is written WITHOUT the optional
    * columns (frontier `source`, seen `inserts`); every delta carries them.
    * Delta v=k rewrites frontier ids {k, k+1} with url "u<id>@v<k>", host
    * h<k%3>, and seen shard k%4. */
  private def deltaStore(depth: Int): SnapshotStore = {
    import spark.implicits._
    val store = new SnapshotStore(tmp(s"depth$depth"), spark)
    def frontier(rows: Seq[(Long, String)]) = rows.map { case (id, url) =>
      (id, url, url, s"h${id % 3}", "taskWait", 0, 0, 0L, 0, "p", "t")
    }.toDF("id", "url", "urlNorm", "host", "status", "attempt", "priority", "warcTs",
      "discoveredRound", "projectId", "taskType")
    def hosts(hs: Seq[(String, Long)]) = hs.map { case (h, t) => (h, t, 0) }
      .toDF("host", "nextTick", "failCount")
    val base = Map("nextRound" -> "0", "nextId" -> "10", "frontierSource" -> "true",
      "seenShards" -> "4")
    store.commit(0, frontier((0L until 10L).map(i => i -> s"u$i@v0")),
      hosts((0 until 3).map(i => s"h$i" -> 0L)), None,
      base ++ Map("frontierFormat" -> "full", "frontierBase" -> "0",
        "hostsFormat" -> "full", "hostsBase" -> "0", "seenFormat" -> "full", "seenBase" -> "0"),
      concurrent = Some(() => store.writeSeen(0,
        (0 until 4).map(i => (i, Array[Byte](0))).toDF("shard", "bytes"))))
    (1 to depth).foreach { k =>
      store.commit(k,
        frontier(Seq(k.toLong, k + 1L).map(id => id -> s"u$id@v$k"))
          .withColumn("source", lit(s"src$k")),
        hosts(Seq(s"h${k % 3}" -> k.toLong)), None,
        base ++ Map("frontierFormat" -> "delta", "frontierBase" -> "0",
          "hostsFormat" -> "delta", "hostsBase" -> "0", "seenFormat" -> "delta", "seenBase" -> "0"),
        concurrent = Some(() => store.writeSeen(k,
          Seq((k % 4, Array[Byte](k.toByte), k.toLong)).toDF("shard", "bytes", "inserts"))))
    }
    store
  }

  private def countJobs[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val x = f
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      (x, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def parquetScans(df: DataFrame): Int = {
    df.collect() // finalize the adaptive plan
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size
  }

  Seq(1, 3, 6).foreach { depth =>
    test(s"merge-on-read at delta depth $depth: zero jobs to open, one scan per table, newest row wins") {
      val store = deltaStore(depth)
      val ((f, h, s), jobs) = countJobs {
        val t = (store.readFrontier(depth), store.readHosts(depth), store.readSeen(depth))
        Seq(t._1, t._2, t._3).foreach(_.schema)
        t
      }
      assert(jobs == 0, s"opening the state tables at depth $depth ran $jobs Spark jobs")
      assert(f.schema == SnapshotStore.frontierSchema(withSource = true))
      assert(h.schema == SnapshotStore.HostsSchema && s.schema == SnapshotStore.SeenSchema)
      Seq("frontier" -> f, "hosts" -> h, "seen" -> s).foreach { case (name, df) =>
        assert(parquetScans(df) == 1, s"$name at depth $depth is not a single parquet scan")
      }
      // newest row per key: id i was last written by delta max(i-1, 1)..depth
      // (ids 1..depth+1), untouched ids keep their v0 row with a null source
      def lastWriter(id: Long): Int =
        if (id >= 1 && id <= depth + 1) math.min(id.toInt, depth) else 0
      val fr = f.select("id", "url", "source").collect()
        .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
      assert(fr.keySet == (0L until math.max(10L, depth + 2L)).toSet)
      fr.foreach { case (id, (url, src)) =>
        val k = lastWriter(id)
        assert(url == s"u$id@v$k", s"id $id: got $url")
        assert(src == (if (k == 0) None else Some(s"src$k")), s"id $id: source $src")
      }
      val hr = h.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (0 until 3).foreach { i =>
        val want = (1 to depth).filter(_ % 3 == i).maxOption.getOrElse(0).toLong
        assert(hr(s"h$i") == want, s"host h$i: got ${hr(s"h$i")}, want $want")
      }
      val sr = s.collect().map(r => r.getInt(0) -> (r.getAs[Array[Byte]](1).toSeq,
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      (0 until 4).foreach { sh =>
        (1 to depth).filter(_ % 4 == sh).maxOption match {
          case Some(k) => assert(sr(sh) == (Seq(k.toByte), Some(k.toLong)), s"shard $sh")
          case None => assert(sr(sh) == (Seq(0.toByte), None), s"shard $sh keeps v0, null inserts")
        }
      }
    }
  }
}
