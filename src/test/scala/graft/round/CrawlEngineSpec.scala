package graft.round

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.core._
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore
import graft.sim.ReferenceSimulator

/** The crawl-order exact-match gate (BASELINE.md): the Spark engine's fetch
  * sequence (round, seq, urlNorm, outcome) must equal the clean-room
  * reference simulator's, and extracted text must be byte-identical to the
  * corpus text column. */
class CrawlEngineSpec extends AnyFunSuite with SparkSpec {

  private val spec = CorpusGen.Spec()
  private val cfg = CrawlConfig(hostBudgetPerRound = 2, roundBudget = 12, maxRounds = 40)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private lazy val simOut =
    ReferenceSimulator.run(CorpusGen.simCorpus(spec), CorpusGen.seeds(spec), cfg)

  private def engineFetches(stateDir: String): (Seq[(Int, Int, String, String)], Map[String, Option[String]]) = {
    val store = new SnapshotStore(stateDir, spark)
    val rows = store.allResults().get
      .select("round", "seq", "urlNorm", "outcome", "extractedText")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), Option(r.getString(4))))
      .sortBy(t => (t._1, t._2))
    (rows.map(t => (t._1, t._2, t._3, t._4)).toSeq,
      rows.map(t => t._3 -> t._5).toMap)
  }

  test("engine crawl order matches the reference simulator exactly") {
    val stateDir = tmpDir("order")
    val corpus = CorpusTable.create(spark, spec)
    val summary = CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    assert(summary.fetches > 0)

    val (engineSeq, _) = engineFetches(stateDir)
    val simSeq = simOut.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome))
    // compare with context on first divergence for debuggability
    val diverge = engineSeq.zip(simSeq).indexWhere { case (a, b) => a != b }
    assert(diverge == -1 && engineSeq.size == simSeq.size,
      s"diverged at $diverge: engine=${engineSeq.slice(math.max(0, diverge - 2), diverge + 3)} " +
        s"sim=${simSeq.slice(math.max(0, diverge - 2), diverge + 3)} " +
        s"sizes=${engineSeq.size}/${simSeq.size}")
  }

  test("extracted text is byte-identical to the corpus text column") {
    val stateDir = tmpDir("text")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    val (fetches, texts) = engineFetches(stateDir)
    val oracle = CorpusGen.simCorpus(spec)
    val successes = fetches.filter(_._4 == Outcome.Success)
    assert(successes.nonEmpty)
    successes.foreach { case (_, _, urlNorm, _) =>
      assert(texts(urlNorm) == Some(oracle(urlNorm).text), s"text mismatch for $urlNorm")
    }
  }

  test("final frontier statuses match the simulator") {
    val stateDir = tmpDir("frontier")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    val store = new SnapshotStore(stateDir, spark)
    val engineFrontier = store.readFrontier(store.latestVersion.get)
      .select("urlNorm", "status", "attempt", "id")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    val simFrontier = simOut.frontier.map(e => e.urlNorm -> ((e.status, e.attempt, e.id))).toMap
    assert(engineFrontier == simFrontier)
  }

  test("bloom seen-filter path yields the identical crawl (R7 exactness)") {
    val plain = tmpDir("plain"); val bloom = tmpDir("bloom")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(plain, spark), corpus, CorpusGen.seeds(spec), cfg)
    val bloomCfg = cfg.copy(seenFilter = true, seenShards = 4)
    // interrupt + resume to exercise shard persistence too
    CrawlEngine.crawl(spark, new SnapshotStore(bloom, spark),
      corpus, CorpusGen.seeds(spec), bloomCfg.copy(maxRounds = 4))
    CrawlEngine.crawl(spark, new SnapshotStore(bloom, spark),
      corpus, CorpusGen.seeds(spec), bloomCfg)
    val (a, _) = engineFetches(plain)
    val (b, _) = engineFetches(bloom)
    assert(a == b)
    assert(new SnapshotStore(bloom, spark).hasSeen(
      new SnapshotStore(bloom, spark).latestVersion.get))
  }

  test("bucketed on-disk corpus staging yields the identical crawl (no corpus cache)") {
    val mem = tmpDir("stage-mem"); val buck = tmpDir("stage-buck")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(mem, spark), corpus, CorpusGen.seeds(spec), cfg)
    CrawlEngine.crawl(spark, new SnapshotStore(buck, spark), corpus, CorpusGen.seeds(spec),
      cfg.copy(corpusStaging = "bucketed"))
    val (a, _) = engineFetches(mem)
    val (b, _) = engineFetches(buck)
    assert(a == b)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$buck/corpus_bucketed")),
      "staged table should live on disk under the state dir")
  }

  test("A5 least-used resource pick matches the simulator and survives resume") {
    val stateDir = tmpDir("resources")
    val corpus = CorpusTable.create(spark, spec)
    val cfgR = cfg.copy(resources = Seq("tor-b", "tor-a", "tor-c"))
    // interrupt + resume: usedCounts must restore from the manifest so the
    // rotation continues where it left off
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfgR.copy(maxRounds = 3))
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfgR)
    val simR = ReferenceSimulator.run(CorpusGen.simCorpus(spec), CorpusGen.seeds(spec), cfgR)
    val engineLog = CrawlEngine.resourceLog(spark, new SnapshotStore(stateDir, spark))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(engineLog == simR.resourceLog)
    assert(engineLog.nonEmpty)
    // least-used with id-asc tiebreak from zero: first pick is "tor-a"
    assert(engineLog.head._2 == "tor-a")
    // the pool balances: max usage spread ≤ 1 batch
    val finalUsed = engineLog.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    assert(finalUsed.values.max - finalUsed.values.min <= 1, s"unbalanced: $finalUsed")
  }

  test("D3 failCount circuit breaker: engine matches simulator and stops on dead hosts") {
    // deep-chain spec: zero politeness + big budgets so the next-page link
    // chain reaches host0's xx-gen page (pageIdx 21) within a few rounds
    val spec3 = CorpusGen.Spec(nHosts = 2, pagesPerHost = 40)
    val cfg3 = CrawlConfig(hostBudgetPerRound = 4, roundBudget = 50,
      politenessCenterTicks = 0, politenessRadiusTicks = 0,
      maxRounds = 60, maxHostFailures = 1)
    val stateDir = tmpDir("d3")
    val corpus = CorpusTable.create(spark, spec3)
    // notification seam: the D3 stop must surface as NoResourcesAvailable
    val stops = scala.collection.mutable.Buffer.empty[(String, Long)]
    val hooks = PipelineHooks(notifiers = Seq(
      new CrawlNotifier {
        override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit =
          stops += ((reason, s.fetches))
      }))
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec3), cfg3, hooks)
    assert(stops.toList.map(_._1) == List(StopReason.NoResourcesAvailable),
      s"expected a NoResourcesAvailable notification, got $stops")
    val sim3 = ReferenceSimulator.run(CorpusGen.simCorpus(spec3), CorpusGen.seeds(spec3), cfg3)
    val (engineSeq, _) = engineFetches(stateDir)
    assert(engineSeq == sim3.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome)))
    // the breaker must actually bite: some host died with waits left behind
    val deadHosts = sim3.hostNext.filter(_._2 >= Int.MaxValue.toLong).keySet
    assert(deadHosts.nonEmpty, "corpus has io/gen failures — cap 1 must close a host")
    assert(sim3.frontier.exists(e => e.status == TaskStatus.Wait && deadHosts(e.host)),
      "a closed host should strand wait rows (NoResourcesAvailable semantics)")
    val store = new SnapshotStore(stateDir, spark)
    val engineWaitHosts = store.readFrontier(store.latestVersion.get)
      .filter(org.apache.spark.sql.functions.col("status") === TaskStatus.Wait)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(deadHosts.subsetOf(engineWaitHosts))
  }

  test("delta frontier layout (merge-on-read + compaction) yields the identical crawl") {
    val full = tmpDir("layout-full"); val delta = tmpDir("layout-delta")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(full, spark), corpus, CorpusGen.seeds(spec), cfg)
    // delta layout covers ALL THREE mutable state tables this round:
    // frontier, hosts, and (with the filter on) seen shards
    val deltaCfg = cfg.copy(frontierLayout = "delta", frontierCompactEvery = 3,
      seenFilter = true, seenShards = 8)
    // interrupt + resume across a compaction boundary to exercise both
    // delta reads (merged view) and full compaction snapshots
    CrawlEngine.crawl(spark, new SnapshotStore(delta, spark),
      corpus, CorpusGen.seeds(spec), deltaCfg.copy(maxRounds = 4))
    CrawlEngine.crawl(spark, new SnapshotStore(delta, spark),
      corpus, CorpusGen.seeds(spec), deltaCfg)
    val (a, _) = engineFetches(full)
    val (b, _) = engineFetches(delta)
    assert(a == b)
    // final frontiers identical through the merged view
    val store = new SnapshotStore(delta, spark)
    val fStore = new SnapshotStore(full, spark)
    def snap(st: SnapshotStore) = st.readFrontier(st.latestVersion.get)
      .select("id", "urlNorm", "status", "attempt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(snap(store) == snap(fStore))
    // the layout actually wrote deltas for every state table
    val latest = store.latestVersion.get
    def formats(k: String) = (0 to latest).map(v => store.readMeta(v).getOrElse(k, "full"))
    assert(formats("frontierFormat").contains("delta"), "no frontier delta commits")
    assert(formats("hostsFormat").contains("delta"), "no hosts delta commits")
    assert(formats("seenFormat").contains("delta"), "no seen delta commits")
    // saturation signal: compaction (full seen) rounds record the fullest
    // shard's insert counter in the manifest
    assert((1 to latest).exists(v => store.readMeta(v).contains("seenMaxShardInserts")),
      "no compaction round recorded seenMaxShardInserts")
    // and a delta commit wrote ∝ touched rows, not ∝ table size: some delta
    // version's on-disk hosts/seen dirs are smaller than the merged view
    val deltaVs = (1 to latest)
      .filter(v => store.readMeta(v).get("hostsFormat").contains("delta"))
    assert(deltaVs.exists { v =>
      spark.read.parquet(s"$delta/v=$v/hosts").count() < store.readHosts(v).count()
    }, "every hosts delta rewrote the full host table")
    assert(deltaVs.exists { v =>
      spark.read.parquet(s"$delta/v=$v/seen").count() < 8
    }, "every seen delta rewrote all shards")
  }

  test("resume with a different seenShards than the snapshot is refused") {
    val stateDir = tmpDir("shardguard")
    val corpus = CorpusTable.create(spark, spec)
    val c4 = cfg.copy(seenFilter = true, seenShards = 4)
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), c4.copy(maxRounds = 2))
    val ex = intercept[IllegalArgumentException] {
      CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
        corpus, CorpusGen.seeds(spec), c4.copy(seenShards = 8))
    }
    assert(ex.getMessage.contains("seenShards"), ex.getMessage)
  }

  test("staged corpus table is re-staged when the same dir holds a different corpus") {
    val dir = tmpDir("stage-reuse")
    val a = CorpusTable.create(spark, spec)
    val stagedA = CrawlEngine.corpusStagedBucketed(spark, a, dir)
    val ca = stagedA.count()
    val specB = CorpusGen.Spec(nHosts = 3, pagesPerHost = 10)
    val b = CorpusTable.create(spark, specB)
    val cbExpected = CrawlEngine.corpusNorm(b).count()
    assert(cbExpected != ca, "test needs corpora of different sizes")
    // same state dir, different corpus: round-2 code silently served A
    val stagedB = CrawlEngine.corpusStagedBucketed(spark, b, dir)
    assert(stagedB.count() == cbExpected, "stale staged corpus served on reuse")
  }

  test("pre-multiproject snapshot schema resumes via backfill (schema compat)") {
    val full = tmpDir("compat-full"); val old = tmpDir("compat-old")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(full, spark), corpus, CorpusGen.seeds(spec), cfg)
    CrawlEngine.crawl(spark, new SnapshotStore(old, spark),
      corpus, CorpusGen.seeds(spec), cfg.copy(maxRounds = 3))
    // rewrite the latest snapshot in the round-1-era schema (no projectId/
    // taskType on the frontier, no failCount on hosts) — materialize to the
    // driver first so the overwrite doesn't race the lazy read
    val store = new SnapshotStore(old, spark)
    val v = store.latestVersion.get
    def rewrite(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
      val rows = df.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows), df.schema)
        .write.mode("overwrite").parquet(path)
    }
    rewrite(store.readFrontier(v).drop("projectId", "taskType"), s"$old/v=$v/frontier")
    rewrite(store.readHosts(v).drop("failCount"), s"$old/v=$v/hosts")
    // resume must backfill the defaults and produce the identical crawl
    CrawlEngine.crawl(spark, new SnapshotStore(old, spark), corpus, CorpusGen.seeds(spec), cfg)
    val (x, _) = engineFetches(full)
    val (y, _) = engineFetches(old)
    assert(x == y)
  }

  test("multi-project taskType multiplexing: engine matches simulator, links chain projects") {
    // two chained projects: seeds enter under "list" (type tList); links
    // they discover chain to "article" (type tArt), which chains to itself
    val projects = Seq(
      ProjectSpec("list", "tList", "article"),
      ProjectSpec("article", "tArt", "article"))
    val cfgP = cfg.copy(projects = projects, maxRounds = 50)
    val stateDir = tmpDir("multiproj")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfgP)
    val simP = ReferenceSimulator.run(CorpusGen.simCorpus(spec), CorpusGen.seeds(spec), cfgP)
    val (engineSeq, _) = engineFetches(stateDir)
    assert(engineSeq == simP.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome)))
    assert(engineSeq.nonEmpty)
    // project chaining visible in the frontier: seeds under "list",
    // discovered links under "article"
    val store = new SnapshotStore(stateDir, spark)
    val byProject = store.readFrontier(store.latestVersion.get)
      .groupBy("projectId", "taskType").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byProject.keySet == Set(("list", "tList"), ("article", "tArt")),
      s"got $byProject")
    assert(byProject(("article", "tArt")) > 0, "discovered links should chain to 'article'")
    // both types actually got leased (the per-round pick rotates)
    val simTypes = simP.fetches.map(f => simP.frontier.find(_.id == f.id).get.taskType).toSet
    assert(simTypes == Set("tList", "tArt"))
  }

  test("B5 validator: flagged rows skip the fetch, engine matches simulator") {
    val stateDir = tmpDir("validator")
    val corpus = CorpusTable.create(spark, spec)
    // skip every url whose path contains "/p3" (deterministic predicate,
    // expressed as a Column for the engine and a function for the simulator)
    val hooks = graft.round.PipelineHooks(
      validator = Some(org.apache.spark.sql.functions.col("urlNorm").contains("/p3")))
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfg, hooks)
    val simV = ReferenceSimulator.run(CorpusGen.simCorpus(spec), CorpusGen.seeds(spec), cfg,
      validator = _.contains("/p3"))
    val (engineSeq, _) = engineFetches(stateDir)
    assert(engineSeq == simV.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome)))
    val skipped = engineSeq.filter(_._4 == Outcome.Skipped)
    assert(skipped.nonEmpty, "the corpus links to /p3 pages — some must be flagged")
    assert(skipped.forall(_._3.contains("/p3")))
    // skipped tasks end taskSkipped in the frontier (B6 → markSkipped)
    val store = new SnapshotStore(stateDir, spark)
    val statuses = store.readFrontier(store.latestVersion.get)
      .filter(org.apache.spark.sql.functions.col("urlNorm").isin(skipped.map(_._3): _*))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses == Set(TaskStatus.Skipped))
  }

  test("pool-level resource breaker: engine matches simulator, parks one proxy then stops") {
    // the shared breaker scenario (SparkEntry.breakerSpec/Cfg, also the
    // resource_breaker oracle): proxy-a hits maxResourceFailures=3 and is
    // parked, proxy-b serves the remaining rounds alone, then the pool
    // exhausts and the crawl stops with NoResourcesAvailable
    val bSpec = graft.SparkEntry.breakerSpec
    val bCfg = graft.SparkEntry.breakerCfg
    val stateDir = tmpDir("breaker")
    val corpus = CorpusTable.create(spark, bSpec)
    val stops = scala.collection.mutable.Buffer.empty[String]
    val hooks = PipelineHooks(notifiers = Seq(
      new CrawlNotifier {
        override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit =
          stops += reason
      }))
    // interrupt + resume: per-resource failure counts must restore from the
    // manifest, or a resumed crawl would reopen a parked proxy
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(bSpec), bCfg.copy(maxRounds = 5))
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(bSpec), bCfg, hooks)
    assert(stops.toList == List(StopReason.NoResourcesAvailable), s"got $stops")
    val simB = ReferenceSimulator.run(CorpusGen.simCorpus(bSpec), CorpusGen.seeds(bSpec), bCfg)
    val (engineSeq, _) = engineFetches(stateDir)
    assert(engineSeq == simB.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome)))
    val engineLog = CrawlEngine.resourceLog(spark, new SnapshotStore(stateDir, spark))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(engineLog == simB.resourceLog)
    // the breaker must actually bite: the tail rounds are served by a
    // SINGLE surviving resource while the other is parked
    val lastOfA = engineLog.filter(_._2 == "proxy-a").map(_._1).max
    val afterA = engineLog.filter(_._1 > lastOfA)
    assert(afterA.nonEmpty && afterA.forall(_._2 == "proxy-b"),
      s"expected proxy-b-only tail after proxy-a parked at round $lastOfA: $engineLog")
    // and the stop strands wait rows (pool exhausted, work remaining)
    val store = new SnapshotStore(stateDir, spark)
    val waits = store.readFrontier(store.latestVersion.get)
      .filter(org.apache.spark.sql.functions.col("status") === TaskStatus.Wait).count()
    assert(waits > 0)
  }

  test("A12 write-back sink merges extractedText onto the frontier in-commit (full ≡ delta)") {
    val full = tmpDir("wb-full"); val delta = tmpDir("wb-delta")
    val corpus = CorpusTable.create(spark, spec)
    val hooks = PipelineHooks(parsedSinks = Seq(FrontierWriteBackSink))
    CrawlEngine.crawl(spark, new SnapshotStore(full, spark),
      corpus, CorpusGen.seeds(spec), cfg, hooks)
    CrawlEngine.crawl(spark, new SnapshotStore(delta, spark),
      corpus, CorpusGen.seeds(spec),
      cfg.copy(frontierLayout = "delta", frontierCompactEvery = 3), hooks)
    def sources(dir: String): Map[Long, Option[String]] = {
      val store = new SnapshotStore(dir, spark)
      store.readFrontier(store.latestVersion.get)
        .select("id", "source")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    val fullSrc = sources(full)
    // simulator truth: source = extractedText of the row's successful fetch
    val bySuccess = simOut.fetches.filter(_.outcome == Outcome.Success)
      .map(f => f.id -> f.extractedText).toMap
    val expected = simOut.frontier.map(e => e.id -> bySuccess.get(e.id).flatten).toMap
    assert(fullSrc == expected)
    assert(fullSrc.values.exists(_.isDefined), "some row must carry extracted text")
    assert(fullSrc.values.exists(_.isEmpty), "unfetched rows keep a null source")
    // merge-on-read carries the column identically under the delta layout
    assert(sources(delta) == expected)
    // without the sink, the frontier schema is unchanged (no source column)
    val plain = tmpDir("wb-plain")
    CrawlEngine.crawl(spark, new SnapshotStore(plain, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    val st = new SnapshotStore(plain, spark)
    assert(!st.readFrontier(st.latestVersion.get).columns.contains("source"))
  }

  test("F6 wall-clock timeout stops between rounds and resumes exactly") {
    val full = tmpDir("wall-full"); val timed = tmpDir("wall-timed")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(full, spark), corpus, CorpusGen.seeds(spec), cfg)
    val stops = scala.collection.mutable.Buffer.empty[String]
    val hooks = PipelineHooks(notifiers = Seq(
      new CrawlNotifier {
        override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit =
          stops += reason
      }))
    // 1-second allowance: the first round starts (elapsed 0 < 1) and the
    // loop stops at the next top-of-round check — always mid-crawl for
    // this spec (full run takes tens of rounds)
    CrawlEngine.crawl(spark, new SnapshotStore(timed, spark),
      corpus, CorpusGen.seeds(spec), cfg.copy(maxWallSecs = 1L), hooks)
    assert(stops.toList == List(StopReason.WallClockTimeout), s"got $stops")
    // resume with no wall limit completes to the identical crawl
    CrawlEngine.crawl(spark, new SnapshotStore(timed, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    val (a, _) = engineFetches(full)
    val (b, _) = engineFetches(timed)
    assert(a == b)
  }

  test("manifest round-trips resource ids with quotes/newlines; empty pool refused") {
    // config-time validation (round-3 ADVICE): empty pool and control chars
    // fail loudly at construction, never mid-crawl from minBy
    intercept[IllegalArgumentException](CrawlConfig(resources = Nil))
    intercept[IllegalArgumentException](CrawlConfig(resources = Seq("a\nb")))
    intercept[IllegalArgumentException](CrawlConfig(resources = Seq("dup", "dup")))
    // quotes are legal — the manifest JSON-escapes them (round-3 VERDICT
    // wrong #2: a quoted id corrupted the regex-parsed commit marker)
    val quoted = """px-"quoted""""
    val cfgQ = cfg.copy(resources = Seq(quoted, "px-plain"), maxRounds = 3)
    val stateDir = tmpDir("quoted")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
      corpus, CorpusGen.seeds(spec), cfgQ)
    val log = CrawlEngine.resourceLog(spark, new SnapshotStore(stateDir, spark))
      .collect().map(_.getString(1)).toSet
    assert(log.contains(quoted), s"quoted resource id lost in the manifest: $log")
  }

  test("staged-corpus identity: same-count different-content re-stages; same files reuse zero jobs") {
    import spark.implicits._
    val dir = tmpDir("stage-fp")
    def mk(urls: Seq[String]): org.apache.spark.sql.DataFrame =
      urls.map(u => (u, new java.sql.Timestamp(1767225600000L),
        s"<html><body>x</body></html>".getBytes("UTF-8"), "x", "en"))
        .toDF("url", "warc_ts", "html", "text", "lang")
    val a = mk((0 until 10).map(i => s"https://h.example/a$i"))
    val b = mk((0 until 10).map(i => s"https://h.example/b$i")) // same count!
    CrawlEngine.corpusStagedBucketed(spark, a, dir)
    // same row count, different urls: the round-3 row-count check silently
    // served A — the content fingerprint must re-stage
    val stagedB = CrawlEngine.corpusStagedBucketed(spark, b, dir)
    assert(stagedB.select("urlNorm").collect().map(_.getString(0)).forall(_.contains("/b")),
      "stale staged corpus served for a same-count different-content input")
    // file-backed corpus: a resume with the SAME input files must validate
    // from metadata alone — zero Spark jobs
    val pq = tmpDir("stage-pq-src")
    mk((0 until 10).map(i => s"https://h.example/c$i")).write.mode("overwrite").parquet(pq)
    val dir2 = tmpDir("stage-fp2")
    CrawlEngine.corpusStagedBucketed(spark, spark.read.parquet(pq), dir2)
    // build the caller's DataFrame BEFORE counting: spark.read.parquet's
    // own footer/schema job belongs to the caller, not the validation
    val again = spark.read.parquet(pq)
    again.schema
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CrawlEngine.corpusStagedBucketed(spark, again, dir2)
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"clean reuse ran ${jobs.get()} Spark jobs — must be metadata-only")
      // driver-restart path: the session catalog forgets the table (here:
      // explicit DROP — external table, files + marker stay) — reuse must
      // RE-REGISTER over the existing location, still zero jobs, never an
      // O(corpus) re-stage
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir2.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      spark.sql(s"DROP TABLE graft_corpus_$digest")
      jobs.set(0)
      val reRegistered = CrawlEngine.corpusStagedBucketed(spark, again, dir2)
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0,
        s"driver-restart reuse ran ${jobs.get()} Spark jobs — must re-register, not re-stage")
      assert(reRegistered.count() == 10)
      // the re-registered table keeps its bucket spec (no-exchange joins)
      val desc = spark.sql(s"DESCRIBE FORMATTED graft_corpus_$digest")
        .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("urlNorm"), desc)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("saturated bloom shards auto-resize at compaction; crawl output unchanged") {
    val plain = tmpDir("resize-plain"); val tiny = tmpDir("resize-tiny")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(plain, spark), corpus, CorpusGen.seeds(spec), cfg)
    // capacity 4 per shard is saturated almost immediately by the ~100-URL
    // frontier: the compaction-point auto-resize must rebuild with a larger
    // capacity — and membership must stay exact throughout (bloom is only a
    // pre-filter, so the crawl is bit-identical to the unfiltered run)
    val tinyCfg = cfg.copy(seenFilter = true, seenShards = 4,
      seenExpectedPerShard = 4L, frontierLayout = "delta", frontierCompactEvery = 2)
    CrawlEngine.crawl(spark, new SnapshotStore(tiny, spark),
      corpus, CorpusGen.seeds(spec), tinyCfg)
    val (a, _) = engineFetches(plain)
    val (b, _) = engineFetches(tiny)
    assert(a == b)
    val store = new SnapshotStore(tiny, spark)
    val latest = store.latestVersion.get
    val caps = (1 to latest).flatMap(v =>
      store.readMeta(v).get("seenExpectedPerShard").map(_.toLong))
    assert(caps.exists(_ > 4L), s"auto-resize never triggered: capacities $caps")
    // capacity is monotone non-decreasing and the final fill ratio is sane
    assert(caps == caps.sorted, s"capacity shrank: $caps")
    val lastRatio = (1 to latest).flatMap(v =>
      store.readMeta(v).get("seenFillRatio").map(_.toDouble)).last
    assert(lastRatio < 1.0, s"still saturated after resize: $lastRatio")
    // a resumed crawl restores the resized capacity from the manifest (no
    // shrink back to cfg's 4): run one more config-identical crawl call —
    // it resumes at completion, touching nothing, and must not throw
    CrawlEngine.crawl(spark, new SnapshotStore(tiny, spark),
      corpus, CorpusGen.seeds(spec), tinyCfg)
  }

  test("kill-after-round-k resume produces an identical crawl (F7/F8)") {
    val full = tmpDir("full"); val resumed = tmpDir("resumed")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(full, spark), corpus, CorpusGen.seeds(spec), cfg)

    // run 1: truncated crawl (kill after 3 rounds via maxRounds)
    CrawlEngine.crawl(spark, new SnapshotStore(resumed, spark),
      corpus, CorpusGen.seeds(spec), cfg.copy(maxRounds = 3))
    // simulate an orphan, uncommitted snapshot left by a crash
    val store = new SnapshotStore(resumed, spark)
    val orphanV = store.latestVersion.get + 1
    store.readFrontier(store.latestVersion.get).limit(1)
      .write.parquet(s"$resumed/v=$orphanV/frontier")
    // run 2: resume to completion
    CrawlEngine.crawl(spark, new SnapshotStore(resumed, spark),
      corpus, CorpusGen.seeds(spec), cfg)

    val (a, _) = engineFetches(full)
    val (b, _) = engineFetches(resumed)
    assert(a == b)
  }

  test("stop precedence: Completed outranks WallClockTimeout outranks pool exhaustion") {
    // extracted pure so the race (frontier exhausted in the same round the
    // wall clock elapsed) is testable without a real clock — round-4 ADVICE
    // #4: reporting WallClockTimeout for a finished crawl misleads
    // notifiers about whether work remains
    assert(CrawlEngine.stopCheck(0, wallExpired = true, poolExhausted = true)
      .contains(StopReason.Completed))
    assert(CrawlEngine.stopCheck(3, wallExpired = true, poolExhausted = true)
      .contains(StopReason.WallClockTimeout))
    assert(CrawlEngine.stopCheck(3, wallExpired = false, poolExhausted = true)
      .contains(StopReason.NoResourcesAvailable))
    assert(CrawlEngine.stopCheck(3, wallExpired = false, poolExhausted = false).isEmpty)
  }

  test("re-register after driver restart keeps the stage-time bucket count") {
    import spark.implicits._
    val pq = tmpDir("buckets-src")
    (0 until 10).map(i => (s"https://h.example/c$i", new java.sql.Timestamp(1767225600000L),
      "<html><body>x</body></html>".getBytes("UTF-8"), "x", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(pq)
    val dir = tmpDir("buckets-dir")
    CrawlEngine.corpusStagedBucketed(spark, spark.read.parquet(pq), dir, buckets = 6)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    def numBuckets: Int = spark.sql(s"DESCRIBE FORMATTED graft_corpus_$digest")
      .collect().collectFirst { case r if r.getString(0) == "Num Buckets" =>
        r.getString(1).trim.toInt }.get
    assert(numBuckets == 6)
    // driver restart (catalog forgets the external table) with a DIFFERENT
    // requested count — e.g. the cluster was resized and
    // spark.sql.shuffle.partitions changed. Registering with the session's
    // count would declare bucket metadata the staged files don't satisfy:
    // Spark trusts the spec, skips the exchange, and the fetch join goes
    // silently wrong (round-4 ADVICE #1). The marker's count must win.
    spark.sql(s"DROP TABLE graft_corpus_$digest")
    val re = CrawlEngine.corpusStagedBucketed(spark, spark.read.parquet(pq), dir, buckets = 12)
    assert(numBuckets == 6, s"re-registered with the session count, not the marker's")
    assert(re.count() == 10)
  }

  test("a transformed frame over the same files bypasses the digest shortcut") {
    import spark.implicits._
    val pq = tmpDir("digest-src")
    (0 until 10).map(i => (s"https://h.example/c$i", new java.sql.Timestamp(1767225600000L),
      "<html><body>x</body></html>".getBytes("UTF-8"), "x", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(pq)
    val dir = tmpDir("digest-dir")
    CrawlEngine.corpusStagedBucketed(spark, spark.read.parquet(pq), dir)
    // a FILTERED frame lists the same inputFiles, so its digest equals the
    // marker's — but it produces different rows (round-4 ADVICE #2: the
    // shortcut must apply only to bare file-source scans; everything else
    // falls through to the count/fingerprint checks)
    val filtered = spark.read.parquet(pq)
      .filter(!org.apache.spark.sql.functions.col("url").endsWith("0"))
    val staged = CrawlEngine.corpusStagedBucketed(spark, filtered, dir)
    assert(staged.count() == 9,
      "stale staged corpus served for a filtered frame over the same files")
  }

  test("robots rules stage with the bucketed corpus and read back corpus-free") {
    val dir = tmpDir("robots-staged")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
      cfg.copy(corpusStaging = "bucketed"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/robots_rules")),
      "stage must persist the rules table beside corpus_bucketed")
    val staged = CrawlEngine.stagedRobotsRules(spark, dir)
    assert(staged.exists(_.isDefined), s"staged rules not found: $staged")
    val rules = staged.get.get
    // the read-back plan touches ONLY the staged rules table — the round-4
    // O(corpus) robots re-scan on every driver start is gone
    assert(rules.inputFiles.nonEmpty &&
      rules.inputFiles.forall(_.contains("robots_rules")), rules.inputFiles.mkString(","))
    // roundtrip fidelity: staged ≡ derived-from-corpus
    val derived = CrawlEngine.hostRules(spark, CrawlEngine.corpusNorm(corpus))
      .collect().map(_.toString).sorted
    assert(rules.collect().map(_.toString).sorted.sameElements(derived))
    // a robots-free corpus records the emptiness in the marker: resume skips
    // both the corpus scan AND the parquet read
    import spark.implicits._
    val plainDir = tmpDir("robots-none")
    val noRobots = (0 until 10).map(i =>
      (s"https://h.example/c$i", new java.sql.Timestamp(1767225600000L),
        "<html><body>x</body></html>".getBytes("UTF-8"), "x", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    CrawlEngine.corpusStagedBucketed(spark, noRobots, plainDir)
    assert(CrawlEngine.stagedRobotsRules(spark, plainDir) == Some(None))
  }

  test("resume without the write-back sink preserves written-back source text") {
    val dir = tmpDir("wb-keep")
    val corpus = CorpusTable.create(spark, spec)
    val hooks = PipelineHooks(parsedSinks = Seq(FrontierWriteBackSink))
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark),
      corpus, CorpusGen.seeds(spec), cfg.copy(maxRounds = 6), hooks)
    def srcMap(): Map[Long, Option[String]] = {
      val store = new SnapshotStore(dir, spark)
      store.readFrontier(store.latestVersion.get).select("id", "source")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    val written = srcMap().collect { case (id, Some(s)) => id -> s }
    assert(written.nonEmpty, "phase 1 must write back some text")
    // resume WITHOUT the sink: the full-rewrite select used to drop the
    // frontier's source column, silently discarding the text (round-4
    // ADVICE #3) — it must carry through unchanged instead
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark),
      corpus, CorpusGen.seeds(spec), cfg)
    val fin = srcMap()
    written.foreach { case (id, s) =>
      assert(fin.get(id).flatten.contains(s), s"written-back source lost for id=$id")
    }
  }

  test("state tables on disk match the engine-owned read schemas (with and without write-back)") {
    val corpus = CorpusTable.create(spark, spec)
    val prodCfg = cfg.copy(maxRounds = 1, corpusStaging = "bucketed",
      frontierLayout = "delta", seenFilter = true, seenShards = 4)
    Seq(false, true).foreach { writeBack =>
      val dir = tmpDir(s"schema-pin-$writeBack")
      val hooks =
        if (writeBack) PipelineHooks(parsedSinks = Seq(FrontierWriteBackSink)) else PipelineHooks()
      val codegenIdKey = "spark.sql.codegen.useIdInClassName"
      val callerCodegenId = spark.conf.getOption(codegenIdKey)
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
        prodCfg, hooks)
      assert(spark.conf.getOption(codegenIdKey) == callerCodegenId, "crawl leaked its codegen setting")
      val store = new SnapshotStore(dir, spark)
      assert(store.latestVersion.contains(1) && store.readMeta(1)("frontierFormat") == "delta")
      assert(store.readMeta(1)("frontierSource") == writeBack.toString)
      // the union of every part file's footer schema, in column order
      def footer(path: String) =
        spark.read.option("mergeSchema", "true").parquet(path).schema
      def pin(path: String, want: org.apache.spark.sql.types.StructType): Unit =
        assert(footer(path) == want, s"$path footer ${footer(path).simpleString} != ${want.simpleString}")
      pin(s"$dir/v=0/frontier", SnapshotStore.FrontierSchema)
      pin(s"$dir/v=1/frontier", SnapshotStore.frontierSchema(writeBack))
      Seq(0, 1).foreach { v =>
        pin(s"$dir/v=$v/hosts", SnapshotStore.HostsSchema)
        pin(s"$dir/v=$v/seen", SnapshotStore.SeenSchema)
      }
      pin(s"$dir/robots_rules", CrawlEngine.RobotsRulesSchema)
    }
  }

  test("jobs per round do not grow with delta depth; no round opens a table with a schema job") {
    val dir = tmpDir("job-budget")
    val corpus = CorpusTable.create(spark, spec)
    // compaction never fires: the round committing v=k+1 reads a merged
    // view of delta depth k
    val deepCfg = cfg.copy(maxRounds = 8, corpusStaging = "bucketed", frontierLayout = "delta",
      frontierCompactEvery = 1000, seenFilter = true, seenShards = 4)
    case class Job(timeMs: Long, callSite: String, inQuery: Boolean)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // a job's stages are named after its call site ("parquet at X.scala:N")
        jobs.add(Job(j.time, j.stageInfos.map(_.name).mkString(";"),
          Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec), deepCfg)
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val store = new SnapshotStore(dir, spark)
    val latest = store.latestVersion.get
    assert(store.readMeta(latest)("frontierBase") == "0" && latest >= 6,
      s"crawl reached v$latest; the budget needs delta depth >= 5")
    def mtimeMs(v: Int) = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/manifest-$v.json")).toMillis
    val all = jobs.asScala.toSeq
    // a schema-inference or file-listing job runs outside any SQL query;
    // the commit's own parquet writes share the call site but run inside one
    val metadataJobs = all.filter(j => j.callSite.contains("parquet at SnapshotStore") && !j.inQuery)
    assert(metadataJobs.size == 0,
      s"state-table metadata jobs at ${metadataJobs.map(_.callSite).distinct.mkString(", ")}")
    // jobs of the round that committed version v: after manifest v-1, up
    // to manifest v
    val counts = (2 to latest).map { v =>
      v -> all.count(j => j.timeMs > mtimeMs(v - 1) && j.timeMs <= mtimeMs(v))
    }.toMap
    info(s"jobs per committed version: ${counts.toSeq.sorted.mkString(", ")}")
    // the depth-2 round (v=3) vs the deepest: a per-version read adds three
    // jobs per level (frontier, hosts, seen), +15 from depth 2 to depth 7
    val tolerance = 2
    assert(counts(latest) <= counts(3) + tolerance,
      s"jobs per committed version grew with delta depth: ${counts.toSeq.sorted}")
  }
}
