package graft.round

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.core._
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore
import graft.sim.ReferenceSimulator
import org.apache.spark.sql.graftaccess.GraftTestAccess

/** The crawl-order exact-match gate (BASELINE.md): the Spark engine's fetch
  * sequence (round, seq, urlNorm, outcome) must equal the clean-room
  * reference simulator's, and extracted text must be byte-identical to the
  * corpus text column. */
class CrawlEngineSpec extends AnyFunSuite with SparkSpec {

  private val spec = CorpusGen.Spec()
  private val cfg = CrawlConfig(hostBudgetPerRound = 2, roundBudget = 12, maxRounds = 40)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** The session's values of every key a round may set. */
  private def roundSettingValues: Map[String, Option[String]] =
    (CrawlEngine.roundSettings(interpreted = true).keySet ++
      CrawlEngine.roundSettings(interpreted = false).keySet)
      .map(k => k -> spark.conf.getOption(k)).toMap

  /** The session's codegen cache size, as a round reads it. */
  private def sessionCacheEntries: Int =
    spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt

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

  /** The seeded crawl under `cfg` with the given execution mode (None: the
    * engine's own rule). */
  private def seededCrawl(interpreted: Option[Boolean]): (String, CrawlEngine.CrawlSummary) = {
    val stateDir = tmpDir(s"seeded-${interpreted.getOrElse("rule")}")
    val summary = CrawlEngine.forcedInterpreted.withValue(interpreted) {
      CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
        CorpusTable.create(spark, spec), CorpusGen.seeds(spec), cfg)
    }
    (stateDir, summary)
  }

  private def assertOrderMatchesSimulator(stateDir: String): Unit = {
    val (engineSeq, _) = engineFetches(stateDir)
    val simSeq = simOut.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome))
    // compare with context on first divergence for debuggability
    val diverge = engineSeq.zip(simSeq).indexWhere { case (a, b) => a != b }
    assert(diverge == -1 && engineSeq.size == simSeq.size,
      s"diverged at $diverge: engine=${engineSeq.slice(math.max(0, diverge - 2), diverge + 3)} " +
        s"sim=${simSeq.slice(math.max(0, diverge - 2), diverge + 3)} " +
        s"sizes=${engineSeq.size}/${simSeq.size}")
  }

  private def assertTextMatchesCorpus(stateDir: String): Unit = {
    val (fetches, texts) = engineFetches(stateDir)
    val oracle = CorpusGen.simCorpus(spec)
    val successes = fetches.filter(_._4 == Outcome.Success)
    assert(successes.nonEmpty)
    successes.foreach { case (_, _, urlNorm, _) =>
      assert(texts(urlNorm) == Some(oracle(urlNorm).text), s"text mismatch for $urlNorm")
    }
  }

  private def assertFrontierMatchesSimulator(stateDir: String): Unit = {
    val store = new SnapshotStore(stateDir, spark)
    val engineFrontier = store.readFrontier(store.latestVersion.get)
      .select("urlNorm", "status", "attempt", "id")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    val simFrontier = simOut.frontier.map(e => e.urlNorm -> ((e.status, e.attempt, e.id))).toMap
    assert(engineFrontier == simFrontier)
  }

  test("engine crawl order matches the reference simulator exactly") {
    // the engine's own rule runs this small crawl interpreted
    assert(CrawlEngine.interpretRound(simOut.frontier.size.toLong, CorpusGen.simCorpus(spec).size.toLong,
      sessionCacheEntries))
    val (stateDir, summary) = seededCrawl(None)
    assert(summary.fetches > 0)
    assertOrderMatchesSimulator(stateDir)
    assert(Files.exists(java.nio.file.Paths.get(s"$stateDir/corpus_bucketed")),
      "staged table should live on disk under the state dir")
  }

  test("extracted text is byte-identical to the corpus text column") {
    assertTextMatchesCorpus(seededCrawl(None)._1)
  }

  test("final frontier statuses match the simulator") {
    assertFrontierMatchesSimulator(seededCrawl(None)._1)
  }

  test("compiled rounds (forced) match the simulator too: order, text, final frontier") {
    // the same parity through whole-stage codegen: the StaticInvoke calls
    // of the page parse and the URL helpers run as generated code instead
    // of by reflection
    val (stateDir, summary) = seededCrawl(Some(false))
    assert(summary.fetches > 0)
    assertOrderMatchesSimulator(stateDir)
    assertTextMatchesCorpus(stateDir)
    assertFrontierMatchesSimulator(stateDir)
  }

  test("compiled rounds (forced) on bucketed + delta + seen + write-back match the simulator across a resume") {
    // the configuration a large crawl runs compiled: bucketed staging, the
    // delta layout (killed after round 4, resumed across a compaction
    // boundary), the seen filter and the write-back sink
    val stateDir = tmpDir("compiled-prod")
    val corpus = CorpusTable.create(spark, spec)
    val prodCfg = cfg.copy(frontierLayout = "delta",
      frontierCompactEvery = 3, seenFilter = true, seenShards = 4)
    val hooks = PipelineHooks(parsedSinks = Seq(FrontierWriteBackSink))
    CrawlEngine.forcedInterpreted.withValue(Some(false)) {
      CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
        corpus, CorpusGen.seeds(spec), prodCfg.copy(maxRounds = 4), hooks)
      CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark),
        corpus, CorpusGen.seeds(spec), prodCfg, hooks)
    }
    assertOrderMatchesSimulator(stateDir)
    assertTextMatchesCorpus(stateDir)
    assertFrontierMatchesSimulator(stateDir)
    val store = new SnapshotStore(stateDir, spark)
    val latest = store.latestVersion.get
    assert((1 to latest).exists(v => store.readMeta(v).get("frontierFormat").contains("delta")),
      "no delta commits")
    // write-back: source = the simulator's extractedText of the row's success
    val bySuccess = simOut.fetches.filter(_.outcome == Outcome.Success)
      .map(f => f.id -> f.extractedText).toMap
    val sources = store.readFrontier(latest).select("id", "source")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(sources == simOut.frontier.map(e => e.id -> bySuccess.get(e.id).flatten).toMap)
  }

  test("bloom seen-filter path yields the identical crawl (R7 exactness)") {
    val plain = tmpDir("plain"); val bloom = tmpDir("bloom"); val late = tmpDir("bloom-late")
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(plain, spark), corpus, CorpusGen.seeds(spec), cfg)
    val bloomCfg = cfg.copy(seenFilter = true, seenShards = 4)
    // interrupt + resume to exercise shard persistence too; in `late` the
    // first leg runs without the filter, so the resume builds the shards
    // from the frontier
    Seq(bloom -> bloomCfg, late -> cfg).foreach { case (dir, firstLeg) =>
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark),
        corpus, CorpusGen.seeds(spec), firstLeg.copy(maxRounds = 4))
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark),
        corpus, CorpusGen.seeds(spec), bloomCfg)
    }
    val (a, _) = engineFetches(plain)
    Seq(bloom, late).foreach { dir =>
      assert(engineFetches(dir)._1 == a, s"$dir differs from the crawl without the filter")
      val store = new SnapshotStore(dir, spark)
      assert(store.hasSeen(store.latestVersion.get))
    }
    val lateStore = new SnapshotStore(late, spark)
    val firstSeen = (0 to lateStore.latestVersion.get).filter(lateStore.hasSeen)
    assert(firstSeen.headOption.exists(_ > 1) &&
      lateStore.readMeta(firstSeen.head)("seenFormat") == "full",
      s"versions with seen shards: $firstSeen")
    // the shards built from the previous frontier, then given the round's
    // new links, equal shards built from that version's whole frontier
    val rebuilt = graft.seen.BloomShards.buildDf(
      lateStore.readFrontier(firstSeen.head).select("urlNorm"), "urlNorm", bloomCfg.seenShards,
      bloomCfg.seenExpectedPerShard, bloomCfg.seenFpp)
    def shardRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).sortBy(_._1).toSeq
    assert(shardRows(lateStore.readSeen(firstSeen.head)) == shardRows(rebuilt))
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
    def hostsOf(st: SnapshotStore) = st.readHosts(st.latestVersion.get)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(hostsOf(store) == hostsOf(fStore))
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
    // every manifest carries the wait count of its frontier: observed by a
    // full commit, carried forward by a delta one, across the resume
    Seq(fStore, store).foreach { st =>
      (0 to st.latestVersion.get).foreach { v =>
        val waits = st.readFrontier(v)
          .filter(org.apache.spark.sql.functions.col("status") === TaskStatus.Wait).count()
        assert(st.readMeta(v)("waits") == waits.toString, s"${st.baseDir} v=$v")
      }
    }
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

  test("a state dir of another schemaVersion is refused before the round touches it") {
    val corpus = CorpusTable.create(spark, spec)
    // an older version, and a manifest without the key
    Seq(Some("3"), None).foreach { schemaVersion =>
      val dir = tmpDir(s"schema-${schemaVersion.getOrElse("none")}")
      val cachedBefore = GraftTestAccess.cachedPlanCount(spark)
      val rddsBefore = GraftTestAccess.persistentRddIds(spark)
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark),
        corpus, CorpusGen.seeds(spec), cfg.copy(maxRounds = 1))
      val latest = new SnapshotStore(dir, spark).latestVersion.get
      assert(latest == 1)
      val manifest = java.nio.file.Paths.get(s"$dir/manifest-$latest.json")
      val meta = SnapshotStore.parseFlat(Files.readString(manifest))
      assert(meta("schemaVersion") == CrawlEngine.SchemaVersion)
      Files.writeString(manifest, SnapshotStore.writeFlat(
        schemaVersion.fold(meta - "schemaVersion")(sv => meta + ("schemaVersion" -> sv))))
      val ex = intercept[IllegalArgumentException] {
        CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec), cfg)
      }
      assert(ex.getMessage.contains("schemaVersion") && ex.getMessage.contains("new state dir"),
        ex.getMessage)
      // neither the crawl that committed nor the refused one leaves a cache
      assert(GraftTestAccess.cachedPlanCount(spark) == cachedBefore, "the crawls left caches")
      assert((GraftTestAccess.persistentRddIds(spark) -- rddsBefore).isEmpty,
        "the crawls left persisted RDDs")
      assert(new SnapshotStore(dir, spark).latestVersion.contains(latest))
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/v=${latest + 1}")),
        "the refused round wrote state")
    }
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

  test("a frontierLayout other than full or delta is refused at construction") {
    // CrawlJob reads the layout from GRAFT_LAYOUT unchecked: a typo must
    // fail loudly, not pick a compaction cadence
    Seq("FULL", "Delta", "", "merge").foreach { bad =>
      val e = intercept[IllegalArgumentException](CrawlConfig(frontierLayout = bad))
      assert(e.getMessage.contains("frontierLayout"), e.getMessage)
    }
    assert(CrawlConfig(frontierLayout = "delta").frontierLayout == "delta")
    assert(CrawlConfig().frontierLayout == "full")
    // the corpus has one staging, bucketed on disk: any other value is refused
    val e = intercept[IllegalArgumentException](CrawlConfig(corpusStaging = "memory"))
    assert(e.getMessage.contains("corpusStaging"), e.getMessage)
    assert(CrawlConfig().corpusStaging == "bucketed")
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

  test("resuming a finished crawl runs no Spark job (no wait-count scan, no frontier count)") {
    val smallSpec = CorpusGen.Spec(nHosts = 3, pagesPerHost = 10)
    val pq = tmpDir("resume-src")
    CorpusTable.create(spark, smallSpec).write.mode("overwrite").parquet(pq)
    val dir = tmpDir("resume-jobs")
    // bans reopen a host only after banBackoffTicks: allow the rounds to finish
    val bCfg = cfg.copy(maxRounds = 1000)
    val stops = scala.collection.mutable.Buffer.empty[String]
    val hooks = PipelineHooks(notifiers = Seq(
      new CrawlNotifier {
        override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit = stops += reason
      }))
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), spark.read.parquet(pq),
      CorpusGen.seeds(smallSpec), bCfg, hooks)
    assert(stops.toList == List(StopReason.Completed))
    // the caller's own footer/schema job runs before the count
    val corpus = spark.read.parquet(pq)
    val store = new SnapshotStore(dir, spark)
    val latest = store.latestVersion.get
    def jobsOf(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { f; org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    // staging reuse, the rules read, the stop decision and the summary run
    // no job: the wait count and the frontier size (nextId) come from the
    // manifest
    var summary: Option[CrawlEngine.CrawlSummary] = None
    val resumeJobs = jobsOf {
      summary = Some(CrawlEngine.crawl(spark, store, corpus, CorpusGen.seeds(smallSpec), bCfg, hooks))
    }
    assert(stops.toList == List(StopReason.Completed, StopReason.Completed))
    assert(store.latestVersion.contains(latest))
    assert(resumeJobs == 0, s"the resume ran $resumeJobs jobs")
    assert(summary.map(_.frontierSize).contains(store.readFrontier(latest).count()))
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

  test("execution mode: interpreted below the scanned-rows threshold, compiled at and above") {
    val w = CrawlEngine.CorpusRowsPerFrontierRow
    val full = CrawlEngine.CodegenCacheMaxEntries
    // each cache regime with its bar: a cache that holds a compiled round's
    // classes, and a smaller one (Spark's default is 100 entries)
    Seq(CrawlEngine.InterpretBelowRows -> Seq(full, full + 1, Int.MaxValue),
      CrawlEngine.SmallCacheInterpretBelowRows -> Seq(full - 1, 100, 1)).foreach { case (t, caches) =>
      caches.foreach { cache =>
        def interpreted(frontierRows: Long, corpusRows: Long): Boolean =
          CrawlEngine.interpretRound(frontierRows, corpusRows, cache)
        assert(interpreted(0L, 0L))
        assert(interpreted(t - 1, 0L), s"cache $cache")
        assert(!interpreted(t, 0L), s"cache $cache")
        assert(!interpreted(Long.MaxValue, 0L))
        // w corpus rows weigh as much as one frontier row
        assert(interpreted(0L, w * t - 1), s"cache $cache")
        assert(!interpreted(0L, w * t), s"cache $cache")
        assert(interpreted(t / 2, w * (t - t / 2 - 1)), s"cache $cache")
        assert(!interpreted(t / 2, w * (t - t / 2)), s"cache $cache")
      }
    }
    // compiling pays off later when the classes do not stay cached
    assert(CrawlEngine.SmallCacheInterpretBelowRows > CrawlEngine.InterpretBelowRows)
    // a small frontier over a large corpus runs compiled in both regimes
    assert(!CrawlEngine.interpretRound(1000L, 10000000L, full))
    assert(!CrawlEngine.interpretRound(1000L, w * CrawlEngine.SmallCacheInterpretBelowRows, 100))
    // the two modes set disjoint keys; compiled keeps stage-free class names
    assert(CrawlEngine.roundSettings(interpreted = true) == Map(
      "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    assert(CrawlEngine.roundSettings(interpreted = false) ==
      Map("spark.sql.codegen.useIdInClassName" -> "false"))
  }

  test("a session with a 512-entry codegen cache or more picks the mode of the cache-blind rule") {
    // the rule before the cache size was an input, with its constants
    def cacheBlind(frontierRows: Long, corpusRows: Long): Boolean =
      frontierRows + corpusRows / 8 < 16000L
    val sizes = (Seq(0L, 1L, 7L, 8L, 9L, 15999L, 16000L, 16001L, 127999L, 128000L, 128008L,
      CrawlEngine.SmallCacheInterpretBelowRows - 1, CrawlEngine.SmallCacheInterpretBelowRows,
      8 * CrawlEngine.SmallCacheInterpretBelowRows, Long.MaxValue / 2) ++
      (0L to 400000L by 4999L)).distinct
    val differ = for {
      cache <- Seq(512, 513, 1024, 5000, Int.MaxValue)
      frontierRows <- sizes
      corpusRows <- sizes
      if CrawlEngine.interpretRound(frontierRows, corpusRows, cache) != cacheBlind(frontierRows, corpusRows)
    } yield (cache, frontierRows, corpusRows)
    assert(differ.isEmpty, s"(cache, frontier rows, corpus rows) that pick another mode: ${differ.take(5)}")
  }

  test("every round manifest records execMode: the decision for that round's inputs") {
    val dir = tmpDir("exec-mode-manifest")
    val corpus = CorpusTable.create(spark, spec)
    val store = new SnapshotStore(dir, spark)
    CrawlEngine.crawl(spark, store, corpus, CorpusGen.seeds(spec), cfg.copy(maxRounds = 3))
    val ruled = store.latestVersion.get
    // a forced mode is the decision too: the resumed rounds run compiled
    CrawlEngine.forcedInterpreted.withValue(Some(false)) {
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
        cfg.copy(maxRounds = 5))
    }
    val latest = store.latestVersion.get
    assert(ruled >= 1 && latest > ruled, s"rule-decided up to v$ruled, latest v$latest")
    val corpusRows = corpus.count()
    (1 to latest).foreach { v =>
      val decided =
        if (v > ruled) false
        else CrawlEngine.interpretRound(store.readMeta(v - 1)("nextId").toLong, corpusRows, sessionCacheEntries)
      assert(store.readMeta(v).get("execMode").contains(CrawlEngine.execMode(decided)),
        s"v$v: ${store.readMeta(v).get("execMode")}")
    }
  }

  test("an interpreted round compiles no class; caller settings return after a round and a throw") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = tmpDir("exec-mode")
    val corpus = CorpusTable.create(spark, spec)
    val prodCfg = cfg.copy(frontierLayout = "delta", seenFilter = true, seenShards = 4)
    // state to run rounds on. Its interpreted rounds also cache the few
    // literal-free classes Spark generates in every mode (cache-scan
    // iterators, row joiners, range-partition orderings); later rounds
    // find them cached.
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
      prodCfg.copy(maxRounds = 2))
    val store = new SnapshotStore(dir, spark)
    val corpusN = CrawlEngine.corpusStagedBucketed(spark, corpus, dir)
    val rules = CrawlEngine.stagedRobotsRules(spark, dir).flatten
    val corpusRows = corpus.count()
    def nextRound(hooks: PipelineHooks = PipelineHooks(),
                  rows: Long = corpusRows): Option[CrawlEngine.RoundOutcome] = {
      val v = store.latestVersion.get
      val meta = store.readMeta(v)
      assert(CrawlEngine.interpretRound(meta("nextId").toLong, corpusRows, sessionCacheEntries),
        "state outgrew the threshold")
      // a tick past every politeness gap, so the round has work
      CrawlEngine.runRound(spark, store, corpusN, rules, prodCfg, v,
        meta("nextRound").toInt + 100, rows, hooks)
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val original = roundSettingValues
    try {
      // caller values that differ from both modes' settings
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.useIdInClassName", "true")
      val caller = roundSettingValues

      val c0 = compiles
      assert(nextRound().isDefined)
      // factoryMode is an internal Spark conf: if an upgrade drops it, the
      // round compiles again and this fails
      assert(compiles - c0 == 0, s"an interpreted round compiled ${compiles - c0} classes")
      assert(roundSettingValues == caller)
      assert(store.readMeta(store.latestVersion.get).get("execMode").contains("interpreted"))

      // the counter is live: the same frontier over a corpus too large to
      // interpret runs compiled (the corpus size only picks the mode). The
      // shared session keeps Spark's default cache, so the bar is the
      // small-cache one.
      assert(sessionCacheEntries < CrawlEngine.CodegenCacheMaxEntries)
      val c1 = compiles
      assert(nextRound(rows = CrawlEngine.CorpusRowsPerFrontierRow * CrawlEngine.SmallCacheInterpretBelowRows).isDefined)
      assert(compiles - c1 > 0, "a round over a large corpus compiled nothing")
      assert(store.readMeta(store.latestVersion.get).get("execMode").contains("compiled"))
      assert(roundSettingValues == caller)

      val failingSink = PipelineHooks(rawSinks = Seq(new RawSink {
        override def write(raw: org.apache.spark.sql.DataFrame, version: Int): Unit =
          throw new IllegalStateException("raw sink down")
      }))
      Seq(true, false).foreach { interpreted =>
        val cachedBefore = GraftTestAccess.cachedPlanCount(spark)
        val rddsBefore = GraftTestAccess.persistentRddIds(spark)
        val ex = intercept[IllegalStateException](
          CrawlEngine.forcedInterpreted.withValue(Some(interpreted))(nextRound(failingSink)))
        assert(ex.getMessage == "raw sink down")
        assert(roundSettingValues == caller, s"a throwing round (interpreted=$interpreted) leaked its settings")
        assert(GraftTestAccess.cachedPlanCount(spark) == cachedBefore,
          s"a throwing round (interpreted=$interpreted) leaked its caches")
        assert((GraftTestAccess.persistentRddIds(spark) -- rddsBefore).isEmpty,
          s"a throwing round (interpreted=$interpreted) leaked its persisted leaves")
      }
    } finally original.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("seen-shard saturation and its auto-resize reach CrawlNotifier.onWarning") {
    val dir = tmpDir("warn")
    val corpus = CorpusTable.create(spark, spec)
    val warnings = scala.collection.mutable.Buffer.empty[String]
    val hooks = PipelineHooks(notifiers = Seq(
      new CrawlNotifier {
        override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit = ()
        override def onWarning(message: String): Unit = warnings += message
      }))
    // capacity 4 a shard under the full layout (every seen write is full,
    // so every round checks saturation): the first commit must resize
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
      cfg.copy(seenFilter = true, seenShards = 4, seenExpectedPerShard = 4L, maxRounds = 1), hooks)
    val store = new SnapshotStore(dir, spark)
    val resizedTo = store.readMeta(1)("seenExpectedPerShard").toLong
    assert(resizedTo > 4L, "the round did not auto-resize")
    assert(warnings.exists(w => w.contains("auto-resize") && w.contains(s"expectedPerShard=$resizedTo")),
      s"no auto-resize warning reached the notifier: $warnings")
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
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec), cfg)
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

  test("a staging marker without its robots rules re-stages; the crawl joins the staged rules") {
    val corpus = CorpusTable.create(spark, spec)
    val shortCfg = cfg.copy(maxRounds = 6)
    val sim = ReferenceSimulator.run(CorpusGen.simCorpus(spec), CorpusGen.seeds(spec), shortCfg)
    // a marker written before robots staging (no robotsHosts key), and one
    // that counts robots hosts whose rules table is gone
    Seq("no-key", "no-table").foreach { stale =>
      val dir = tmpDir(s"stale-marker-$stale")
      CrawlEngine.corpusStagedBucketed(spark, corpus, dir)
      val marker = java.nio.file.Paths.get(s"$dir/corpus_bucketed_marker.json")
      val rulesDir = java.nio.file.Paths.get(s"$dir/robots_rules")
      val staged = SnapshotStore.parseFlat(Files.readString(marker))
      assert(staged("robotsHosts").toLong > 0, s"the corpus serves robots.txt: $staged")
      if (stale == "no-key") Files.writeString(marker, SnapshotStore.writeFlat(staged - "robotsHosts"))
      else Files.walk(rulesDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec), shortCfg)
      assert(SnapshotStore.parseFlat(Files.readString(marker)).get("robotsHosts") ==
        staged.get("robotsHosts") && Files.exists(rulesDir), s"$stale: the corpus was not re-staged")
      // the rounds joined the rules (robots verdicts and crawl-delays): the
      // fetches equal the simulator's
      assert(engineFetches(dir)._1 == sim.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome)),
        s"$stale: the crawl did not follow the staged robots rules")
    }
  }

  test("a full-layout seen commit runs no job after its writes") {
    val dir = tmpDir("seen-full-jobs")
    val corpus = CorpusTable.create(spark, spec)
    // the full layout writes the seen shards in full every round
    val seenCfg = cfg.copy(seenFilter = true, seenShards = 4)
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
      seenCfg.copy(maxRounds = 1))
    // each job with the call site of the SQL execution it runs in (a
    // query's stage jobs are submitted from Spark's own threads, so only
    // the execution carries the caller's call site)
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the resume runs round 1, which commits v2
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
        seenCfg.copy(maxRounds = 2))
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val store = new SnapshotStore(dir, spark)
    assert(store.latestVersion.contains(2) && store.readMeta(2)("seenFormat") == "full")
    assert(store.readMeta(2).contains("seenMaxShardInserts"))
    // from the commit's first write on, every job belongs to a state-table
    // write: the saturation check reads nothing back
    val callSites = jobs.asScala.toSeq
      .map(_.flatMap(id => Option(executions.get(id))).getOrElse("(no SQL execution)"))
    def isWrite(callSite: String) = callSite.contains("parquet at SnapshotStore")
    val firstWrite = callSites.indexWhere(isWrite)
    assert(firstWrite >= 0, callSites.mkString("\n"))
    val others = callSites.drop(firstWrite).filterNot(isWrite)
    assert(others.isEmpty, s"jobs after the commit's first write: $others")
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
    val prodCfg = cfg.copy(maxRounds = 1, frontierLayout = "delta", seenFilter = true,
      seenShards = 4)
    Seq(false, true).foreach { writeBack =>
      val dir = tmpDir(s"schema-pin-$writeBack")
      val hooks =
        if (writeBack) PipelineHooks(parsedSinks = Seq(FrontierWriteBackSink)) else PipelineHooks()
      val callerSettings = roundSettingValues
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
        prodCfg, hooks)
      assert(roundSettingValues == callerSettings, "crawl leaked a round setting")
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

  test("a round's commit writes start from its plan leaves: no corpus scan or rank cache in their plans") {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val dir = tmpDir("plan-cut")
    val corpus = CorpusTable.create(spark, spec)
    val prodCfg = cfg.copy(frontierLayout = "delta", seenFilter = true, seenShards = 4)
    // v0 only: its commit joins the seeds with the corpus, as it must
    CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
      prodCfg.copy(maxRounds = 0))
    // (execution id, description, plan description) of each SQL execution
    // start and of each adaptive re-plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String], String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add((s.executionId, Some(s.description), s.physicalPlanDescription))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add((u.executionId, None, u.physicalPlanDescription))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CrawlEngine.crawl(spark, new SnapshotStore(dir, spark), corpus, CorpusGen.seeds(spec),
        prodCfg.copy(maxRounds = 1))
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(new SnapshotStore(dir, spark).latestVersion.contains(1))
    val all = plans.asScala.toSeq
    val commitIds = all.collect {
      case (id, Some(d), _) if d.contains("parquet at SnapshotStore") => id
    }.toSet
    // frontier, hosts, results and seen
    assert(commitIds.size >= 4, s"commit writes seen: ${commitIds.size}")
    all.filter(p => commitIds(p._1)).foreach { case (id, _, plan) =>
      Seq("graft_corpus_", "__pid").foreach { name =>
        assert(!plan.contains(name), s"commit write $id plans over $name:\n$plan")
      }
    }
  }

  test("jobs per round do not grow with delta depth; no round opens a table with a schema job") {
    val dir = tmpDir("job-budget")
    val corpus = CorpusTable.create(spark, spec)
    // compaction never fires: the round committing v=k+1 reads a merged
    // view of delta depth k
    val deepCfg = cfg.copy(maxRounds = 8, frontierLayout = "delta",
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
    // and an absolute budget: 42-43 jobs a committed version measured with
    // the round's plans cut at its persisted leaves, plus the tolerance
    val budget = 43 + tolerance
    assert(counts.values.max <= budget,
      s"jobs per committed version over the budget of $budget: ${counts.toSeq.sorted}")
  }
}
