package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CrawlConfig
import graft.corpus.CorpusTable
import graft.frontier.SnapshotStore
import graft.functions.expressions.UrlFunctions.urlHost
import graft.operators._
import graft.round.CrawlEngine

/** Per-round benchmark (driver contract): headline queries on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], one JSON line out.
  *
  * Headliners: the crawl engine's frontier-dequeue + fetch-schedule rounds
  * over a distributed synthetic corpus (the BASELINE.json metric — reported
  * as urls/sec), plus the scale-critical operator families: minhash-LSH
  * dedup, brute-force ANN, and the two heaviest relational shapes.
  */
object Bench {

  /** Frontier-throughput benchmark: N-page corpus generated distributed
    * (never on the driver), frontier v0 = every url in wait state, then
    * `rounds` engine rounds with a large budget. Returns per-round
    * (fetches, sec), so callers can separate the warm-up round (cache
    * first-touch, JIT) from steady-state rounds. */
  def crawlRoundsDetailed(spark: SparkSession, stateDir: String, nPages: Long,
                          nHosts: Int, rounds: Int, roundBudget: Int,
                          textRepeat: Int = 1,
                          // "full" or "delta" — the latter with
                          // SPARK_GRAFT_BENCH_SEEN=1 is the 100 TB
                          // configuration (VERDICT r2 item 9)
                          layout: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_LAYOUT", "full"),
                          seenFilter: Boolean = sys.env.get("SPARK_GRAFT_BENCH_SEEN").contains("1"),
                          // called after bootstrap (corpus staging, v0
                          // commit, seen build) and before the measured
                          // round loop — ScalingBench zeroes its byte/CPU
                          // counters here so per-round metrics exclude
                          // one-time setup cost
                          onBootstrapDone: () => Unit = () => ())
      : Vector[(Long, Double)] = {
    import spark.implicits._
    val corpus = CorpusTable.createLarge(spark, nPages, nHosts, textRepeat = textRepeat)
    val corpusN = CrawlEngine.corpusStagedBucketed(spark, corpus, stateDir)
    val store = new SnapshotStore(stateDir, spark)
    // distributed bootstrap: the whole corpus is the seed frontier.
    // Bench ids come from monotonically_increasing_id — per-partition
    // monotone, no global sort (id order parity doesn't matter here).
    val frontier0 = corpusN.select(
      monotonically_increasing_id().as("id"),
      col("urlNorm").as("url"), col("urlNorm"),
      urlHost(col("urlNorm")).as("host"),
      lit(graft.core.TaskStatus.Wait).as("status"),
      lit(0).as("attempt"), lit(0).as("priority"),
      col("warcTs"), lit(0).as("discoveredRound"),
      lit("default").as("projectId"), lit("default").as("taskType"))
    val hosts0 = Seq.empty[(String, Long, Int)].toDF("host", "nextTick", "failCount")
    val cfg = CrawlConfig(
      // host budget sized so the round budget (not the politeness cap) binds
      hostBudgetPerRound = math.max(64, 2 * roundBudget / nHosts),
      roundBudget = roundBudget,
      politenessCenterTicks = 0, politenessRadiusTicks = 0, maxRounds = rounds,
      frontierLayout = layout, seenFilter = seenFilter,
      // size shards for the corpus so the filter stays at its design FPP
      seenExpectedPerShard = math.max(1L << 16, 2L * nPages / 16))
    val seen0 =
      if (!seenFilter) None
      else Some(SnapshotStore.SeenChanges(SnapshotStore.Changes(graft.seen.BloomShards.buildDf(
        frontier0.select("urlNorm"), "urlNorm", cfg.seenShards,
        cfg.seenExpectedPerShard, cfg.seenFpp))))
    store.commit(0, SnapshotStore.Changes(frontier0), SnapshotStore.Changes(hosts0), None,
      CrawlEngine.bootstrapMeta(nPages, waits = nPages, cfg), seen = seen0)
    val rules: Option[org.apache.spark.sql.DataFrame] = None // bench corpus serves no robots.txt
    onBootstrapDone()
    val out = Vector.newBuilder[(Long, Double)]
    var v = 0
    var r = 0
    while (r < rounds) {
      val rt0 = System.nanoTime()
      CrawlEngine.runRound(spark, store, corpusN, rules, cfg, v, r, nPages) match {
        case Some(o) =>
          val sec = (System.nanoTime() - rt0) / 1e9
          v += 1
          out += ((o.selectedCount, sec))
          System.err.println(f"[bench] round $r: ${o.selectedCount} fetches in $sec%.2f s")
        case None => r = rounds
      }
      r += 1
    }
    out.result()
  }

  def crawlRounds(spark: SparkSession, stateDir: String, nPages: Long,
                  nHosts: Int, rounds: Int, roundBudget: Int,
                  textRepeat: Int = 1): (Long, Double) = {
    val per = crawlRoundsDetailed(spark, stateDir, nPages, nHosts, rounds, roundBudget, textRepeat)
    (per.map(_._1).sum, per.map(_._2).sum)
  }

  def timed(f: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = f
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "400000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      // 4 waves per stage: single-wave scheduling makes every stage as
      // slow as its worst straggler (see ScalingBench)
      .config("spark.sql.shuffle.partitions", cpus.toInt * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CrawlEngine.CodegenCacheMaxEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val cases: Seq[(String, () => Long)] = Seq(
      "q1_pricing" -> (() => CrawlOps.pricingSummary(t("lineitem")).count()),
      "topk_revenue" -> (() => CrawlOps.revenueByNation(
        t("customer"), t("orders"), t("lineitem"), t("nation")).count()),
      "dedup_exact" -> (() => Dedup.exact(t("documents")).count()),
      "dedup_minhash_lsh" -> (() => Dedup.minhashLsh(t("documents")).count()),
      "dedup_simhash" -> (() => Dedup.simhashPairs(t("documents")).count()),
      "ann_brute_topk" -> (() => Similarity.bruteForceTopK(t("embeddings")).count()),
      "text_pipeline" -> (() => TextAnalysis.quality(t("documents"))
        .join(TextAnalysis.langId(t("documents")), "doc_id").count()),
      "sessionize" -> (() => CrawlOps.sessionize(t("events")).count())
    )
    cases.foreach { case (name, f) =>
      val (_, sec) = timed(f())
      results(name) = sec
    }

    // crawl benchmark LAST: its snapshot churn + broadcasts degrade
    // later measurements in the same JVM (observed 40x on tiny queries)
    spark.catalog.clearCache()
    // deleted however the crawl ends: it holds the staged corpus
    val stateDir = java.nio.file.Files.createTempDirectory("graft-bench-crawl").toString
    // 4096 hosts × budget 64 ≈ 262k candidates/round ⇒ the 200k round
    // budget binds (R2), matching how a production crawl amortizes fixed
    // per-round cost over large leases
    val (fetches, crawlSec) =
      try crawlRounds(spark, stateDir, nPages, nHosts = 4096, rounds = 3, roundBudget = 200000)
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
    results("crawl_rounds") = crawlSec
    val urlsPerSec = fetches / math.max(crawlSec, 1e-9)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","crawl_urls_per_sec":$urlsPerSec%.1f,"crawl_fetches":$fetches,"cpus":$cpus}""")
    spark.stop()
  }
}
