package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CrawlConfig, Outcome}
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore
import graft.round.CrawlEngine
import graft.sim.ReferenceSimulator

/** One output check: a name and, on failure, what differed. */
final case class Check(name: String, failure: Option[String])

/** A benchmark workload: how to build its corpus and v0 snapshot from the
  * seed, where the measured crawl stops (`midRound`) and where the resumed
  * crawl ends (`endRound`), and how to check the crawl's output.
  *
  * Every workload runs the shipped configuration: bucketed corpus staging,
  * the delta state layout and the bloom seen filter. */
sealed trait Workload {
  def name: String
  def midRound: Int
  def endRound: Int
  def cfg(seed: Long): CrawlConfig
  def seeds(seed: Long): Seq[(String, Int)]
  def writeCorpus(spark: SparkSession, seed: Long, corpusPath: String): Unit
  def checks(spark: SparkSession, seed: Long, store: SnapshotStore): Seq[Check]

  protected def shipped(c: CrawlConfig): CrawlConfig =
    c.copy(corpusStaging = "bucketed", frontierLayout = "delta", seenFilter = true)

  /** Writes the corpus as parquet, reads it back, stages it and commits v0
    * with the engine's bootstrap. Returns the corpus as read back and the
    * staging call's seconds. */
  def setup(spark: SparkSession, seed: Long, corpusPath: String, stateDir: String): (DataFrame, Double) = {
    writeCorpus(spark, seed, corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val t0 = System.nanoTime()
    val corpusN = CrawlEngine.corpusStagedBucketed(spark, corpus, stateDir)
    val stageS = (System.nanoTime() - t0) / 1e9
    val rules = CrawlEngine.stagedRobotsRules(spark, stateDir).flatten
    CrawlEngine.bootstrap(spark, new SnapshotStore(stateDir, spark), corpusN, rules, seeds(seed), cfg(seed))
    (corpus, stageS)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(SeededCrawl, BulkRounds)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def check(name: String)(ok: Boolean, detail: => String): Check =
    Check(name, if (ok) None else Some(detail))
}

/** Per-round fixed cost: a small robots-aware corpus crawled from its seed
  * list with politeness gaps, so each round fetches few pages. The output
  * must equal the reference simulator's crawl across the resume boundary. */
object SeededCrawl extends Workload {
  val name = "seeded_crawl"
  val midRound = 2
  val endRound = 4

  def spec(seed: Long): CorpusGen.Spec = CorpusGen.Spec(nHosts = 32, pagesPerHost = 24, seed = seed)
  def cfg(seed: Long): CrawlConfig =
    shipped(CrawlConfig(hostBudgetPerRound = 8, roundBudget = 256, maxRounds = endRound))
  def seeds(seed: Long): Seq[(String, Int)] = CorpusGen.seeds(spec(seed))

  def writeCorpus(spark: SparkSession, seed: Long, corpusPath: String): Unit =
    CorpusTable.write(spark, spec(seed), corpusPath)

  def checks(spark: SparkSession, seed: Long, store: SnapshotStore): Seq[Check] = {
    val sim = ReferenceSimulator.run(CorpusGen.simCorpus(spec(seed)), seeds(seed), cfg(seed))
    val engineSeq = store.allResults().get
      .select("round", "seq", "urlNorm", "outcome").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val simSeq = sim.fetches.map(f => (f.round, f.seq, f.urlNorm, f.outcome))
    val diverge = engineSeq.zip(simSeq).indexWhere { case (a, b) => a != b }
    val frontier = store.readFrontier(store.latestVersion.get)
      .select("urlNorm", "status", "attempt", "id").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    val simFrontier = sim.frontier.map(e => e.urlNorm -> ((e.status, e.attempt, e.id))).toMap
    Seq(
      Workloads.check("fetch_sequence_equals_simulator")(
        diverge == -1 && engineSeq.size == simSeq.size,
        s"first divergence at $diverge; engine ${engineSeq.size} fetches, simulator ${simSeq.size}"),
      Workloads.check("final_frontier_equals_simulator")(
        frontier == simFrontier,
        s"${(frontier.toSet diff simFrontier.toSet).size} engine rows differ from the simulator"))
  }
}

/** Per-URL data work over the [[BulkCorpus]]: every page is a seed, so all
  * of them wait at v0, and each round leases `roundBudget` of them with no
  * politeness gaps, so the round budget (not the hosts) binds. At 20k a
  * round, per-URL work is about a third of a round on 4 cores; the rest is
  * the per-round fixed cost that `seeded_crawl` measures alone. */
object BulkRounds extends Workload {
  val name = "bulk_rounds"
  val roundBudget = 20000
  val nPages = 3L * roundBudget
  val nHosts = 512
  val words = 100 // ~1 KB of text a page
  val midRound = 2
  val endRound = 3

  def spec(seed: Long): BulkCorpus.Spec = BulkCorpus.Spec(nPages, nHosts, words, seed)
  def cfg(seed: Long): CrawlConfig = shipped(CrawlConfig(
    hostBudgetPerRound = math.max(64, 2 * roundBudget / nHosts),
    roundBudget = roundBudget,
    politenessCenterTicks = 0, politenessRadiusTicks = 0,
    maxRounds = endRound,
    // sized for the corpus, so the filter stays at its design error rate
    seenExpectedPerShard = math.max(1L << 16, 2L * nPages / 16)))
  // every page is a seed, so v0 holds the whole corpus
  def seeds(seed: Long): Seq[(String, Int)] = {
    val sp = spec(seed)
    (0L until nPages).map(id => BulkCorpus.url(sp, id) -> 0)
  }

  def writeCorpus(spark: SparkSession, seed: Long, corpusPath: String): Unit = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    BulkCorpus.create(spark, spec(seed), parts).write.mode("overwrite").parquet(corpusPath)
  }

  def checks(spark: SparkSession, seed: Long, store: SnapshotStore): Seq[Check] = {
    val latest = store.latestVersion.get
    val metas = (1 to latest).map(store.readMeta)
    val selectedByRound = metas.map(m => m("round").toInt -> m("selected").toLong).toMap
    val sumSelected = selectedByRound.values.sum
    val sumOutcomes = metas.flatMap(_.collect { case (k, v) if k.startsWith("outcome.") => v.toLong }).sum
    val res = store.allResults().get
    val nResults = res.count()
    val perRound = res.groupBy("round")
      .agg(count(lit(1)), countDistinct(col("seq")), min("seq"), max("seq")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))).toMap
    val badRounds = selectedByRound.collect {
      case (rd, sel) if !perRound.get(rd).contains((sel, sel, 1, sel.toInt)) => rd
    }
    val distinctIds = res.agg(countDistinct(col("id"))).head().getLong(0)
    // a seeded ~256-row sample of successes, compared with the generator
    val sample = res.filter(col("outcome") === Outcome.Success)
      .filter(pmod(xxhash64(col("id"), lit(seed)), lit(math.max(1L, nResults / 256))) === 0)
      .select("urlNorm", "extractedText").collect()
    val sp = spec(seed)
    val badText = sample.count(r => r.getString(1) != BulkCorpus.text(sp, BulkCorpus.idOf(r.getString(0))))
    Seq(
      Workloads.check("selected_equals_results_equals_outcomes")(
        sumSelected == nResults && nResults == sumOutcomes,
        s"manifest selected $sumSelected, results $nResults, outcome counters $sumOutcomes"),
      Workloads.check("seq_is_1_to_selected_per_round")(
        badRounds.isEmpty && perRound.keySet == selectedByRound.keySet,
        s"rounds with a bad seq range: ${badRounds.toSeq.sorted.take(10)}"),
      Workloads.check("result_ids_unique")(distinctIds == nResults,
        s"$distinctIds distinct ids over $nResults results"),
      Workloads.check("sampled_text_equals_corpus")(sample.nonEmpty && badText == 0,
        s"$badText of ${sample.length} sampled texts differ"))
  }
}
