package graft.job

import org.apache.spark.sql.SparkSession
import graft.core.CrawlConfig
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore
import graft.round.CrawlEngine

/** spark-submit entry for the crawl engine (SURVEY.md §7.1 step 10).
  *
  * Usage: CrawlJob <stateDir> [corpusParquet]
  * Without a corpus path it synthesizes the default test corpus. Re-running
  * with the same stateDir resumes from the latest committed snapshot —
  * that is the whole recovery story (F7/F8).
  */
object CrawlJob {
  def main(args: Array[String]): Unit = {
    val stateDir = if (args.nonEmpty) args(0) else "target/crawl-state"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CrawlEngine.CodegenCacheMaxEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spec = CorpusGen.Spec()
    val corpus =
      if (args.length > 1) spark.read.parquet(args(1))
      else CorpusTable.create(spark, spec)
    val store = new SnapshotStore(stateDir, spark)
    // production-shape knobs via env (the 100 TB configuration is
    // GRAFT_LAYOUT=delta GRAFT_SEEN=1):
    val cfg = CrawlConfig(
      frontierLayout = sys.env.getOrElse("GRAFT_LAYOUT", "full"),
      seenFilter = sys.env.get("GRAFT_SEEN").contains("1"),
      resources = sys.env.get("GRAFT_RESOURCES")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq("default")),
      maxHostFailures = sys.env.getOrElse("GRAFT_MAX_HOST_FAILURES", "0").toInt,
      // pool-level breaker cap (0 = off) and F6 wall-clock stop (seconds,
      // 0 = off) — both resume-safe, the state dir restarts exactly
      maxResourceFailures = sys.env.getOrElse("GRAFT_MAX_RESOURCE_FAILURES", "0").toInt,
      maxWallSecs = sys.env.getOrElse("GRAFT_MAX_WALL_SECS", "0").toLong)
    // stop-reason surfaced on stderr through the notification seam;
    // GRAFT_WRITEBACK=1 registers the A12 frontier write-back sink
    val hooks = graft.round.PipelineHooks(
      parsedSinks =
        if (sys.env.get("GRAFT_WRITEBACK").contains("1"))
          Seq(graft.round.FrontierWriteBackSink)
        else Nil,
      notifiers = Seq(
        new graft.round.CrawlNotifier {
          override def onStop(reason: String, s: CrawlEngine.CrawlSummary): Unit =
            System.err.println(s"[crawl] stopped: $reason after ${s.fetches} fetches")
        }))
    val t0 = System.nanoTime()
    val summary = CrawlEngine.crawl(spark, store, corpus, CorpusGen.seeds(spec), cfg, hooks)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"rounds":${summary.rounds},"versions":${summary.versions},"fetches":${summary.fetches},"frontier":${summary.frontierSize},"sec":$sec%.2f,"urlsPerSec":${summary.fetches / math.max(sec, 1e-9)}%.1f}""")
    spark.stop()
  }
}
