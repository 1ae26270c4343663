package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** One scaling-evidence measurement for the north rule's N→4N criterion:
  * run the identical frontier-round job at `local[cores]` and print one
  * JSON line. Each level runs in its OWN JVM (same-JVM back-to-back runs
  * poison the second measurement via GC/cache pressure — measured 2x);
  * `tools/scaling_multi.sh LOW HIGH DRAWS` invokes both levels per draw
  * and `tools/scaling_median.py` reports the efficiency.
  *
  * Usage: runMain graft.ScalingBench <cores>
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 32
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "1000000").toLong
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "500000").toInt
    val textRepeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_TEXT_REPEAT", "16").toInt
    // Snapshot state and shuffle dirs go to SPARK_GRAFT_TMPDIR (tools/
    // scaling_multi.sh points it at tmpfs): on one box the single data disk is
    // the anti-scaling artifact — cluster storage (HDFS/S3) adds bandwidth
    // with executors, RAM-backed fs is the honest single-box analog.
    val tmpBase = sys.env.getOrElse("SPARK_GRAFT_TMPDIR", System.getProperty("java.io.tmpdir"))
    Files.createDirectories(java.nio.file.Paths.get(tmpBase))
    // SPARK_GRAFT_CLUSTER=1 → `local-cluster[cores/4, 4, mem]`: one
    // executor JVM per 4 cores, each with its own heap/GC. This is the
    // faithful N-vs-4N-executors model — a single 32-thread JVM serializes
    // all executors through one garbage collector, which a real cluster
    // never does (measured: 3x core-seconds inflation at local[32]).
    val clusterMode = sys.env.get("SPARK_GRAFT_CLUSTER").contains("1")
    // SPARK_GRAFT_CORES_PER_WORKER → hold the executor SHAPE constant
    // across levels (e.g. 2-core workers at both N=2 and 4N=8): the honest
    // equal-per-executor-memory pairing for the scaling criterion — without
    // it the low level runs one odd-shaped squeezed executor (the 1.25
    // "superlinear" artifact in BENCH.md).
    val coresPerWorker = sys.env.get("SPARK_GRAFT_CORES_PER_WORKER")
      .map(_.toInt).getOrElse(math.min(4, cores))
    // partitions = 4 waves per stage by default: with exactly one task per
    // core, any straggler (skewed partition, GC pause) extends the whole
    // stage; finer tasks let free cores absorb the tail.
    // SPARK_GRAFT_PARTS_PER_CORE overrides the wave count — the evlog
    // decomposition showed 80% average core occupancy at the high level
    // (wave quantization), so the knob exists to measure the trade.
    val partsPerCore = sys.env.getOrElse("SPARK_GRAFT_PARTS_PER_CORE", "4").toInt
    val builder0 = SparkSession.builder()
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores * partsPerCore)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmpBase)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", graft.round.CrawlEngine.CodegenCacheMaxEntries)
    // SPARK_GRAFT_AQE=0 → disable adaptive execution for this run.
    // AQE re-plans at every shuffle-stage boundary on the driver; with
    // ~12 shuffles per round that latency is a fixed per-round serial
    // term. This knob exists to MEASURE that term (production keeps AQE
    // on: skew-join splitting and partition coalescing matter at 100 TB,
    // and at production round sizes the boundary latency amortizes away).
    if (sys.env.get("SPARK_GRAFT_AQE").contains("0"))
      builder0.config("spark.sql.adaptive.enabled", "false")
    // SPARK_GRAFT_EVLOG=<dir> → write the Spark event log there so
    // tools/evlog_analyze.py can attribute core-seconds per stage (the
    // scaling investigation's ground truth — which stage stops scaling)
    sys.env.get("SPARK_GRAFT_EVLOG").foreach { d =>
      Files.createDirectories(java.nio.file.Paths.get(d))
      builder0.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", d)
    }
    val builder =
      if (!clusterMode) builder0.master(s"local[$cores]")
      else {
        val workers = math.max(cores / coresPerWorker, 1)
        val workerMemMb = sys.env.getOrElse("SPARK_GRAFT_WORKER_MEM_MB", "16384")
        val jar = new java.io.File("target/scala-2.13").listFiles()
          .filter(f => f.getName.endsWith(".jar") && f.getName.startsWith("cloudcrawlerspark"))
          .maxBy(_.lastModified).getAbsolutePath
        builder0
          .master(s"local-cluster[$workers,$coresPerWorker,$workerMemMb]")
          .config("spark.jars", jar)
          .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "12g"))
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // shuffle-volume accounting: total bytes written to + read from
    // shuffles across the measured rounds — the quantity whose per-core
    // contention sets the 8→32 ceiling on one socket (VERDICT round 1)
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong()
    val cpuTimeNs = new java.util.concurrent.atomic.AtomicLong()
    val outputBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        cpuTimeNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        // bytes written to data sinks (snapshot commits, seen shards) — the
        // per-round state-write cost the delta layout is supposed to cut
        outputBytes.addAndGet(sc.stageInfo.taskMetrics.outputMetrics.bytesWritten)
      }
    })
    def tmpDir(prefix: String): String =
      Files.createTempDirectory(java.nio.file.Paths.get(tmpBase), prefix).toString
    // every counter reset (and the final read) must first DRAIN the async
    // listener bus: stage-completed events from already-finished stages can
    // still be queued when the atomics are zeroed, bleeding excluded work
    // into the measured window (round-3 ADVICE)
    def resetCounters(): Unit = {
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      shuffleWrite.set(0); shuffleRead.set(0); cpuTimeNs.set(0); outputBytes.set(0)
    }
    // warmup at small size to JIT/codegen before measuring
    Bench.crawlRounds(spark, tmpDir("graft-warm"),
      50000, 256, rounds = 1, roundBudget = 50000, textRepeat = textRepeat)
    // zero the counters so only the measured run is accounted
    resetCounters()
    val stateDir = tmpDir(s"graft-scaling-$cores")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    val per = Bench.crawlRoundsDetailed(spark, stateDir, nPages,
      nHosts = 4096, rounds = rounds, roundBudget = budget, textRepeat = textRepeat,
      onBootstrapDone = () => {
        // re-zero so per-round shuffle/write/CPU metrics cover ONLY the
        // measured rounds, not one-time bootstrap (corpus staging, v0
        // commit, seen-shard build)
        resetCounters()
      })
    // symmetric drain before the final read: the last round's stage events
    // must all be counted before the totals are printed
    org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    // ambient-contention probe: fixed 4-thread streaming read on this
    // socket, taken right after the measured rounds (executors idle).
    // Identical probe shape at every level/draw ⇒ directly comparable
    // hardware-state reading per measurement (see MemBandwidth.probe doc).
    val ambientGbps = graft.tools.MemBandwidth.probe(4, 16 * 1024 * 1024, 4)
    // round 0 pays first-touch + codegen/JIT warmup — report
    // steady-state rounds (what a long-running crawl amortizes to)
    val steady = if (per.length > 1) per.tail else per
    val fetches = steady.map(_._1).sum
    val sec = steady.map(_._2).sum
    // all-rounds totals: the CPU counter spans every measured round, so the
    // CPU-seconds-normalized throughput must use the matching numerator
    val fetchesAll = per.map(_._1).sum
    val secAll = per.map(_._2).sum
    val shufGb = (shuffleWrite.get + shuffleRead.get) / 1e9
    val outGb = outputBytes.get / 1e9
    val roundsRun = per.length
    println(f"""{"metric":"scaling_level","cores":$cores,"fetches":$fetches,"sec":$sec%.2f,"urls_per_sec":${fetches / sec}%.1f,"fetches_all":$fetchesAll,"sec_all":$secAll%.2f,"pages":$nPages,"budget":$budget,"text_repeat":$textRepeat,"layout":"${sys.env.getOrElse("SPARK_GRAFT_BENCH_LAYOUT", "full")}","seen":${sys.env.get("SPARK_GRAFT_BENCH_SEEN").contains("1")},"rounds_measured":${steady.length},"warmup_round_sec":${per.head._2}%.2f,"shuffle_gb_total":$shufGb%.2f,"shuffle_gb_per_round":${shufGb / math.max(roundsRun, 1)}%.2f,"write_gb_total":$outGb%.2f,"write_gb_per_round":${outGb / math.max(roundsRun, 1)}%.2f,"executor_cpu_sec":${cpuTimeNs.get / 1e9}%.1f,"ambient_gbps":$ambientGbps%.1f}""")
    spark.stop()
  }
}
