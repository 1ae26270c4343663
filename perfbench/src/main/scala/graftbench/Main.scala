package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.TaskStatus
import graft.frontier.SnapshotStore
import graft.functions.expressions.ParseFunctions.htmlParse
import graft.round.CrawlEngine
import graft.seen.BloomShards

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cpus <n> --work <dir>
  *
  * Closed loop: one client leases a round only after the previous one
  * commits. Flow: set up (corpus parquet, staging, v0); the measured crawl
  * up to the workload's mid-point round (capped at `--seconds` of wall
  * time); a fresh SnapshotStore resumes it to the end round; output checks;
  * with tracing, the layer probes. `setup_s` runs from the JVM's start to
  * the v0 manifest. Prints one `GRAFTBENCH_RECORD <json>` line. */
object Main {

  private[graftbench] val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Metric(value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val processStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    // the session settings CrawlJob uses; the directories keep every file
    // the run writes inside its work dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionNs = Clock.nowNs()
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(_.start())

    val record =
      try new Run(spark, wl, seed, seconds, trace, work, tracer).execute(processStartNs, sessionNs)
      finally { tracer.foreach(_.stop()); spark.stop() }
    println("GRAFTBENCH_RECORD " + json.writeValueAsString(record))
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong * 1024 / 1e6).getOrElse(0.0)

  /** Committed manifests of a state dir with version > `after`. */
  def manifests(store: SnapshotStore, after: Int): Seq[Rounds.Manifest] = {
    val latest = store.latestVersion.getOrElse(-1)
    ((after + 1) to latest).map { v =>
      val p = Paths.get(s"${store.baseDir}/manifest-$v.json")
      val m = store.readMeta(v)
      Rounds.Manifest(v, Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS),
        m("round").toInt, m("selected").toLong)
    }
  }
}

final class Run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
                trace: Boolean, work: String, tracer: Option[Tracer]) {
  import Main._

  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = Metric(value, unit)
  private val spans = new Spans

  private val t0Ns = Clock.nowNs()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(Clock.nowNs() - t0Ns) / 1e9}%.1fs $msg")

  private def timed[T](f: => T): (T, Long, Long) = {
    val a = Clock.nowNs(); val x = f; (x, a, Clock.nowNs())
  }

  def execute(processStartNs: Long, sessionNs: Long): Map[String, Any] = {
    val stateDir = s"$work/state"
    val setupStartNs = Clock.nowNs()
    val (corpus, stageS) = wl.setup(spark, seed, s"$work/corpus", stateDir)
    val setupEndNs = Files.getLastModifiedTime(Paths.get(s"$stateDir/manifest-0.json"))
      .to(TimeUnit.NANOSECONDS)
    log(f"setup ${(setupEndNs - processStartNs) / 1e9}%.2fs")
    val cfg = wl.cfg(seed)

    // a crawl call that throws is a failed operation; the run goes on to
    // its checks and reports it
    val callFailures = scala.collection.mutable.ArrayBuffer.empty[Check]
    def crawlCall(name: String, c: graft.core.CrawlConfig): Unit =
      try CrawlEngine.crawl(spark, new SnapshotStore(stateDir, spark), corpus,
        wl.seeds(seed), c)
      catch { case NonFatal(e) => callFailures += Check(name, Some(e.toString)) }

    // measured crawl: stops at the mid-point round, or after `seconds`
    val (_, seg1Start, seg1End) = timed(crawlCall("crawl_segment_ran",
      cfg.copy(maxRounds = wl.midRound, maxWallSecs = math.max(1L, seconds.toLong))))
    val store = new SnapshotStore(stateDir, spark)
    val m1 = manifests(store, 0)
    log(s"crawl segment: rounds ${m1.map(_.round)} selected ${m1.map(_.selected)}")
    val midV = store.latestVersion.get
    // resume: a fresh store and a fresh crawl call, to the end round
    val (_, resStart, resEnd) = timed(crawlCall("resume_ran", cfg))
    val m2 = manifests(store, midV)
    log(s"resume: rounds ${m2.map(_.round)} selected ${m2.map(_.selected)}")

    val windows = Rounds.split(seg1Start, m1) ++ Rounds.split(resStart, m2)
    val steady = windows.filterNot(_.first)
    val resumeFirstNs = m2.headOption.map(_.mtimeNs).getOrElse(resEnd)

    val (wlChecks, chkStart, chkEnd) = timed(
      try wl.checks(spark, seed, store)
      catch { case NonFatal(e) => Seq(Check("checks_ran", Some(e.toString))) })
    val checks = callFailures.toSeq ++ wlChecks

    log("checks done")
    val stateBytes = dirBytes(stateDir)
    val probes = tracer.map(t => probe(t, store, corpus, stateDir))

    put("setup_s", (setupEndNs - processStartNs) / 1e9, "s")
    if (steady.nonEmpty) {
      put("urls_per_s", steady.map(_.selected).sum / steady.map(_.seconds).sum, "1/s")
      put("round_s_p50", Stats.median(steady.map(_.seconds)), "s")
    }
    put("resume_s", (resumeFirstNs - resStart) / 1e9, "s")
    put("state_mb", stateBytes / 1e6, "MB")
    put("rss_peak_mb", rssPeakMb(), "MB")
    // operations: each committed round, each check, and the two crawl calls
    val failed = checks.count(_.failure.isDefined)
    val attempted = windows.size + wlChecks.size + 2
    put("error_rate", failed.toDouble / attempted, "ratio")

    tracer.foreach { t =>
      t.drain()
      layerMetrics(t, windows, steady, stageS, resStart, resumeFirstNs)
      probes.get.foreach { case (k, (v, u)) => put(k, v, u) }
    }

    // span tree: workload → setup / crawl segment / resume → round → job
    val endNs = Clock.nowNs()
    val root = spans.add(0, s"workload:${wl.name}", processStartNs, endNs,
      Map("session_ready_s" -> (sessionNs - processStartNs) / 1e9))
    spans.add(root, "session", processStartNs, sessionNs)
    spans.add(root, "setup", setupStartNs, setupEndNs, Map("stage_s" -> stageS))
    val segments = Seq(("crawl_segment", seg1Start, seg1End, Rounds.split(seg1Start, m1)),
      ("resume", resStart, resEnd, Rounds.split(resStart, m2)))
    val segmentInfo = segments.map { case (name, a, b, ws) =>
      val sid = spans.add(root, name, a, b)
      ws.foreach { w =>
        val self = tracer.map(_.selfSeconds(w.startNs, w.endNs))
        val rid = spans.add(sid, s"round[${w.round}]", w.startNs, w.endNs,
          Map("version" -> w.version, "selected" -> w.selected) ++ self.map("self_s" -> _))
        tracer.foreach(_.jobsIn(w.startNs, w.endNs).foreach { j =>
          spans.add(rid, s"job[${j.id}]", j.startMs * 1000000L, j.endMs * 1000000L)
        })
      }
      val covered = ws.map(w => w.endNs - w.startNs).sum
      Map("name" -> name, "wall_s" -> (b - a) / 1e9, "rounds" -> ws.size,
        "round_sum_s" -> covered / 1e9, "round_cover" -> covered.toDouble / (b - a))
    }
    spans.add(root, "checks", chkStart, chkEnd)
    tracer.foreach { _ =>
      put("trace.round_cover", segmentInfo.map(_("round_cover").asInstanceOf[Double]).min, "ratio")
      val pid = spans.add(root, "probes", probeSpans.map(_._2).min, probeSpans.map(_._3).max)
      probeSpans.foreach { case (n, a, b) => spans.add(pid, n, a, b) }
      Files.writeString(Paths.get(s"$work/spans.json"),
        json.writeValueAsString(spans.toJson))
    }

    Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "seconds" -> seconds, "cpus" -> spark.sparkContext.defaultParallelism,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.failure.isEmpty,
        "detail" -> c.failure.getOrElse(""))),
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap,
      "samples" -> (Map("rounds" -> steady.size, "first_rounds" -> (windows.size - steady.size),
        "fetches" -> windows.map(_.selected).sum,
        "mid_version" -> midV, "last_version" -> store.latestVersion.get) ++
        (if (steady.size < 2) Map.empty else Map("round_s_quartiles" -> {
          val (q1, q2, q3) = Stats.quartiles(steady.map(_.seconds)); Seq(q1, q2, q3) }))),
      "segments" -> segmentInfo,
      "round_self_s" -> (if (trace) spans.all.filter(_.name.startsWith("round["))
        .map(s => Map("name" -> s.name, "self_s" -> s.attrs("self_s"))) else Nil),
      "session_ready_s" -> (sessionNs - processStartNs) / 1e9)
  }

  private def layerMetrics(t: Tracer, windows: Seq[RoundWindow], steady: Seq[RoundWindow],
                           stageS: Double, resStart: Long, resumeFirstNs: Long): Unit = {
    val n = math.max(steady.size, 1).toDouble
    def perRound(f: RoundWindow => Double): Double = steady.map(f).sum / n
    put("round.jobs", perRound(w => t.jobsIn(w.startNs, w.endNs).size), "count")
    put("round.stages", perRound(w => t.stagesIn(w.startNs, w.endNs)), "count")
    put("round.tasks", perRound(w => t.tasksLaunchedIn(w.startNs, w.endNs).size), "count")
    put("round.codegen_compiles", perRound(w => t.codegenIn(w.startNs, w.endNs)._1.toDouble), "count")
    put("round.codegen_s", perRound(w => t.codegenIn(w.startNs, w.endNs)._2), "s")
    put("round.no_task_s", perRound(w => t.noTaskSeconds(w.startNs, w.endNs)), "s")
    put("round.self_s", perRound(w => t.selfSeconds(w.startNs, w.endNs)), "s")
    put("round.shuffle_mb", perRound(w =>
      t.tasksFinishedIn(w.startNs, w.endNs).map(_.shuffleWriteBytes).sum / 1e6), "MB")
    put("round.executor_cpu_s", perRound(w =>
      t.tasksFinishedIn(w.startNs, w.endNs).map(_.cpuNs).sum / 1e9), "s")
    put("round.output_mb", perRound(w =>
      t.tasksFinishedIn(w.startNs, w.endNs).map(_.outputBytes).sum / 1e6), "MB")
    put("round.first_s", Stats.median(windows.filter(_.first).map(_.seconds)), "s")
    put("corpus.stage_s", stageS, "s")
    put("job.resume_jobs", t.jobsIn(resStart, resumeFirstNs).size, "count")
    put("job.committed_rounds", windows.size, "count")
    put("job.tick_jumps", Rounds.tickJumps(-1,
      windows.map(w => Rounds.Manifest(w.version, w.endNs, w.round, w.selected))), "count")
  }

  private val probeSpans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** Layer probes over the final state: timed calls into the public
    * functions of each layer. Returns metric name → (value, unit). */
  private def probe(t: Tracer, store: SnapshotStore, corpus: org.apache.spark.sql.DataFrame,
                    stateDir: String): Map[String, (Double, String)] = {
    import spark.implicits._
    val cfg = wl.cfg(seed)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def span[T](name: String)(f: => T): (T, Double, Int) = {
      t.drain()
      val a = Clock.nowNs(); val x = f; val b = Clock.nowNs()
      t.drain()
      probeSpans += ((name, a, b))
      (x, (b - a) / 1e9, t.jobsIn(a, b).size)
    }
    val latest = store.latestVersion.get
    val meta = store.readMeta(latest)

    // corpus: a second staging call on the staged dir must reuse it
    val (corpusN, restageS, restageJobs) =
      span("probe.corpus_restage")(CrawlEngine.corpusStagedBucketed(spark, corpus, stateDir))
    out("corpus.restage_check_s") = (restageS, "s")
    out("corpus.restage_check_jobs") = (restageJobs.toDouble, "count")

    // frontier: merge-on-read of the latest version
    val (_, readS, readJobs) = span("probe.frontier_read")(store.readFrontier(latest).count())
    val base = meta.getOrElse("frontierBase", latest.toString).toInt
    val files = (base to latest).map { v =>
      val d = Paths.get(s"$stateDir/v=$v/frontier")
      if (!Files.exists(d)) 0L
      else { val s = Files.list(d); try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong finally s.close() }
    }
    out("frontier.read_s") = (readS, "s")
    out("frontier.read_jobs") = (readJobs.toDouble, "count")
    out("frontier.delta_depth") = ((latest - base).toDouble, "count")
    out("frontier.files_per_version") = (files.sum.toDouble / files.size, "count")

    // rank: the engine's distributed global rank over the final wait rows
    val waits = store.readFrontier(latest).filter(col("status") === TaskStatus.Wait)
      .select("id", "priority", "warcTs")
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (_, rankS, _) = span("probe.rank") {
      val (ranked, cache, _) = CrawlEngine.withGlobalSeq(waits, CrawlEngine.FetchOrder, parts, "seq")
      try ranked.agg(max("seq")).head() finally cache.unpersist(blocking = true)
    }
    out("round.rank_s") = (rankS, "s")

    // functions: html parse over the staged corpus
    val htmlMb = corpusN.agg(sum(length(col("htmlStr")))).head().getLong(0) / 1e6
    val (_, parseS, _) = span("probe.parse")(corpusN
      .select(htmlParse(col("htmlStr"), lit("")).getField("text").as("t"))
      .agg(sum(length(col("t")))).head())
    out("functions.parse_s_per_mb") = (parseS / htmlMb, "s/MB")

    // seen: probe a fixed half-known / half-new key sample
    val k = 2000
    val known = store.readFrontier(latest).select("urlNorm")
      .orderBy(xxhash64(col("urlNorm"), lit(seed))).limit(k).as[String].collect().toSeq
    val fresh = (0 until known.size).map(i => s"https://probe$seed.invalid/k$i")
    val keys = (known ++ fresh).toDF("urlNorm")
    val shards = store.readSeen(latest)
    val (flags, probeS, _) = span("probe.seen")(
      BloomShards.probeFlagsDf(keys, "urlNorm", shards, cfg.seenShards).collect())
    val freshSet = fresh.toSet
    val falseMaybe = flags.count(r => freshSet(r.getString(0)) && r.getBoolean(1))
    out("seen.probe_s") = (probeS, "s")
    out("seen.false_maybe_share") = (falseMaybe.toDouble / math.max(fresh.size, 1), "ratio")
    val capacity = meta.get("seenExpectedPerShard").map(_.toDouble).getOrElse(cfg.seenExpectedPerShard.toDouble)
    val maxInserts = shards.agg(max(coalesce(col("inserts"), lit(0L)))).head().getLong(0)
    out("seen.fill_ratio") = (maxInserts / capacity, "ratio")
    out.toMap
  }
}
