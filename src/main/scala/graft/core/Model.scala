package graft.core

import java.sql.Timestamp

/** Core data model for the Spark-native crawl engine.
  *
  * Mirrors the reference's queue-row semantics (jaitl/cloud-crawler:
  * `master/src/main/scala/.../queue/provider/MongoQueueTaskProvider.scala:151-159`,
  * `master-client/src/main/protobuf/task.proto:7-17`) re-expressed as typed
  * Spark Datasets. See /root/repo/SURVEY.md §1.4.
  */
object TaskStatus {
  // Exact literals from the reference
  // (`master/.../queue/provider/TaskStatus.scala:3-10`).
  val Wait = "taskWait"
  val InProgress = "taskInProgress"
  val Finished = "taskFinished"
  val Failed = "taskFailed"
  val Skipped = "taskSkipped"
  val ParsingFailed = "taskParsingFailed"
}

/** Fetch-outcome taxonomy, from the reference's exception taxonomy
  * (`worker/.../pipeline/ResourceHelper.scala:10-28`). */
object Outcome {
  val Success = "success"          // 200 + parse ok
  val NotFound = "notFound"        // PageNotFoundException → taskSkipped
  val Skipped = "skipped"          // B5 validator flag → bypass fetch, taskSkipped
                                   // (`TasksBatchController.scala:113-119`)
  val Banned = "banned"            // BotBannedException → dropped + host backoff
  val IoFailed = "ioFailed"        // IOException → requeue, NO attempt increment
  val ParsingFailed = "parsingFailed" // ParsingException → taskParsingFailed
  val GenericFailed = "genericFailed" // other → attempt+1, taskFailed at cap
}

/** One frontier entry (the persistent URL-queue row).
  *
  * `id` is the monotone discovery sequence — it is the total-order tiebreak
  * that replaces Mongo ObjectId insertion order, making crawl order a pure
  * function of the data (SURVEY.md §7.4 risk 1).
  */
case class FrontierEntry(
    id: Long,
    url: String,
    urlNorm: String,
    host: String,
    status: String,
    attempt: Int,
    priority: Int,
    warcTs: Option[Long], // corpus capture time (micros), ranking key
    discoveredRound: Int,
    projectId: String,    // owning project (task.proto:13)
    taskType: String      // lease multiplexing key (task.proto:8)
    // NOTE deliberately no lastUpdate: the engine is bulk-synchronous —
    // a round either commits fully or not at all, so no row is ever
    // observably "in progress" (the reference's lease timestamp,
    // `MongoQueueTaskProvider.scala:104-108`, exists to recover from
    // workers dying mid-batch; here F7/F8 fall out of the snapshot commit)
)

/** Per-host politeness + circuit-breaker state (TorResourceController
  * analog): a host may not be fetched before `nextTick`; `failCount`
  * accumulates fetch failures and at `CrawlConfig.maxHostFailures` the
  * host is closed (D3 `NoResourcesAvailable`,
  * `TorResourceController.scala:59-60,86-96`). */
case class HostState(host: String, nextTick: Long, failCount: Int)

/** A page in the Common-Crawl-style corpus (BASELINE.json input_hint). */
case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One scheduled fetch with its outcome — the engine's per-round output row.
  * `(round, seq)` is the crawl-order contract checked against the simulator. */
case class FetchRecord(
    round: Int,
    seq: Int,
    id: Long,
    urlNorm: String,
    outcome: String,
    extractedText: Option[String],
    nNewLinks: Int
)

/** One crawl project (`configuration.proto:14-24` + `task.proto:13-15`):
  * tasks of `taskType` belong to `projectId`; links they discover are
  * enqueued under `nextProjectId` (project chaining, the way the reference
  * stamps `nextProjectId` onto new tasks in
  * `simple-worker/.../parser/HabrParser.scala:27-28`). */
case class ProjectSpec(projectId: String, taskType: String, nextProjectId: String)

object ProjectSpec {
  val default: ProjectSpec = ProjectSpec("default", "default", "default")
}

/** Crawl-engine configuration (reference `worker.conf`/`master.conf` knobs). */
case class CrawlConfig(
    hostBudgetPerRound: Int = 2,   // per-resource concurrency limit (README.md:38)
    roundBudget: Int = 1000,       // workerBatchSize analog (configuration.proto:17)
    maxAttempts: Int = 3,          // worker.conf:30 / master.conf:61
    politenessCenterTicks: Long = 1L, // RandomTimeout center (RandomTimeout.scala:8-14)
    politenessRadiusTicks: Long = 1L, // RandomTimeout radius
    banBackoffTicks: Long = 30L,   // 30 min hardcoded (TorResourceController.scala:115)
    // D3 circuit breaker: a host whose cumulative fetch-failure count
    // (ioFailed + genericFailed) reaches this cap is closed for good —
    // the per-host analog of the resource pool's failCount →
    // `NoResourcesAvailable` stop (`TorResourceController.scala:59-60,
    // 86-96`; cap=3 in `worker.conf:20`). 0 disables (default: the
    // reference ships it on the resource pool, not per host).
    maxHostFailures: Int = 0,
    // A5 resource pool (`configuration.proto` torConfig/proxyConfig): the
    // registered fetch resources (proxy/Tor endpoints in the reference).
    // Each leased batch is served by the LEAST-USED resource — the
    // deterministic twin of `MongoConfigurationProvider.scala:59-99`
    // `findOneAndUpdate(sort asc usedCount, inc usedCount)` — with id-asc
    // tiebreak, and its usedCount persists in the snapshot manifest so a
    // resumed crawl balances exactly where it left off. Resource-pool
    // failure closing lives at host level here (maxHostFailures / D3).
    resources: Seq[String] = Seq("default"),
    // Pool-level failure circuit breaker (`TorResourceController.scala:
    // 59-60,86-96`): fetch failures (ioFailed + genericFailed) accumulate
    // against the RESOURCE that served the batch; a resource whose count
    // reaches this cap is closed (never picked again), the least-used pick
    // runs over the remaining OPEN resources, and when every resource is
    // closed the crawl stops with NoResourcesAvailable — the reference's
    // pool semantics (one bad proxy is parked, the rest keep crawling).
    // 0 disables. Orthogonal to maxHostFailures (D3, per-host).
    maxResourceFailures: Int = 0,
    // corpus staging: "bucketed" is the only value (any other is refused):
    // the corpus is staged once under the state dir as a parquet table
    // bucketed on urlNorm (CrawlEngine.corpusStagedBucketed). The field
    // stays only because the perfbench workloads set it.
    corpusStaging: String = "bucketed",
    // Registered projects (multi-crawl multiplexing). Each round leases ONE
    // task type, picked by a seeded draw among the distinct registered
    // types — the deterministic twin of the master's random pick
    // (`QueueTaskServiceImpl.scala:32-55`); with one type the filter
    // vanishes. Seeds enter under projects.head; discovered links chain to
    // the parent project's nextProjectId.
    projects: Seq[ProjectSpec] = Seq(ProjectSpec.default),
    // State-table compaction cadence (frontier, hosts, seen shards). A
    // round hands the snapshot store only the rows it changed (status
    // rewrites ≤ roundBudget, discovered links, touched hosts and shards);
    // the store writes them as a delta merged keep-latest-by-key at read
    // time (Iceberg merge-on-read), or compacts: writes the merged view.
    // "full" = compaction every commit (write cost ∝ state size — fine
    // locally, impossible at 10^10 rows/round); "delta" = compaction every
    // `frontierCompactEvery` commits, bounding the read-side merge fan-in;
    // any other value is refused. Crawl output is bit-identical either way
    // (CrawlEngineSpec pins it).
    frontierLayout: String = "full",
    frontierCompactEvery: Int = 8,
    maxRounds: Int = 64,
    // F6 batch-execution timeout, wall-clock form (`WorkerManager.scala:
    // 85-96` force-stops controllers older than batchExecutionTimeout):
    // the driver loop stops BETWEEN rounds once the crawl has run this many
    // seconds — resume-safe by construction, every committed snapshot is a
    // clean restart point. 0 disables. `maxRounds` stays as the
    // deterministic count cap (tests and simulator parity use it).
    maxWallSecs: Long = 0L,
    seed: Long = 42L,
    // R7 partitioned bloom URL-seen set: pre-filters the discovered-link
    // anti-join (exact confirm still runs on "maybe" rows — no-false-
    // negative invariant keeps membership exact). Shards persist in each
    // snapshot and update incrementally per round.
    seenFilter: Boolean = false,
    seenShards: Int = 16,
    seenExpectedPerShard: Long = 1L << 16,
    seenFpp: Double = 0.01
) {
  // A5 pool sanity at CONSTRUCTION time (round-3 ADVICE): an empty pool
  // would throw from minBy mid-crawl; duplicate or empty/control-char ids
  // would corrupt the per-resource manifest accounting. Quotes/backslashes
  // are fine — the manifest JSON-escapes them.
  require(resources.nonEmpty,
    "CrawlConfig.resources must be non-empty (the A5 pool serves every leased batch)")
  require(resources.forall(r => r.nonEmpty && !r.exists(_ < ' ')),
    s"CrawlConfig.resources ids must be non-empty and free of control characters: $resources")
  require(resources.distinct == resources,
    s"CrawlConfig.resources ids must be distinct: $resources")
  // a layout typo (CrawlJob reads GRAFT_LAYOUT unchecked) must not silently
  // pick a compaction cadence
  require(frontierLayout == "full" || frontierLayout == "delta",
    s"CrawlConfig.frontierLayout must be \"full\" or \"delta\": $frontierLayout")
  require(corpusStaging == "bucketed",
    s"CrawlConfig.corpusStaging must be \"bucketed\": $corpusStaging")
}
