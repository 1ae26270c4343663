package graft.round

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.frontier.SnapshotStore

/** The Spark-native crawl engine: URL frontier + politeness-aware fetch
  * scheduler, one bulk-synchronous round per snapshot commit
  * (SURVEY.md §3.1 rebuild). Declarative Dataset/Catalyst throughout —
  * windows for ranking, joins for fetch/dedup, `when` chains for the status
  * machine; UDFs only at the leaves (normalize/resolve/parse).
  *
  * Scale design (north rule: 10^10-URL frontier, 1000 executors):
  *  - corpus joins are bounded by (new inserts + round selection), never by
  *    frontier size: `warcTs` is captured ONCE at insert time, so per-round
  *    ranking never re-touches the corpus; the fetch join runs on ≤
  *    roundBudget rows.
  *  - per-host top-k is a two-step salted rank (SURVEY §4.3.1): rank within
  *    (host, salt) shards first — a 10^7-URL host never lands in a single
  *    window partition — then a final rank over ≤ salt×k survivors per host.
  *  - the per-round batch (≤ roundBudget) is the only globally-ordered set;
  *    the frontier itself is never globally sorted.
  *  - URL-seen membership is the exact anti-join C2 (bloom shards are a
  *    pre-filter only, see graft.seen).
  */
object CrawlEngine {

  val FetchOrder: Seq[Column] =
    Seq(col("priority").desc, col("warcTs").asc_nulls_last, col("id").asc)

  /** `nextTick` sentinel for a host closed by the D3 circuit breaker
    * (failCount ≥ maxHostFailures): never reopens. When every remaining
    * wait row sits on a closed host the crawl stops — the bulk-synchronous
    * analog of the reference's `NoResourcesAvailable` crawl stop
    * (`TorResourceController.scala:59-60,86-96`). */
  val DeadTick: Long = Int.MaxValue.toLong

  case class Parsed(text: Option[String], links: Seq[String])

  private val IoLang = "^xx-io(\\d+)$".r

  // ---- leaf URL scalar functions: native codegen'd Catalyst expressions
  // (graft.functions.expressions) — unlike UDFs they keep the rank/dedup
  // projections inside WholeStageCodegen and skip the serialization round
  // trip on every row of the link-discovery path.
  import graft.functions.expressions.UrlFunctions.{urlNormalize, urlHost, urlPath, urlResolve}
  /** Parser UDF from a pluggable [[PageParser]] (pipeline seam H1/H2): a
    * round parses through it when the crawl's parser is not
    * [[DefaultParser]]. */
  def parseUdfOf(parser: PageParser) =
    udf((html: String, host: String) => parser.parse(html, host))
  /** [[DefaultParser]] as a UDF. Rounds and robots bodies parse with the
    * bytes-native `ParseFunctions.htmlParse`; this is the reference
    * HtmlParseExprSpec compares that expression against. */
  val parseUdf = parseUdfOf(DefaultParser)
  val ioFailUntilUdf = udf((lang: String) => lang match {
    case IoLang(n) => n.toInt
    case _ => 0
  })

  /** Parsed robots rules row (north-rule H5): array columns instead of a
    * driver Map — rules live in a per-host Dataset JOINED where needed, so
    * host count never bounds driver memory (round-1 scale-killer 2). */
  case class RobotsRow(rbAllow: Seq[String], rbDisallow: Seq[String], rbDelayTicks: Long)
  val robotsParseUdf = udf((body: String) => {
    val r = Robots.parse(Option(body).getOrElse(""))
    RobotsRow(r.allow, r.disallow,
      r.crawlDelay.map(d => math.ceil(d).toLong).getOrElse(0L))
  })
  /** RFC 9309 longest-match verdict over the joined rule arrays; hosts
    * without a robots row (null arrays after the left join) allow all. */
  val robotsAllowedUdf = udf((path: String, allow: Seq[String], disallow: Seq[String]) =>
    allow == null && disallow == null || Robots.allowed(
      Robots.Rules(
        Option(allow).map(_.toVector).getOrElse(Vector.empty),
        Option(disallow).map(_.toVector).getOrElse(Vector.empty), None),
      path))

  /** Per-host robots rules parsed from the corpus' robots.txt rows —
    * entirely in executors, never collected. EXACTLY one row per host that
    * serves robots.txt: (host, rbAllow, rbDisallow, rbDelayTicks). The
    * per-host collapse matters for correctness, not just size: this table
    * is left-joined on host in bootstrap, discovered-link status, and
    * hostUpdates, so a host with two corpus rows normalizing to the same
    * /robots.txt would DUPLICATE every joined frontier row (duplicate ids
    * downstream — round-2 ADVICE). Keep-latest-capture (max warcTs, body
    * tiebreak) is deterministic and matches "the crawler honors the rules
    * it fetched most recently". */
  def hostRules(spark: SparkSession, corpusN: DataFrame): DataFrame =
    corpusN
      .filter(urlPath(col("urlNorm")) === "/robots.txt")
      .select(urlHost(col("urlNorm")).as("host"), col("warcTs"),
        graft.functions.expressions.ParseFunctions.htmlParse(col("htmlStr"), lit(""))
          .getField("text").as("body"))
      .groupBy(col("host"))
      .agg(max(struct(col("warcTs"), col("body"))).as("latest"))
      .select(col("host"), robotsParseUdf(col("latest.body")).as("r"))
      .select(col("host"), col("r.rbAllow").as("rbAllow"),
        col("r.rbDisallow").as("rbDisallow"), col("r.rbDelayTicks").as("rbDelayTicks"))

  /** Deterministic politeness delay as a pure column over (host, round) —
    * bit-identical to Det.politenessDelay because Spark's xxhash64 IS
    * Det.xxhash64 (seed 42); proven by the politeness_schedule oracle. */
  def politenessDelayCol(host: Column, round: Int, center: Long, radius: Long): Column =
    if (radius <= 0) lit(center)
    else lit(center - radius) +
      pmod(xxhash64(concat(host, lit(":"), lit(round.toString))), lit(2 * radius + 1))

  /** Normalized corpus projection: the only columns any round ever needs.
    * At scale this is the Iceberg page table with `html` pruned except in
    * the fetch join (ReadSchema stays narrow). */
  def corpusNorm(corpus: DataFrame): DataFrame =
    corpus.select(
      urlNormalize(col("url")).as("urlNorm"),
      unix_micros(col("warc_ts")).as("warcTs"),
      col("html").cast("string").as("htmlStr"),
      col("lang"))
      .filter(col("urlNorm").isNotNull)

  /** The corpus staged for round joins: the normalized corpus written ONCE
    * under `dir` as an on-disk parquet table bucketed (and sorted) on
    * `urlNorm` — the Iceberg page table bucketed on the join key. Nothing
    * is cached (at 100 TB a cache of every page's html cannot exist): each
    * round's scan reads only the columns it projects (html bytes leave disk
    * ONLY inside the fetch join), and the bucketing satisfies the join's
    * required distribution, so the per-round fetch join (C4) and warcTs
    * lookup shuffle only the ≤roundBudget selected side and the corpus
    * never moves again. The corpus's robots rules are staged beside it
    * ([[stagedRobotsRules]]). Idempotent per `dir`: a resumed driver reuses
    * the staged table. */
  def corpusStagedBucketed(spark: SparkSession, corpus: DataFrame, dir: String,
                           buckets: Int = 0): DataFrame = {
    val requestedN = if (buckets > 0) buckets
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // table identity = md5 of the state-dir path (collision-free in
    // practice, unlike String.hashCode — round-2 VERDICT: two dirs
    // colliding on hashCode silently reused the wrong staged table)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val table = s"graft_corpus_${md5hex(dir)}"
    // stale-reuse validation (round-3 VERDICT wrong #1): a reused state dir
    // holding a DIFFERENT corpus must re-stage — and the check must not pay
    // an O(corpus) scan on every resume (at 100 TB that is exactly the
    // startup cost the bucketed path exists to avoid). A marker persisted
    // at STAGE time carries three identities, checked cheapest-first:
    //   1. input-file digest (md5 of the sorted `inputFiles` listing):
    //      equal ⇒ same source files ⇒ reuse with ZERO jobs — the common
    //      resume path for a file-backed corpus;
    //   2. raw row count (`corpus.count()`, answerable from parquet footer
    //      metadata, no column scan): unequal ⇒ different corpus ⇒ re-stage;
    //   3. order-insensitive content fingerprint (bit_xor of
    //      xxhash64(urlNorm, warcTs)) over two narrow columns — never the
    //      html bytes: catches the same-count-different-content corpus the
    //      old row-count check silently reused. (url, capture-ts)
    //      identifies a page capture — Common-Crawl semantics — so an
    //      html edit under an identical url+warc_ts is out of contract.
    //      bit_xor, not sum: overflow-safe under ANSI mode, and identical-
    //      row cancellation is covered by the count check in 2.
    val markerPath = java.nio.file.Paths.get(s"$dir/corpus_bucketed_marker.json")
    // the marker is the same flat string-to-string JSON as the commit
    // manifests and shares their escape-aware parser/serializer — a second
    // ad-hoc regex over the format drifts (round-4 VERDICT wrong #3).
    // Pre-round-5 markers (unquoted numbers) parse partially and fail the
    // field checks below, forcing a one-time re-stage — safe by design.
    def inputDigest: String = {
      val files = corpus.inputFiles
      if (files.isEmpty) "" else md5hex(files.sorted.mkString("\n"))
    }
    // `inputFiles` ignores transformations: a filtered/projected frame over
    // the same source files lists the same paths, so the digest shortcut is
    // sound ONLY when the plan is a bare file-source scan (round-4 ADVICE
    // #2 — a transformed caller must fall through to the count+fingerprint
    // checks that see the produced rows, not the inputs).
    def isBareFileScan: Boolean = corpus.queryExecution.analyzed.getClass.getSimpleName match {
      case "LogicalRelation" | "DataSourceV2Relation" => true
      case _ => false
    }
    def urlFingerprint(df: DataFrame): Long = {
      val r = df.agg(expr("bit_xor(xxhash64(concat_ws('|', urlNorm, warcTs)))")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def stage(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      java.nio.file.Files.deleteIfExists(markerPath)
      val rawCount = corpus.count() // footer metadata for file sources
      corpusNorm(corpus).write
        .bucketBy(requestedN, "urlNorm").sortBy("urlNorm")
        .option("path", s"$dir/corpus_bucketed")
        .mode("overwrite")
        .saveAsTable(table)
      // fingerprint the STAGED table (one narrow bucketed column, computed
      // once per staging — never again on a clean resume)
      val fp = urlFingerprint(spark.table(table))
      // robots rules persist WITH the corpus (round-4 VERDICT missing #1):
      // the per-host rules table is tiny, but deriving it re-scans the
      // corpus html on every driver start — the exact O(corpus) startup
      // class the marker work killed for page data. Staged here, the rules
      // share the corpus identity checks: a corpus that re-stages re-stages
      // its rules in the same call. persist-then-count pays the derivation
      // scan once; the write reuses the cached (tiny) result.
      val rules = hostRules(spark, spark.table(table)).persist()
      val nHosts = rules.count()
      if (nHosts > 0)
        rules.write.mode("overwrite").parquet(s"$dir/robots_rules")
      rules.unpersist(blocking = true)
      val tmp = java.nio.file.Paths.get(s"$dir/.corpus_bucketed_marker.tmp")
      java.nio.file.Files.writeString(tmp,
        graft.frontier.SnapshotStore.writeFlat(Map(
          "rawCount" -> rawCount.toString,
          "urlFp" -> fp.toString,
          "inputDigest" -> inputDigest,
          "buckets" -> requestedN.toString,
          "robotsHosts" -> nHosts.toString)))
      java.nio.file.Files.move(tmp, markerPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val marker0 = stagingMarker(dir)
    // the stage-time bucket count of a marker that holds everything a crawl
    // reads from it: the row count, the bucket count and the robots rules
    // (a host count, and the rules table when that count is not 0). Any
    // other marker (absent, or written before robots staging) is stale and
    // re-stages, so the staged rules are the crawl's one rules source.
    val markerBuckets = marker0.get("buckets").flatMap(_.toIntOption).filter(_ > 0)
      .filter(_ => marker0.contains("rawCount") && marker0.get("robotsHosts").exists(n =>
        n == "0" || java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/robots_rules"))))
    // driver-restart path: the session catalog is fresh (tableExists =
    // false) but the staged files + marker survive on disk — RE-REGISTER
    // the bucketed table over the existing location instead of re-staging
    // (an O(corpus) rewrite on every driver start at 100 TB). The marker
    // validation below still runs, so a different corpus re-stages.
    // The bucket count comes from the MARKER — the stage-time truth —
    // never from the session: registering with a session-derived count
    // after a partition-setting change (cluster resize,
    // SPARK_GRAFT_PARTS_PER_CORE) declares bucket metadata the on-disk
    // files don't satisfy, and Spark trusts the spec, skips the exchange,
    // and the fetch join goes silently wrong (round-4 ADVICE #1).
    markerBuckets match {
      case Some(b) if !spark.catalog.tableExists(table) &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/corpus_bucketed")) =>
        spark.sql(
          s"""CREATE TABLE $table (urlNorm STRING, warcTs BIGINT, htmlStr STRING, lang STRING)
             |USING parquet CLUSTERED BY (urlNorm) SORTED BY (urlNorm) INTO $b BUCKETS
             |LOCATION '$dir/corpus_bucketed'""".stripMargin)
      case _ => // stale marker or a registered table: stage() below decides
    }
    if (markerBuckets.isEmpty || !spark.catalog.tableExists(table)) stage()
    else {
      val sameFiles = isBareFileScan &&
        marker0.get("inputDigest").exists(d => d.nonEmpty && d == inputDigest)
      if (!sameFiles) {
        val countOk = marker0.get("rawCount").contains(corpus.count().toString)
        val contentOk = countOk &&
          marker0.get("urlFp").contains(urlFingerprint(corpusNorm(corpus)).toString)
        if (!contentOk) stage()
      }
    }
    spark.table(table)
  }

  /** The [[hostRules]] row as staged in `robots_rules/`: read with this
    * schema, a resumed driver opens the rules without a schema job. */
  val RobotsRulesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("host", StringType),
      StructField("rbAllow", ArrayType(StringType)), StructField("rbDisallow", ArrayType(StringType)),
      StructField("rbDelayTicks", LongType)))
  }

  /** Robots rules persisted at corpus-stage time (see [[corpusStagedBucketed]]).
    * Outer None: `dir` was never staged (after [[corpusStagedBucketed]]
    * returns it is always Some). Inner None: the staged corpus serves no
    * robots.txt at all (the per-round rule joins vanish from the plan
    * instead of joining an empty table). */
  def stagedRobotsRules(spark: SparkSession, dir: String): Option[Option[DataFrame]] =
    stagingMarker(dir).get("robotsHosts") match {
      case Some("0") => Some(None)
      case Some(_) if java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/robots_rules")) =>
        Some(Some(spark.read.schema(RobotsRulesSchema).parquet(s"$dir/robots_rules")))
      case _ => None
    }

  /** The marker [[corpusStagedBucketed]] wrote when it staged `dir`'s
    * corpus (empty: none). */
  private def stagingMarker(dir: String): Map[String, String] = {
    val markerPath = java.nio.file.Paths.get(s"$dir/corpus_bucketed_marker.json")
    if (!java.nio.file.Files.exists(markerPath)) Map.empty
    else graft.frontier.SnapshotStore.parseFlat(java.nio.file.Files.readString(markerPath))
  }

  /** The state-dir schema every manifest this code commits carries as
    * `schemaVersion`. [[checkedMeta]] refuses a manifest with any other
    * value: "5" is the first version whose frontier always has
    * projectId/taskType, hosts always failCount, seen shards always
    * `inserts`, and whose manifests always carry every table's format and
    * base, `frontierSource` and the frontier's wait count `waits`. */
  val SchemaVersion = "5"

  /** The manifest of `version`, refused (before anything reads or writes a
    * table) unless it carries [[SchemaVersion]]. */
  private def checkedMeta(store: SnapshotStore, version: Int): Map[String, String] = {
    val meta = store.readMeta(version)
    require(meta.get("schemaVersion").contains(SchemaVersion),
      s"state dir ${store.baseDir} v=$version has schemaVersion " +
        s"${meta.getOrElse("schemaVersion", "(none)")}, this engine reads only " +
        s"schemaVersion $SchemaVersion — start a new state dir")
    meta
  }

  /** The frontier rows in wait status, as an observed aggregate of a commit
    * write: the manifest's `waits` key. */
  private def waitCount: Column =
    sum(when(col("status") === TaskStatus.Wait, 1L).otherwise(0L)).as("waits")

  /** An observed long sum of a finished write; 0 when the write saw no
    * rows (a sum over no rows is null). */
  private def observedLong(obs: org.apache.spark.sql.Observation, name: String): Long =
    obs.get.getOrElse(name, null) match {
      case n: java.lang.Long => n.longValue
      case _ => 0L
    }

  /** The A5 resource the next batch acquires, read from the previous
    * manifest's `resource.used.<id>` and `resource.fails.<id>` counters
    * (absent = 0): the least-used by (usedCount, id) among the open
    * resources — the bulk-synchronous twin of `findOneAndUpdate(sort asc
    * usedCount, inc usedCount)`. A resource is open while its failures
    * stay below `maxResourceFailures` (always, when that is 0). None: every
    * resource is parked, the reference's pool-level NoResourcesAvailable
    * (`TorResourceController.scala:59-60,86-96`). */
  private[graft] def resourcePick(meta: Map[String, String], cfg: CrawlConfig): Option[String] =
    cfg.resources
      .filter(r => cfg.maxResourceFailures <= 0 ||
        resourceCounter(meta, "fails", r) < cfg.maxResourceFailures)
      .minByOption(r => (resourceCounter(meta, "used", r), r))

  /** A manifest's `resource.<kind>.<id>` counter (absent = 0). */
  private def resourceCounter(meta: Map[String, String], kind: String, r: String): Long =
    meta.get(s"resource.$kind.$r").fold(0L)(_.toLong)

  /** The v0 manifest of a bootstrap commit: no `source` column, seen
    * shards iff `cfg.seenFilter`; `waits` = the v0 frontier's wait rows.
    * The store adds how it wrote each table. */
  def bootstrapMeta(nextId: Long, waits: Long, cfg: CrawlConfig): Map[String, String] =
    Map("nextRound" -> "0", "nextId" -> nextId.toString, "waits" -> waits.toString,
      "schemaVersion" -> SchemaVersion, "frontierSource" -> "false") ++
      (if (cfg.seenFilter) Map("seenShards" -> cfg.seenShards.toString) else Map.empty)

  /** New frontier rows — seeds or discovered links, each with id, url,
    * urlNorm, host, attempt, priority, discoveredRound, projectId and
    * taskType — as the frontier stores them: the corpus capture `warcTs`
    * (captured ONCE here, so ranking never re-touches the corpus; `rows`
    * is the join's left side, so a join hint on it applies), the robots
    * verdict (a `left` join on the per-host rules Dataset, never a driver
    * map: Wait when allowed, else Skipped) and the columns of
    * [[SnapshotStore.FrontierSchema]]. */
  private def admitted(rows: DataFrame, corpusN: DataFrame, rulesDf: Option[DataFrame]): DataFrame = {
    val captured = rows.join(corpusN.select(col("urlNorm"), col("warcTs")), Seq("urlNorm"), "left")
    (rulesDf match {
      case None => captured.withColumn("status", lit(TaskStatus.Wait))
      case Some(rules) => captured
        .join(rules, Seq("host"), "left")
        .withColumn("status",
          when(robotsAllowedUdf(urlPath(col("urlNorm")), col("rbAllow"), col("rbDisallow")),
            TaskStatus.Wait).otherwise(TaskStatus.Skipped))
    }).select(SnapshotStore.FrontierSchema.fieldNames.toSeq.map(col): _*)
  }

  /** Bootstrap snapshot v=0 from a seed list. */
  def bootstrap(
      spark: SparkSession,
      store: SnapshotStore,
      corpusN: DataFrame,
      rulesDf: Option[DataFrame],
      seeds: Seq[(String, Int)],
      cfg: CrawlConfig = CrawlConfig()): Unit = {
    import spark.implicits._
    // seeds are tiny and ordered: normalize + first-occurrence dedup driver-side
    val seen = scala.collection.mutable.Set.empty[String]
    val rows = seeds.flatMap { case (raw, prio) =>
      UrlNormalizer.normalize(raw).filter(seen.add).map { n =>
        (raw, n, UrlNormalizer.hostOf(n), prio)
      }
    }.zipWithIndex.map { case ((raw, n, host, prio), i) =>
      (i.toLong, raw, n, host, 0, prio, 0,
        cfg.projects.head.projectId, cfg.projects.head.taskType)
    }
    val frontier0 = admitted(rows.toDF("id", "url", "urlNorm", "host", "attempt", "priority",
      "discoveredRound", "projectId", "taskType"), corpusN, rulesDf)
    val hosts0 = Seq.empty[(String, Long, Int)].toDF("host", "nextTick", "failCount")
    val seen0 =
      if (!cfg.seenFilter) None
      else Some(SnapshotStore.SeenChanges(SnapshotStore.Changes(graft.seen.BloomShards.buildDf(
        rows.map(_._3).toDF("urlNorm"), "urlNorm", cfg.seenShards, cfg.seenExpectedPerShard,
        cfg.seenFpp))))
    val obs = org.apache.spark.sql.Observation("commit-v0")
    store.commit(0, SnapshotStore.Changes(frontier0.observe(obs, waitCount)),
      SnapshotStore.Changes(hosts0), None,
      bootstrapMeta(rows.size, observedLong(obs, "waits"), cfg), seen = seen0)
  }

  final case class RoundOutcome(selectedCount: Long, newLinkCount: Long)

  /** Distributed exact global rank: `seqCol` = 1-based rank of each row by
    * `order`, computed without ever sorting on one partition or merging on
    * the driver (a `orderBy().limit(n)` R2 cut is a driver-side heap merge
    * of partitions×n rows — measured as the round bottleneck at 200k).
    *
    * Range-repartition on the order keys (sampling pass), count rows per
    * range (tiny collect), then rank = partition offset + local row_number.
    * Exact for any partition boundaries because `order` is a total order
    * (unique id tiebreak), so crawl-order parity is preserved bit-for-bit.
    * Returns (result, cacheHandle, totalRows); callers unpersist the handle
    * when the round is done. `totalRows` is the exact input cardinality —
    * free from the per-range counts, and it lets callers skip a separate
    * count job (one fewer serial driver barrier per round).
    */
  def withGlobalSeq(df: DataFrame, order: Seq[Column], parts: Int,
                    seqCol: String): (DataFrame, DataFrame, Long) = {
    val ranged = df.repartitionByRange(math.max(parts, 1), order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val counts = ranged.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsetByPid = counts.map { case (pid, n) => val o = acc; acc += n; pid -> o }.toMap
    val offExpr =
      if (offsetByPid.isEmpty) lit(0L)
      else coalesce(element_at(
        map_from_arrays(
          lit(offsetByPid.keys.toArray),
          lit(offsetByPid.values.toArray)),
        col("__pid")), lit(0L))
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    (ranged.withColumn(seqCol, (offExpr + row_number().over(w)).cast("long")), ranged, acc)
  }

  /** `spark.sql.codegen.cache.maxEntries` for the shipped session builders
    * (CrawlJob, Bench, ScalingBench). The cache is a static conf that
    * Spark reads once per JVM, so it is sized where the session is built,
    * not per round. A compiled round's working set is ~150 distinct
    * classes, more than the default 100-entry LRU holds, so with the
    * default every compiled round recompiles classes an earlier round
    * evicted. */
  val CodegenCacheMaxEntries = 512

  /** Weighted rows (frontier rows plus corpus rows /
    * [[CorpusRowsPerFrontierRow]]) below which a round runs interpreted
    * (see [[runRound]]).
    *
    * Set at the measured executor-CPU crossover, so that interpreting a
    * round never costs more CPU than the compiles it removes. One JVM per
    * (size, mode), BulkCorpus frontiers, a quarter of
    * the pages leased a round, bucketed + delta + seen, local[4] on a
    * 4-vCPU VM, median of the steady rounds 1–3. Compiled is measured with
    * the shipped sessions' [[CodegenCacheMaxEntries]]-entry cache, where a
    * steady compiled round compiles only the ~13 classes that inline
    * round-varying literals (CHANGES.md has the full table):
    * {{{
    * frontier rows   8.0k   11.8k  15.7k  23.3k  46.3k  92.4k
    * interpreted     2.01   2.52   2.74   3.89   5.14   7.95  executor CPU s
    * compiled        2.03   2.57   2.97   3.22   4.43   6.77
    * }}}
    * Here the corpus holds 0.65 rows per frontier row. The curves cross
    * between 15.7k and 23.3k frontier rows (≈17.6k linearly; 17.0k and
    * 25.2k weighted rows); the constant sits below both. With Spark's
    * default 100-entry cache a compiled round recompiles ~190 classes and
    * interpreting is cheaper at every measured size, so the constant is
    * conservative there. */
  private[round] val InterpretBelowRows = 16000L

  /** Corpus rows that weigh as much as one frontier row in
    * [[interpretRound]]. Every round streams the whole staged corpus
    * through the fetch join and the discovered-link `warcTs` lookup, so a
    * small frontier over a large corpus still scans many rows; but a corpus
    * row passes one scan and one hash probe, while a frontier row passes
    * the gate, rank, merge and commit plans.
    *
    * Measured as for [[InterpretBelowRows]], with a ~4.1k-row frontier
    * (2,000 seeds, 500 leased a round) over a growing corpus; two JVMs per
    * mode at 120k and 240k rows, averaged:
    * {{{
    * corpus rows     2k     30k    60k    120k   240k
    * interpreted     1.49   1.73   1.89   2.11   2.54  executor CPU s
    * compiled        1.64   2.08   2.02   2.20   2.67
    * }}}
    * A corpus row costs about the same in both modes: the interpreted
    * excess grows by 0.48 ± 0.57 µs a corpus row (least squares, ± one
    * standard error), against 15.2 µs a frontier row. The weight takes the
    * upper end of that interval (≈1.6 µs, 1/9.4 of a frontier row) and
    * rounds it to 1/8, so a corpus larger than measured runs compiled, as
    * every round did before this rule, rather than interpreted on an
    * extrapolation. Verified up to 240k corpus rows. */
  private[round] val CorpusRowsPerFrontierRow = 8L

  /** A round's execution mode as a pure function of the rows it scans:
    * interpreted while `frontierRows + corpusRows / CorpusRowsPerFrontierRow`
    * is below [[InterpretBelowRows]], whole-stage codegen at and above it.
    * Small rounds would spend more CPU compiling than interpreting their
    * rows: with Spark's default 100-entry codegen cache a committed round
    * recompiles ~200 classes every round, and even a cache that holds them
    * all recompiles the ones that inline round-varying literals. Large
    * rounds repay the compiles (Kohn, Leis & Neumann, "Adaptive Execution
    * of Compiled Queries", ICDE 2018). */
  private[graft] def interpretRound(frontierRows: Long, corpusRows: Long): Boolean =
    frontierRows + corpusRows / CorpusRowsPerFrontierRow < InterpretBelowRows

  /** Test seam: `Some(interpreted)` overrides [[interpretRound]] for the
    * rounds this thread runs inside `withValue`. */
  private[graft] val forcedInterpreted = new scala.util.DynamicVariable[Option[Boolean]](None)

  /** The Spark settings a round runs with. Interpreted: no whole-stage
    * codegen and interpreted projections, predicates and orderings. Compiled:
    * generated class names carry no AQE stage number, so identical
    * whole-stage pipelines (the same merge/window/commit stages recur in
    * several queries every round) share one cached class. */
  private[graft] def roundSettings(interpreted: Boolean): Map[String, String] =
    if (interpreted)
      Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    else Map("spark.sql.codegen.useIdInClassName" -> "false")

  /** Sets the round's settings and returns the action that restores the
    * caller's values. [[runRound]] runs it in a `finally`, so work outside a
    * round keeps the caller's mode whether the round returns or throws. */
  private def applyRoundSettings(spark: SparkSession, interpreted: Boolean): () => Unit = {
    val settings = roundSettings(interpreted)
    val callerValues = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    () => callerValues.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One crawl round (§3.1 rebuild): gate → rank → cut → fetch-join →
    * classify → commit. Returns None if nothing was eligible (caller jumps
    * the round counter).
    *
    * Everything a round carries forward comes from the previous manifest
    * (`meta0`) and goes into the one it commits: the next id, the wait
    * count and the A5 resource counters. The batch acquires
    * [[resourcePick]]'s resource; its usage count and this round's fetch
    * failures (the pool breaker's) are charged to it in the manifest.
    *
    * The round decides once whether its plans run compiled or interpreted
    * ([[interpretRound]]) from the frontier and corpus sizes. Ids are
    * dense, so the previous manifest's `nextId` is the frontier's exact row
    * count and the decision costs no Spark job. */
  def runRound(
      spark: SparkSession,
      store: SnapshotStore,
      corpusN: DataFrame,
      rulesDf: Option[DataFrame],
      cfg: CrawlConfig,
      version: Int, // previous committed snapshot
      round: Int,
      // rows in the staged corpus: every round scans all of them, so they
      // count towards the round's execution mode
      corpusRows: Long,
      hooks: PipelineHooks = PipelineHooks()): Option[RoundOutcome] = {
    val meta0 = checkedMeta(store, version)
    val nextId = meta0("nextId").toLong
    val resource = resourcePick(meta0, cfg).getOrElse(throw new IllegalArgumentException(
      s"every resource of ${cfg.resources.mkString(", ")} reached maxResourceFailures"))
    val interpreted = forcedInterpreted.value.getOrElse(interpretRound(nextId, corpusRows))
    val restoreSettings = applyRoundSettings(spark, interpreted)
    // every cache the round builds, released however the round ends
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = { caches += df.persist(); df }
    try {
      import spark.implicits._

      // A12 write-back mode: the FrontierWriteBackSink marker is registered,
      // so this round's successful extractedText merges into the frontier's
      // `source` column inside the same commit (see the sink's doc)
      val writeBack = hooks.parsedSinks.contains(FrontierWriteBackSink)

      val frontier = store.readFrontier(version)
      val hosts = store.readHosts(version)
      // a snapshot written WITH the write-back sink carries a `source` column;
      // resuming it without the sink must not drop previously written-back
      // text on the next full rewrite (round-4 ADVICE #3) — carry the column
      // through unchanged whenever it exists (the manifest's `frontierSource`
      // key, which this commit re-stamps), merge into it only when the sink
      // is registered
      val carrySource = writeBack || frontier.columns.contains("source")
      // the round hands the store only its changes; the layout is the
      // store's compaction cadence for all three state tables: "full"
      // compacts every commit, "delta" every frontierCompactEvery-th (the
      // periodic full write bounds the read-side merge fan-in)
      val compact = cfg.frontierLayout == "full" ||
        (version + 1) % math.max(cfg.frontierCompactEvery, 1) == 0
      // lease multiplexing: one seeded-pick task type per round — the
      // deterministic twin of the master's random pick among registered
      // types (`QueueTaskServiceImpl.scala:32-55`)
      val taskTypes = cfg.projects.map(_.taskType).distinct.sorted
      val pickedType =
        if (taskTypes.size <= 1) None
        else Some(taskTypes(Det.pmod(Det.xxhash64(s"taskType:$round"), taskTypes.size).toInt))

      // B1 + F1: wait-status rows on open hosts (closed hosts carry DeadTick)
      val eligible = frontier
        .filter(col("status") === TaskStatus.Wait)
        .transform(df => pickedType.fold(df)(t => df.filter(col("taskType") === t)))
        .join(hosts.select("host", "nextTick"), Seq("host"), "left")
        .filter(coalesce(col("nextTick"), lit(0L)) <= round)
        // prune BEFORE the rank shuffles: the R1/R2 path re-shuffles these
        // rows three times (salted window, host window, range partition) —
        // every surviving column is paid 3x in shuffle bytes. Kept: ranking
        // keys, join key, project chain, and the validator-visible columns.
        .select("id", "urlNorm", "host", "priority", "warcTs", "projectId", "taskType")

      // R1 two-step salted per-host rank (skew-proof top-k)
      val salts = 8
      val w1 = Window.partitionBy(col("host"), col("salt")).orderBy(FetchOrder: _*)
      val w2 = Window.partitionBy(col("host")).orderBy(FetchOrder: _*)
      val perHost = eligible
        .withColumn("salt", pmod(xxhash64(col("urlNorm")), lit(salts)))
        .withColumn("r1", row_number().over(w1)).filter(col("r1") <= cfg.hostBudgetPerRound)
        .withColumn("r2", row_number().over(w2)).filter(col("r2") <= cfg.hostBudgetPerRound)
        .drop("salt", "r1", "r2")

      // R2 global cut via distributed exact rank (no driver merge, no
      // single-partition sort), then keep the ≤ roundBudget head.
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val (ranked, rankedCache, eligibleTotal) = withGlobalSeq(perHost, FetchOrder, parts, "seqL")
      caches += rankedCache
      // the round's lease size is known EXACTLY here: ranks are 1..total and
      // the cut keeps seqL ≤ roundBudget, so selected = min(total, budget).
      // Deriving it from the rank counts (instead of a fetched.count() after
      // the fetch join) removes the one serial barrier between ranking and
      // the round's write jobs — the fetch join now materializes inside the
      // link-discovery/commit jobs it feeds, and an empty round exits before
      // the fetch join is even built.
      val selectedCount = math.min(eligibleTotal, cfg.roundBudget.toLong)
      if (selectedCount == 0) return None
      val selected = ranked
        .filter(col("seqL") <= cfg.roundBudget)
        .withColumn("seq", col("seqL").cast("int"))
        .drop("seqL", "__pid")
        // B5/B6: validator-flagged rows bypass the fetch and end taskSkipped
        .withColumn("skipped", hooks.validator.getOrElse(lit(false)))

      // C4 fetch join (bounded by roundBudget) + G1 outcome taxonomy.
      // shuffle_hash hint: a sort-merge join would RE-SORT the corpus side
      // (the 100 TB table) every round — the hash build on the ≤roundBudget
      // selected side is tiny per partition and sort-free.
      // parse ONLY rows that reach the parser in the reference pipeline —
      // banned/io/generic failures never parse (`CrawlExecutor.scala:37-43`
      // chains parse after a successful fetch), and skipping them here both
      // matches the simulator's null extractedText and avoids paying the
      // parse UDF for doomed rows (the `when` guard short-circuits per row).
      // DefaultParser runs as the bytes-native HtmlParseExpr (no UTF-16
      // round trip — the fetch stage is DRAM-bound, see HtmlParseExpr doc);
      // a custom PageParser keeps the UDF seam.
      val roundParse: (Column, Column) => Column =
        if (hooks.parser eq DefaultParser)
          graft.functions.expressions.ParseFunctions.htmlParse
        else { val u = parseUdfOf(hooks.parser); (h, s) => u(h, s) }
      val fetchedWide = selected.hint("shuffle_hash")
        .join(corpusN.select("urlNorm", "htmlStr", "lang"), Seq("urlNorm"), "left")
        .withColumn("ioUntil", ioFailUntilUdf(col("lang")))
        .withColumn("parsed",
          when(!col("skipped") && col("htmlStr").isNotNull && col("lang") =!= "xx-ban" &&
            col("lang") =!= "xx-gen" && !(col("ioUntil") > round),
            roundParse(col("htmlStr"), col("host"))))
        .withColumn("outcome",
          when(col("skipped"), Outcome.Skipped)
            .when(col("htmlStr").isNull, Outcome.NotFound)
            .when(col("lang") === "xx-ban", Outcome.Banned)
            .when(col("ioUntil") > round, Outcome.IoFailed)
            .when(col("lang") === "xx-gen", Outcome.GenericFailed)
            .when(col("parsed.text").isNull, Outcome.ParsingFailed)
            .otherwise(Outcome.Success))
      // persist ONLY what the round's consumers (records, link discovery,
      // status/host updates, raw sinks) read back. htmlStr is the widest
      // column in the row and is needed again only by a raw sink — caching
      // it unconditionally wrote round-budget × page-size bytes into the
      // block store every round for nothing (measured: the fetch stage is
      // bandwidth-bound; the cache write is pure overhead in the common
      // no-raw-sink configuration).
      val fetchedCols = Seq("id", "seq", "urlNorm", "host", "projectId",
        "outcome", "parsed") ++ (if (hooks.rawSinks.nonEmpty) Seq("htmlStr") else Nil)
      val fetched = persisted(fetchedWide.select(fetchedCols.map(col): _*))

      // fetch records (the crawl-order contract surface). The D1 per-outcome
      // report rides the results write as an Observation and lands in the
      // manifest — durable per-round lineage counters at zero extra jobs.
      val outcomeNames = Seq(Outcome.Success, Outcome.NotFound, Outcome.Skipped,
        Outcome.Banned, Outcome.IoFailed, Outcome.ParsingFailed, Outcome.GenericFailed)
      val recObs = org.apache.spark.sql.Observation(s"records-v${version + 1}")
      val records = fetched.select(
        lit(round).as("round"), col("seq"), col("id"), col("urlNorm"),
        col("outcome"),
        when(col("outcome") === Outcome.Success, col("parsed.text")).as("extractedText"),
        when(col("outcome") === Outcome.Success, size(col("parsed.links")))
          .otherwise(lit(0)).cast("int").as("nNewLinks"))
        .observe(recObs,
          sum(when(col("outcome") === outcomeNames.head, 1L).otherwise(0L)).as(outcomeNames.head),
          outcomeNames.tail.map(o =>
            sum(when(col("outcome") === o, 1L).otherwise(0L)).as(o)): _*)

      // D5/H2: discovered links in (seq, pos) order → resolve → in-round dedup
      // (first occurrence) → C2 exact anti-join vs the whole frontier
      val candidates = fetched
        .filter(col("outcome") === Outcome.Success)
        .select(col("seq"), col("urlNorm").as("parentUrl"),
          col("projectId").as("parentProject"),
          posexplode(col("parsed.links")).as(Seq("pos", "href")))
        .withColumn("newNorm", urlResolve(col("parentUrl"), col("href")))
        .filter(col("newNorm").isNotNull)
        // parentUrl/href served their purpose (resolution) — drop them
        // before the dedup window shuffles every link row
        .select("seq", "pos", "parentProject", "newNorm")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("newNorm")).orderBy(col("seq"), col("pos"))))
        .filter(col("rn") === 1)
      // C2 URL-seen membership. With the R7 bloom pre-filter on, rows the
      // shards have never seen skip the anti-join entirely (no false
      // negatives ⇒ sure-new); only "maybe" rows pay the exact confirm, so
      // the per-round anti-join input shrinks from all-links to ~FP-rate.
      // Shards stay a (shard, bytes) Dataset end to end (BloomShards
      // distributed path): candidate keys meet their shard's filter bytes in
      // a cogroup, so nothing ∝ seen-set size ever touches the driver or a
      // broadcast (round-1 scale-killer 3).
      val seenOnDisk = cfg.seenFilter && store.hasSeen(version)
      if (seenOnDisk) {
        // probe-modulus guard (round-2 ADVICE medium): resuming with a
        // seenShards smaller than the snapshot's would route keys to the
        // WRONG filter — bloom false negatives, and "sure-new" rows bypass
        // the exact anti-join, so seen URLs re-enter with duplicate ids.
        val persistedShards = meta0("seenShards").toInt
        require(persistedShards == cfg.seenShards,
          s"snapshot seen set has $persistedShards shards but cfg.seenShards=" +
            s"${cfg.seenShards} — resuming would corrupt the URL-seen membership")
      }
      // the EFFECTIVE shard capacity: an earlier auto-resize persisted its
      // choice in the manifest; otherwise the configured sizing applies
      val effCapacity = meta0.get("seenExpectedPerShard").map(_.toLong)
        .getOrElse(cfg.seenExpectedPerShard)
      def shardsOf(keys: DataFrame, capacity: Long): DataFrame =
        graft.seen.BloomShards.buildDf(keys, "urlNorm", cfg.seenShards, capacity, cfg.seenFpp)
      val seenShards =
        if (!cfg.seenFilter) None
        else Some(
          if (seenOnDisk) store.readSeen(version)
          else // the previous round ran without the seen filter (a resume
            // that turns it on): build the shards from the frontier, once
            // for the probe and the commit
            persisted(shardsOf(frontier.select("urlNorm"), effCapacity)))
      // (anti-joins hinted shuffle_hash for the same no-re-sort reason)
      val seenSet = frontier.select(col("urlNorm").as("newNorm")).hint("shuffle_hash")
      val newLinks = seenShards match {
        case None =>
          candidates.join(seenSet, Seq("newNorm"), "left_anti")
        case Some(shardsDf) =>
          graft.seen.BloomShards.notSeen(candidates, seenSet, "newNorm", shardsDf, cfg.seenShards)
      }
      // id assignment in exact (seq, pos) discovery order — distributed rank,
      // same mechanism as the R2 cut
      val (newRanked, newRankedCache, _) =
        withGlobalSeq(newLinks, Seq(col("seq"), col("pos")), parts, "idx")
      caches += newRankedCache
      // project chaining (task.proto:13-15): a link discovered by a task of
      // project P enters the frontier under P.nextProjectId with that
      // project's task type; unknown parents keep their own project.
      val nextByProject = typedLit(cfg.projects.map(p => p.projectId -> p.nextProjectId).toMap)
      val typeByProject = typedLit(cfg.projects.map(p => p.projectId -> p.taskType).toMap)
      val newBase = newRanked
        .select(
          (col("idx") + lit(nextId - 1)).as("id"),
          col("newNorm").as("url"), col("newNorm").as("urlNorm"),
          urlHost(col("newNorm")).as("host"),
          lit(0).as("attempt"), lit(0).as("priority"),
          lit(round + 1).as("discoveredRound"),
          coalesce(element_at(nextByProject, col("parentProject")), col("parentProject"))
            .as("projectId"))
        .withColumn("taskType",
          coalesce(element_at(typeByProject, col("projectId")),
            lit(cfg.projects.head.taskType)))
      // build the capture join's hash on the new-link side: never sort or
      // move the corpus
      val discovered = persisted(admitted(newBase.hint("shuffle_hash"), corpusN, rulesDf)
        .transform(df => if (carrySource) df.withColumn("source", lit(null).cast("string")) else df))

      // G2/G3 + D1: status machine via outcome join on id. No broadcast
      // hint: outcomes is ≤ roundBudget rows — forcing a broadcast made the
      // driver collect+build a multi-million-row hash relation per round
      // (serial, ∝ round size — measured as the 32-core scaling ceiling).
      // AQE sees the cached size and still broadcasts genuinely small rounds.
      // A12 write-back: the outcome join also carries the round's successful
      // extractedText and the frontier rewrite merges it into a `source`
      // column — the same-commit twin of `update projects_url set source=…
      // where id=…` (`SqlSaveParsedProvider.scala:19-25`).
      val outcomes = fetched.select(
        (Seq(col("id"), col("outcome")) ++
          (if (writeBack)
             Seq(when(col("outcome") === Outcome.Success, col("parsed.text")).as("__wbSource"))
           else Nil)): _*).hint("shuffle_hash")
      val frontierForUpdate =
        if (carrySource && !frontier.columns.contains("source"))
          frontier.withColumn("source", lit(null).cast("string"))
        else frontier
      // the rows this round touched: its leased rows with their new status
      val touched = frontierForUpdate
        .join(outcomes, Seq("id"), "inner")
        .withColumn("attempt",
          when(col("outcome") === Outcome.GenericFailed, col("attempt") + 1)
            .otherwise(col("attempt")))
        .withColumn("status",
          when(col("outcome").isin(Outcome.Success, Outcome.Banned), TaskStatus.Finished)
            .when(col("outcome").isin(Outcome.NotFound, Outcome.Skipped), TaskStatus.Skipped)
            .when(col("outcome") === Outcome.ParsingFailed, TaskStatus.ParsingFailed)
            .when(col("outcome") === Outcome.IoFailed, TaskStatus.Wait)
            .when(col("outcome") === Outcome.GenericFailed,
              when(col("attempt") >= cfg.maxAttempts, TaskStatus.Failed)
                .otherwise(TaskStatus.Wait))
            .otherwise(col("status")))
        .select((SnapshotStore.FrontierSchema.fieldNames.toSeq.map(col) ++
          // write-back: a success this round overwrites source; every other
          // row keeps what it had (null until its first successful fetch).
          // Sink absent but column present: carry it through untouched.
          (if (writeBack) Seq(coalesce(col("__wbSource"), col("source")).as("source"))
           else if (carrySource) Seq(col("source"))
           else Nil)): _*)

      // wait-count and new-link count piggyback on the commit write via
      // observe — saves the driver loop a frontier scan per round and the
      // separate discovered.count() job (new rows are exactly those tagged
      // discoveredRound == round+1)
      val obs = org.apache.spark.sql.Observation(s"commit-v${version + 1}")
      // the keys a compaction replaces come from the fetched cache, apart
      // from the rows (which join the previous frontier): the leased ids.
      // Discovered ids are new (≥ nextId), so no earlier version holds them.
      val frontierChanges = SnapshotStore.Changes(
        touched.unionByName(discovered)
          .observe(obs, waitCount,
            sum(when(col("discoveredRound") === round + 1, 1L).otherwise(0L)).as("newLinks")),
        Some(fetched.select("id")))

      // F2/F3 host-state rewrite + D3 failCount circuit breaker: fetch
      // failures (io + generic) accumulate per host; at the cap the host is
      // closed for good (nextTick = DeadTick).
      // reopen tick as pure columns: ban backoff, else max(deterministic
      // politeness delay, robots crawl-delay joined from the rules Dataset)
      val hostUpdates = fetched.groupBy(col("host"))
        .agg(
          max(when(col("outcome") === Outcome.Banned, 1).otherwise(0)).as("bannedFlag"),
          sum(when(col("outcome").isin(Outcome.IoFailed, Outcome.GenericFailed), 1)
            .otherwise(0)).cast("int").as("nFails"))
        .transform(df => rulesDf match {
          case None => df.withColumn("rbDelayTicks", lit(0L))
          case Some(rules) =>
            df.join(rules.select(col("host"), col("rbDelayTicks")), Seq("host"), "left")
        })
        .withColumn("newTick",
          lit(round + 1) + when(col("bannedFlag") === 1, lit(cfg.banBackoffTicks))
            .otherwise(greatest(
              politenessDelayCol(col("host"), round,
                cfg.politenessCenterTicks, cfg.politenessRadiusTicks),
              coalesce(col("rbDelayTicks"), lit(0L)))))
        .select(col("host"), col("newTick"), col("nFails"))
      // only the hosts this round touched: the old failCount rides a right
      // join (touched side preserved, so newTick is never null); untouched
      // hosts stay as they are (round-2 scale-killer B: at 10^8 hosts a
      // full-outer rewrite was a frontier-sized write per round)
      val hostChanges = SnapshotStore.Changes(
        hosts.join(hostUpdates, Seq("host"), "right")
          .withColumn("failCount2",
            (coalesce(col("failCount"), lit(0)) + col("nFails")).cast("int"))
          .select(col("host"),
            when(lit(cfg.maxHostFailures > 0) && col("failCount2") >= cfg.maxHostFailures,
              lit(DeadTick))
              .otherwise(col("newTick")).as("nextTick"),
            col("failCount2").as("failCount")),
        Some(fetched.select("host"))) // the keys, from the fetched cache

      // R7 shard update: cogroup on shard id — network cost ∝ new links +
      // touched shard bytes, driver cost zero; persisted with the snapshot
      // (the URL-seen set resumes exactly with the frontier). A seen set
      // built this round (not on disk) has no earlier version to merge
      // onto: its change set is every shard, the touched ones replaced.
      val newKeys = discovered.select("urlNorm")
      // bloom-shard saturation signal (round-3 VERDICT item 8): a filter
      // sized for seenExpectedPerShard keys degrades FPP silently past
      // capacity — membership stays exact (the anti-join confirms) but the
      // confirm traffic grows. The fullest shard's `inserts` counter, which
      // the store observes as it writes the shards (no job of its own), is
      // surfaced in the manifest + a driver warning (stderr and every
      // notifier's onWarning) at 90%. Checked only on FULL seen writes
      // (compaction cadence): only a full write covers every shard.
      var seenSaturation: Option[(Long, Double)] = None
      var seenCapacityOut = effCapacity
      // reported on this thread once the commit returns (the check runs on a
      // commit thread; notifiers need not be thread-safe)
      var seenWarning: Option[String] = None
      // the store writes the seen changes CONCURRENTLY with the frontier/
      // hosts/results writes and seals the manifest only after the check
      // (Await gives the happens-before edge for the vars metaLazy reads)
      def saturationCheck(maxIns: Long): Option[DataFrame] = {
        val ratio = maxIns.toDouble / math.max(effCapacity, 1L)
        seenSaturation = Some((maxIns, ratio))
        if (ratio >= 1.0) {
          // auto-resize at the compaction point: rebuild every shard from
          // the full key set (previous frontier ∪ this round's discovered)
          // with capacity = next power of two ≥ 2× the fullest shard.
          // Membership is EXACT before and after (bloom is a pre-filter;
          // the anti-join confirms) — only the FPP, i.e. the volume of
          // confirm traffic, improves. O(frontier) cost, but only at the
          // compaction cadence that already writes every shard.
          val newCap = java.lang.Long.highestOneBit(math.max(2 * maxIns, 2L) - 1) * 2
          seenWarning = Some(s"[graft] seen-shard saturation: fullest shard " +
            s"$maxIns ≥ capacity $effCapacity — rebuilding all ${cfg.seenShards} " +
            s"shards at expectedPerShard=$newCap (compaction auto-resize)")
          seenCapacityOut = newCap
          seenSaturation = Some((maxIns, maxIns.toDouble / newCap))
          Some(shardsOf(frontier.select("urlNorm").unionByName(newKeys), newCap))
        } else {
          if (ratio >= 0.9)
            seenWarning = Some(f"[graft] seen-shard saturation: fullest shard at " +
              f"$maxIns inserts = ${ratio * 100}%.0f%% of capacity $effCapacity — " +
              f"auto-resize will trigger at the compaction after it crosses 100%%")
          None
        }
      }
      val seenChanges = seenShards.map { shardsDf =>
        // the keys are at most seenShards rows per partition of the new
        // links: broadcast, so a full write never shuffles the previous
        // shards a second time
        val touchedShards = SnapshotStore.Changes(
          graft.seen.BloomShards.updateTouchedDf(shardsDf, newKeys, "urlNorm", cfg.seenShards),
          Some(broadcast(graft.seen.BloomShards.shardIds(newKeys, "urlNorm", cfg.seenShards))))
        SnapshotStore.SeenChanges(
          if (seenOnDisk) touchedShards
          else SnapshotStore.Changes(SnapshotStore.replaceByKey(shardsDf, touchedShards, "shard")),
          saturationCheck)
      }
      // A8-A13 sink family: raw + parsed sinks write BEFORE the manifest
      // seals (reference order: SaveCrawlResultController saves, THEN reports
      // to the master, `SaveCrawlResultController.scala:99-154`) — a sink
      // failure leaves an uncommitted round that re-runs idempotently (G4).
      if (hooks.rawSinks.nonEmpty) {
        val raw = fetched.select(lit(round).as("round"), col("seq"), col("id"),
          col("urlNorm"), col("htmlStr"))
        hooks.rawSinks.foreach(_.write(raw, version + 1))
      }
      hooks.parsedSinks.foreach(_.write(records, version + 1))
      // meta is by-name: evaluated inside commit AFTER the frontier write,
      // when the observation metrics exist
      store.commit(version + 1, frontierChanges, hostChanges, Some(records), {
        val ocLong = recObs.get.collect { case (k, v: java.lang.Long) => k -> v.longValue }
        val outcomeCounts = ocLong.map { case (k, v) => s"outcome.$k" -> v.toString }
        // A5 + pool breaker: the batch's acquisition and its fetch failures
        // are charged to the resource that served it
        val failInc = ocLong.getOrElse(Outcome.IoFailed, 0L) +
          ocLong.getOrElse(Outcome.GenericFailed, 0L)
        val resourceMeta = cfg.resources.flatMap { r =>
          def charged(kind: String, inc: Long): (String, String) = s"resource.$kind.$r" ->
            (resourceCounter(meta0, kind, r) + (if (r == resource) inc else 0L)).toString
          Seq(charged("used", 1L), charged("fails", failInc))
        }.toMap + ("resource" -> resource)
        val newLinks = observedLong(obs, "newLinks")
        // every selected row left the wait pool; the observation saw the
        // changes only, so it counts the ones that re-entered it and the
        // discovered waits; untouched waits carry over
        val waits = meta0("waits").toLong - selectedCount + observedLong(obs, "waits")
        Map("nextRound" -> (round + 1).toString,
          "round" -> round.toString,
          "nextId" -> (nextId + newLinks).toString,
          "waits" -> waits.toString,
          "selected" -> selectedCount.toString,
          "newLinks" -> newLinks.toString,
          "schemaVersion" -> SchemaVersion,
          "frontierSource" -> carrySource.toString) ++
          (if (seenShards.isEmpty) Map.empty[String, String]
           else Map(
             "seenShards" -> cfg.seenShards.toString,
             // effective per-shard capacity (auto-resize persists its pick)
             "seenExpectedPerShard" -> seenCapacityOut.toString)) ++
          seenSaturation.fold(Map.empty[String, String]) { case (ins, ratio) =>
            Map("seenMaxShardInserts" -> ins.toString,
              "seenFillRatio" -> f"$ratio%.4f")
          } ++ resourceMeta ++ outcomeCounts
      }, compact, seenChanges)
      seenWarning.foreach { w =>
        System.err.println(w)
        hooks.notifiers.foreach(_.onWarning(w))
      }
      Some(RoundOutcome(selectedCount, observedLong(obs, "newLinks")))
    } finally {
      restoreSettings()
      caches.foreach(_.unpersist(blocking = true))
    }
  }

  final case class CrawlSummary(rounds: Int, versions: Int, fetches: Long, frontierSize: Long)

  /** Top-of-round stop decision, extracted pure so the precedence is
    * testable without racing a real clock. Frontier exhaustion outranks the
    * wall clock: a crawl whose final round finished the work just as
    * `maxWallSecs` elapsed is Completed, not WallClockTimeout — notifiers
    * read the reason to decide whether work remains (round-4 ADVICE #4).
    * The wall clock outranks the resource pool only in reporting order;
    * both mean "work remains, crawl stopped". */
  private[graft] def stopCheck(
      waits: Long, wallExpired: Boolean, poolExhausted: Boolean): Option[String] =
    if (waits == 0) Some(StopReason.Completed)
    else if (wallExpired) Some(StopReason.WallClockTimeout)
    // pool exhausted: every registered resource hit maxResourceFailures —
    // the reference's pool-level NoResourcesAvailable crawl stop
    else if (poolExhausted) Some(StopReason.NoResourcesAvailable)
    else None

  /** Driver loop: resume from the latest committed snapshot (or bootstrap),
    * then run rounds until no wait-state rows remain (or maxRounds). The
    * loop keeps only the version and the round; the stop decision reads the
    * wait count and the resource counters from the latest manifest, so a
    * resume scans no table. The corpus is staged bucketed under the state
    * dir ([[corpusStagedBucketed]]) and the rounds join the robots rules
    * staged beside it. Each round owns its Spark settings ([[runRound]]);
    * staging, bootstrap and the nothing-eligible tick jump run with the
    * caller's. The crawl's one cache, the robots rules, is released however
    * it ends. */
  def crawl(
      spark: SparkSession,
      store: SnapshotStore,
      corpus: DataFrame,
      seeds: Seq[(String, Int)],
      cfg: CrawlConfig,
      hooks: PipelineHooks = PipelineHooks()): CrawlSummary = {
    // a state dir of another schema is refused before the corpus is staged
    store.latestVersion.foreach(checkedMeta(store, _))
    val corpusN = corpusStagedBucketed(spark, corpus, store.baseDir)
    // per-host robots rules: the table staged beside the corpus (zero corpus
    // jobs on a resumed driver, round-4 VERDICT missing #1), cached for the
    // crawl — a Dataset joined on host wherever a verdict or crawl-delay is
    // needed. None when the corpus serves no robots.txt at all: the
    // per-round rule joins vanish from the plan instead of joining an empty
    // table.
    val rulesDf: Option[DataFrame] = stagedRobotsRules(spark, store.baseDir).flatten.map(_.persist())
    val (version, round, fetches, stopReason) = try {
      if (store.latestVersion.isEmpty)
        bootstrap(spark, store, corpusN, rulesDf, seeds, cfg)
      var version = store.latestVersion.get
      var round = store.readMeta(version)("nextRound").toInt
      var fetches = 0L
      var stopReason: Option[String] = None
      // the staged corpus's row count for the rounds' execution mode, from
      // the staging marker (no job)
      val corpusRows = stagingMarker(store.baseDir)("rawCount").toLong
      // F6 wall-clock batch-execution timeout: measured from loop entry, so
      // a resumed crawl gets a fresh allowance (the reference's timeout is
      // per batch controller lifetime, `WorkerManager.scala:85-96`)
      val wallT0 = System.nanoTime()
      def wallExpired: Boolean =
        cfg.maxWallSecs > 0 && (System.nanoTime() - wallT0) / 1e9 >= cfg.maxWallSecs
      while (stopReason.isEmpty && round < cfg.maxRounds) {
        val meta = store.readMeta(version)
        stopReason = stopCheck(meta("waits").toLong, wallExpired, resourcePick(meta, cfg).isEmpty)
        if (stopReason.isEmpty)
          runRound(spark, store, corpusN, rulesDf, cfg, version, round, corpusRows, hooks) match {
            case Some(out) =>
              version += 1
              round = store.readMeta(version)("nextRound").toInt
              fetches += out.selectedCount
            case None =>
              // nothing eligible: jump to the earliest reopen tick among
              // hosts that still hold waits (pure function of state). If
              // every such host is closed (DeadTick), the crawl has no
              // resources left — stop (D3 NoResourcesAvailable).
              val minNext = store.readFrontier(version)
                .filter(col("status") === TaskStatus.Wait)
                .join(store.readHosts(version).select("host", "nextTick"), Seq("host"), "left")
                .agg(min(coalesce(col("nextTick"), lit(0L)))).head().getLong(0)
              if (minNext >= DeadTick) stopReason = Some(StopReason.NoResourcesAvailable)
              else round = math.max(round + 1, minNext.toInt)
          }
      }
      (version, round, fetches, stopReason.getOrElse(StopReason.MaxRounds))
    } finally rulesDf.foreach(_.unpersist(blocking = true))
    // ids are dense: the latest manifest's nextId is the frontier's row count
    val summary = CrawlSummary(round, version, fetches, store.readMeta(version)("nextId").toLong)
    // notification seam (NotificationExecutor analog): surface the stop —
    // most importantly the D3 NoResourcesAvailable — to registered hooks
    hooks.notifiers.foreach(_.onStop(stopReason, summary))
    summary
  }

  /** A5 per-round resource-acquisition log, reconstructed from committed
    * manifests: (round, resource, used_after) for every round that leased a
    * batch. Driver-side loop over the (tiny, one-per-round) manifests —
    * never over data. */
  def resourceLog(spark: SparkSession, store: SnapshotStore): DataFrame = {
    import spark.implicits._
    val latest = store.latestVersion.getOrElse(-1)
    (1 to latest).flatMap { v =>
      val m = store.readMeta(v)
      m.get("resource").map { r =>
        (m("round").toInt, r, m(s"resource.used.$r").toLong)
      }
    }.toDF("round", "resource", "used_after")
  }
}
