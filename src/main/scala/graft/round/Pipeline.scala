package graft.round

import org.apache.spark.sql.{Column, DataFrame}

import graft.core.HtmlCodec

/** Pluggable pipeline surfaces of the crawl engine, mirroring the
  * reference's worker pipeline contract (`worker/.../pipeline/
  * PipelineBuilder.scala:12-87`): a crawler (here: the corpus fetch join),
  * an optional parser with its paired parsed-sink, optional raw sinks, and
  * a batch-task validator.
  */

/** H1/H2 parser seam (`worker/.../parser/BaseParser.scala`): html of a
  * fetched page → extracted text + kept links. Must be deterministic and
  * Serializable — it runs inside a UDF on executors. */
trait PageParser extends Serializable {
  def parse(html: String, host: String): CrawlEngine.Parsed
}

/** Default parser: the invertible HtmlCodec extraction with the
  * reference's link predicate (`HabrParser.scala:16-28`). */
object DefaultParser extends PageParser {
  override def parse(html: String, host: String): CrawlEngine.Parsed =
    Option(html) match {
      case None => CrawlEngine.Parsed(None, Nil)
      case Some(h) =>
        val text = HtmlCodec.extractText(h)
        val links =
          if (text.isEmpty) Nil
          else HtmlCodec.extractLinks(h).filter(HtmlCodec.keepLink(_, host))
        CrawlEngine.Parsed(text, links)
    }
}

/** A8-A10 raw sink family (`worker/.../save/SaveRawProvider.scala`):
  * receives the round's raw fetches (round, seq, id, urlNorm, htmlStr).
  * One writer covers local FS and s3a:// — the path scheme is the only
  * difference in Spark. */
trait RawSink extends Serializable {
  def write(raw: DataFrame, version: Int): Unit
}

/** A11-A13 parsed sink family (`worker/.../save/SaveParsedProvider
  * .scala`): receives the round's fetch records (incl. extractedText). */
trait ParsedSink extends Serializable {
  def write(records: DataFrame, version: Int): Unit
}

/** Parquet implementations — one versioned dir per round commit, overwrite
  * = idempotent on retry (G4 save-failure recovery for free). */
final case class ParquetRawSink(path: String) extends RawSink {
  override def write(raw: DataFrame, version: Int): Unit =
    raw.write.mode("overwrite").parquet(s"$path/v=$version")
}
final case class ParquetParsedSink(path: String) extends ParsedSink {
  override def write(records: DataFrame, version: Int): Unit =
    records.write.mode("overwrite").parquet(s"$path/v=$version")
}
/** A10 dummy sink. */
final case class NoopRawSink() extends RawSink {
  override def write(raw: DataFrame, version: Int): Unit = ()
}

/** A12 write-back parsed sink (`SqlSaveParsedProvider.scala:19-25`:
  * `update projects_url set source=… where id=…` — parsed output merged
  * back ONTO the frontier row, in the same DB transaction). Spark-native
  * form: the round's successful extractedText is merged into a `source`
  * column of the matching frontier rows INSIDE the same snapshot commit —
  * rows never fetched (or fetched unsuccessfully) keep their previous
  * source (null until first success). Because the merge must ride the
  * frontier rewrite to stay transactional, the engine recognizes this sink
  * and folds the column in; `write` is a no-op marker. Works under both
  * layouts: a delta commit's touched rows carry the new source and
  * merge-on-read keeps the latest row per id. */
case object FrontierWriteBackSink extends ParsedSink {
  override def write(records: DataFrame, version: Int): Unit = ()
}

/** Stop reasons the driver loop reports through [[CrawlNotifier]] — the
  * engine's taxonomy of the reference's crawl-stop conditions. */
object StopReason {
  /** No wait-state rows remain: the crawl drained its frontier. */
  val Completed = "completed"
  /** Every host still holding waits is closed by the D3 circuit breaker —
    * the `NoResourcesAvailable` stop (`TorResourceController.scala:59-60,
    * 86-96`). */
  val NoResourcesAvailable = "noResourcesAvailable"
  /** cfg.maxRounds hit with work remaining (F6 batch-timeout, count form). */
  val MaxRounds = "maxRounds"
  /** cfg.maxWallSecs elapsed with work remaining (F6 batch-execution
    * timeout, wall-clock form — `WorkerManager.scala:85-96`). The stop
    * lands between rounds, so the state dir resumes exactly. */
  val WallClockTimeout = "wallClockTimeout"
}

/** Notification seam mirroring the reference's pipeline-configured
  * notifications (`worker/.../notification/NotificationExecutor.scala` +
  * `BaseNotification.scala`, which warn on `NoResourcesAvailable`): the
  * driver loop calls every registered notifier once when the crawl stops,
  * with the [[StopReason]] and the final summary. Runs on the driver —
  * implementations may log, push metrics, or page. */
trait CrawlNotifier {
  def onStop(reason: String, summary: CrawlEngine.CrawlSummary): Unit

  /** A condition the crawl survives but an operator should see, such as
    * seen-shard saturation and its compaction auto-resize. Called on the
    * driver thread that runs the round, after the round commits; the
    * same text also goes to stderr. */
  def onWarning(message: String): Unit = ()
}

/** Everything pluggable a round consumes. `validator` is the B5 batch-item
  * validator (`worker/.../validators/BatchTasksValidator.scala:5-7`) as a
  * Column predicate over the leased frontier row — columns in scope:
  * id, urlNorm, host, priority, warcTs, projectId, taskType (the rank path
  * prunes the rest before shuffling). Rows it flags skip the fetch and end
  * `taskSkipped` (B6 short-circuit). */
final case class PipelineHooks(
    parser: PageParser = DefaultParser,
    validator: Option[Column] = None,
    rawSinks: Seq[RawSink] = Nil,
    parsedSinks: Seq[ParsedSink] = Nil,
    notifiers: Seq[CrawlNotifier] = Nil)
