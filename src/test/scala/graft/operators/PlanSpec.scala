package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.round.CrawlEngine

/** Physical-plan audits: the properties that make these operators scale
  * must be visible in the executed plan, not assumed — filter/column
  * pushdown into the parquet scan, broadcast joins for dims, whole-stage
  * codegen on the hot aggregates, and no corpus-side exchange in the
  * staged fetch join. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def t(name: String): DataFrame =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan_pushdown: filters reach the parquet scan and schema is pruned") {
    val plan = planOf(CrawlOps.scanPushdown(t("lineitem")))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_shipdate"), "shipdate filter not pushed")
    // projection pruning: the scan must not read all 11 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), s"unpruned scan: $readSchema")
  }

  test("dim_join_report: dims join via BroadcastHashJoin") {
    val plan = planOf(CrawlOps.dimJoinReport(t("events"), t("customer"), t("nation")))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("q1_pricing: partial+final hash aggregation inside whole-stage codegen") {
    val df = CrawlOps.pricingSummary(t("lineitem"))
    df.collect() // finalize the AQE plan so codegen stages are visible
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), "no hash aggregate")
    // `*(n)` prefixes mark WholeStageCodegen stages in the final plan
    assert(plan.contains("*("), s"aggregate not codegen'd:\n$plan")
    assert(plan.contains("partial_"), "no partial (map-side) aggregation")
  }

  test("bucketed corpus staging: no corpus-side exchange, narrow ReadSchema per scan") {
    import spark.implicits._
    val corpus = graft.corpus.CorpusTable.createLarge(spark, 1000, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val corpusN = CrawlEngine.corpusStagedBucketed(spark, corpus, dir)
    val selected = Seq("https://host0.example/p0", "https://host1.example/p1").toDF("urlNorm")
    // the fetch-join shape: selected (tiny) joins the bucketed corpus
    val joined = selected.hint("shuffle_hash")
      .join(corpusN.select("urlNorm", "htmlStr"), Seq("urlNorm"), "left")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"corpus scan not bucketed:\n$plan")
    // exactly one exchange (the selected side); the corpus scan feeds the
    // join straight from its buckets. AQE prints the initial plan again
    // below the final one — count only the final section.
    val finalSection = plan.split("== Initial Plan ==")(0)
    val exchanges = finalSection.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"corpus side reshuffled:\n$plan")
    // column pruning: a warcTs-only projection must not read html bytes
    val narrow = corpusN.select("urlNorm", "warcTs")
    val narrowPlan = narrow.queryExecution.executedPlan.toString
    val readSchema = narrowPlan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("urlNorm") && !readSchema.contains("htmlStr"),
      s"html not pruned from narrow scan: $readSchema")
  }

  test("minhash bucket-guard join is co-partitioned (no extra exchange)") {
    import graft.functions.TextFunctions._
    // the guard's shape from Dedup.minhashLsh: the per-bucket count and the
    // keep-join both key on (band, bh) — at most one exchange per join side,
    // never a third on top of the join (the co-partitioning claim in
    // Dedup.scala; round-2 VERDICT asked for this pin)
    val d = t("documents")
    val sigs = d
      .select(col("doc_id"), explode(minhashBandsUdf(3, 64, 16)(col("text"))).as("bk"))
      .select(col("doc_id"), col("bk._1").as("band"), col("bk._2").as("bh"))
    val sized = sigs.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= (1 << 16))
      .select(col("band"), col("bh"))
    val kept = sigs.join(sized, Seq("band", "bh"))
    kept.collect()
    val plan = kept.queryExecution.executedPlan.toString
    val finalSection = plan.split("== Initial Plan ==")(0)
    val exchanges = finalSection.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"bucket-guard join introduced an extra exchange:\n$plan")
  }
}
