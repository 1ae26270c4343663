package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.core.UrlNormalizer
import graft.functions.expressions.UrlFunctions._

/** The URL functions must agree byte-for-byte with the pure-Scala
  * normalizer (which the simulator uses), interpreted and compiled, and
  * stay inside whole-stage codegen. */
class UrlExpressionsSpec extends AnyFunSuite with SparkSpec {

  private val urls = Seq(
    "HTTPS://Example.COM:443/a/../b?z=1&a=2#frag",
    "http://host0.example:80/p%41x%2Fy",
    "https://user:pw@WWW.Example.org/./x/",
    "mailto:nobody@example.com",
    "javascript:void(0)",
    "https://h.example/p?",
    "not a url",
    null
  )

  /** Interpreted (`NO_CODEGEN`, as small rounds run) and whole-stage codegen
    * with no fallback to the interpreter. */
  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Map("spark.sql.codegen.fallback" -> "false"))
  /** Keeps a local input in the executed plan: otherwise the optimizer folds
    * a projection over it into the relation by interpreted evaluation. */
  private val keepLocalInput = Map("spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")

  /** Collects `df` once in each mode and hands the rows to `check`. */
  private def inEachMode(df: => DataFrame)(check: Array[Row] => Unit): Unit =
    modes.foreach { case (mode, settings) =>
      withConf(settings ++ keepLocalInput) {
        val d = df
        val rows = d.collect()
        val plan = d.queryExecution.executedPlan.toString
        assert(plan.contains("*(") == (mode == "codegen"), s"$mode plan:\n$plan")
        withClue(s"[$mode] ")(check(rows))
      }
    }

  test("graft_url_normalize equals UrlNormalizer.normalize for all inputs") {
    import spark.implicits._
    inEachMode(urls.toDF("u")
      .select(col("u"), call_function("graft_url_normalize", col("u")).as("n"))) { out =>
      assert(out.length == urls.size)
      out.foreach { r =>
        val u = Option(r.getString(0))
        val expected = u.flatMap(UrlNormalizer.normalize).orNull
        assert(r.getString(1) == expected, s"for url $u")
      }
    }
  }

  test("graft_surt_host reverses the host") {
    import spark.implicits._
    inEachMode(Seq("https://www.sub.example.com/p", null).toDF("u")
      .select(call_function("graft_surt_host", col("u")))) { out =>
      assert(out.map(_.getString(0)).toSeq == Seq("com,example,sub,www", null))
    }
  }

  test("UrlFunctions column builders agree with the pure normalizer (host/path/resolve)") {
    import spark.implicits._
    inEachMode(urls.toDF("u")
      .select(col("u"), urlNormalize(col("u")).as("n"))
      .filter(col("n").isNotNull)
      .select(col("n"), urlHost(col("n")).as("h"), urlPath(col("n")).as("p"),
        urlResolve(col("n"), lit("../rel/x")).as("r"),
        urlResolve(col("n"), lit(null)).as("nullHref"),
        urlResolve(lit(null), col("n")).as("nullBase"))) { out =>
      assert(out.nonEmpty)
      out.foreach { r =>
        val n = r.getString(0)
        assert(r.getString(1) == UrlNormalizer.hostOf(n))
        assert(r.getString(2) == UrlNormalizer.pathOf(n))
        assert(Option(r.getString(3)) == UrlNormalizer.resolve(n, "../rel/x"))
        assert(r.isNullAt(4) && r.isNullAt(5), s"a null base or href resolved for $n")
      }
    }
  }

  test("the five URL SQL names equal their column builders and the pure normalizer, nulls included") {
    import spark.implicits._
    val hrefs = Seq("../rel/x", "/abs?b=2&a=1", "//Other.example/q", "https://X.example", "mailto:a@b", "", null)
    val pairs = for (u <- urls; h <- hrefs) yield (u, h)
    val u = col("u")
    val sqlCalls = Seq(
      call_function("graft_url_normalize", u), call_function("graft_surt_host", u),
      call_function("graft_url_host", u), call_function("graft_url_path", u),
      call_function("graft_url_resolve", u, col("href")))
    val builders = Seq(urlNormalize(u), surtHost(u), urlHost(u), urlPath(u), urlResolve(u, col("href")))
    inEachMode(pairs.toDF("u", "href").select((Seq(u, col("href")) ++ sqlCalls ++ builders): _*)) { out =>
      assert(out.length == pairs.size)
      out.foreach { r =>
        val (url, href) = (Option(r.getString(0)), Option(r.getString(1)))
        val expected = Seq(
          url.flatMap(UrlNormalizer.normalize),
          url.map(x => UrlNormalizer.surtHost(UrlNormalizer.hostOf(x))),
          url.map(UrlNormalizer.hostOf),
          url.map(UrlNormalizer.pathOf),
          for (b <- url; h <- href; n <- UrlNormalizer.resolve(b, h)) yield n).map(_.orNull)
        val got = (2 until 2 + 2 * expected.size).map(r.getString)
        assert(got == expected ++ expected, s"for ($url, $href)")
      }
    }
  }

  test("engine link-discovery projection stays inside whole-stage codegen") {
    // the shape of CrawlEngine's discovered-link projection: resolve + host
    val df = spark.range(1000)
      .select(concat(lit("https://h"), col("id") % 7, lit(".example/p")).as("parentUrl"),
        concat(lit("/p"), col("id")).as("href"))
      .select(urlResolve(col("parentUrl"), col("href")).as("newNorm"))
      .filter(col("newNorm").isNotNull)
      .select(col("newNorm"), urlHost(col("newNorm")).as("host"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"not codegen'd:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"udf found in plan:\n$plan")
  }

  test("expression runs inside whole-stage codegen (no UDF barrier)") {
    val page = concat(lit("<article>t</article><a href=\"/p"), col("id"), lit("\">"))
    Seq(
      call_function("graft_url_normalize", concat(lit("https://h"), col("id"), lit(".example/p"))),
      call_function("graft_html_parse", page, lit("h.example")).getField("text")
    ).foreach { call =>
      val df = spark.range(1000).select(call.as("n")).filter(col("n").isNotNull)
      assert(df.collect().length == 1000)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"not codegen'd:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
        s"udf found in plan:\n$plan")
    }
  }
}
