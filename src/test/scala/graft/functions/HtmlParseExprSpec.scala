package graft.functions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{HtmlCodec, PropHelper}
import graft.functions.expressions.ParseFunctions
import graft.round.{CrawlEngine, DefaultParser}

/** The bytes-native `ParseFunctions.htmlParse` must agree byte-for-byte
  * with DefaultParser.parse (the UDF it replaces in the engine hot path)
  * for ALL inputs — including escapes, unicode, malformed html and nulls —
  * on both the interpreted and the codegen evaluation paths. */
class HtmlParseExprSpec extends AnyFunSuite with SparkSpec with PropHelper {

  /** Interpreted-path evaluation straight through Expression.eval. */
  private def evalExpr(html: String, host: String): (Option[String], Seq[String]) = {
    def str(s: String) = GraftBridge.column(Literal.create(s, StringType))
    val row = GraftBridge.expression(ParseFunctions.htmlParse(str(html), str(host)))
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    val text = Option(row.getUTF8String(0)).map(_.toString)
    val arr = row.get(1, null).asInstanceOf[ArrayData]
    val links = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    (text, links)
  }

  private def expected(html: String, host: String): (Option[String], Seq[String]) = {
    val p = DefaultParser.parse(html, host)
    (p.text, p.links)
  }

  test("golden cases equal DefaultParser (escapes, unicode, malformed, null)") {
    val cases = Seq(
      (HtmlCodec.synth("T", "Hello <w> & \"f\"", Seq("/a", "https://h.example/x", "https://other/y")), "h.example"),
      (HtmlCodec.synth("T", "unicode é中文 😀 text", Seq("/épath", "https://h.example/中")), "h.example"),
      (HtmlCodec.synth("", "", Nil), "h.example"),
      (HtmlCodec.synth("T", "text with literal href=&quot; inside", Seq("/k")), "h.example"),
      (HtmlCodec.synth("T", "amp chains &amp;&amp;lt; here", Seq("/a&b", "/c&amp;d")), ""),
      ("<html><body>no article</body></html>", "h.example"),
      ("<article>never closed", "h.example"),
      ("", "h.example"),
      (null, "h.example"))
    cases.foreach { case (html, host) =>
      assert(evalExpr(html, host) == expected(html, host), s"for html=$html")
    }
  }

  test("property: equals DefaultParser for arbitrary title/text/links/host") {
    val hrefGen = Gen.oneOf(
      Gen.alphaNumStr.map("/" + _),
      Gen.alphaNumStr.map(s => s"https://h.example/$s"),
      Gen.alphaNumStr.map(s => s"https://other.example/$s"),
      Arbitrary.arbitrary[String]) // raw junk hrefs too
    val hostGen = Gen.oneOf(Gen.const("h.example"), Gen.const(""), Gen.alphaNumStr)
    check(Prop.forAll(Arbitrary.arbitrary[String], Arbitrary.arbitrary[String],
      Gen.listOf(hrefGen), hostGen) { (title, text, links, host) =>
      val html = HtmlCodec.synth(title, text, links)
      evalExpr(html, host) == expected(html, host)
    }, minSuccessful = 500)
  }

  test("property: equals DefaultParser for arbitrary (non-synth) html strings") {
    check(Prop.forAll(Arbitrary.arbitrary[String], Gen.alphaNumStr) { (html, host) =>
      evalExpr(html, host) == expected(html, host)
    }, minSuccessful = 500)
  }

  test("codegen path equals the parse UDF on a DataFrame (fallback disabled)") {
    import spark.implicits._
    val rows = Seq(
      (HtmlCodec.synth("T", "body & <text>", Seq("/a", "https://h.example/x", "https://z/y")), "h.example"),
      (HtmlCodec.synth("T", "中文 body", Seq("/é", "https://h.example/q")), "h.example"),
      ("<article>never closed", "h.example"),
      ("<html>none</html>", "h.example"),
      (null, "h.example"))
    // the excluded rule would fold the projection over the local rows into
    // the relation by interpreted evaluation, so the plan would run no codegen
    withConf(Map("spark.sql.codegen.fallback" -> "false", "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")) {
      val df = rows.toDF("htmlStr", "host")
        .withColumn("native", ParseFunctions.htmlParse(col("htmlStr"), col("host")))
        .withColumn("viaUdf", CrawlEngine.parseUdf(col("htmlStr"), col("host")))
        .select("native.text", "native.links", "viaUdf.text", "viaUdf.links")
      val out = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"not codegen'd:\n$plan")
      assert(out.length == rows.size)
      out.foreach { r =>
        assert(Option(r.getString(0)) == Option(r.getString(2)))
        assert(r.getSeq[String](1) == r.getSeq[String](3))
      }
    }
  }
}
