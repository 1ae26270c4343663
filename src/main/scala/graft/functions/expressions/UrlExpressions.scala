package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.core.UrlNormalizer

/** Static helpers behind the URL scalar functions (SURVEY.md §4.3.5). The
  * column builders in [[UrlFunctions]] call them through Catalyst's
  * `StaticInvoke`, the way Spark's own `url_encode` calls its codec: no
  * serialization round-trip, null handling inlined, and the call sits
  * inside the surrounding whole-stage-codegen'd Project instead of
  * breaking it the way a UDF does. Interpreted plans call the same helper
  * by reflection.
  *
  * [[GraftExtensions]] registers them for SQL (`spark.sql.extensions=
  * graft.functions.expressions.GraftExtensions` on spark-submit) as
  * `graft_url_normalize` / `graft_surt_host` / `graft_url_host` /
  * `graft_url_path` / `graft_url_resolve`.
  */
object UrlExpressions {
  /** RFC 3986 normalization (null ⇒ unfetchable). */
  def normalizeOrNull(u: UTF8String): UTF8String =
    if (u == null) null
    else UrlNormalizer.normalize(u.toString) match {
      case Some(n) => UTF8String.fromString(n)
      case None => null
    }

  /** SURT host reversal of a URL's host. */
  def surtHost(u: UTF8String): UTF8String =
    if (u == null) null
    else UTF8String.fromString(UrlNormalizer.surtHost(UrlNormalizer.hostOf(u.toString)))

  /** Host of a normalized URL. */
  def hostOf(u: UTF8String): UTF8String =
    if (u == null) null
    else UTF8String.fromString(UrlNormalizer.hostOf(u.toString))

  /** Path (sans query/fragment) of a normalized URL. */
  def pathOf(u: UTF8String): UTF8String =
    if (u == null) null
    else UTF8String.fromString(UrlNormalizer.pathOf(u.toString))

  /** Resolve a (possibly relative) href against a base URL and normalize
    * (null ⇒ unresolvable) — the H2→H4 link-discovery hot path. */
  def resolveOrNull(base: UTF8String, href: UTF8String): UTF8String =
    if (base == null || href == null) null
    else UrlNormalizer.resolve(base.toString, href.toString) match {
      case Some(n) => UTF8String.fromString(n)
      case None => null
    }
}

/** Column builders over the URL helpers — what the engine calls directly
  * (no function-registry round trip, no UDF serialization; the call stays
  * inside the surrounding WholeStageCodegen span). A null argument yields
  * null without calling the helper. */
object UrlFunctions {
  import org.apache.spark.sql.{Column, GraftBridge}

  /** `UrlExpressions.<helper>` over `arity` string arguments; a call with
    * another argument count fails analysis. */
  private[expressions] def invoke(helper: String, arity: Int)(args: Seq[Expression]): Expression =
    StaticInvoke(UrlExpressions.getClass, StringType, helper, args,
      inputTypes = Seq.fill(arity)(StringType))

  private def call(helper: String, args: Column*): Column =
    GraftBridge.column(invoke(helper, args.size)(args.map(GraftBridge.expression)))

  def urlNormalize(u: Column): Column = call("normalizeOrNull", u)
  def surtHost(u: Column): Column = call("surtHost", u)
  def urlHost(u: Column): Column = call("hostOf", u)
  def urlPath(u: Column): Column = call("pathOf", u)
  def urlResolve(base: Column, href: Column): Column = call("resolveOrNull", base, href)
}

/** `SparkSessionExtensions` hook registering the URL functions and the page
  * parse for SQL users (`spark.sql.extensions=graft.functions.expressions.
  * GraftExtensions`); Scala callers use [[UrlFunctions]] and
  * [[ParseFunctions]] directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, helpers: Object, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(helpers.getClass.getName, name), builder))
    def url(name: String, helper: String, arity: Int = 1): Unit =
      inject(name, UrlExpressions, UrlFunctions.invoke(helper, arity))
    url("graft_url_normalize", "normalizeOrNull")
    url("graft_surt_host", "surtHost")
    url("graft_url_host", "hostOf")
    url("graft_url_path", "pathOf")
    url("graft_url_resolve", "resolveOrNull", arity = 2)
    inject("graft_html_parse", ParseExpressions, ParseFunctions.invoke)
  }
}
