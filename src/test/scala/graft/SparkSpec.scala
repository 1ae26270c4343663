package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.functions.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Runs `body` with the given session settings, then restores the
    * caller's values, on return and on throw. */
  def withConf[T](settings: Map[String, String])(body: => T): T = {
    val callerValues = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally callerValues.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
