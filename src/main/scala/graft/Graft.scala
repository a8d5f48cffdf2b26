package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Session entry point for library users: a SparkSession.Builder with the
  * engine's SQL extensions (custom expressions) and the configuration the
  * engine is tuned/tested under. Everything here is overridable by the
  * caller before getOrCreate(). */
object Graft {

  def sessionBuilder(master: String = "local[*]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
}
