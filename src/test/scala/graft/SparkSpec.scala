package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext
}

object SparkSpec {
  // the same construction path as the shipped mains (EngineSession), so
  // every plan assertion in the suites runs under the driver's real config
  // — the graft_* SQL function extensions included
  lazy val session: SparkSession = EngineSession.builder("local[4]", "4")
    .appName("graft-test")
    // plan-string assertions (PlanSpec) read PushedFilters/ReadSchema out
    // of rendered plans; the default 100-char metadata truncation makes
    // those assertions depend on attribute-ID WIDTH (suite order!) — a
    // filter list that fits at #123 truncates mid-token at #32518. Widen
    // the render limit so plan text is deterministic evidence.
    .config("spark.sql.maxMetadataStringLength", "2000")
    .getOrCreate()
}
