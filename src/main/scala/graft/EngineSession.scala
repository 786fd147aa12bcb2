package graft

import org.apache.spark.sql.SparkSession

/**
 * The engine's canonical session builder. Every driver-facing entry point
 * (Bench, Verify, Explain) and the test harness build their session HERE,
 * so the extension surface — the graft_* SQL functions — is active on
 * every documented path, and the tests observe the driver's real config.
 */
object EngineSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    Tables.RequiredConf.foldLeft( // Tables owns the fixture-read confs —
      // consuming the map here (instead of a hand-copied twin) is what
      // keeps "required" meaning applied; see Tables.RequiredConf
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    ) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)
}
