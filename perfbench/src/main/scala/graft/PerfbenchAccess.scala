package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two shared dedup silvers the curation workload times are
  * package-private in the engine; this forwards to them unchanged. */
object PerfbenchAccess {
  def shingled(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.shingled(s, dir)
  def repJaccardPairs(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.repJaccardPairsSilver(s, dir,
      operators.Dedup.RepPairThreshold)
}
