package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The snapshot cache's key is (session, dir, shuffle partitions, tag):
  * a hit hands back the same materialized frame, a repartitioned re-run
  * (DeterminismSpec) rebuilds without evicting the original, and the
  * discipline specs see the builder frames of the current key only. */
class SnapshotCacheSpec extends SparkSpec {

  private def build = Tables.documents(spark, sf)
    .groupBy(col("lang")).agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))

  private def isCheckpoint(df: DataFrame) =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("same key reuses; partitions or clearAll rebuild") {
    SnapshotCache.clearAll()
    val first = SnapshotCache.snapshot("sc-spec", spark, sf)(build)
    assert(isCheckpoint(first), "a snapshot is a localCheckpoint")
    assert(SnapshotCache.snapshot("sc-spec", spark, sf)(build) eq first)
    val expected = rows(first)
    withConf(Map("spark.sql.shuffle.partitions" -> "3")) {
      val other = SnapshotCache.snapshot("sc-spec", spark, sf)(build)
      assert(other ne first, "other shuffle partitions must rebuild")
      assert(rows(other) == expected)
    }
    assert(SnapshotCache.snapshot("sc-spec", spark, sf)(build) eq first,
      "going back to the original partitions returns the original frame")
    SnapshotCache.clearAll()
    val rebuilt = SnapshotCache.snapshot("sc-spec", spark, sf)(build)
    assert(rebuilt ne first, "clearAll must force a rebuild")
    assert(rows(rebuilt) == expected)
  }

  test("builderPlans: un-materialized, current partitions only") {
    SnapshotCache.clearAll()
    var built4: DataFrame = null
    val snap4 = SnapshotCache.snapshot("sc-plans", spark, sf) { built4 = build; built4 }
    assert(SnapshotCache.builderPlans(spark, sf).get("sc-plans").exists(_ eq built4))
    assert(!isCheckpoint(built4) && (built4 ne snap4))
    withConf(Map("spark.sql.shuffle.partitions" -> "3")) {
      assert(!SnapshotCache.builderPlans(spark, sf).contains("sc-plans"),
        "a frame built under other partitions must not leak into the sweep")
      var built3: DataFrame = null
      SnapshotCache.snapshot("sc-plans", spark, sf) { built3 = build; built3 }
      assert(SnapshotCache.builderPlans(spark, sf).get("sc-plans").exists(_ eq built3))
    }
    assert(SnapshotCache.builderPlans(spark, sf).get("sc-plans").exists(_ eq built4))
  }
}
