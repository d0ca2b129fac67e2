package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Suite-scoped materialization cache for shared intermediate frames — the
 * in-process analog of the snapshot artifact a production deployment
 * persists once per corpus version and shares across consumers (SCALING.md
 * "snapshot scale"). Every family that shares a frame (the dedup pair
 * snapshots, the distinct-basket frame of q_basket_pairs / q_basket_rules,
 * …) goes through this one cache instead of inventing its own.
 *
 * Keyed by (session, dir, shuffle-partition setting, tag) so a fresh
 * session or a repartitioned re-run REBUILDS instead of reusing; entries
 * for stopped sessions are evicted on access. The materialization is a
 * `localCheckpoint`: executor-local blocks, which a lost executor takes
 * with it (so do the queries' own in-query localCheckpoints). At 100 TB
 * the key is a snapshot path and the checkpoint is a parquet write —
 * consumers are unchanged.
 *
 * ASSUMPTION: data under `dir` is immutable for the session's lifetime
 * (true for the driver's generated fixtures and for content-addressed
 * production snapshot paths). If a dir is regenerated in-session, call
 * [[clearAll]] first or consumers read the stale materialization.
 */
object SnapshotCache {

  private type Key = (SparkSession, String, String, String)

  private def key(spark: SparkSession, dir: String, tag: String): Key =
    (spark, dir, spark.conf.get("spark.sql.shuffle.partitions"), tag)

  private val snapshots = new java.util.concurrent.ConcurrentHashMap[Key, DataFrame]()

  /** UN-materialized builder frames, captured at build time keyed like the
    * snapshots. The discipline specs (CrossJoinDisciplineSpec /
    * WindowDisciplineSpec / PlanDigestSpec) read these frames to police
    * builder plans exactly like query plans: no registered-query sweep
    * sees a plan that only a snapshot builder runs. Entries survive
    * [[clearAll]] (the plan is metadata, not blocks) and are overwritten
    * on rebuild. */
  private val builtPlans = new java.util.concurrent.ConcurrentHashMap[Key, DataFrame]()

  /** Every captured builder frame for (spark, dir) under the session's
    * CURRENT shuffle partitions (so a DeterminismSpec-style rerun cannot
    * leak its variants into the sweep): tag → the frame as the builder
    * composed it, BEFORE checkpointing — its logical plan is the
    * artifact's build pipeline (dependency snapshots appear as their
    * materialized LogicalRDD leaves). Callers re-plan via `select("*")`
    * when they need planning under a different conf (the executed plan of
    * the returned frame is fixed under build-time conf). */
  def builderPlans(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val out = Map.newBuilder[String, DataFrame]
    builtPlans.forEach { (k, df) =>
      if (key(spark, dir, k._4) == k) out += (k._4 -> df)
    }
    out.result()
  }

  /** Release the storage behind one checkpointed snapshot frame (the
    * localCheckpoint materializes as a persisted LogicalRDD — `unpersist`
    * on the Dataset would be a no-op since it was never `cache`d). */
  def release(df: DataFrame): Unit =
    scala.util.Try {
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
        case _ => ()
      }
    }

  /** Drop every cached snapshot and unpersist its blocks. For bench
    * harnesses (put the build back under the clock) and for the
    * regenerated-`dir` escape hatch documented above. */
  def clearAll(): Unit = {
    val it = snapshots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getKey._1.sparkContext.isStopped) release(e.getValue)
      it.remove()
    }
  }

  /** Return the cached materialization of `build` for (spark, dir, tag),
    * building + localCheckpointing on first use. */
  def snapshot(tag: String, spark: SparkSession, dir: String)
              (build: => DataFrame): DataFrame = {
    // evict entries for stopped sessions (their blocks died with the
    // executors — nothing left to unpersist)
    snapshots.keySet.removeIf(k => k._1.sparkContext.isStopped)
    builtPlans.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val k = key(spark, dir, tag)
    val cached = snapshots.get(k)
    if (cached ne null) cached
    else {
      // build OUTSIDE the map's bin lock: computeIfAbsent would hold it
      // for the length of a full Spark job, blocking unrelated builds
      // that hash to the same bin; on a race the loser's blocks are freed
      val frame = build
      builtPlans.put(k, frame)
      val built = frame.localCheckpoint()
      val winner = snapshots.putIfAbsent(k, built)
      if (winner ne null) { release(built); winner } else built
    }
  }
}
