package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one landing seam: everything in the engine that materializes a frame
  * or cuts its lineage goes through here — EP1's staging and OLTP tables
  * (the reference's "write a real table" boundary, A3/A12) and every
  * iterative operator's per-round state — so one switch decides how durable
  * that landing is, and one sweep releases what it pinned.
  */
object Land {

  /** The pins taken since the scope opened: DataFrames it persists, released
    * through `df.unpersist()` — which also drops the CacheManager's
    * plan-keyed entry (releasing at the RDD level alone leaves that entry
    * stale: a later identical plan, e.g. the next graph entry's coEdges,
    * would silently reuse a dead InMemoryRelation that recomputes per
    * subtree instead of caching) — and every RDD pinned since it opened,
    * which covers the `localCheckpoint` pins of [[ckpt]] (they live at the
    * RDD level, not in the CacheManager). The since-open sweep is correct
    * because pinning work runs one piece at a time (Verify's loop, bench
    * legs, forked sequential tests); a concurrent session sharing the
    * SparkContext would need explicit handles for the checkpoint pins.
    */
  private[graft] final class CacheScope(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val before = sc.getPersistentRDDs.keySet
    private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { tracked += df; df.persist() }
    def releaseAll(): Unit = {
      tracked.foreach(_.unpersist(blocking = false))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** The `Pipeline.cleanup` pattern for the iterative entries (VERDICT r8
    * #5): materialize the BOUNDED result (top-k / one-row census — the only
    * collects of the iterative operators, ≤ 2·`GraphOps.HitsTopK` rows by
    * construction), then release everything the entry pinned through its
    * [[CacheScope]] before handing back a local frame, so no cached
    * topology outlives the entry in a long-lived session.
    */
  private[graft] def releasingCaches(spark: SparkSession)(build: CacheScope => DataFrame): DataFrame = {
    val scope = new CacheScope(spark)
    try {
      val result = build(scope)
      val rows = java.util.Arrays.asList(result.collect(): _*)
      spark.createDataFrame(rows, result.schema)
    } finally scope.releaseAll()
  }

  /** Land `df` and cut its lineage (VERDICT r15 #4, guide §5):
    * `localCheckpoint` is the right local-mode trade — no distributed-store
    * round-trip per landing — but it is LOSSY at cluster scale: an executor
    * loss makes truncated lineage unrecoverable mid-query. On a real
    * cluster set `spark.graft.checkpoint.reliable=true` (plus either
    * `sparkContext.setCheckpointDir` or `spark.graft.checkpoint.dir`) and
    * every landed table and round/layer state goes to the reliable
    * checkpoint store instead — reliable with neither directory set throws
    * rather than silently degrading to the lossy path. The DEFAULT path is
    * byte-for-byte `localCheckpoint`, so local benches are untouched. See
    * SCALE.md "executor loss and iterative state".
    */
  private[graft] def ckpt(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ss = df.sparkSession
    val reliable =
      ss.conf.getOption("spark.graft.checkpoint.reliable").contains("true")
    if (reliable) {
      if (ss.sparkContext.getCheckpointDir.isEmpty)
        ss.conf.getOption("spark.graft.checkpoint.dir")
          .foreach(ss.sparkContext.setCheckpointDir)
      if (ss.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          "spark.graft.checkpoint.reliable=true but no checkpoint directory " +
            "resolves: set spark.graft.checkpoint.dir or call " +
            "sparkContext.setCheckpointDir")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Postfix spelling of [[ckpt]] so call sites keep the
    * `.graftCheckpoint(...)` shape: `df.graftCheckpoint()`. */
  private[graft] implicit class CkptOps(private val df: DataFrame) {
    def graftCheckpoint(eager: Boolean = true): DataFrame = ckpt(df, eager)
  }
}
