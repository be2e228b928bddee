package graft

import org.apache.spark.sql.execution.SparkPlan

/** ONE default-conf plan corpus shared by [[PlanGuardSpec]] and
  * [[ExplainSweepSpec]] (suite wall-clock, VERDICT r15 #1): each spec used
  * to build its own `SparkEntry.queries → sparkPlan` map, and building one
  * is expensive — Catalyst plans 283 queries and the iterative entries
  * (graph loops, dedup_cc, q-digest) EXECUTE eagerly at construction — so
  * two private corpora cost the suite two full sweeps (~180 s each).
  *
  * Construction is SEQUENTIAL by design: the eagerly-executing entries end
  * with [[graft.Land.releasingCaches]]'s RDD-pin sweep, which
  * unpersists every RDD pinned since the entry started — under concurrent
  * construction one entry's sweep unpersists a sibling's in-flight
  * localCheckpoint blocks (measured: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * across 12 tests when this corpus was built on an 8-thread pool).
  *
  * NOT shared with [[PlanShapeSpec]]: its digest fixture is pinned under
  * `autoBroadcastJoinThreshold = -1` (the 100 TB model), a different
  * planner configuration by design.
  */
private[graft] object PlanCorpus {
  val sf = "/root/testdata/sf0.001"

  lazy val dfs: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(SparkSpec.session, sf) }

  lazy val plans: Map[String, SparkPlan] =
    dfs.map { case (name, df) => name -> df.queryExecution.sparkPlan }
}
