package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Physical-plan SHAPE regression suite (VERDICT r12 #4): the bench alone
  * can no longer be trusted to catch a broadcast-flip or join-reorder
  * regression (box contamination masks factor-2 deltas for whole rounds),
  * so every entry's pre-AQE physical plan is reduced to a canonical digest
  * — join strategies with join types, exchange counts, aggregate
  * strategies, window/sort/generate counts, and per-table scan column
  * counts (pruning) — and compared against the COMMITTED fixture
  * `src/test/resources/plan_digests.json`. A deliberate hint removal
  * (e.g. dropping a broadcast()) flips a BroadcastHashJoin to a
  * SortMergeJoin and fails the suite immediately, bench or no bench.
  *
  * Iterative entries that collect through `releasingCaches` digest as a
  * LocalTableScan — their loop plans are pinned by their own fixture
  * specs; this suite pins everything whose final frame IS the plan.
  *
  * Regenerate after an INTENDED shape change:
  *   SPARK_GRAFT_REGEN_DIGESTS=1 sbt "testOnly graft.PlanShapeSpec"
  * then review the diff like code — every changed line is a physical-plan
  * change that must be justified in the commit message.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val fixturePath =
    java.nio.file.Paths.get("src/test/resources/plan_digests.json")

  /** Node classes whose counts shift under trivial, shape-irrelevant
    * refactors (projection splits, filter reorderings, codegen wrappers)
    * — excluded so the digest only moves when the STRATEGY moves. */
  private val noise = Set("ProjectExec", "FilterExec", "InputAdapter",
    "WholeStageCodegenExec", "ColumnarToRowExec", "SerializeFromObjectExec",
    "DeserializeToObjectExec", "MapPartitionsExec", "CoalesceExec")

  private def scanTable(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption
      .map(_.toString.replaceAll(".*/([^/]+)\\.parquet.*", "$1"))
      .getOrElse("?")

  /** Canonical digest: sorted `kind=count` pairs joined by `;`. */
  private[graft] def digest(plan: SparkPlan): String = {
    val kinds = plan.collect {
      case j: BaseJoinExec =>
        s"${j.getClass.getSimpleName}[${j.joinType}]"
      case e: ShuffleExchangeExec => "ShuffleExchange"
      case e: BroadcastExchangeExec => "BroadcastExchange"
      case s: FileSourceScanExec =>
        s"scan:${scanTable(s)}(${s.output.size}c)"
      case other if !noise(other.getClass.getSimpleName) =>
        other.getClass.getSimpleName
    }
    kinds.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${v.size}" }.mkString(";")
  }

  test("every entry's physical-plan digest matches the committed fixture") {
    // Digest under autoBroadcastJoinThreshold = -1 — the 100 TB model
    // where NO side fits an executor by size and only explicit
    // broadcast()/hinted sides broadcast (the Layout-leg discipline).
    // Under the default threshold the sf0.001 planner size-broadcasts
    // small sides on its own, so removing a load-bearing broadcast hint
    // does not change the local plan and the digest cannot see it
    // (observed: dropping xcorr's broadcast() left the digest identical).
    // With -1 every BroadcastHashJoin in a digest IS a hint, and a
    // dropped hint flips it to SortMergeJoin -> red.
    // Eagerly-executing entries (releasingCaches collectors) digest as a
    // LocalTableScan stub whatever the broadcast threshold is — rebuilding
    // them under -1 re-RUNS their whole iterative loop with every
    // broadcast disabled, the single most expensive stretch of the suite
    // (VERDICT r15 #1). Reuse the shared default-conf corpus for exactly
    // the entries whose corpus plan IS the stub (a leaf with no scans or
    // joins — conf cannot change a leaf), rebuild everything else under -1.
    def isStub(p: SparkPlan): Boolean =
      p.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]
    val stubDigests = PlanCorpus.plans.collect {
      case (name, p) if isStub(p) => name -> digest(p)
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val digests =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          name -> stubDigests.getOrElse(name,
            digest(fn(spark, sf).queryExecution.sparkPlan))
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    if (sys.env.get("SPARK_GRAFT_REGEN_DIGESTS").contains("1")) {
      def q(s: String) = "\"" + s + "\""
      val json = digests.map { case (n, d) => s"  ${q(n)}: ${q(d)}" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(fixturePath.getParent)
      java.nio.file.Files.writeString(fixturePath, json)
      info(s"regenerated ${digests.size} digests -> $fixturePath")
    } else {
      assert(java.nio.file.Files.exists(fixturePath),
        s"no committed digest fixture at $fixturePath — regenerate with " +
          "SPARK_GRAFT_REGEN_DIGESTS=1 and commit it")
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(fixturePath))
      val expected = {
        val it = root.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }
      // the fixture pins the entry set both ways: a new entry without a
      // digest and a dropped or renamed entry whose row is left behind
      // both fail until the fixture is regenerated and reviewed
      val names = SparkEntry.registry.map(_.name).toSet
      val noDigest = (names -- expected.keySet).toSeq.sorted
      val noEntry = (expected.keySet -- names).toSeq.sorted
      assert(noDigest.isEmpty && noEntry.isEmpty,
        "registry and committed plan digests disagree (regenerate + review)" +
          s" — no digest: ${noDigest.mkString(", ")}; no entry: ${noEntry.mkString(", ")}")
      val changed = digests.flatMap { case (n, d) =>
        expected.get(n).filter(_ != d).map(e => (n, e, d))
      }
      assert(changed.isEmpty,
        "PHYSICAL PLAN SHAPE CHANGED vs the committed fixture:\n" +
          changed.map { case (n, e, d) =>
            s"  $n\n    committed: $e\n    now:       $d"
          }.mkString("\n") +
          "\nIf intended, regenerate with SPARK_GRAFT_REGEN_DIGESTS=1 and " +
          "justify the diff in the commit message.")
    }
  }
}
