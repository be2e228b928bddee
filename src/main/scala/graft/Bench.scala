package graft
import org.apache.spark.sql.SparkSession

/** Committed-quiet-baseline comparison for [[Bench]] (VERDICT r12 #2): the
  * calibration probes have a proven blind spot — steady PARTIAL CPU
  * subscription squeezes 32-way-parallel heavy legs while tiny probes slip
  * into free slots and read quiet (the six-round etl-phantom class: driver
  * artifacts carried etl 43.1 s vs 18.0 isolated with `epoch_suspect`
  * empty). The evidence that CAN see it is a committed quiet baseline:
  * any ≥ [[MinSec]]-second leg whose median sits > [[Thresh]]× its
  * baseline median (after box-factor normalization via the two runs'
  * quiet calibrations) is annotated in the artifact as
  * "baseline_suspect" — listed, not patched, the spread/epoch_suspect
  * discipline. Benchgate then adjudicates with an isolated re-run.
  */
private[graft] object BenchBaseline {
  val MinSec = 5.0
  val Thresh = 1.4

  /** (queries median map, sf dir string, quiet calibration = min of
    * start/mid medians — benchgate's quiet_cal contract). */
  def parse(json: String): (Map[String, Double], String, Double) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val qs = Option(root.get("queries")).map { q =>
      val it = q.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble(-1.0) }
      b.result()
    }.getOrElse(Map.empty[String, Double])
    val sf = Option(root.get("sf")).map(_.asText("")).getOrElse("")
    val cal = Option(root.get("calibration")).map { c =>
      val vals = Seq("start", "mid")
        .flatMap(k => Option(c.get(k)).flatMap(n => Option(n.get("median"))))
        .map(_.asDouble(-1.0)).filter(_ > 0)
      if (vals.isEmpty) -1.0 else vals.min
    }.getOrElse(-1.0)
    (qs, sf, cal)
  }

  /** Max box-factor allowance: mild epoch drift (~15%) scales the
    * baseline; anything above is CONTAMINATION evidence, not legitimacy.
    * Measured live (r13): 28 CPU spinners inflated the tiny probes 2.2×
    * while the 32-way legs inflated only 1.2–1.3× — an UNCLAMPED box
    * factor scaled the baseline by the probes' 2.2× and masked the legs
    * entirely, reintroducing the exact blind spot this annotation
    * exists to close. Probes and legs do not feel load equally, in
    * EITHER direction; only a small drift allowance is safe. */
  val BoxCap = 1.15

  /** Suspect map {leg -> ratio vs box-scaled baseline} over legs whose
    * current median is ≥ [[MinSec]] and > [[Thresh]] × baseline×box.
    * `boxFactor` = current quiet cal / baseline quiet cal, clamped into
    * [1, [[BoxCap]]] (a faster current box must not hide a regression;
    * a slower probe reading must not excuse the legs). */
  def suspects(cur: Map[String, Double], base: Map[String, Double],
      boxFactor: Double): Map[String, Double] = {
    val f = math.min(math.max(boxFactor, 1.0), BoxCap)
    cur.collect {
      case (leg, med) if med >= MinSec && base.get(leg).exists(_ > 0) &&
          med > Thresh * base(leg) * f =>
        leg -> math.round(med / (base(leg) * f) * 1000.0) / 1000.0
    }
  }

  /** Epoch deflation for an isolated re-reading (benchgate's epoch_scale
    * ported, VERDICT r13 #3): when the re-run's own bracketing
    * calibration ran slower than the run's quiet floor, the whole re-run
    * epoch was that much slower and the raw number would mint false
    * confirmations. Never scale UP — a faster epoch must not
    * manufacture phantoms: the factor is min(1, quietFloor / rerunCal). */
  def epochScale(rerunCal: Double, quietFloor: Double): Double =
    if (rerunCal <= 0 || quietFloor <= 0) 1.0
    else math.min(1.0, quietFloor / rerunCal)

  /** Verdict for one isolated re-reading of a baseline_suspect leg:
    * (verdict, epoch-scaled reading). `iso` should be the re-run's
    * MIN-of-3, not its median: the in-run rerun shares the box with
    * whatever external load contaminated the sweep in the first place,
    * and external load only ever ADDS time — the min acquits the code
    * (measured in the r14 live replay: isolated median 50.1 s on a
    * still-degraded box vs min 21.8 s ≈ the 20.0 s baseline), while a
    * REAL code regression inflates the min identically. The scaled
    * reading is judged against the SAME box-clamped threshold
    * [[suspects]] flagged with, so "phantom" means exactly "would not
    * have been flagged". */
  def adjudicate(iso: Double, base: Double, boxFactor: Double,
      rerunCal: Double, quietFloor: Double): (String, Double) = {
    if (iso < 0) ("rerun-failed", -1.0)
    else {
      val f = math.min(math.max(boxFactor, 1.0), BoxCap)
      val scaled = iso * epochScale(rerunCal, quietFloor)
      (if (base > 0 && scaled <= Thresh * base * f) "phantom"
       else "confirmed-suspect", scaled)
    }
  }
}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Methodology (VERDICT r2 "What's wrong" #5, r3 #4; iterations made
  * adaptive in r15 after BENCH_r14 blew the driver's wall-clock window —
  * VERDICT r14 #1): each leg gets one untimed warmup execution adjacent
  * to its timed runs (JVM/JIT/codegen + page cache), one timed run, and —
  * only when its readings reach HeavyCut — a second timed run; "median"
  * is the mean of the timed runs and "min" the floor over ALL executions
  * (warmup included: warmup can only ever be slower than steady state).
  * The heavy legs are exactly the ones the baseline_suspect adjudication
  * tier reads, so they keep multi-run statistics; sub-second legs are
  * noise-class by the artifact's own doctrine and pay one timed run. Each
  * run is a FULL materialization via the noop sink — every row and column
  * is produced, unlike `.count()` which lets Catalyst prune the work the
  * verify path actually pays for. A soft SPARK_GRAFT_BENCH_BUDGET_SEC
  * degrades iteration counts (then warmups) instead of letting the
  * driver's hard timeout kill the run with no artifact at all.
  *
  * Between legs the harness quiesces (clearCache + GC) so one leg's
  * leftover blocks/garbage cannot inflate a neighbor's time, and the
  * artifact is emitted three ways (full line, full file, short summary
  * line LAST) so a truncating tail capture still yields a parseable
  * total — both VERDICT r6 #1.
  *
  * Contention evidence (VERDICT r7 #1): the quiesce protects legs from
  * each OTHER, but nothing in-JVM can protect against a busy BOX (the
  * r7 driver run read 4 legs 3-21x wrong). So the artifact now carries
  * its own contamination evidence: a constant calibration workload timed
  * at start/post_etl/mid/end ("calibration" key, spread ~1.0 when quiet),
  * per-leg min-of-3 alongside the median ("queries_min") — external
  * contention only ever ADDS time, so median >> min flags the leg — and
  * per-leg wall-clock spans ("queries_span") so a contaminated window is
  * attributable to the exact legs inside it (VERDICT r8 #3). The heavy
  * legs (etl + dedup/kmeans families + layout) run FIRST, etl bracketed
  * by its own checkpoint, instead of at the 185-leg tail where three
  * consecutive driver artifacts read it 3-6x inflated (VERDICT r8 #7).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-bench-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // returns false on failure so a broken query surfaces as -1 in the
    // metric JSON, not as a suspiciously fast "success"
    def materialize(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    // Neighbor-proofing (VERDICT r6 #1): a 91-leg run accumulates JVM
    // garbage, dropped-but-unreleased cache/localCheckpoint blocks, and
    // pending ContextCleaner work across legs — enough to inflate an
    // unrelated later leg several-fold vs its isolated time (q_text_stats
    // measured 6.68 s in the r6 full run, 0.80 s isolated). Clearing the
    // SQL cache and forcing a GC BETWEEN legs (never inside a timed
    // window) lets the cleaner release neighbor state so each leg starts
    // from the same baseline its isolated measurement would see. The OS
    // page cache is deliberately untouched — warm input files are what the
    // warmup pass exists to provide.
    def quiesce(): Unit = {
      spark.catalog.clearCache()
      System.gc()
    }
    // Shared timing shape (VERDICT r7 #1): every leg reports BOTH the
    // median and the MIN of its 3 timed runs. The median is the honest
    // central estimate on a quiet box; the min is far more robust to
    // external contention (a busy neighbor can only ever ADD time), so a
    // leg whose median is several-fold above its min is itself evidence
    // the box was busy during that leg.
    // Every leg also records its wall-clock window as [start, end] offsets
    // (seconds since the run epoch): the r8 driver artifact was 5.9x
    // inflated on etl_pipeline while all three calibration checkpoints read
    // quiet — the contamination window fell BETWEEN checkpoints and could
    // not be attributed to specific legs. With per-leg spans, benchgate can
    // intersect a suspect wall-clock window with exactly the legs inside it.
    val runEpoch = System.nanoTime()
    def nowOff(): Double = (System.nanoTime() - runEpoch) / 1e9
    case class Timing(median: Double, min: Double, t0: Double, t1: Double,
        runs: Int = 3)
    def timed3(run: () => Boolean, warmup: Boolean = true): Timing = {
      val t0 = nowOff()
      quiesce()
      if (warmup) run() // untimed — JIT/codegen + page cache
      val times = (1 to 3).map { _ =>
        val s = System.nanoTime()
        if (run()) (System.nanoTime() - s) / 1e9 else -1.0
      }
      val t1 = nowOff()
      if (times.exists(_ < 0)) Timing(-1.0, -1.0, t0, t1)
      else Timing(times.sorted.apply(1), times.min, t0, t1)
    }
    // Wall-clock budget + adaptive iterations (VERDICT r14 #1): the
    // 287-leg sweep at warmup+3-timed-per-leg (plus a global warmup pass)
    // outgrew the driver's window — BENCH_r14.json is rc=124 with NO
    // number, the round's only gate failure. Iterations now scale with
    // the leg's own readings:
    //   - every leg gets ONE warmup execution (JIT/codegen + page cache;
    //     its wall-clock still feeds "min" — warmup can only ever be
    //     SLOWER than steady state, so min over all executions stays a
    //     valid contention-robust floor) and ONE timed run;
    //   - only legs whose warmup or first timed run reads >= HeavyCut
    //     earn a SECOND timed run — they are the only legs the
    //     baseline_suspect tier adjudicates (MinSec = 5) and the only
    //     ones whose absolute error matters by the artifact's own
    //     doctrine (sub-second legs are noise-class, Bench epoch notes).
    // "median" (the name every artifact consumer parses) is the mean of
    // the timed runs; "min" is the min over ALL executions. Projected
    // from the committed sf0.1 baseline: ~1600 s of leg executions drop
    // to ~900 s quiet; measured after landing in ROUNDLOG.
    val HeavyCut = 4.0
    // SPARK_GRAFT_BENCH_BUDGET_SEC (VERDICT r14 #1d): a soft wall-clock
    // target the run degrades against instead of dying at the driver's
    // hard kill. r15 blew its own budget (elapsed 1882 > 1800) because the
    // 60%/85% tiers trigger on ELAPSED time alone — a slow first half
    // cannot be caught early enough (VERDICT r15 #2). Two fixes: the
    // default drops to 1500 s (kill-margin inside the driver's ~60-min
    // window), and tiering is PROJECTED — the committed baseline's per-leg
    // medians price the legs still to run, a box factor (observed wall so
    // far vs expected) scales that price, and the run degrades as soon as
    // elapsed + projected-remaining overruns the budget, not after.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "BENCH_BASELINE.json")
    val (baseQ, baseSf, baseCal) =
      try BenchBaseline.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(baselinePath)))
      catch { case _: Throwable => (Map.empty[String, Double], "", -1.0) }
    // expected timed-run seconds per leg: the baseline median where one
    // exists, the baseline's own median leg (~the sub-second tier) where
    // not — a NEW leg is priced like a typical leg until it runs
    val typicalLeg: Double = {
      val vs = baseQ.values.filter(_ > 0).toSeq.sorted
      if (vs.isEmpty) 0.5 else vs(vs.size / 2)
    }
    def expectedOf(n: String): Double = baseQ.getOrElse(n, typicalLeg)
    // per-leg fixed overhead outside the runs themselves (quiesce + GC +
    // scheduling) — measured ~0.2-0.4 s on the 32c box
    val LegOverhead = 0.3
    def wallFactor(tier: Int, e: Double): Double = tier match {
      case 0 => if (e >= HeavyCut) 3 * e + LegOverhead else 2 * e + LegOverhead
      case 1 => 2 * e + LegOverhead
      case _ => e + LegOverhead
    }
    // remaining-legs ledger: initialized with every leg the run will time
    // (sweep names + the heavy family/layout legs registered below),
    // decremented as legs complete; spentExpected accumulates the price of
    // each completed leg at the tier it actually ran at, so the box factor
    // compares like with like — a failed leg (timing -1) adds nothing
    val remaining = scala.collection.mutable.Set.empty[String]
    var spentExpected = 15.0 // session startup + deep first calibration
    def legDone(n: String, tier: Int, t: Timing): Unit = {
      remaining -= n
      if (t.median >= 0) spentExpected += wallFactor(tier, expectedOf(n))
    }
    def projectedRemaining(tier: Int): Double = {
      val boxRatio = math.min(3.0,
        math.max(0.7, nowOff() / math.max(spentExpected, 1.0)))
      remaining.iterator.map(n => wallFactor(tier, expectedOf(n))).sum * boxRatio
    }
    // monotonic: once degraded, a run never re-upgrades (comparable legs)
    var tierCur = 0
    def tierNow(): Int = {
      val e = nowOff()
      // elapsed floors keep the r14 backstop; projection degrades EARLY
      val byElapsed = if (e > 0.85 * budgetSec) 2
        else if (e > 0.60 * budgetSec) 1 else 0
      val byProjection = (0 to 2).find(t =>
        e + projectedRemaining(t) <= 0.95 * budgetSec).getOrElse(2)
      tierCur = math.max(tierCur, math.max(byElapsed, byProjection))
      tierCur
    }
    def timedAdaptive(run: () => Boolean, tier: Int): Timing = {
      val t0 = nowOff()
      quiesce()
      def one(): Double = {
        val s = System.nanoTime()
        if (run()) (System.nanoTime() - s) / 1e9 else -1.0
      }
      val w = if (tier >= 2) -1.0 else one() // warmup (skipped at tier 2)
      if (tier < 2 && w < 0) return Timing(-1.0, -1.0, t0, nowOff(), 0)
      val t1v = one()
      if (t1v < 0) return Timing(-1.0, -1.0, t0, nowOff(), 0)
      val extra =
        if (tier == 0 && math.max(w, t1v) >= HeavyCut) Some(one()) else None
      val t1 = nowOff()
      if (extra.exists(_ < 0)) return Timing(-1.0, -1.0, t0, t1, 0)
      val timed = Seq(t1v) ++ extra
      val all = (if (w >= 0) Seq(w) else Nil) ++ timed
      Timing(timed.sum / timed.size, all.min, t0, t1, timed.size)
    }
    // Heartbeat (VERDICT r14 #1c): Bench printed NOTHING between Spark
    // startup and the final JSON, so the r14 kill left a ~59-minute
    // silent window — a slow run indistinguishable from a hang, and the
    // timeout point unattributable. One small line per phase/chunk makes
    // any killed run leave a parseable progress prefix.
    def round3(d: Double): Double = math.round(d * 1000.0) / 1000.0
    def heartbeat(phase: String, done: Int, of: Int): Unit =
      println(s"""{"heartbeat":"$phase","done":$done,"of":$of,""" +
        s""""elapsed":${round3(nowOff())},"tier":${tierNow()}}""")
    // Contention calibration (VERDICT r7 next-round #1): a CONSTANT
    // workload — fixed 200M-row in-memory aggregate (~0.5 s, long enough to amortize scheduling noise), zero disk, zero
    // dependence on SPARK_GRAFT_SF_DIR — timed at the start, middle and
    // end of the run. On a quiet box the three numbers agree within
    // noise; if the box is externally contaminated during any phase the
    // corresponding checkpoint inflates, making a bad run SELF-DIAGNOSING
    // instead of requiring hand adjudication (r6 and r7 both needed it:
    // four r7 legs read 3-21x wrong with no in-artifact evidence).
    def calRun(): Boolean =
      try {
        spark.range(0L, 200000000L, 1L, cpus.toInt)
          .selectExpr("sum(id % 7) as s", "count(*) as c", "avg(id) as a")
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration failed: ${e.getMessage}"); false
      }
    // 3 untimed iterations before the 3 timed ones on the FIRST
    // calibration only: the calibration job is short enough that JIT
    // tiering alone moved a single-warmup first checkpoint ~1.7x vs later
    // ones (measured), which would read as fake contention; with deep
    // warmup + the 200M-row size, spread ~1.1 quiet. Later checkpoints
    // run in an already-tiered JVM — one warmup keeps them honest at a
    // third of the cost (budget discipline, VERDICT r14 #1).
    var calWarmed = false
    def calibrate(): Timing = {
      val n = if (calWarmed) 1 else 3
      calWarmed = true
      (1 to n).foreach(_ => calRun())
      timed3(calRun _, warmup = false)
    }
    // Optional dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just
    // those queries (and skips the ETL leg unless it names etl_pipeline).
    // The driver sets only SPARK_GRAFT_SF_DIR, so its runs are unaffected.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n)))
    // leg-selection flags, defined up front so the projected-cost ledger
    // can price the WHOLE run before the first leg executes
    val runEtlLeg = only.forall(_("etl_pipeline"))
    val runDedupLeg = only.forall(_.exists(_.startsWith("dedup_family")))
    val runKmeansLeg = only.forall(_.exists(_.startsWith("kmeans_family")))
    val runLayoutLeg = only.forall(_.exists(_.startsWith("layout_")))
    remaining ++= names
    if (runEtlLeg) remaining += "etl_pipeline"
    if (runDedupLeg)
      remaining ++= Seq("dedup_family_recompute", "dedup_family_shared")
    if (runKmeansLeg)
      remaining ++= Seq("kmeans_family_recompute", "kmeans_family_shared")
    if (runLayoutLeg)
      remaining ++= Seq("layout_join_plain", "layout_join_bucketed")
    // Isolated re-runs (benchgate adjudication / dev loop) keep the full
    // warmup+3 discipline regardless of leg size: they time a handful of
    // legs, their min-of-3 is the adjudication currency, and wall-clock
    // budget pressure only exists on the full 290-leg sweep.
    def timedLeg(name: String, run: () => Boolean): Timing = {
      val tier = tierNow()
      val t = if (only.isDefined) timed3(run) else timedAdaptive(run, tier)
      legDone(name, tier, t)
      t
    }
    // every timed leg registers its run thunk so the end-of-run isolated
    // re-verification (VERDICT r13 #3) can re-drive ANY suspect leg —
    // query, etl, family, or layout — without duplicating its setup
    val runners = scala.collection.mutable.Map.empty[String, () => Boolean]
    names.foreach(n => runners(n) = () => materialize(n))
    // No global warmup pass (VERDICT r14 #1b): it cost a full extra
    // sweep (~one execution of every leg) and its only jobs — JIT,
    // per-query codegen, page-cache warmth — are all covered by each
    // leg's OWN warmup execution in timedAdaptive, adjacent to the timed
    // runs instead of hundreds of seconds earlier. calibrate()'s deep
    // warmup keeps the start checkpoint honest in the cold JVM.
    val calStart = calibrate()
    // EP1+EP2 end-to-end (VERDICT r3 next-round #1): CSV ingest → validate/
    // quarantine → OLTP → star dims → 3 fact builds over a generated
    // DOPI-shaped fixture. Row count is FIXED (not sf-scaled) so the number
    // is comparable round over round; override with SPARK_GRAFT_ETL_ROWS.
    val etlRows = sys.env.getOrElse("SPARK_GRAFT_ETL_ROWS", "20000").toInt
    lazy val etlPaths = graft.etl.EtlFixture.write(
      java.nio.file.Files.createTempDirectory("graft-bench-etl"), etlRows)
    def runEtl(): Boolean =
      try {
        // EP1+EP2 as one DAG: every OLTP, star and fact table lands (the
        // A3/A12 boundary where the reference writes real tables), and the
        // run returns once all 32 have
        graft.etl.Pipeline.run(spark,
          etlPaths.institutions, etlPaths.users, etlPaths.observationsDir)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] etl_pipeline failed: ${e.getMessage}")
        false
      } finally {
        // A10 cleanup runs even on failure, so landed staging/OLTP tables
        // from a failed run cannot poison the next iteration's timings
        graft.etl.Pipeline.cleanup(spark)
      }
    // Heavy, variance-prone legs run FIRST (VERDICT r8 #7): the etl leg
    // sat at the tail of a 185-leg run and read 3-6x inflated in three
    // consecutive driver artifacts; running it immediately after calStart
    // with its own bracketing checkpoint (post_etl) pins its wall-clock
    // window between two calibration readings.
    runners("etl_pipeline") = runEtl _
    val etlResults = if (!runEtlLeg) Seq.empty[(String, Timing)]
      else Seq("etl_pipeline" -> timedLeg("etl_pipeline", runEtl _))
    val calPostEtl = calibrate()
    // Dedup signature-table reuse (VERDICT r6 #3): the family's dominant
    // cost at 100 TB is the MinHash signature pass, and the three
    // per-entry legs above each pay it in full. `_recompute` times exactly
    // that (three consumers, three signature passes); `_shared` times the
    // production shape — materialize `minhashBands` ONCE to parquet, then
    // feed minhash-cluster + incremental-probe + CC from the persisted
    // table (one signature pass + one write, consumers read longs back).
    // The delta is the number SCALE.md's reuse point claims.
    val dedupResults = if (!runDedupLeg) Seq.empty[(String, Timing)] else {
      import org.apache.spark.sql.DataFrame
      def consumeFamily(banded: () => DataFrame): Boolean =
        try {
          val docs = Tables.documents(spark, sfDir)
          Seq(graft.queries.TextOps.dedupMinhashFrom(banded()),
              graft.queries.TextOps.dedupIncrementalFrom(banded()),
              graft.queries.TextOps.dedupCCFrom(docs, banded()))
            .foreach(_.write.format("noop").mode("overwrite").save())
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] dedup family leg failed: ${e.getMessage}")
          false
        }
      val sigDir = java.nio.file.Files
        .createTempDirectory("graft-bench-sigs").toString + "/minhash_bands"
      def recomputeRun(): Boolean =
        consumeFamily(() => graft.queries.TextOps.minhashBands(spark, sfDir))
      def sharedRun(): Boolean =
        try {
          graft.queries.TextOps.minhashBands(spark, sfDir)
            .write.mode("overwrite").parquet(sigDir)
          val banded = spark.read.parquet(sigDir)
          consumeFamily(() => banded)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] dedup shared leg failed: ${e.getMessage}")
          false
        }
      runners("dedup_family_recompute") = recomputeRun _
      runners("dedup_family_shared") = sharedRun _
      Seq(
        "dedup_family_recompute" -> timedLeg("dedup_family_recompute", recomputeRun _),
        "dedup_family_shared" -> timedLeg("dedup_family_shared", sharedRun _))
    }
    // K-means centroid reuse (VERDICT r7 next-round #3, same story as the
    // dedup family): the Lloyd pass (seed collect + assignment + K·d-cell
    // update aggregate) is a TRAINING artifact; `_recompute` times the
    // per-entry shape where kmeans and semDedup each train their own,
    // `_shared` trains once and feeds both consumers the same literals —
    // the persistent-pipeline shape where the model is stored, not relearned.
    val kmeansResults = if (!runKmeansLeg) Seq.empty[(String, Timing)] else {
      def consume(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def recomputeRun(): Boolean =
        try {
          consume(graft.queries.VectorOps.kmeans(spark, sfDir))
          consume(graft.queries.VectorOps.semDedup(spark, sfDir))
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] kmeans recompute leg failed: ${e.getMessage}"); false }
      def sharedRun(): Boolean =
        try {
          val c1 = graft.queries.VectorOps.lloydCentroids(spark, sfDir)
          consume(graft.queries.VectorOps.kmeansFrom(spark, sfDir, c1))
          consume(graft.queries.VectorOps.semDedupFrom(spark, sfDir, c1))
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] kmeans shared leg failed: ${e.getMessage}"); false }
      runners("kmeans_family_recompute") = recomputeRun _
      runners("kmeans_family_shared") = sharedRun _
      Seq(
        "kmeans_family_recompute" -> timedLeg("kmeans_family_recompute", recomputeRun _),
        "kmeans_family_shared" -> timedLeg("kmeans_family_shared", sharedRun _))
    }
    // Physical-layout legs (SCALE.md "real cluster" #1): the SAME fact⋈fact
    // join over plain parquet vs bucketBy'd tables — the bucketed number is
    // what every repeated ETL2-style join costs once the one-time bucketed
    // write is paid. Broadcast is disabled for both legs to model the
    // 100 TB case (neither side fits an executor) — locally Catalyst would
    // broadcast sf0.1 orders and both legs would measure the same plan.
    val layoutResults = if (!runLayoutLeg) Seq.empty[(String, Timing)] else {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        graft.olap.Layout.writeBucketedPair(spark, sfDir, numBuckets = cpus.toInt)
        // isolated-rerun thunks carry the leg's no-broadcast config with
        // them (the sweep's surrounding try/finally is long gone by then)
        def runOf(mk: () => org.apache.spark.sql.DataFrame): () => Boolean = () => {
          val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try { mk().write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] layout leg failed: ${e.getMessage}"); false }
          finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
        }
        val plain = runOf(() => graft.olap.Layout.orderRevenue(
          Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
        val bucketed = runOf(() => graft.olap.Layout.orderRevenue(
          spark.table("orders_bkt"), spark.table("lineitem_bkt")))
        runners("layout_join_plain") = plain
        runners("layout_join_bucketed") = bucketed
        Seq(
          "layout_join_plain" -> timedLeg("layout_join_plain", plain),
          "layout_join_bucketed" -> timedLeg("layout_join_bucketed", bucketed))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    val calMid = calibrate()
    heartbeat("heavy", etlResults.size + dedupResults.size +
      kmeansResults.size + layoutResults.size, names.size)
    // Per-query sweep AFTER the heavy block, each leg timed adaptively
    // (its own adjacent warmup + 1 timed run, a second timed run only at
    // HeavyCut — see timedAdaptive; VERDICT r14 #1a/b).
    // The sweep runs in thirds with a calibration probe between chunks
    // (VERDICT r11 #2): mid→end was one ~200 s unprobed window, so a
    // contaminated tail epoch could not be attributed tighter than "half
    // the run" — the backfilled r11 close flagged 13 sub-second legs for
    // exactly this reason. Two extra ~3 s probes buy per-third brackets.
    val sweepCals = scala.collection.mutable.ArrayBuffer.empty[(String, Timing)]
    val chunks = names.grouped(math.max(1, (names.size + 2) / 3)).toSeq
    var sweepDone = 0
    val results = chunks.zipWithIndex.flatMap { case (chunk, i) =>
      val rs = chunk.map { name =>
        name -> timedLeg(name, () => materialize(name))
      }
      sweepDone += chunk.size
      heartbeat(s"sweep_${i + 1}", sweepDone, names.size)
      if (i < chunks.size - 1) sweepCals += (s"sweep_${i + 1}" -> calibrate())
      rs
    }
    val finalResults =
      etlResults ++ dedupResults ++ kmeansResults ++ layoutResults ++ results
    val calEnd = calibrate()
    // "queries" stays median (the shape every prior round's artifact used,
    // and what the driver parses); "queries_min" is the contention-robust
    // twin; "calibration" is the constant-workload checkpoint trio. A
    // clean run has cal spread ~1.0 and median/min per leg close; a
    // contaminated run shows it in one or both, in the artifact itself.
    val qs = finalResults.map { case (k, t) => "\"" + k + "\":" + round3(t.median) }
      .mkString("{", ",", "}")
    val qsRuns = finalResults.map { case (k, t) => "\"" + k + "\":" + t.runs }
      .mkString("{", ",", "}")
    val qsMin = finalResults.map { case (k, t) => "\"" + k + "\":" + round3(t.min) }
      .mkString("{", ",", "}")
    // per-leg [start, end] wall-clock offsets (sec since run epoch) so a
    // contaminated window is attributable to exactly the legs inside it
    val qsSpan = finalResults.map { case (k, t) =>
      "\"" + k + "\":[" + round3(t.t0) + "," + round3(t.t1) + "]"
    }.mkString("{", ",", "}")
    val cals = Seq("start" -> calStart, "post_etl" -> calPostEtl,
      "mid" -> calMid) ++ sweepCals.toSeq ++ Seq("end" -> calEnd)
    val calMeds = cals.map(_._2.median).filter(_ >= 0)
    val calSpread =
      if (calMeds.isEmpty || calMeds.min <= 0) -1.0 else calMeds.max / calMeds.min
    val calJson = cals.map { case (k, t) =>
      "\"" + k + "\":{\"median\":" + round3(t.median) + ",\"min\":" + round3(t.min) +
        ",\"span\":[" + round3(t.t0) + "," + round3(t.t1) + "]}"
    }.mkString("{", ",", s""","spread":${round3(calSpread)}}""")
    val total = finalResults.map(_._2.median).filter(_ >= 0).sum
    val failed = finalResults.count(_._2.median < 0)
    // Self-annotation (VERDICT r10 #5): a leg whose median sits far above
    // its own min-of-3 was contaminated DURING this run (external load only
    // ever adds time — the min acquits the code), so the artifact itself
    // names its suspect medians instead of leaving the judge to rediscover
    // the etl phantom every round. Listed, not patched: the medians stay
    // honest raw measurements; "spread_suspect" tells any consumer which
    // ones to re-read via queries_min or an isolated re-run.
    // (>= 1 s guard matches the epoch_suspect doctrine below: with
    // adaptive iterations a sub-second leg has one timed run whose
    // "median" vs the warmup-fed min is pure noise-class jitter)
    val spreadSuspect = finalResults.collect {
      case (k, t) if t.min > 0 && t.median >= 1.0 && t.median > 1.5 * t.min =>
        "\"" + k + "\""
    }.mkString("[", ",", "]")
    // Epoch self-annotation (VERDICT r11 #2): spread_suspect cannot see
    // contamination that inflates all 3 iterations EQUALLY (etl_pipeline
    // read 54.8 med / 51.2 min — spread 1.07 — while really ~27 s, five
    // rounds running). The evidence that CAN see it is the leg's
    // BRACKETING calibration probes vs the run's own quiet floor: external
    // load that inflates a leg's whole window inflates the constant-work
    // probes around it too. A leg whose nearest probes read > 1.4x the
    // floor is annotated with that ratio ("epoch_suspect") — listed, not
    // patched, like spread_suspect: medians stay honest raw measurements
    // and benchgate re-adjudicates the named legs. Sub-second legs are
    // skipped (absolute error is noise; the phantom class is heavy legs).
    val calFloor = calMeds.filter(_ > 0) match {
      case s if s.nonEmpty => s.min
      case _ => -1.0
    }
    def bracketRatio(t: Timing): Double = {
      if (calFloor <= 0) return -1.0
      val prev = cals.map(_._2).filter(c => c.median >= 0 && c.t1 <= t.t0)
        .sortBy(-_.t1).headOption
      val next = cals.map(_._2).filter(c => c.median >= 0 && c.t0 >= t.t1)
        .sortBy(_.t0).headOption
      val bracket = (prev.toSeq ++ next.toSeq).map(_.median)
      if (bracket.isEmpty) -1.0 else bracket.max / calFloor
    }
    val epochSuspect = finalResults.collect {
      case (k, t) if t.median >= 1.0 && bracketRatio(t) > 1.4 =>
        "\"" + k + "\":" + round3(bracketRatio(t))
    }.mkString("{", ",", "}")
    // Baseline self-annotation (VERDICT r12 #2): probes cannot feel steady
    // partial-CPU subscription (tiny jobs slip into free slots while the
    // 32-way legs are squeezed — the etl-phantom class's last hideout), so
    // every ≥5 s leg is ALSO compared against the committed quiet baseline,
    // box-factor-normalized via the two runs' quiet calibrations. Listed,
    // not patched; benchgate adjudicates the named legs isolated.
    // baseline already parsed up front (the projected-cost ledger reads it)
    val curMedians = finalResults.map { case (k, t) => k -> t.median }.toMap
    val (baselineSuspect, baselineNote, baseBox) =
      if (baseQ.isEmpty)
        (Map.empty[String, Double], "no baseline", 1.0)
      else if (baseSf != sfDir)
        (Map.empty[String, Double], s"sf mismatch ($baseSf)", 1.0)
      else {
        val box = if (baseCal > 0 && calFloor > 0) calFloor / baseCal else 1.0
        // report the factor ACTUALLY applied — suspects() clamps into
        // [1, BoxCap], so an unclamped note (e.g. "box 2.18" when 1.15
        // was applied) misrepresents the normalization (ADVICE r13)
        (BenchBaseline.suspects(curMedians, baseQ, box),
          s"box ${round3(math.min(math.max(box, 1.0), BenchBaseline.BoxCap))}" +
            s" (raw ${round3(box)})",
          box)
      }
    val baselineSuspectJson = baselineSuspect.toSeq.sortBy(_._1)
      .map { case (k, r) => "\"" + k + "\":" + round3(r) }
      .mkString("{", ",", "}")
    // In-run isolated re-verification (VERDICT r13 #3): the r13 driver
    // artifact shipped etl 92.3 s raw with only an annotation — benchgate
    // could adjudicate it, but only in the builder's roundcheck, so every
    // external reader of the driver artifact saw the phantom as the
    // headline. Now the artifact SELF-corrects: each baseline_suspect leg
    // re-runs ONCE at the very end of the run (external load that squeezed
    // the sweep has often passed by then), bracketed by its own fresh
    // calibration, and the reading is epoch-scaled before the verdict
    // (the benchgate epoch_scale port — a still-loaded rerun epoch must
    // not mint confirmations). Both readings ship: "queries" stays the
    // honest raw sweep; "queries_isolated" carries the re-verification
    // with its verdict per leg.
    // Budget discipline (VERDICT r14 #1): the tail is adjudication, not
    // measurement — cap it at the 3 worst-ratio legs and skip it entirely
    // when the run is already at 90% of its wall-clock budget (a complete
    // artifact with raw suspects beats a killed run with none).
    val isolatedLegs =
      if (nowOff() > 0.9 * budgetSec) Seq.empty[String]
      else baselineSuspect.toSeq.sortBy(-_._2).take(3).map(_._1).sorted
    val isolatedJson =
      if (isolatedLegs.isEmpty) "{}"
      else isolatedLegs.flatMap { leg =>
        runners.get(leg).map { run =>
          val cal = calibrate()
          val t = timed3(run, warmup = false)
          // verdict on the epoch-scaled MIN (see adjudicate's doc)
          val (verdict, scaled) = BenchBaseline.adjudicate(
            t.min, baseQ.getOrElse(leg, -1.0), baseBox, cal.median, calFloor)
          "\"" + leg + "\":{\"median\":" + round3(t.median) +
            ",\"min\":" + round3(t.min) + ",\"cal\":" + round3(cal.median) +
            ",\"scaled\":" + round3(scaled) + ",\"verdict\":\"" + verdict + "\"}"
        }
      }.mkString("{", ",", "}")
    val elapsedFinal = nowOff()
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_span":$qsSpan,"calibration":$calJson,"spread_suspect":$spreadSuspect,"epoch_suspect":$epochSuspect,"baseline_suspect":$baselineSuspectJson,"queries_isolated":$isolatedJson,"baseline_note":"$baselineNote","queries_runs":$qsRuns,"budget_sec":$budgetSec,"elapsed_sec":${round3(elapsedFinal)},"budget_exceeded":${elapsedFinal > budgetSec},"tier_final":$tierCur,"sf":"$sfDir"}"""
    // Artifact robustness (VERDICT r6 #1): the r6 driver tail-capture
    // truncated the 91-entry JSON line and lost the total ("parsed": null).
    // Three sinks, redundant by design: (1) the full line first, for any
    // consumer that reads the whole stream; (2) the full JSON as a FILE,
    // immune to tail truncation; (3) a SHORT summary line LAST — total +
    // the 5 slowest legs — small enough that any tail capture gets a
    // parseable total.
    println(fullJson)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    val top5 = finalResults.sortBy(-_._2.median).take(5)
      .map { case (k, t) => "\"" + k + "\":" + round3(t.median) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$top5,"sf":"$sfDir","n_queries":${finalResults.size},"n_failed":$failed,"cal_spread":${round3(calSpread)},"full":"$outFile"}""")
    spark.stop()
  }
}
