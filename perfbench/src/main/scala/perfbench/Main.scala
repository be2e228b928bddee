package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.Pipeline
import graft.olap.{Dims, Facts}

/** The benchmark's JVM side: builds a Spark session, generates the
  * workload's inputs from the seed, runs the workload as one client in a
  * closed loop, checks the outputs and prints the metrics. `run.py` builds
  * this class and launches it; see README.md for the workloads and metrics.
  *
  * Arguments: `--workload etl_paper|read_side --seed N --seconds S
  * --trace 0|1 --work DIR --out DIR --expected FILE [--record]`.
  */
object Main {
  val DefaultSeed = 0L

  /** DOPI observation rows of `etl_paper`: the reference's "18K+" scale. */
  val EtlRows = 20000
  /** Scale factor of the star tables `read_side` reads. */
  val StarSf = 0.01
  /** Report refreshes per `read_side` batch. */
  val Refreshes = 2

  val ReportQueries: Seq[String] = Seq(
    "q_top_months_excl_jan", "q_top_location_months", "q_top_pairs",
    "q_habitat_rank", "q_quality_summary", "q_top_users", "q_top_monthly_unique")
  /** Iterative graph operators per `read_side` batch. */
  val GraphQueries: Seq[String] = Seq("q_betweenness")
  /** Iterative graph operators that only traced `read_side` runs time, once,
    * after the timed batch: at ~30 s per cold run `q_louvain2` does not fit
    * every run's budget (README). */
  val TracedGraphQueries: Seq[String] = Seq("q_louvain2")

  /** EP1 outputs in the order the reference writes them, by layer. */
  val Ep1Layers: Seq[(String, Seq[String])] = Seq(
    "etl.part1" -> Seq("countries", "counties", "cities", "institutions"),
    "etl.part2" -> Seq("users", "subscription_types", "user_subscription", "user_institution"),
    "etl.part3_dims" -> Seq("plant_species", "pollinator_species", "castes",
      "pollinator_caste", "locations", "habitats", "pollination_qualities"),
    "etl.observations" -> Seq("observations"),
    "etl.quarantine" -> Seq("invalid_stg_institutions", "invalid_stg_users",
      "invalid_stg_insect_observations"))

  /** Layers whose spans the per-layer ledger reports, per workload, for
    * each timed batch. */
  val Layers: Map[String, Seq[String]] = Map(
    "etl_paper" -> (Seq("etl.build") ++ Ep1Layers.map(_._1) ++ Seq("olap.dims", "olap.facts")),
    "read_side" -> (Seq("analytics") ++ GraphQueries.map("graph." + _)))
  /** Name of the top-level span that holds [[TracedGraphQueries]]. */
  val TracedOnly = "read_side#traced_only"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, expected: Path, record: Boolean)

  /** One timed statement: a table landing, a report query or an operator. */
  final case class Op(batch: Int, name: String, wallS: Double, var ok: Boolean,
      var hash: String = "")

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    require(Layers.contains(workload), s"unknown workload $workload")
    Args(workload, need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      Paths.get(need("--work")), Paths.get(need("--out")), Paths.get(need("--expected")),
      argv.contains("--record"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.work)
    Files.createDirectories(args.out)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val code =
      try new Run(spark, args, cores, jvmStartMs).run()
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    // the result is printed; end the JVM without Spark's orderly shutdown,
    // which only deletes scratch files run.py removes anyway
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent hash of a landed table: row count and the sum of
    * every row's xxhash64 (as an exact decimal, so no overflow). */
  def tableHashes(spark: SparkSession, tables: Seq[(String, DataFrame)]): Map[String, String] = {
    val parts = tables.map { case (name, df) =>
      df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
          .cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0)).cast("string").as("s"))
        .select(lit(name).as("t"), col("n"), col("s"))
    }
    parts.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getString(2)}").toMap
  }

  /** Order-independent hash of collected result rows. */
  def rowsHash(rows: Array[Row]): String = {
    val sum = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.mkString("|")).toLong)
      .foldLeft(BigInt(0))(_ + _)
    s"${rows.length}:$sum"
  }
}

/** One benchmark process: set-up, the timed closed loop, checks, output. */
final class Run(spark: SparkSession, args: Main.Args, cores: Int, jvmStartMs: Long) {
  import Main._

  private val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private val tracer = new Tracer(spark, args.trace)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val expected: Map[String, String] = readExpected()
  private val recorded = mutable.LinkedHashMap.empty[String, String]
  @volatile private var storagePeakB = 0L
  private var inputRows = 0L

  private def log(line: String): Unit = println(s"[perfbench] $line")

  private def sampleStorage(): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    if (used > storagePeakB) storagePeakB = used
  }

  /** Samples storage memory every 100 ms while a traced loop runs. */
  private val sampler = new Thread(() => {
    try while (true) { sampleStorage(); Thread.sleep(100) }
    catch { case _: InterruptedException => () }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)

  private def op(batch: Int, name: String)(body: => Unit): Op = {
    val t = System.nanoTime()
    val ok = try { tracer.span(name)(body); true }
    catch { case NonFatal(e) =>
      notes += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      false
    }
    val o = Op(batch, name, (System.nanoTime() - t) / 1e9, ok)
    ops += o
    if (args.trace) sampleStorage()
    o
  }

  def run(): Int = {
    val batches = mutable.ArrayBuffer.empty[Span]
    val timed: Int => Unit = args.workload match {
      case "etl_paper" => etlSetup()
      case "read_side" => readSetup()
    }
    // set-up: process start to the first timed statement
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    if (args.trace) sampler.start()
    val loopStart = System.nanoTime()
    // the closed loop: one batch after another until --seconds have passed;
    // the traced run makes at least two batches, for count stability
    val minBatches = if (args.trace && args.workload == "etl_paper") 2 else 1
    var b = 0
    while (b < minBatches || (System.nanoTime() - loopStart) / 1e9 < args.seconds) {
      b += 1
      try tracer.span(s"${args.workload}#$b")(timed(b))
      catch { case NonFatal(e) =>
        // a batch that dies outside a timed statement still counts as failed
        ops += Op(b, "batch", 0.0, ok = false)
        notes += s"batch $b failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      batches += tracer.spans.find(_.name == s"${args.workload}#$b").get
    }
    // traced read_side runs then time the long graph operators once, in a
    // top-level span of their own so the timed batch stays comparable
    val tracedOnly =
      if (!(args.trace && args.workload == "read_side")) None
      else {
        tracer.span(TracedOnly)(TracedGraphQueries.foreach(q =>
          tracer.span(s"graph.$q")(runQuery(b + 1, q, starDir))))
        tracer.spans.find(_.name == TracedOnly)
      }
    if (args.trace) { sampler.interrupt(); sampler.join() }
    tracer.stop()
    val checkT = System.nanoTime()
    runChecks()
    log(f"output checks took ${(System.nanoTime() - checkT) / 1e9}%.2f s")

    val attempted = ops.size
    val failed = ops.count(!_.ok)
    notes.foreach(n => System.err.println(s"[perfbench] $n"))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("batch_s") = (median(batches.map(_.wallS).toSeq), "s")
    } else layerMetrics(batches.head, metrics)
    reportWorkloadMetrics(batches.map(_.wallS).toSeq, setupS, attempted, failed)
    if (args.trace) writeTrace(batches.toSeq, tracedOnly)
    if (args.record) writeExpected()

    val fields = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${fields.mkString(",")}}}""")
    0
  }

  // ---- set-up --------------------------------------------------------------

  private var genS = 0.0

  /** Generates the workload's inputs; set-up counts the time. */
  private def generate[A](kind: String)(gen: Path => A): A = {
    val dir = Files.createDirectories(args.work.resolve(s"$kind-in"))
    val t = System.nanoTime()
    try gen(dir) finally genS = (System.nanoTime() - t) / 1e9
  }

  private var etlExpected: EtlInputs.Expected = _

  private def etlSetup(): Int => Unit = {
    val (paths, e) = generate("etl")(EtlInputs.write(_, EtlRows, args.seed))
    etlExpected = e
    inputRows = e.inputRows
    b => etlBatch(b, paths)
  }

  private var starDir: String = _

  private def readSetup(): Int => Unit = {
    starDir = args.work.resolve("star-in").toString
    inputRows = generate("star")(d => StarInputs.write(d.toString, StarSf, args.seed))
    b => readBatch(b, starDir)
  }

  // ---- etl_paper -----------------------------------------------------------

  private var landedDirs = Map.empty[Int, Path]

  private def etlBatch(b: Int, in: EtlInputs.Paths): Unit = {
    val out = args.work.resolve(s"etl-out-$b")
    landedDirs += b -> out
    def land(tables: Seq[(String, DataFrame)]): Unit = tables.foreach {
      case (name, df) => op(b, s"land:$name")(df.write.mode("overwrite").parquet(out.resolve(name).toString))
    }
    def back(names: Seq[String]): Map[String, DataFrame] =
      names.map(n => n -> spark.read.parquet(out.resolve(n).toString)).toMap

    val oltp = tracer.span("etl.build")(
      Pipeline.runEtl1(spark, in.institutions, in.users, in.observationsDir))
    Ep1Layers.foreach { case (layer, names) =>
      tracer.span(layer) {
        land(names.map(n => n -> oltp(n)))
        // A10: EP1 drops its staging tables once every output is written
        if (layer == Ep1Layers.last._1) Pipeline.cleanup(spark)
      }
    }
    val ep1 = Ep1Layers.flatMap(_._2)
    val (landedOltp, dimNames) = tracer.span("olap.dims") {
      val landed = tracer.span("read_oltp")(back(ep1))
      val d = tracer.span("Dims.build")(Dims.build(landed))
      land(d.toSeq.sortBy(_._1))
      (landed, d.keys.toSeq.sorted)
    }
    tracer.span("olap.facts") {
      val landedDims = tracer.span("read_dims")(back(dimNames))
      val f = tracer.span("Facts.build")(Facts.build(landedOltp, landedDims))
      land(f.toSeq.sortBy(_._1))
    }
  }

  // ---- read_side -----------------------------------------------------------

  private def readBatch(b: Int, dir: String): Unit = {
    val rnd = new Random(args.seed * 1000003L + b)
    for (r <- 1 to Refreshes) tracer.span("analytics") {
      rnd.shuffle(ReportQueries).foreach(q => runQuery(b, q, dir))
    }
    GraphQueries.foreach(q => tracer.span(s"graph.$q")(runQuery(b, q, dir)))
  }

  private def runQuery(b: Int, q: String, dir: String): Unit = {
    var rows: Array[Row] = Array.empty
    val o = op(b, q) { rows = SparkEntry.queries(q)(spark, dir).collect() }
    if (o.ok) o.hash = rowsHash(rows)
  }

  // ---- output checks ---------------------------------------------------------

  private def check(o: Op, ok: Boolean, why: => String): Unit =
    if (!ok && o.ok) { o.ok = false; notes += s"check failed: ${o.name} (batch ${o.batch}): $why" }

  /** A check that cannot run fails the statements it covers. */
  private def guarded(os: Seq[Op])(body: => Unit): Unit =
    try body catch { case NonFatal(e) => os.foreach(check(_, false, s"check threw: ${e.getMessage}")) }

  private val batchHashes = mutable.Map.empty[String, String]

  private def checkHash(o: Op, key: String, actual: String): Unit = {
    recorded(key) = actual
    if (args.seed == DefaultSeed && !args.record)
      expected.get(key) match {
        case Some(e) => check(o, e == actual, s"hash $actual, committed $e")
        case None => check(o, false, s"no committed hash for $key")
      }
  }

  private def runChecks(): Unit = args.workload match {
    case "etl_paper" => landedDirs.toSeq.sortBy(_._1).foreach { case (b, out) => etlChecks(b, out) }
    case "read_side" => readChecks()
  }

  private def etlChecks(b: Int, out: Path): Unit = {
    val mine = ops.filter(o => o.batch == b && o.ok && o.name.startsWith("land:"))
    def table(n: String) = spark.read.parquet(out.resolve(n).toString)
    // table hashes are compared with the committed ones at the default seed,
    // and across batches when a run makes more than one
    if (args.seed == DefaultSeed || landedDirs.size > 1) {
      var hashes = Map.empty[String, String]
      guarded(mine.toSeq) {
        hashes = tableHashes(spark, mine.map(o => o.name.stripPrefix("land:")).map(n => n -> table(n)).toSeq)
      }
      mine.foreach { o =>
        val n = o.name.stripPrefix("land:")
        hashes.get(n) match {
          case Some(h) =>
            checkHash(o, s"etl_paper/$n", h)
            batchHashes.get(n) match {
              case Some(h0) => check(o, h0 == h, s"hash $h differs from batch 1's $h0")
              case None => batchHashes(n) = h
            }
          case None => check(o, false, "not hashed")
        }
      }
    }
    def landOp(n: String) = mine.find(_.name == s"land:$n")
    // row conservation: staged = landed + distinct quarantined + silent drops
    for (o <- landOp("observations"); _ <- landOp("invalid_stg_insect_observations")) guarded(Seq(o)) {
      val landedIds = table("observations").select(col("raw_data_id").as("id"), lit(1).as("l"))
      val quarantinedIds = table("invalid_stg_insect_observations")
        .select(col("raw_data_id").as("id")).distinct().withColumn("q", lit(1))
      val r = landedIds.join(quarantinedIds, Seq("id"), "full_outer")
        .agg(count(col("l")), countDistinct(when(col("l").isNotNull, col("id"))),
          count(col("q")), count(when(col("l").isNotNull && col("q").isNotNull, 1)))
        .head()
      val (landed, distinctLanded, quarantined, overlap) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val staged = etlExpected.staged
      val dropped = staged - landed - quarantined
      log(s"conservation (batch $b): staged=$staged landed=$landed " +
        s"quarantined_distinct=$quarantined silent_drops=$dropped")
      check(o, distinctLanded == landed, s"$landed landed rows but $distinctLanded distinct raw_data_id")
      check(o, overlap == 0, s"$overlap raw_data_id both landed and quarantined")
      check(o, quarantined == etlExpected.quarantined,
        s"$quarantined quarantined, the generator wrote ${etlExpected.quarantined} bad rows")
      check(o, dropped == 0, s"$dropped rows neither landed nor quarantined")
    }
    // SCD2: every user has exactly one open interval per history table
    val scd2 = Seq("user_subscription", "user_institution").flatMap(t => landOp(t).map(t -> _))
    if (scd2.nonEmpty && landOp("users").isDefined) guarded(scd2.map(_._2)) {
      val users = table("users").select("user_id")
      val bad = scd2.map { case (t, _) =>
        val open = table(t).filter(col("end_date").isNull).groupBy("user_id").count()
        users.join(open, Seq("user_id"), "left")
          .agg(count(when(col("count").isNull || col("count") =!= 1, 1)).as("bad"))
          .select(lit(t).as("t"), col("bad"))
      }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      scd2.foreach { case (t, o) =>
        check(o, bad(t) == 0, s"${bad(t)} users without exactly one open interval")
      }
    }
  }

  private def readChecks(): Unit = {
    val first = mutable.Map.empty[String, String]
    ops.filter(_.ok).foreach { o =>
      checkHash(o, s"read_side/${o.name}", o.hash)
      first.get(o.name) match {
        case Some(h) => check(o, h == o.hash, s"result ${o.hash} differs from first run's $h")
        case None => first(o.name) = o.hash
      }
    }
  }

  // ---- reporting -----------------------------------------------------------

  private def reportWorkloadMetrics(batchS: Seq[Double], setupS: Double,
      attempted: Int, failed: Int): Unit = {
    val mode = if (args.trace) "traced" else "untraced"
    log(s"workload=${args.workload} seed=${args.seed} cores=$cores mode=$mode " +
      s"batches=${batchS.size}")
    log(f"setup_s = $setupS%.3f s (session ready at $sessionReadyS%.3f s, input generation $genS%.3f s)")
    args.workload match {
      case "etl_paper" =>
        val landings = ops.filter(_.name.startsWith("land:")).map(_.wallS).toSeq
        log(s"etl_s = ${median(batchS)} s (median of ${batchS.size} batches: ${batchS.mkString(", ")})")
        log(s"landing_p50_s = ${median(landings)} s (n=${landings.size})")
      case "read_side" =>
        val qs = ops.filter(o => ReportQueries.contains(o.name)).map(_.wallS).toSeq
        val refreshes = ops.filter(o => ReportQueries.contains(o.name)).grouped(ReportQueries.size)
          .map(_.map(_.wallS).sum).toSeq
        log(s"refresh_s = ${median(refreshes)} s (median of ${refreshes.size} refreshes)")
        // n = 14: no percentile above the median has ten samples beyond it
        log(s"query_p50_s = ${median(qs)} s, query_max_s = ${qs.max} s (n=${qs.size})")
        (GraphQueries ++ TracedGraphQueries).foreach { g =>
          val t = ops.filter(_.name == g).map(_.wallS).toSeq
          if (t.nonEmpty) log(s"${g.stripPrefix("q_")}_s = ${median(t)} s (n=${t.size})")
        }
    }
    log(f"failed_frac = ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ($failed of $attempted)")
    // storage is sampled only when traced, so the untraced run measures the program alone
    if (args.trace) log(f"cache_peak_mb = ${storagePeakB / 1e6}%.3f MB")
  }

  private def layerMetrics(batch: Span, m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val c = tracer.total(batch)
    val wall = batch.wallS
    val inLayers = tracer.spans.filter(s => s.parent == batch.id).map(_.wallS).sum
    m("driver.plan_s") = (c.planMs / 1000.0, "s")
    m("driver.idle_s") = (tracer.idleS(batch.startNs, batch.endNs), "s")
    m("scheduler.jobs") = (c.jobs.toDouble, "count")
    m("scheduler.stages") = (c.stages.toDouble, "count")
    m("scheduler.tasks") = (c.tasks.toDouble, "count")
    m("executor.run_s") = (c.execRunMs / 1000.0, "s")
    m("executor.cpu_s") = (c.execCpuNs / 1e9, "s")
    m("executor.gc_s") = (c.gcMs / 1000.0, "s")
    m("shuffle.read_mb") = (c.shuffleReadB / 1e6, "MB")
    m("shuffle.write_mb") = (c.shuffleWriteB / 1e6, "MB")
    m("input.records_read") = (c.recordsRead.toDouble, "count")
    m("input.read_amplification") = (c.recordsRead.toDouble / inputRows, "ratio")
    m("tasks.failed") = (c.tasksFailed.toDouble, "count")
    m("spark.exec_util") = (c.execRunMs / 1000.0 / (wall * cores), "ratio")
    m("storage.peak_mb") = (storagePeakB / 1e6, "MB")
    m("trace.coverage") = (inLayers / wall, "ratio")
    m("traced.batch_s") = (wall, "s")
  }

  /** The eight metrics of each layer, summed over the layer's spans directly
    * under one top-level span. */
  private def layerLedger(top: Span, layers: Seq[String]): Seq[(String, Map[String, Double])] = {
    val under = tracer.spans.filter(s => s.parent == top.id)
    layers.map { layer =>
      val ss = under.filter(_.name == layer)
      val c = new Counts
      ss.foreach(s => c += tracer.total(s))
      layer -> Map(
        "wall_s" -> ss.map(_.wallS).sum,
        "idle_s" -> ss.map(s => tracer.idleS(s.startNs, s.endNs)).sum,
        "plan_s" -> c.planMs / 1000.0,
        "jobs" -> c.jobs.toDouble,
        "exec_run_s" -> c.execRunMs / 1000.0,
        "shuffle_mb" -> c.shuffleWriteB / 1e6,
        "records_read" -> c.recordsRead.toDouble,
        "tasks_failed" -> c.tasksFailed.toDouble)
    }
  }

  private def writeTrace(batches: Seq[Span], tracedOnly: Option[Span]): Unit = {
    val ledgers = batches.map(layerLedger(_, Layers(args.workload)))
    val first = ledgers.head
    val extra = tracedOnly.map(layerLedger(_, TracedGraphQueries.map("graph." + _))).getOrElse(Nil)
    def show(ledger: Seq[(String, Map[String, Double])]): Unit = ledger.foreach { case (layer, mm) =>
      log(f"  $layer%-22s " + Seq("wall_s", "idle_s", "plan_s", "jobs", "exec_run_s",
        "shuffle_mb", "records_read", "tasks_failed").map(k => f"$k=${mm(k)}%.3f").mkString(" "))
    }
    log(s"per-layer ledger, batch 1 of ${batches.size}:")
    show(first)
    val wall = batches.head.wallS
    val covered = first.map(_._2("wall_s")).sum
    log(f"layer spans cover ${100 * covered / wall}%.1f%% of the traced batch (${wall}%.3f s)")
    tracedOnly.foreach { t =>
      log("per-layer ledger, traced only, after the timed batch:")
      show(extra)
      log(f"layer spans cover ${100 * extra.map(_._2("wall_s")).sum / t.wallS}%.1f%% of it (${t.wallS}%.3f s)")
    }
    // count stability: a count that repeats exactly in every batch (or, for
    // the report queries, in every refresh) can back a count claim later
    val countKeys = Seq("jobs", "records_read", "tasks_failed")
    val stability = mutable.ArrayBuffer.empty[String]
    if (ledgers.size > 1)
      first.foreach { case (layer, _) =>
        countKeys.foreach { k =>
          val vs = ledgers.map(_.toMap.apply(layer)(k).toLong)
          stability += s"$layer.$k ${if (vs.distinct.size == 1) "exact" else "varies"} ${vs.mkString("/")}"
        }
      }
    val perName = tracer.spans.filter(s => s.name.startsWith("land:") || s.name.startsWith("q_"))
      .groupBy(_.name).toSeq.sortBy(_._1)
    perName.filter(_._2.size > 1).foreach { case (name, ss) =>
      val vs = ss.map(_.own.jobs)
      stability += s"$name.jobs ${if (vs.distinct.size == 1) "exact" else "varies"} ${vs.mkString("/")}"
    }
    if (stability.isEmpty) log("count stability: one pass only, not checked")
    else stability.foreach(s => log(s"count stability: $s"))

    val base = s"${args.workload}-seed${args.seed}"
    Files.write(args.out.resolve(s"spans-$base.jsonl"),
      tracer.spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    def ledgerJson(l: Seq[(String, Map[String, Double])], wallS: Double): String = {
      val layers = l.map { case (layer, mm) =>
        s""""$layer":{${mm.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
      }
      s""""wall_s":$wallS,"layers":{${layers.mkString(",")}}"""
    }
    val batchesJson = ledgers.zipWithIndex.map { case (l, i) =>
      s"""{"batch":${i + 1},${ledgerJson(l, batches(i).wallS)}}"""
    }
    val tracedOnlyJson = tracedOnly.map(t => s""""traced_only":{${ledgerJson(extra, t.wallS)}},""").getOrElse("")
    val stabilityJson = stability.map(s => "\"" + s + "\"").mkString(",")
    Files.write(args.out.resolve(s"ledger-$base.json"),
      (s"""{"workload":"${args.workload}","seed":${args.seed},"batches":[${batchesJson.mkString(",")}],""" +
        s"""$tracedOnlyJson"count_stability":[$stabilityJson]}""").getBytes(StandardCharsets.UTF_8))
    log(s"spans: ${args.out.resolve(s"spans-$base.jsonl")}")
  }

  // ---- committed hashes ------------------------------------------------------

  private def readExpected(): Map[String, String] =
    if (!Files.exists(args.expected)) Map.empty
    else {
      val txt = new String(Files.readAllBytes(args.expected), StandardCharsets.UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
    }

  /** Merges this run's hashes at the default seed into the committed file. */
  private def writeExpected(): Unit = {
    require(args.seed == DefaultSeed, "hashes are committed at the default seed only")
    val merged = (expected ++ recorded).toSeq.sortBy(_._1)
    val body = merged.map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n")
    Files.write(args.expected, body.getBytes(StandardCharsets.UTF_8))
    log(s"recorded ${recorded.size} hashes in ${args.expected}")
  }
}
