package graft

import java.util.concurrent.{CancellationException, ConcurrentLinkedQueue,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

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
    * legs, forked sequential tests). One piece of work may land
    * concurrently inside its own scope — EP1 lands as a DAG through
    * [[concurrently]] — as long as every landing has ended before the scope
    * is released, which [[concurrently]] guarantees by returning only then.
    * A concurrent session sharing the SparkContext would need explicit
    * handles for the checkpoint pins.
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

  /** Name prefix of the threads [[concurrently]] runs jobs on. */
  private[graft] val PoolThreadPrefix = "graft-jobs-"

  /** The Spark jobs one piece of work runs at once, on a pool of
    * `defaultParallelism` threads: at most one job per core is in flight,
    * so independent single-task jobs fill the cores instead of queueing
    * behind each other. Start jobs with [[apply]] or [[land]], chaining
    * dependents with `map`/`flatMap`/`for` on the returned futures — never
    * by blocking on one inside the pool.
    *
    * The threads are started by the thread that opens the pool, so each
    * inherits a copy of its Spark local properties (job group, description,
    * scheduler pool): `cancelJobGroup` and event-log labels cover every job
    * the pool runs.
    */
  private[graft] final class Jobs private[Land] (spark: SparkSession) {
    private val sc = spark.sparkContext
    private val threads = new ConcurrentLinkedQueue[Thread]
    private val pool = {
      val n = math.max(1, sc.defaultParallelism)
      val p = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
        new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
          val t = new Thread(r, PoolThreadPrefix + threads.size)
          t.setDaemon(true)
          threads.add(t)
          t
        })
      p.prestartAllCoreThreads()
      p
    }
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    private val started = new ConcurrentLinkedQueue[Future[Any]]
    private val firstFailure = new AtomicReference[Throwable]

    /** Start `body` on the pool now. */
    def apply[A](body: => A): Future[A] = track(Future(body))

    /** Land the frame `plan` yields, once it has one. After any job of this
      * pool has failed, a landing not yet started is skipped. */
    def land(plan: Future[DataFrame]): Future[DataFrame] =
      track(plan.map { df =>
        if (firstFailure.get != null)
          throw new CancellationException("skipped: an earlier job failed")
        ckpt(df)
      })

    private[Land] def fail(e: Throwable): Unit = { firstFailure.compareAndSet(null, e); () }

    private def track[A](f: Future[A]): Future[A] = {
      // transform, not onComplete: the failure is recorded before the
      // tracked future completes, so awaitAll never misses it
      val t = f.transform { r => r.failed.foreach(fail); r }
      started.add(t)
      t
    }

    /** Wait for every started job; past `limit`, cancel the context's jobs
      * and wait for them to end. Then stop the pool and rethrow the first
      * failure. Every job must have been started before this is called. */
    private[Land] def awaitAll(limit: Duration): Unit = {
      val all = Future.sequence(started.asScala.toList.map(_.transform(_ => Success(()))))
      if (Try(Await.ready(all, limit)).isFailure) {
        sc.cancelAllJobs()
        Await.ready(all, Duration.Inf)
      }
      pool.shutdown()
      threads.forEach(_.join(TimeUnit.MINUTES.toMillis(1)))
      Option(firstFailure.get).foreach(e => throw e)
    }
  }

  /** Run `start`, which starts Spark jobs on a [[Jobs]] pool, and return its
    * result once every job it started has ended. On failure it still waits
    * for every started job, then rethrows the first error: no job outlives
    * the call, so a caller releasing pins afterwards never releases them
    * under a running job. Past `limit` it cancels the context's jobs (the
    * run owns the context while it waits, as [[CacheScope]] assumes).
    */
  private[graft] def concurrently[A](spark: SparkSession, limit: Duration = Duration.Inf)(
      start: Jobs => A): A = {
    val jobs = new Jobs(spark)
    val result = Try(start(jobs))
    result.failed.foreach(jobs.fail)
    jobs.awaitAll(limit)
    result.get
  }
}
