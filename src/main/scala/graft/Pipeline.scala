package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger,
  AtomicReference}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Scratch.ScratchOps
import graft.etl.{Quality, Transforms}
import graft.ingest.Ingest
import graft.model.Schemas
import graft.sources.Sources

/** Entry point A (SURVEY §3.1): the orchestrated ETL run.
  *
  * The reference splits this across an ADF DAG (three sequential
  * Databricks notebooks, then three parallel SQL copies); here stage
  * boundaries are function boundaries in one driver program:
  *
  *   ingest (bronze JSON) → transform (silver star schema) →
  *   validate/dedup → write silver parquet ∥∥∥ (gold casts)
  *
  * A refresh is a chain of small waits, so the independent ones run
  * side by side: one fetch-and-land chain per media id (up to four at
  * once, bronze landed on the driver with no Spark job), and the two
  * dimension writes on their own threads while the calling thread
  * writes the fact and its quarantine. Measured on a 4-vCPU box with
  * perfbench's `incremental` workload (3 hourly refreshes of 4 media
  * ids), against the sequential shape this replaced: per refresh,
  * ingest went from 1.17 s and 8 Spark jobs to 0.25 s and 0 jobs, and
  * silver from 1.63 s to 1.32 s at the same 9 jobs (one traced run
  * each); the untraced pass went from 19.0 s to 14.3 s (median of 10
  * alternating pairs, faster in every pair). Every thread is made per
  * call, from the stage's own thread ([[alongside]]).
  */
object Pipeline {

  case class Conf(rawPath: String, silverPath: String,
                  mediaIds: Seq[String], lookbackDays: Int = 7,
                  clock: Option[Column] = None,
                  retrySleep: Long => Unit = Thread.sleep,
                  stageTimeout: Option[scala.concurrent.duration.FiniteDuration] = None)

  /** A stage blew its per-stage budget (the reference's ADF pipeline
    * gives each activity a 12 h timeout + fail-fast isolation,
    * adf:10–11; this is that policy as a library concern). The run
    * fails WITHIN the budget instead of blocking forever on a hung
    * fetcher or wedged write. */
  final case class StageTimedOut(stage: String,
      budget: scala.concurrent.duration.FiniteDuration)
    extends RuntimeException(
      s"pipeline stage '$stage' exceeded its $budget budget; " +
        "failing fast (per-activity timeout parity, reference adf:10-11)")

  /** Run `body` under the stage budget (no budget → inline). The body
    * runs on a daemon worker carrying a Spark job group, so on timeout
    * the stage's RUNNING JOBS are cancelled (interruptOnCancel) and
    * the worker interrupted — a hung fetcher (no Spark jobs) dies by
    * interrupt, a wedged job by group cancel; either way the caller
    * gets [[StageTimedOut]] within the budget.
    *
    * A single cancel is not enough: `cancelJobGroup` only kills jobs
    * running AT THAT MOMENT, and the interrupt is one-shot — a stage
    * that swallows `InterruptedException` (retry loops routinely do)
    * would resume as a ZOMBIE, launch new jobs, and race the
    * orchestrator's retry (for ingest: bronze dirs under the old
    * stamp + a watermark commit = the double-count its docstring
    * warns about). A reaper keeps re-cancelling the group and
    * re-interrupting until the worker actually exits. Residual risk is
    * documented, not hidden: pure DRIVER-side IO in a stage that
    * swallows every interrupt can still complete a small side effect;
    * all Spark-job work is reliably fenced. */
  /** The COOPERATIVE abandon fence for budgeted stages: set on the
    * worker thread by [[timedStage]] and flipped on timeout. Stages
    * with externally visible side effects (the watermark commit, the
    * bronze writes) consult it before committing, because neither the
    * job-group cancel (only kills jobs running at that moment) nor the
    * interrupt (swallowable) can stop a pure driver-side write — a
    * zombie ingest that committed its watermark after the orchestrator
    * already retried would skip a window forever or double-count one
    * (see `ingest`'s docstring). */
  private val abandonFlag =
    new InheritableThreadLocal[AtomicBoolean]()

  /** True iff the current thread belongs to a budgeted stage whose
    * budget has expired. Cheap (one volatile read); checked by
    * side-effecting stage steps. */
  private[graft] def stageAbandoned: Boolean = {
    val f = abandonFlag.get
    f != null && f.get
  }

  /** The worker signals "I am in my finally-block cleanup now": the
    * reaper stops INTERRUPTING once this flips (it keeps cancelling
    * the job group — cleanup launches no jobs), because an interrupt
    * landing mid-sweep would kill a `deleteDir` and leave a fully
    * written bronze dir under the old stamp with the watermark held —
    * the exact double-count the sweep exists to prevent. */
  private val cleanupFlag =
    new InheritableThreadLocal[AtomicBoolean]()

  /** Called by a stage's cleanup path (worker thread) just before it
    * starts sweeping; no-op outside a budgeted stage. */
  private[graft] def enterStageCleanup(): Unit = {
    val f = cleanupFlag.get
    if (f != null) f.set(true)
  }

  /** At most this many media ids fetch and land at once. */
  private val IngestChains = 4

  /** Run `tasks` on at most `bound` threads made here while the
    * calling thread runs `body`. Returns only after every task thread
    * has exited: the body's value, or else the first failure (the
    * body's or a task's, whichever came first) as itself. Once one
    * has failed no further task starts.
    *
    * The threads are made per call, from the calling thread, so they
    * inherit what it carries: the stage's abandon and cleanup flags,
    * and Spark's local properties (the [[timedStage]] job group, so a
    * timeout cancels their jobs too, and the ledger and bench span
    * tokens, so their jobs are booked to the stage). When the calling
    * thread is interrupted while it waits, it takes over the reaper's
    * role ([[enterStageCleanup]] stops the reaper interrupting it):
    * it interrupts the task threads every 500 ms until they have
    * exited, then throws InterruptedException, so an interrupted
    * stage never commits. */
  private def alongside[T](name: String, bound: Int,
      tasks: Seq[() => Unit])(body: => T): T = {
    val next = new AtomicInteger
    val failure = new AtomicReference[Throwable]
    val threads = Seq.tabulate(math.min(bound, tasks.size)) { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.size && failure.get == null) {
          try tasks(k)()
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          k = next.getAndIncrement()
        }
      }, s"graft-pipeline-$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    val out =
      try Some(body)
      catch { case e: Throwable => failure.compareAndSet(null, e); None }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try {
          if (interrupted) threads.foreach(_.interrupt())
          t.join(if (interrupted) 500 else 0)
        } catch {
          case _: InterruptedException =>
            interrupted = true
            enterStageCleanup()
        }
    }
    Option(failure.get).foreach(e => throw e)
    if (interrupted)
      throw new InterruptedException(s"pipeline $name interrupted")
    out.get
  }

  private def timedStage[T](spark: SparkSession, stage: String,
      budget: Option[scala.concurrent.duration.FiniteDuration])
      (body: => T): T = budget match {
    case None => body
    case Some(b) =>
      val group = s"graft-pipeline-$stage-${System.nanoTime()}"
      val out = new AtomicReference[Either[Throwable, T]]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val flag = new AtomicBoolean(false)
      val inCleanup = new AtomicBoolean(false)
      val worker = new Thread(() => {
        // everything — including setJobGroup, which throws on a
        // stopped context — lands in `out`, so the caller never sees
        // a masking NPE in place of the real failure
        try out.set(
          try {
            abandonFlag.set(flag)
            cleanupFlag.set(inCleanup)
            // job group is thread-local — set it on the worker so
            // every job the stage launches is cancellable as a unit
            spark.sparkContext.setJobGroup(group,
              s"pipeline stage $stage", interruptOnCancel = true)
            Right(body)
          } catch { case e: Throwable => Left(e) }
          finally { abandonFlag.remove(); cleanupFlag.remove() })
        finally done.countDown()
      }, group)
      worker.setDaemon(true)
      worker.start()
      if (!done.await(b.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        flag.set(true) // fence: the stage must not commit side effects
        // a single cancel/interrupt is not enough — cancelJobGroup
        // only kills jobs running at that moment and the interrupt is
        // one-shot (retry loops routinely swallow it); keep reaping
        // until the worker actually exits
        val reaper = new Thread(() => {
          while (worker.isAlive) {
            try spark.sparkContext.cancelJobGroup(group)
            catch { case _: Throwable => () } // context may be stopping
            // stop interrupting once the worker signals it entered its
            // finally-block cleanup: one more interrupt there kills a
            // deleteDir mid-sweep and leaves the double-count dir the
            // sweep exists to remove (cleanup launches no Spark jobs,
            // so the group cancel above stays harmless)
            if (!inCleanup.get) worker.interrupt()
            Thread.sleep(500)
          }
        }, s"$group-reaper")
        reaper.setDaemon(true)
        reaper.start()
        throw StageTimedOut(stage, b)
      }
      Option(out.get) match {
        case Some(r) => r.fold(e => throw e, identity)
        case None => throw new IllegalStateException(
          s"pipeline stage '$stage' worker exited without a result")
      }
  }

  /** What a transform committed. The frames are silver read-backs:
    * lazy scans of the rows the silver writes committed (`goldFact` is
    * the gold cast over the `fact` read-back), so a caller reads the
    * committed rows (until the next transform on the same silver path
    * overwrites them) and the session holds no cache between
    * refreshes.
    * `qualityReports` are MATERIALIZED metric maps (frame name →
    * metric → value), collected via `observe()` as a side effect of the
    * silver writes — consuming them costs zero additional jobs. */
  case class Result(dimMedia: DataFrame, dimVisitor: DataFrame,
                    fact: DataFrame, goldFact: DataFrame,
                    qualityReports: Map[String, Map[String, Any]])

  /** Stage 1 — ingestion (nb02 semantics): read watermark, fetch pages
    * per media id through the retrying fetcher, write bronze JSON dirs
    * named `{media}_{yyyyMMdd_HHmmss}` (the names ARE the lineage —
    * §2.1 S7/P9 depends on them), commit watermark.
    *
    * Each media id is one chain (fetch media, land it, fetch visitors,
    * land them), and up to [[IngestChains]] chains run at once on
    * threads this call makes; pages within one id stay in order. A
    * chain lands its dirs itself with `Ingest.writeBronzeJson`, on
    * the driver and with no Spark job. This thread alone decides
    * commit or sweep, after every chain has exited.
    *
    * The watermark advances ONLY when every media id fetched cleanly.
    * A fetch that exhausts its retries (Ingest.RetriesExhausted) is
    * not end-of-pages: the watermark holds, so the next incremental run
    * re-requests the window that was never fully seen — and every
    * bronze dir THIS run wrote is deleted before returning. Keeping the
    * clean ids' partial progress would double-count them: the retry
    * runs under a NEW stamp, re-fetches the same held window for ALL
    * ids, and `transform` globs every stamped visitors dir — two dirs
    * for one window means every event aggregates twice. Committing the
    * watermark anyway would instead skip the unfetched pages forever.
    * Returns true iff the run was clean and the watermark advanced. */
  def ingest(spark: SparkSession, conf: Conf, fetcher: Ingest.Fetcher,
             runTs: java.time.Instant = java.time.Instant.now())
  : Boolean = {
    val metaPath = s"${conf.rawPath}/metadata/last_run"
    // incremental pull: the visitor fetch asks the API only for events
    // newer than the last successful run (nb02:247 since=last_run_date);
    // the media catalog is small and always pulled in full, as in nb02
    val since = Ingest.readWatermark(spark, metaPath, conf.lookbackDays,
      runTs)
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(runTs)
    val dirty = new AtomicBoolean(false)
    // registered BEFORE it is written, so the sweep also covers a
    // landing that died half-way
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // abandon fence: a budgeted stage past its deadline must stop
    // producing side effects — the caller has already thrown
    // StageTimedOut and the orchestrator may be retrying
    def land(sub: String, id: String, docs: Seq[String]): Unit =
      if (docs.nonEmpty && !stageAbandoned) {
        val p = s"${conf.rawPath}/$sub/${id}_$stamp"
        written.add(p)
        Ingest.writeBronzeJson(spark, docs, p)
      }
    def chain(id: String): Unit =
      if (stageAbandoned) dirty.set(true)
      else try {
        land("media", id, Ingest.fetchAllPages(fetcher, id, "media",
          sleep = conf.retrySleep))
        land("visitors", id, Ingest.fetchAllPages(fetcher, id, "visitors",
          since = Some(since), sleep = conf.retrySleep))
      } catch {
        case _: Ingest.RetriesExhausted => dirty.set(true)
      }
    var aborted = true // set false only when every chain exited normally
    try {
      // one chain per distinct id: two chains must never land one dir
      alongside("ingest", IngestChains,
        conf.mediaIds.distinct.map(id => () => chain(id)))(())
      aborted = false
    } finally {
      // The cleanup-or-commit decision is taken here alone, after every
      // chain has exited, and MUST run even when a chain dies on an
      // unexpected throwable (the relayed interrupt, a failed landing):
      // dirs already written this run would otherwise survive under the
      // old stamp while the watermark held, and the retry's new stamp
      // would make transform aggregate those events twice. The fence
      // guards the COMMIT for the same reason: a zombie ingest that
      // advanced the watermark after its orchestrator retried would
      // permanently skip the retried window.
      if (!aborted && !dirty.get && !stageAbandoned)
        Ingest.commitWatermark(spark, metaPath, runTs.toString)
      else {
        // tell the reaper to stop interrupting — from here on an
        // interrupt can only kill the sweep it is trying to protect
        Pipeline.enterStageCleanup()
        written.forEach { p =>
          // clear-and-retry per path: at most one reaper interrupt can
          // still be in flight from before the cleanup signal flipped,
          // and it must not take a deleteDir down with it
          var attempts = 0
          var deleted = false
          while (!deleted && attempts < 3) {
            Thread.interrupted() // drain any pending interrupt
            try { deleteDir(spark, p); deleted = true }
            catch { case _: Throwable => attempts += 1 }
          } // leave what we must after 3 tries; the stamp regexps make
            // a partial dir visible, not silent
        }
      }
    }
    !aborted && !dirty.get && !stageAbandoned
  }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    Sources.fileSystem(spark, p).delete(p, true)
  }

  /** The silver data contracts (dbt-tests shape, SURVEY §2 G9): each
    * rule's violation count rides the same `observe()` as the DQ
    * metrics — zero extra jobs — and lands in `_run_report.json` as a
    * per-frame contract block plus an overall pass/fail status (the
    * machine-readable form of the reference's ops checklist, guide
    * p.32). */
  private[graft] val mediaContract = Seq(
    Quality.Expectation("url_has_prefix",
      col("url").startsWith(Transforms.UrlPrefix)),
    Quality.Expectation("channel_known",
      col("channel").isin("Facebook", "YouTube", "Instagram", "Wistia")))
  private[graft] val visitorContract = Seq(
    Quality.Expectation("country_present",
      col("country").isNotNull && trim(col("country")) =!= ""))
  private[graft] val factContract = Seq(
    Quality.Expectation("play_count_positive", col("play_count") > 0),
    Quality.Expectation("watch_time_non_negative",
      col("total_watch_time_seconds") >= 0),
    Quality.Expectation("date_present", col("date").isNotNull))

  /** Fact rows failing these route to the dead-letter sink instead of
    * being silently dropped (the round-3 `filterValidKeys` +
    * internal null-key filter shape): same keep-predicate, but the
    * rejects land under `_quarantine/fact-engagement` with
    * machine-readable reasons and replay after the producer is fixed.
    * The realistic firing case is `media_id_present`: a bronze
    * visitors dir named outside the two lineage regexps yields rows
    * whose media lineage cannot be recovered — an operational signal
    * (fix the producer, replay the dir), not noise to swallow. */
  private[graft] val factRouteRules =
    Seq("media_id", "visitor_id").map(k =>
      Quality.Expectation(s"${k}_present",
        col(k).isNotNull && trim(col(k)) =!= "")) :+
      Quality.Expectation("date_present", col("date").isNotNull)

  /** Which report metrics are contract rules, named EXPLICITLY per
    * frame for [[graft.etl.RunReport.render]] — the registration site
    * is the source of truth, not a name-prefix convention (a key
    * column that happened to be named `expect_…` would otherwise leak
    * its DQ metric into the contracts block and fail the status). */
  private[graft] val contractRules: Map[String, Set[String]] = Map(
    "dim_media" -> mediaContract, "dim_visitor" -> visitorContract,
    "fact" -> factContract
  ).map { case (f, es) => f -> es.map(e => s"expect_${e.name}").toSet }

  /** Stages 2-4 — transform, validate, dedup, write silver + gold.
    * Every DQ metric rides the silver write via `observe()` — the
    * metrics are collected as a side effect of the write job itself,
    * costing ZERO extra passes (the reference re-ran its lineage ~20×
    * for its DQ counts, SURVEY §4.3.1; the round-3 shape here still
    * paid three aggregation scans when the reports were consumed). */
  def transform(spark: SparkSession, conf: Conf): Result = {
    val clock = conf.clock.getOrElse(current_timestamp())

    val rawMedia = Sources.readBronzeJson(spark,
      s"${conf.rawPath}/media/*/", Schemas.rawMedia, multiline = false)
    val rawVisitors = Sources.readBronzeJson(spark,
      s"${conf.rawPath}/visitors/*/", Schemas.rawVisitor,
      multiline = false)

    // Observation names must be unique per session; transform can run
    // more than once (tests, replays), hence the nano suffix.
    val tag = System.nanoTime()
    val (dimMedia, dimMediaObs) = Quality.observedReport(
      Quality.dedupByKeys(
        Transforms.dimMedia(rawMedia, clock),
        Seq("media_id"), Seq(col("title"), col("url"))),
      s"dq_dim_media_$tag", Seq("media_id"), mediaContract)
    val (dimVisitor, dimVisitorObs) = Quality.observedReport(
      Quality.dedupByKeys(
        Transforms.dimVisitor(rawVisitors, clock),
        Seq("visitor_id"), Seq(col("ip_address"), col("country"))),
      s"dq_dim_visitor_$tag", Seq("visitor_id"), visitorContract)
    val factPath = s"${conf.silverPath}/fact-engagement"
    // dead-letter routing: rows with empty/null keys go to quarantine
    // WITH their failure reasons instead of silently vanishing. Both
    // sinks filter the tagged frame, a lazy cut: the silver write fills
    // it (one bronze scan + transform, no extra job), the quarantine
    // write reads it back, and the scope frees it.
    val (factSchema, reports) = Scratch.scoped {
      val factTagged = Quality.tagErrors(
        Transforms.factEngagement(
          Transforms.withMediaIdFromPath(rawVisitors), clock,
          dropNullKeys = false), // routed below, not dropped
        factRouteRules).scratchCheckpoint(eager = false)
      val (fact, factObs) = Quality.observedReport(
        factTagged.filter(col("_errors") === "").drop("_errors"),
        s"dq_fact_$tag", Seq("media_id", "visitor_id", "date"),
        factContract)
      val (factDead, factDeadObs) = Quality.observedReport(
        factTagged.filter(col("_errors") =!= ""),
        s"dq_fact_quarantine_$tag", Seq("media_id", "visitor_id"))

      // the dimension writes share nothing with the fact chain, so they
      // run on their own threads while this thread, which owns the
      // scope's cut, writes the fact and then its quarantine
      alongside("silver", 2, Seq(
          () => Sources.writeSilverParquet(dimMedia,
            s"${conf.silverPath}/dim-media"),
          () => Sources.writeSilverParquet(dimVisitor,
            s"${conf.silverPath}/dim-visitor"))) {
        // fact partitioned by date: partition pruning for every
        // downstream date-ranged query (100 TB posture, SURVEY §7.4.7)
        Sources.writeSilverParquet(fact, factPath,
          partitionCol = Some("date"))
        Sources.writeSilverParquet(factDead,
          s"${conf.silverPath}/_quarantine/fact-engagement")
      }

      // Every write above has returned and populated its observation;
      // .get is now a pure read of already-collected metrics.
      (fact.schema, Map(
        "dim_media" -> dimMediaObs.get,
        "dim_visitor" -> dimVisitorObs.get,
        "fact" -> factObs.get,
        "fact_quarantine" -> factDeadObs.get))
    }

    // the committed silver rows, read back lazily with the written
    // schemas: no job, and an empty silver dir still reads. The select
    // keeps the written column order (a partition column is read last).
    def silver(schema: StructType, path: String) =
      spark.read.schema(schema).parquet(path)
        .select(schema.fieldNames.map(col): _*)
    val fact = silver(factSchema, factPath)
    Result(silver(dimMedia.schema, s"${conf.silverPath}/dim-media"),
      silver(dimVisitor.schema, s"${conf.silverPath}/dim-visitor"),
      fact, Transforms.goldCastFact(fact), reports)
  }

  /** Full run: ingest → transform → run report. The report artifact
    * (`_run_report.json` next to the silver layer) carries the run
    * timestamp, ingest status, and every frame's observed DQ metrics —
    * the machine-readable replacement for the reference's eyeball-the-
    * notebook-output ops checklist (guide p.32). Each stage runs under
    * `Conf.stageTimeout` when set ([[StageTimedOut]]); stage failure
    * isolation matches the ADF `dependsOn Succeeded` chain — a failed
    * or timed-out ingest never starts transform. */
  def run(spark: SparkSession, conf: Conf, fetcher: Ingest.Fetcher,
          runTs: java.time.Instant = java.time.Instant.now())
  : Result = {
    val clean = timedStage(spark, "ingest", conf.stageTimeout)(
      ingest(spark, conf, fetcher, runTs))
    val res = timedStage(spark, "transform", conf.stageTimeout)(
      transform(spark, conf))
    graft.etl.RunReport.write(spark,
      s"${conf.silverPath}/_run_report.json", runTs.toString,
      if (clean) "success" else "ingest_dirty", res.qualityReports,
      contractRules)
    res
  }
}
