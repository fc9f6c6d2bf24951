package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * The three silver writes are independent jobs — Spark schedules them
  * concurrently when issued from separate threads; at this volume
  * sequential writes are indistinguishable, so they stay sequential
  * and simple.
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
    new InheritableThreadLocal[java.util.concurrent.atomic.AtomicBoolean]()

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
    new InheritableThreadLocal[java.util.concurrent.atomic.AtomicBoolean]()

  /** Called by a stage's cleanup path (worker thread) just before it
    * starts sweeping; no-op outside a budgeted stage. */
  private[graft] def enterStageCleanup(): Unit = {
    val f = cleanupFlag.get
    if (f != null) f.set(true)
  }

  private def timedStage[T](spark: SparkSession, stage: String,
      budget: Option[scala.concurrent.duration.FiniteDuration])
      (body: => T): T = budget match {
    case None => body
    case Some(b) =>
      val group = s"graft-pipeline-$stage-${System.nanoTime()}"
      val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val flag = new java.util.concurrent.atomic.AtomicBoolean(false)
      val inCleanup = new java.util.concurrent.atomic.AtomicBoolean(false)
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

  /** `qualityReports` are MATERIALIZED metric maps (frame name →
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
    var clean = true
    var aborted = true // set false only when the loop exits normally
    val written = scala.collection.mutable.ArrayBuffer[String]()
    try {
      conf.mediaIds.foreach { id =>
        // abandon fence: a budgeted stage past its deadline must stop
        // producing side effects — the caller has already thrown
        // StageTimedOut and the orchestrator may be retrying
        if (stageAbandoned) clean = false
        else try {
          val media = Ingest.fetchAllPages(fetcher, id, "media",
            sleep = conf.retrySleep)
          if (media.nonEmpty && !stageAbandoned) {
            val p = s"${conf.rawPath}/media/${id}_$stamp"
            Ingest.writeBronzeJson(spark, media, p, Schemas.rawMedia)
            written += p
          }
          val visitors = Ingest.fetchAllPages(fetcher, id, "visitors",
            since = Some(since), sleep = conf.retrySleep)
          if (visitors.nonEmpty && !stageAbandoned) {
            val p = s"${conf.rawPath}/visitors/${id}_$stamp"
            Ingest.writeBronzeJson(spark, visitors, p, Schemas.rawVisitor)
            written += p
          }
        } catch {
          case _: Ingest.RetriesExhausted => clean = false
        }
      }
      aborted = false
    } finally {
      // The cleanup-or-commit decision MUST run even when the loop
      // dies on an unexpected throwable (the reaper's interrupt, a
      // group-cancelled write's SparkException): dirs already written
      // this run would otherwise survive under the old stamp while
      // the watermark held, and the retry's new stamp would make
      // transform aggregate those events twice. The fence guards the
      // COMMIT for the same reason: a zombie ingest that advanced the
      // watermark after its orchestrator retried would permanently
      // skip the retried window.
      if (!aborted && clean && !stageAbandoned)
        Ingest.commitWatermark(spark, metaPath, runTs.toString)
      else {
        // tell the reaper to stop interrupting — from here on an
        // interrupt can only kill the sweep it is trying to protect
        Pipeline.enterStageCleanup()
        written.foreach { p =>
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
    !aborted && clean && !stageAbandoned
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
    // dead-letter routing: rows with empty/null keys go to quarantine
    // WITH their failure reasons instead of silently vanishing. The
    // tagged frame is cached because both sinks (silver valid side,
    // quarantine side) filter it — one evaluation of the whole bronze
    // scan + transform, then two cheap filtered writes.
    val factTagged = Quality.tagErrors(
      Transforms.factEngagement(
        Transforms.withMediaIdFromPath(rawVisitors), clock,
        dropNullKeys = false), // routed below, not dropped
      factRouteRules).cache()
    val (fact, factObs) = Quality.observedReport(
      factTagged.filter(col("_errors") === "").drop("_errors"),
      s"dq_fact_$tag", Seq("media_id", "visitor_id", "date"),
      factContract)
    val (factDead, factDeadObs) = Quality.observedReport(
      factTagged.filter(col("_errors") =!= ""),
      s"dq_fact_quarantine_$tag", Seq("media_id", "visitor_id"))
    val dimMediaC = dimMedia.cache()
    val dimVisitorC = dimVisitor.cache()

    Sources.writeSilverParquet(dimMediaC, s"${conf.silverPath}/dim-media")
    Sources.writeSilverParquet(dimVisitorC,
      s"${conf.silverPath}/dim-visitor")
    // fact partitioned by date: partition pruning for every downstream
    // date-ranged query (100 TB posture, SURVEY §7.4.7)
    Sources.writeSilverParquet(fact, s"${conf.silverPath}/fact-engagement",
      partitionCol = Some("date"))
    Sources.writeSilverParquet(factDead,
      s"${conf.silverPath}/_quarantine/fact-engagement")

    // The writes above are the actions that populated the observations;
    // .get is now a pure read of already-collected metrics.
    val reports = Map(
      "dim_media" -> dimMediaObs.get,
      "dim_visitor" -> dimVisitorObs.get,
      "fact" -> factObs.get,
      "fact_quarantine" -> factDeadObs.get)

    Result(dimMediaC, dimVisitorC, fact, Transforms.goldCastFact(fact),
      reports)
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
