package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one owner of "what did this code cost in Spark work".
  * [[measure]] books every job its body launches, with their stages
  * and task metrics, and nothing else that runs on the context.
  *
  * Attribution is by a local property, as in perfbench's span ledger:
  * the calling thread carries a unique `graft.ledger` value while the
  * body runs, every job it launches (AQE's stage sub-jobs and
  * broadcast jobs included, which capture the caller's properties)
  * carries the value in its start event, and each stage of a booked
  * job is booked with it. Read volume comes from the tasks' own
  * metrics: input records are the rows the scans read, output records
  * the rows a file sink wrote (0 for the noop sink), so no plan walk
  * is needed and AQE hides nothing.
  *
  * A job's description is its `spark.job.description` when the code
  * set one, else the description of the SQL execution it ran under
  * (the action's call site, e.g. `save at Bench.scala:40`), so AQE's
  * stage sub-jobs and broadcast jobs name the action they serve, else
  * (a job outside any SQL execution, like a read's schema inference)
  * its result stage's name, which is its call site. It is never empty
  * and always one line: a streaming batch's multi-line description is
  * joined with spaces.
  *
  * A thread the body constructs inherits the property, so its jobs
  * are booked too. A measured scope bounds memory: the listener lives
  * for one call. A nested [[measure]] books its jobs to itself only. */
object Ledger {

  /** One booked job. `endMs` is -1 only for a job still running when
    * the measure gave up waiting for it (a body that returned with its
    * job still in flight). */
  final case class Job(id: Int, startMs: Long, endMs: Long,
                       description: String, stageNames: Seq[String],
                       failed: Boolean) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** One completed stage (attempt) of a booked job, from the stage's
    * aggregated task metrics. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         gcMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long,
                         inputBytes: Long, outputBytes: Long,
                         inputRecords: Long, outputRecords: Long)

  /** What one body cost: its jobs in id order, its completed stages in
    * completion order, and totals over those stages. */
  final case class Costs(jobs: Seq[Job], stages: Seq[Stage]) {
    def failedJobs: Seq[Job] = jobs.filter(_.failed)
    def taskMs: Long = stages.map(_.runMs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def outputBytes: Long = stages.map(_.outputBytes).sum
    /** Rows the scans read, after file and row-group pruning. */
    def scanRows: Long = stages.map(_.inputRecords).sum
    /** Rows written to file sinks. */
    def rowsWritten: Long = stages.map(_.outputRecords).sum
  }

  private val Prop = "graft.ledger"
  private val scopes = new AtomicLong
  private val SettleMs = 10000L

  /** Run `body` and book what its jobs cost. A body that throws
    * propagates its exception after the booking is torn down; wrap it
    * in a `Try` to keep the costs of a failing action. */
  def measure[T](spark: SparkSession)(body: => T): (T, Costs) = {
    val sc = spark.sparkContext
    val book = new Book(scopes.incrementAndGet().toString)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, book.token)
    sc.addSparkListener(book)
    val result =
      try body
      finally {
        try book.settle(sc)
        finally {
          sc.removeSparkListener(book)
          sc.setLocalProperty(Prop, prev)
        }
      }
    (result, book.costs)
  }

  private final class Book(val token: String) extends SparkListener {
    private val jobs = mutable.Map[Int, Job]()
    private val jobStages = mutable.Set[Int]()
    private val stages = mutable.ArrayBuffer[Stage]()
    private val executions = mutable.Map[String, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executions(x.executionId.toString) = x.description
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(Prop) == token)) {
        def prop(k: String) =
          props.flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
        jobStages ++= e.stageIds
        // the result stage (the job's last-created, highest id) is
        // named by the job's call site
        val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name)
        val description = Seq(prop("spark.job.description"),
          prop(SQLExecution.EXECUTION_ID_KEY).flatMap(executions.get),
          callSite).flatten.map(oneLine).find(_.nonEmpty).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, e.time, -1L, description,
          e.stageInfos.map(_.name), failed = false)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) =
          j.copy(endMs = e.time, failed = e.jobResult != JobSucceeded)
        notifyAll()
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        if (jobStages(e.stageInfo.stageId)) stages += stage(e.stageInfo)
      }

    /** Deliver every event posted so far, then wait until every
      * booked job has ended. Spark hands a failed action's exception
      * to the caller BEFORE it posts the job's end event
      * (`DAGScheduler.failJobAndIndependentStages`), so a drained bus
      * can still lack that one event; the wait is bounded. */
    def settle(sc: SparkContext): Unit = {
      ListenerBridge.drain(sc, SettleMs)
      synchronized {
        val deadline = System.nanoTime() + SettleMs * 1000000L
        while (jobs.values.exists(_.endMs < 0) &&
               System.nanoTime() < deadline)
          wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      }
    }

    def costs: Costs = synchronized {
      Costs(jobs.values.toSeq.sortBy(_.id), stages.toList)
    }
  }

  /** A description on one line: a streaming batch's
    * `"\nid = …\nrunId = …\nbatch = 0"` becomes
    * `"id = … runId = … batch = 0"`. */
  private def oneLine(d: String): String =
    d.split('\n').map(_.trim).filter(_.nonEmpty).mkString(" ")

  private def stage(i: StageInfo): Stage = {
    val m = i.taskMetrics
    Stage(i.stageId, i.name, i.numTasks, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten)
  }
}
