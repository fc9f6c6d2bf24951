package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final class Counts {
  val jobs, stages, tasks, taskNanos, gcNanos, shuffleBytes, spillBytes,
    inputBytes, outputBytes = new AtomicLong()
}

/** One timed call of a layer: id, parent, name, start and end (nanos
  * since the run's origin) and the Spark work its jobs did. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      var end: Long, counts: Counts,
                      extra: scala.collection.mutable.Map[String, Double])

/** The benchmark's span ledger. Spans live in memory and are written
  * out once, when the run ends.
  *
  * With tracing on, a [[SparkListener]] attributes jobs, stages, tasks
  * and bytes to the span that launched them: the harness sets the
  * `perfbench.span` local property around each call, the job-start
  * event carries it, and each stage and task of that job is booked to
  * the same span. With tracing off no listener is registered and spans
  * only carry wall time. */
final class Ledger(sc: SparkContext, val traced: Boolean) {

  private val Prop = "perfbench.span"
  private val origin = System.nanoTime()
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Counts]()
  private var current = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.flatMap(i => Option(byId.get(i.toInt))).foreach { c =>
        c.jobs.incrementAndGet()
        e.stageInfos.foreach(s => stageSpan.put(s.stageId, c))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId))
        .foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.taskNanos.addAndGet(m.executorRunTime * 1000000L)
          c.gcNanos.addAndGet(m.jvmGCTime * 1000000L)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }
  if (traced) sc.addSparkListener(listener)

  def now: Long = System.nanoTime() - origin

  /** Time `body` as span `name` under the current span. */
  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = synchronized {
      val s = Span(spans.size + 1, parent, name, now, -1L, new Counts,
        scala.collection.mutable.Map.empty)
      spans += s
      s
    }
    byId.put(s.id, s.counts)
    val prevProp = sc.getLocalProperty(Prop)
    if (traced) sc.setLocalProperty(Prop, s.id.toString)
    current = s.id
    try body
    finally {
      s.end = now
      current = parent
      if (traced) sc.setLocalProperty(Prop, prevProp)
    }
  }

  /** Attach a benchmark-side count to the innermost open span. */
  def note(key: String, value: Double): Unit = synchronized {
    spans.find(_.id == current).foreach(s =>
      s.extra(key) = s.extra.getOrElse(key, 0.0) + value)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.perfbench.Bus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans below `root` (transitively), root excluded. */
  def descendants(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => k +: go(k.id))
    go(root.id)
  }

  def close(): Unit = if (traced) { drain(); sc.removeSparkListener(listener) }

  /** Every span as one JSON document. */
  def toJson: String = all.map { s =>
    val c = s.counts
    val extra = s.extra.toSeq.sortBy(_._1)
      .map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},""" +
      s""""stages":${c.stages},"tasks":${c.tasks},""" +
      s""""task_ns":${c.taskNanos},"gc_ns":${c.gcNanos},""" +
      s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
      s""""input_bytes":${c.inputBytes},"output_bytes":${c.outputBytes}$extra}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
