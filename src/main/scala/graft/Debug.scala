package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Developer CLI over the query registry, on the same [[Session]]
  * engine Bench and Verify run:
  *
  * {{{
  * scripts/run_class.sh graft.Debug show|values|explain|profile <query|all|a,b> [dir]
  * scripts/run_class.sh graft.Debug sql <dir> "<SQL>"
  * }}}
  *
  *  - `show`: the first 5 rows.
  *  - `values`: every row as a DuckDB VALUES tuple, for freezing oracles.
  *  - `explain`: the formatted physical plan, for scale-shape audits.
  *  - `profile`: per-JOB breakdown — the measurement tool the
  *    optimization guide's §1 empirical loop needs when the Spark UI is
  *    disabled: runs the query through the noop sink (after one untimed
  *    warm attempt) and prints every job's wall-clock, task time,
  *    shuffle bytes and description, so a multi-job query's cost
  *    attributes to its phases instead of one opaque total.
  *  - `sql`: registers the tables as views plus graft's SQL functions
  *    ([[Tables.registerViews]]) and runs one statement.
  *
  * `dir` defaults to `SPARK_GRAFT_SF_DIR`; the core count is
  * `SPARK_GRAFT_CPUS`, as for Bench and Verify. */
object Debug {

  private val Usage =
    "usage: graft.Debug show|values|explain|profile <query|all|a,b> [dir]\n" +
    "       graft.Debug sql <dir> \"<SQL>\""

  private def usage(why: String = ""): Nothing = {
    if (why.nonEmpty) System.err.println(why)
    System.err.println(Usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "sql" :: dir :: sql :: Nil =>
      withSession { spark =>
        Tables.registerViews(spark, dir)
        spark.sql(sql).show(50, truncate = false)
      }
    case (cmd @ ("show" | "values" | "explain" | "profile")) :: sel :: rest
        if rest.size <= 1 =>
      val dir = rest.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
        .getOrElse(usage("no dir given and SPARK_GRAFT_SF_DIR is unset"))
      val names = sel.split(",").toSet
      val qs = Queries.all.filter(q => sel == "all" || names(q.name))
      if (qs.isEmpty) usage(s"no registered query matches '$sel'")
      withSession { spark =>
        qs.foreach { q =>
          println(s"\n========== ${q.name} ==========")
          try cmd match {
            case "show"    => q.run(spark, dir).show(5, false)
            case "values"  => printValues(q.run(spark, dir))
            case "explain" => q.run(spark, dir).explain("formatted")
            case "profile" => profile(spark, q, dir)
          } catch { case e: Throwable =>
            System.err.println(s"[debug] ${q.name} failed: $e")
          }
        }
      }
    case _ => usage()
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = Session.local(Session.cpus())
    try body(spark) finally spark.stop()
  }

  /** Every row as a DuckDB VALUES tuple, for freezing oracles. */
  private def printValues(df: DataFrame): Unit = {
    val fields = df.schema.fields
    val rows = df.collect()
    rows.foreach { r =>
      val cells = fields.zipWithIndex.map { case (f, i) =>
        val v = r.get(i)
        f.dataType.typeName match {
          case "long"    => s"CAST($v AS BIGINT)"
          case "integer" => s"CAST($v AS INTEGER)"
          case "double"  => s"CAST('$v' AS DOUBLE)"
          case _         => s"'$v'"
        }
      }
      println(cells.mkString("      (", ", ", "),"))
    }
    println(s"-- ${rows.length} rows; cols: ${fields.map(_.name).mkString(", ")}")
  }

  private case class JobRec(id: Int, desc: String, started: Long,
                            var ended: Long = 0L)

  private def profile(spark: SparkSession, q: Queries.Q, dir: String)
  : Unit = {
    // warm: JIT, codegen cache, parquet footers — same as Bench's warmup
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Bench.drain(q.run(spark, dir))
    } catch { case e: Throwable =>
      System.err.println(s"[profile] warm attempt failed: $e") }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageTask = new java.util.concurrent.atomic.AtomicLong()
    val stageLines =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, JobRec(e.jobId,
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.ended = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted)
      : Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stageTask.addAndGet(m.executorRunTime)
        stageLines.add(
          f"    stage ${i.stageId}%4d ${i.numTasks}%5d tasks " +
          f"run=${m.executorRunTime / 1e3}%8.2fs " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%9.1fMB " +
          s"[${i.name.takeWhile(_ != '\n').take(90)}]")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val row = Bench.timeAttempts(q.name, 1)(Bench.drain(q.run(spark, dir)))
    // The listener bus delivers events ASYNCHRONOUSLY: removing the
    // listener the instant the action returns can drop trailing
    // onStageCompleted/onJobEnd events (missing stage lines, jobs
    // printed with ended=0 — round-17 advice). Poll until every
    // recorded job has ended, bounded at 2 s.
    import scala.jdk.CollectionConverters._
    val deadline = System.nanoTime() + 2_000_000_000L
    while (jobs.values().asScala.exists(_.ended == 0L) &&
           System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)

    val recs = jobs.values().asScala.toSeq.sortBy(_.id)
    val wall = if (row.ok) f"${row.min}%.3f s wall" else "FAILED"
    println(f"=== ${q.name}: $wall, ${recs.size} jobs, " +
      f"task-time ${stageTask.get() / 1e3}%.1f s ===")
    recs.foreach { r =>
      val dur = // a job the bus never closed prints as unknown, not negative
        if (r.ended == 0L) "       ?"
        else f"${(r.ended - r.started) / 1e3}%8.3f"
      println(f"  job ${r.id}%4d $dur%ss  ${r.desc.take(100)}%s")
    }
    println("  --- stages ---")
    stageLines.asScala.foreach(println)
  }
}
