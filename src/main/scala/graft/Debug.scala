package graft

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
  *    disabled: after one untimed warm attempt, runs the query through
  *    the noop sink `SPARK_GRAFT_REPEATS` times (default 3), each
  *    attempt under its own [[Ledger.measure]], and prints the fastest
  *    attempt's jobs (wall-clock, description) and stages (tasks, task
  *    time, shuffle and input bytes) with the min and max wall, so a
  *    multi-job query's cost attributes to its phases instead of one
  *    opaque total, and one noisy attempt cannot rank a row.
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

  private def profile(spark: SparkSession, q: Queries.Q, dir: String)
  : Unit = {
    // warm: JIT, codegen cache, parquet footers — same as Bench's warmup
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Bench.drain(q.name, q.run(spark, dir))
    } catch { case e: Throwable =>
      System.err.println(s"[profile] warm attempt failed: $e") }

    val attempts = (1 to Bench.repeats()).map { _ =>
      Ledger.measure(spark) {
        Bench.timeAttempts(q.name, 1)(Bench.drain(q.name, q.run(spark, dir)))
      }
    }
    val walls = attempts.collect { case (row, _) if row.ok => row.min }
    val (_, costs) = attempts.minBy { case (row, _) =>
      if (row.ok) row.min else Double.MaxValue }
    val wall =
      if (walls.isEmpty) "FAILED"
      else f"${walls.min}%.3f s wall (max ${walls.max}%.3f s of " +
        s"${walls.size})"
    println(f"=== ${q.name}: $wall, ${costs.jobs.size} jobs, " +
      f"task-time ${costs.taskMs / 1e3}%.1f s ===")
    costs.jobs.foreach { j =>
      println(f"  job ${j.id}%4d ${j.seconds}%8.3fs  " +
        j.description.take(160))
    }
    println("  --- stages ---")
    costs.stages.foreach { st =>
      println(
        f"    stage ${st.id}%4d ${st.tasks}%5d tasks " +
        f"run=${st.runMs / 1e3}%8.2fs " +
        f"shufR=${st.shuffleReadBytes / 1e6}%9.1fMB " +
        f"shufW=${st.shuffleWriteBytes / 1e6}%9.1fMB " +
        f"in=${st.inputBytes / 1e6}%9.1fMB " +
        s"[${st.name.takeWhile(_ != '\n').take(90)}]")
    }
  }
}
