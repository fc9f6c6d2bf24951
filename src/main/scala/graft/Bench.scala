package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, forcing FULL materialization of every output
  * column via the noop sink (a bare `count()` would let Catalyst prune
  * the computed columns and benchmark an empty projection).
  * Prints exactly one JSON line with per-query seconds.
  *
  * Each query is timed as the MIN of `SPARK_GRAFT_REPEATS` runs
  * (default 3) with a GC + settle before every timed attempt. A
  * single-pass timing in a one-JVM 100-query run is position-dependent
  * — accumulated heap pressure lands full GCs on whichever
  * allocation-heavy query runs late (SCALE.md measured the same query
  * at 3.2 s standalone and 42 s late in a run). Min-of-N with a clean
  * heap is the standard JVM microbenchmark answer: the min is the run
  * the GC didn't interrupt, so per-query numbers compare across rounds
  * and against standalone `SPARK_GRAFT_ONLY` runs.
  *
  * `SPARK_GRAFT_ONLY=name1,name2` restricts the run to a subset —
  * for targeted scale rehearsals of the heavy queries (unset = all).
  */
object Bench {

  /** Fixed row count for the `_canary_host` calibration row — sized so
    * the row reads ~0.5–1 s at the canonical local[32] invocation:
    * long enough that CPU contention (the host-noise signal) dominates
    * job-launch overhead, short enough to be free in the total. Never
    * change this without re-anchoring prior rounds' canary readings. */
  private val CanaryRows = 3200000000L

  /** Fixed row count for the `_canary_io` calibration row — a
    * shuffle + parquet write/read round-trip of a synthetic frame
    * (~0.3 GB through the shuffle at 80 B/row), reading ~1 s at the
    * canonical local[32] invocation (job-launch + file IO dominate;
    * the bytes keep it honest about the memory/disk channel). The CPU canary
    * reads "quiet" under memory-bandwidth or disk contention (round
    * 14: suite +25%, CPU canary 0.77×) — this row moves with the
    * memory/IO channel instead. Never change without re-anchoring. */
  private val CanaryIoRows = 4000000L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus()
    val repeats = Bench.repeats()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    val spark = Session.local(cpus)
    // Warmup: JIT + codegen + parquet footer/file-listing caches, so
    // per-query timings measure the queries, not first-touch JVM costs.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Queries.all.find(_.name == "limit_sample")
        .foreach(_.run(spark, sfDir).collect())
      Queries.all.find(_.name == "kpi_total_plays")
        .foreach(_.run(spark, sfDir).collect())
      // touch every table once so the first query against each measures
      // the query, not footer reads + page-cache misses
      Seq("part", "customer", "documents", "embeddings", "lineitem",
        "orders").foreach { tbl =>
        spark.read.parquet(s"$sfDir/$tbl.parquet").count()
      }
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_PRESTAGE=name1,name2 — run the named queries ONCE,
    // untimed, before any timing starts. The min-of-3 protocol already
    // keeps one-time artifact builds (Scratch.memo) out of a
    // row's min, but single-attempt rehearsal tiers (REPEATS=1 at
    // 1000x) have no second attempt: without prestaging, a serve row's
    // only attempt pays the build and the tier records the build cost
    // under the serve row's name (SCALE.md round-13: graph_hits_serve
    // 99.2 s at 1000x was ~all one-time trade_w build). Rehearsals
    // prestage the serve rows so their timed attempt measures what the
    // row names; builds are priced by their own rows.
    sys.env.get("SPARK_GRAFT_PRESTAGE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
      .foreach { name =>
        Queries.all.find(_.name == name).foreach { q =>
          val t0 = System.nanoTime()
          try {
            drain(q.run(spark, sfDir))
            // stderr, not the artifact: the untimed staging pass IS the
            // build cost — rehearsal logs record it as its own line
            System.err.println(f"[bench] prestage $name: " +
              f"${(System.nanoTime() - t0) / 1e9}%.3f s")
          } catch { case e: Throwable =>
            System.err.println(s"[bench] prestage $name failed: $e")
          }
        }
      }
    val results = Queries.all.filter(q => wanted(q.name))
      .map(q => timeAttempts(q.name, repeats)(drain(q.run(spark, sfDir))))
    // pipeline_e2e: entry point A (ingest → silver → gold) over a
    // canned deterministic fetcher and a throwaway temp root — a
    // WALL-CLOCK orchestration row (no oracle; the semantics are
    // PipelineSpec's), so a regression in the run's job count or an
    // accidental extra action in the observe path shows up in the
    // artifact like any query regression would.
    val pipelineRow =
      if (wanted("pipeline_e2e"))
        Seq(timeAttempts("pipeline_e2e", repeats)(runPipelineE2e(spark)))
      else Nil
    // Calibration rows: FIXED data-independent computations present in
    // every artifact so host-condition skew (the BASELINE.md step-5
    // "everything regressed, nothing changed" signature) is readable
    // from the artifact alone. Two legs because contention has two
    // channels a suite can feel independently:
    //  - _canary_host: pure codegen CPU over a synthetic range (no
    //    I/O, no data, no plan to regress) — co-tenant CPU load moves
    //    it, a real plan regression leaves it flat.
    //  - _canary_io: a shuffle + parquet write/read round-trip of a
    //    fixed synthetic frame — memory-bandwidth/disk contention
    //    moves it while the CPU leg stays quiet (round 14's lesson:
    //    the suite skewed +25% with the CPU canary QUIETER than its
    //    anchor, so the skew's channel was invisible to the artifact).
    // scripts/bench_compare.py leads its adjudication with both; both
    // are EXCLUDED from the headline total (BenchFormat drops `_` rows
    // from `value`/`n_queries`, so totals compare across rounds and
    // core counts without carrying calibration cost). Skipped when
    // SPARK_GRAFT_ONLY targets a row subset that doesn't name them —
    // a single-query debug run at CPUS=4 shouldn't pay seconds of
    // canary per invocation.
    def calibrationRow(name: String)(body: => Unit): Option[BenchFormat.Row] =
      if (wanted(name)) Some(timeAttempts(name, repeats)(body)) else None
    val canaryRows = Seq(
      calibrationRow("_canary_host") {
        // bit_xor, not sum: ANSI mode would overflow a 3.2B-long sum
        spark.range(0L, CanaryRows, 1L, cpus)
          .selectExpr("bit_xor(xxhash64(id)) as h").collect()
      },
      calibrationRow("_canary_io") {
        Scratch.withTempDir("graft_canary_io") { dir =>
          // md5 hex payload widens rows to ~80 B so the round-trip
          // moves real bytes: full shuffle (hash repartition), parquet
          // encode + fsync, then a scan + hash back. Deterministic.
          spark.range(0L, CanaryIoRows, 1L, cpus)
            .selectExpr("id", "md5(cast(id as string)) as payload")
            .repartition(cpus, org.apache.spark.sql.functions.col("id"))
            .write.mode("overwrite").parquet(dir)
          spark.read.parquet(dir)
            .selectExpr("bit_xor(xxhash64(id, payload)) as h").collect()
        }
      }).flatten
    val allResults = canaryRows ++ results ++ pipelineRow
    // Data fingerprint (full runs only — a targeted debug run skips
    // the ~10 table scans): per-table row count + order-independent
    // content hash, recorded in the artifact so the NEXT round's
    // adjudication can separate "the box changed" from "the driver
    // regenerated the testdata" mechanically — the distinction this
    // round needed a cross-code control experiment to make (see
    // SCALE.md round 15). Untimed; runs after all timings complete so
    // the scans cannot disturb any query's attempts.
    val tablesJson = BenchFormat.tablesMap(
      if (only.isDefined) Nil
      else Tables.names.flatMap { n =>
        try {
          val df = Tables.load(spark, sfDir, n)
          val cols = df.columns.map(c => s"`$c`").mkString(",")
          // TWO commutative reducers per table: bit_xor alone is
          // multiplicity-blind (identical rows XOR-cancel in pairs —
          // round-15 advice), so the sum-mod-2^64 leg travels with it;
          // fabricating a collision now needs the same count, xor AND
          // sum. decimal(38,0) sum cannot overflow (2^63 x row count
          // << 10^38), which keeps ANSI mode happy.
          val r = df.selectExpr("count(1) as c",
            s"bit_xor(xxhash64($cols)) as h",
            s"sum(cast(xxhash64($cols) as decimal(38,0))) as s").head()
          val sumMod = Option(r.getDecimal(2))
            .map(d => d.toBigInteger.mod(
              java.math.BigInteger.ONE.shiftLeft(64)))
            .getOrElse(java.math.BigInteger.ZERO)
          Some(BenchFormat.TableFp(n, r.getLong(0),
            f"${r.getLong(1)}%016x", f"$sumMod%016x"))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] fingerprint $n failed: $e")
          None
        }
      })
    // fullLine FIRST: the headline checksums the exact bytes the full
    // artifact gets (newline included), so a judge can verify the
    // committed BENCH_full.json against the driver's stdout.
    val fullLine = BenchFormat.fullLine(sfDir, allResults, tablesJson) + "\n"
    val headline = BenchFormat.headline(sfDir, allResults,
      BenchFormat.sha256Hex(fullLine), tablesJson)
    println(headline)
    // Targeted SPARK_GRAFT_ONLY runs (rehearsals, single-query checks)
    // must NOT clobber the full-registry artifact; they only write
    // when an explicit SPARK_GRAFT_BENCH_OUT asks for it.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("/root/repo/BENCH_full.json")
              else None)
    outFile.foreach { f =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f), fullLine)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: $e")
      }
    }
    spark.stop()
  }

  /** `SPARK_GRAFT_REPEATS`: timed attempts per row (default 3). */
  private[graft] def repeats(env: collection.Map[String, String] = sys.env)
  : Int = Session.positiveInt(env, "SPARK_GRAFT_REPEATS", 3)

  /** Full materialization of every output column through the noop
    * sink — a bare `count()` would let Catalyst prune the computed
    * columns and time an empty projection. */
  private[graft] def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The one attempt timer (bench rows, canaries, `Debug profile`,
    * `Microbench`): `repeats` attempts of `body`, each after a GC +
    * settle that drains garbage from the PREVIOUS attempt so its
    * collection cost cannot land inside this timing window.
    *
    * A thrown attempt contributes NO wall-clock: folding a partial
    * run's time into min/max would let a failure masquerade as a
    * speedup (min) or noise (max). It is counted on the row's `errs`
    * field instead — the artifact schema makes failure visible, never
    * averaged (round-11 verdict item 1). The failure prints its full
    * toString (class + message): a bare getMessage hid the exception
    * CLASS and cost a root-cause session. */
  private[graft] def timeAttempts(name: String, repeats: Int)(body: => Unit)
  : BenchFormat.Row = {
    val attempts = (1 to repeats).map { _ =>
      System.gc()
      Thread.sleep(100)
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name attempt failed: $e")
        None
      }
    }
    BenchFormat.Row(name, attempts.flatten, attempts.count(_.isEmpty))
  }

  /** One deterministic entry-point-A run: 8 media ids × 3 visitor
    * pages × 8 events through a canned in-memory fetcher into a
    * throwaway root (deleted after) — fixed input, fixed clock, fixed
    * run stamp, so the row's wall-clock tracks ORCHESTRATION cost
    * (bronze write count, transform glob, observe pass, report write)
    * and nothing else. */
  private def runPipelineE2e(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    Scratch.withTempDir("graft_bench_pipe") { root =>
      val fetcher = new graft.ingest.Ingest.Fetcher {
        def fetchPage(id: String, endpoint: String, page: Int,
                      since: Option[String]): Option[String] =
          if (endpoint == "media") {
            if (page > 1) None
            else Some(s"""{"hashed_id":"$id","name":"Video $id on YouTube","created":1700000000}""")
          } else if (page > 3) None
          else {
            val events = (0 until 8).map(k =>
              s"""{"type":"${if (k % 2 == 0) "play" else "end"}",""" +
                s""""time":${1700000000 + page * 1000 + k},""" +
                s""""duration_watched":"${k + 1}",""" +
                s""""percent_watched":"${10 * (k + 1)}"}""")
              .mkString("[", ",", "]")
            Some(s"""{"visitor_key":"vis_${id}_$page","ip_address":"9.9.9.9","country":"DE","events":$events}""")
          }
      }
      val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
        mediaIds = (1 to 8).map(i => f"vid$i%03d"),
        clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
      val res = Pipeline.run(spark, conf, fetcher,
        java.time.Instant.parse("2024-06-01T00:00:00Z"))
      // run() materializes silver + the observe metrics; the gold cast
      // is returned lazy — force it so the row covers the full DAG
      drain(res.goldFact)
    }
  }
}
