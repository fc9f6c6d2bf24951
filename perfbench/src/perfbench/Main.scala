package perfbench

import java.time.Instant

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one Spark session at
  * `local[cpus]`, a closed loop with one client.
  *
  *   set-up  session, inputs, warm-up (not timed)
  *   timed   passes until `--seconds` have elapsed (at least one pass)
  *   after   peak RSS, host canaries, then the result and span files
  *
  * `perfbench/run.py` builds the classes, launches this main and turns
  * the result file into the benchmark's output. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        traced: Boolean, cpus: Int, root: String, data: String,
                        expected: String, result: String, spans: String,
                        launchMs: Long, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("cpus").toInt, get("root"), get("data"),
      get("expected"), get("result"), get("spans"), get("launch-ms").toLong,
      m.get("record").contains("1"))
  }

  def session(cpus: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LogNoise.suppressKnownBenign()
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    def since = (System.currentTimeMillis() - a.launchMs) / 1e3
    val spark = session(a.cpus, a.root)
    val sessionS = since
    val ledger = new Ledger(spark.sparkContext, a.traced)
    val wl: Workload = a.workload match {
      case "incremental" => new Incremental(spark, ledger, a)
      case "query_mix" => new QueryMixWorkload(spark, ledger, a)
      case other => sys.error(s"unknown workload '$other'")
    }
    wl.setUp()
    spark.catalog.clearCache()
    System.gc()
    val firstOp = System.currentTimeMillis()
    val setupS = (firstOp - a.launchMs) / 1e3

    val steal0 = Jvm.stealSeconds()
    val timedStart = System.nanoTime()
    val deadline = timedStart + a.seconds * 1000000000L
    val passes = scala.collection.mutable.ArrayBuffer[Span]()
    var attempted = 0
    var failed = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    while (passes.isEmpty || System.nanoTime() < deadline) {
      wl.ready()
      val gc0 = Jvm.gcNanos()
      val cpu0 = Jvm.cpuNanos()
      val check = ledger.span("pass") {
        val c = wl.pass()
        ledger.note("gc_ns", (Jvm.gcNanos() - gc0).toDouble)
        ledger.note("cpu_ns", (Jvm.cpuNanos() - cpu0).toDouble)
        c
      }
      passes += ledger.all.filter(_.name == "pass").last
      val outcome = check()
      attempted += outcome.attempted
      failed += outcome.failed
      failures ++= outcome.wrong
    }
    val timedEnd = System.nanoTime()
    val steal = Jvm.stealSeconds() - steal0
    val peakRss = Jvm.peakRssMb()
    wl.close()
    ledger.drain()

    val canaryCpu = Canary.cpu(spark, a.cpus)
    val canaryIo = Canary.io(spark, a.cpus, s"${a.root}/canary-io")
    ledger.close()

    val perUnit = passes.flatMap(p => wl.units(ledger, p)).map(Layers.of(ledger, _)).toSeq
    val opLat = passes.flatMap(p => wl.ops(ledger, p).map(s => (s.end - s.start) / 1e9)).toSeq
    val passLat = passes.map(p => (p.end - p.start) / 1e9).toSeq
    val layers = Layers.keys.map(k => k -> median(perUnit.map(_.getOrElse(k, 0.0)))).toMap ++
      Map("host.canary_cpu_s" -> canaryCpu, "host.canary_io_s" -> canaryIo,
        "host.steal_s" -> steal)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> median(opLat),
      "pass_s" -> median(passLat),
      "cpu_s" -> median(passes.map(_.extra("cpu_ns") / 1e9).toSeq),
      "peak_rss_mb" -> peakRss)
    val info = wl.namedMetrics(opLat, passLat) ++ Map("session_s" -> sessionS,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "ops" -> opLat.size.toDouble, "passes" -> passLat.size.toDouble,
      "timed_s" -> (timedEnd - timedStart) / 1e9)
    failures.distinct.take(20).foreach(f => System.err.println(s"[perfbench] wrong: $f"))

    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"workload":"${a.workload}","seed":${a.seed},"trace":${if (a.traced) 1 else 0},""" +
        s""""cpus":${a.cpus},"attempted":$attempted,"failed":$failed,""" +
        s""""e2e":${obj(e2e)},"layers":${obj(layers)},"info":${obj(info)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.spans), ledger.toJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result), json + "\n")
    spark.stop()
  }
}

/** `failed` operations of `attempted`, and what was wrong with them. */
final case class PassOutcome(attempted: Int, failed: Int, wrong: Seq[String])

object PassOutcome {
  /** Runs each op, catching its failure; an op fails on any wrong answer. */
  def of(ops: Seq[() => Seq[String]]): PassOutcome = {
    val results = ops.map(op =>
      try op() catch { case e: Throwable => Seq(e.toString) })
    PassOutcome(results.size, results.count(_.nonEmpty), results.flatten)
  }
}

/** A workload: a set-up with its warm-up, and timed passes. Only the
  * program's calls run inside a pass: the next pass's inputs are made
  * by `ready`, and a pass returns the check of its answers, which runs
  * after the pass's time and CPU are read. `ops` are the spans whose
  * latency the workload reports; `units` are the spans its per-layer
  * metrics are medians over. */
trait Workload {
  def setUp(): Unit
  def ready(): Unit = ()
  def pass(): () => PassOutcome
  def close(): Unit = ()
  def ops(ledger: Ledger, pass: Span): Seq[Span]
  def units(ledger: Ledger, pass: Span): Seq[Span]
  /** The workload's latencies under their own names, printed but not
    * gated. */
  def namedMetrics(opLat: Seq[Double], passLat: Seq[Double]): Map[String, Double]
}

/** Fixed host computations, recorded with every run so that box noise
  * can be told apart from a change: the two calibration rows of
  * `graft.Bench`, sized per core so they read about a second at any
  * `local[n]`. */
object Canary {
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def cpu(spark: SparkSession, cpus: Int): Double = timed {
    spark.range(0L, 50000000L * cpus, 1L, cpus)
      .selectExpr("bit_xor(xxhash64(id)) as h").collect()
  }

  def io(spark: SparkSession, cpus: Int, dir: String): Double = try timed {
    spark.range(0L, 10000L * cpus, 1L, cpus)
      .selectExpr("id", "md5(cast(id as string)) as payload")
      .repartition(cpus, org.apache.spark.sql.functions.col("id"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).selectExpr("bit_xor(xxhash64(id, payload)) as h").collect()
  } finally Jvm.deleteTree(dir)
}

/** Per-layer metrics of one unit span (a pipeline refresh or a query
  * pass). A layer's Spark counts are those of its span's subtree. */
object Layers {
  val keys: Seq[String] = Seq(
    "ingest.s", "ingest.fetch_s", "ingest.bronze_s", "ingest.requests",
    "ingest.response_bytes", "ingest.bronze_dirs", "ingest.jobs",
    "silver.s", "silver.jobs", "silver.tasks", "silver.task_s",
    "silver.shuffle_bytes", "silver.spill_bytes", "silver.input_bytes",
    "silver.output_bytes", "silver.bronze_dirs_read", "silver.events_in",
    "silver.fact_rows",
    "gold.s", "gold.rows", "gold.jobs",
    "report.s",
    "kpi.s", "kpi.plan_s", "kpi.exec_s", "kpi.jobs") ++
    QueryMix.families.map(f => s"query.$f.s") ++ Seq(
    "query.plan_s", "query.exec_s", "query.jobs", "query.stages",
    "query.tasks", "query.task_s", "query.shuffle_bytes", "query.spill_bytes",
    "query.input_bytes",
    "jvm.gc_s")

  private def dur(s: Span) = (s.end - s.start) / 1e9

  private def sum(spans: Seq[Span])(f: Counts => Long): Double =
    spans.map(s => f(s.counts)).sum.toDouble

  def of(ledger: Ledger, unit: Span): Map[String, Double] = {
    val below = ledger.descendants(unit)
    def named(n: String) = below.filter(_.name == n)
    def tree(n: String) = named(n).flatMap(s => s +: ledger.descendants(s))
    def extra(n: String, k: String) = named(n).map(_.extra.getOrElse(k, 0.0)).sum
    val out = scala.collection.mutable.Map[String, Double]()
    def stage(layer: String, spans: Seq[Span]): Unit = {
      out(s"$layer.jobs") = sum(spans)(_.jobs.get)
      out(s"$layer.tasks") = sum(spans)(_.tasks.get)
      out(s"$layer.task_s") = sum(spans)(_.taskNanos.get) / 1e9
      out(s"$layer.shuffle_bytes") = sum(spans)(_.shuffleBytes.get)
      out(s"$layer.spill_bytes") = sum(spans)(_.spillBytes.get)
      out(s"$layer.input_bytes") = sum(spans)(_.inputBytes.get)
    }
    if (unit.name == "op") {
      val ingest = named("ingest").map(dur).sum
      val fetch = extra("ingest", "fetch_ns") / 1e9
      out ++= Map("ingest.s" -> ingest, "ingest.fetch_s" -> fetch,
        "ingest.bronze_s" -> (ingest - fetch),
        "ingest.requests" -> extra("ingest", "requests"),
        "ingest.response_bytes" -> extra("ingest", "response_bytes"),
        "ingest.bronze_dirs" -> extra("ingest", "bronze_dirs"),
        "ingest.jobs" -> sum(tree("ingest"))(_.jobs.get))
      stage("silver", tree("silver"))
      out ++= Map("silver.s" -> named("silver").map(dur).sum,
        "silver.output_bytes" -> sum(tree("silver"))(_.outputBytes.get),
        "silver.bronze_dirs_read" -> extra("silver", "bronze_dirs_read"),
        "silver.events_in" -> extra("silver", "events_in"),
        "silver.fact_rows" -> extra("silver", "fact_rows"),
        "gold.s" -> named("gold").map(dur).sum,
        "gold.rows" -> extra("gold", "rows"),
        "gold.jobs" -> sum(tree("gold"))(_.jobs.get),
        "report.s" -> named("report").map(dur).sum,
        "kpi.s" -> named("kpi").map(dur).sum,
        "kpi.plan_s" -> named("kpi.plan").map(dur).sum,
        "kpi.exec_s" -> named("kpi.exec").map(dur).sum,
        "kpi.jobs" -> sum(tree("kpi"))(_.jobs.get),
        "jvm.gc_s" -> unit.extra.getOrElse("gc_ns", 0.0) / 1e9)
    } else {
      val qs = below.filter(s => s.name.startsWith("q.") && !Set("q.plan", "q.exec")(s.name))
      val qTree = qs.flatMap(s => s +: ledger.descendants(s))
      stage("query", qTree)
      out ++= QueryMix.families.map(f =>
        s"query.$f.s" -> qs.filter(_.name == s"q.$f").map(dur).sum)
      out ++= Map("query.stages" -> sum(qTree)(_.stages.get),
        "query.plan_s" -> named("q.plan").map(dur).sum,
        "query.exec_s" -> named("q.exec").map(dur).sum,
        "jvm.gc_s" -> unit.extra.getOrElse("gc_ns", 0.0) / 1e9)
    }
    out.toMap
  }
}

/** Hourly refreshes of a root: each publishes one small page per
  * media, the server honours `since=`, so a refresh fetches only its
  * delta while bronze history grows by two dirs (media and visitors)
  * per media per refresh and silver re-reads all of it.
  * Orchestration-bound. A timed pass is a sequence of `Refreshes`
  * refreshes on a fresh root and gold database, so every pass does the
  * same work; the warm-up is a one-refresh sequence. */
final class Incremental(spark: SparkSession, ledger: Ledger, a: Main.Args) extends Workload {
  private val Media = 4
  private val PerPage = 20
  private val Events = 8
  private val Refreshes = 3
  private val t0 = Instant.parse("2024-06-01T00:00:00Z")
  private var n = 0
  private var next: Sequence = _

  /** One sequence's inputs, made before it is timed: every hour's batch
    * (the server's clock keeps a batch hidden until its hour), the
    * truth as of each hour, the server, a fresh root and gold database. */
  private final class Sequence(hours: Int) {
    n += 1
    private val api = new WistiaApi(a.seed, WistiaApi.mediaIds(a.seed, Media))
    private val truths = (1 to hours).map { h =>
      val runTs = t0.plusSeconds(3600L * h)
      api.addBatch(runTs.minusSeconds(1800), runTs.minusSeconds(3600), runTs,
        pages = 1, PerPage, Events, visitorPool = Media * PerPage * 4)
      Truth(runTs, api.truePlays, api.trueVisitors, api.trueGroups, api.eventsGenerated)
    }
    private val server = api.start()
    private val root = s"${a.root}/incremental-$n"
    private val gold = Gold.url(s"gold_incremental_$n")
    private val runner = new PipelineRunner(spark, ledger, root, gold)

    /** Runs the refreshes; returns the check of their answers, which
      * also reads back what the last one left and removes the root. */
    def run(): () => PassOutcome = {
      val checks = truths.map { t =>
        api.advanceClock(t.runTs)
        try runner.refresh(api.mediaIds, server.baseUrl, t)
        catch { case e: Throwable => () => Seq(e.toString) }
      }
      () => try PassOutcome.of(checks.init :+ (() => checks.last() ++ runner.readBack(truths.last)))
        finally close()
    }

    def close(): Unit = {
      server.close()
      Gold.drop(gold)
      Jvm.deleteTree(root)
    }
  }

  def setUp(): Unit = new Sequence(1).run()()
  override def ready(): Unit = next = new Sequence(Refreshes)
  def pass(): () => PassOutcome = next.run()
  def ops(l: Ledger, p: Span): Seq[Span] = l.descendants(p).filter(_.name == "op")
  def units(l: Ledger, p: Span): Seq[Span] = ops(l, p)
  def namedMetrics(opLat: Seq[Double], passLat: Seq[Double]): Map[String, Double] =
    Map("refresh_p50_s" -> Main.median(opLat),
      "incremental_total_s" -> Main.median(passLat))
}

/** The analyst query mix over fixed tables, shuffled per pass by the
  * seed. Read-mostly: no ingest, bronze or gold. */
final class QueryMixWorkload(spark: SparkSession, ledger: Ledger, a: Main.Args)
    extends Workload {
  private var expected: Map[String, String] = Map.empty
  private var n = 0
  private val recorded = scala.collection.mutable.Map[String, String]()

  /** The expected hashes, then a trivial job and the cheapest KPI row,
    * as `graft.Bench` warms up, so the first timed row does not pay the
    * session's first-touch costs alone. */
  def setUp(): Unit = {
    expected = if (a.record) Map.empty else QueryMix.readExpected(a.expected)
    graft.Tables.names.foreach(t =>
      require(new java.io.File(s"${a.data}/$t.parquet").exists, s"missing table $t"))
    spark.range(1000).selectExpr("sum(id)").collect()
    QueryMix.execute(spark, ledger, a.data, "kpi_total_plays")
  }

  /** Collects every row's result; their fingerprints are computed by the
    * returned check, after the pass. */
  def pass(): () => PassOutcome = {
    n += 1
    val order = new scala.util.Random(a.seed * 7919 + n).shuffle(QueryMix.names)
    val results = order.map(name =>
      name -> scala.util.Try(QueryMix.execute(spark, ledger, a.data, name)))
    () => PassOutcome.of(results.map { case (name, r) => () =>
      r.map(QueryMix.fingerprint(spark, _)).fold(e => Seq(s"$name: $e"), h =>
        if (a.record) { recorded(name) = h; Nil }
        else if (!expected.get(name).contains(h))
          Seq(s"$name: hash $h, want ${expected.getOrElse(name, "none")}")
        else Nil)
    })
  }

  override def close(): Unit = if (a.record) {
    val lines = QueryMix.names.map(n => s"$n ${recorded(n)}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.expected),
      lines.mkString("", "\n", "\n"))
  }

  def ops(l: Ledger, p: Span): Seq[Span] =
    l.descendants(p).filter(s => s.parent == p.id && s.name.startsWith("q."))
  def units(l: Ledger, p: Span): Seq[Span] = Seq(p)
  def namedMetrics(opLat: Seq[Double], passLat: Seq[Double]): Map[String, Double] =
    Map("query_p50_s" -> Main.median(opLat),
      "query_p90_s" -> Main.percentile(opLat, 0.9),
      "query_pass_s" -> Main.median(passLat))
}

/** Process and host readings. */
object Jvm {
  import scala.jdk.CollectionConverters._
  def gcNanos(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum * 1000000L

  /** CPU time of every thread of this process: tasks, driver, JIT, GC. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** CPU time the hypervisor gave to other guests, summed over all
    * CPUs since boot (the `steal` column of /proc/stat); 0 where the
    * kernel does not report it. */
  def stealSeconds(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } finally f.close()
  } catch { case _: Exception => 0.0 }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    val line = try f.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally f.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
