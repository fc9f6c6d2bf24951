package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** The one-session-factory rule, checked statically over `src/main`
  * (in the spirit of PlanGuardrailSpec's registry-wide guards): only
  * [[Session]] builds a session or sets the nanos read conf, so no
  * main drifts onto its own engine and no read site mutates the
  * session; only [[Scratch]] makes and deletes scratch dirs and frees
  * lineage cuts (outside the one-round-behind loops); only
  * [[graft.sources.ControlFile]] writes control files; only
  * [[Ledger]] registers Spark listeners; only `Sources.fileSystem`
  * resolves a FileSystem; only CheckpointBridge persists, only
  * [[Tables]] registers temp views, only
  * [[graft.stream.StreamingFact]] starts a stream and only [[Pipeline]]
  * (plus Scratch's shutdown hook) makes threads. Plus the env parsing
  * every main shares. */
class SessionSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val sessionFile = mainRoot.resolve("graft/Session.scala")

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sorted
    finally walk.close()
  }

  /** `file:line` of every match of `pattern` in a `.scala` file under
    * `root` (a match may span lines; it is reported at its start). */
  private def matches(root: Path, pattern: Regex): Seq[String] =
    scalaFiles(root).flatMap { p =>
      val text = Files.readString(p)
      pattern.findAllMatchIn(text).map(m =>
        s"$p:${text.take(m.start).count(_ == '\n') + 1}")
    }

  /** `file:line` of every occurrence of `needle` in a `.scala` file
    * under `root`. */
  private def sites(root: Path, needle: String): Seq[String] =
    matches(root, Regex.quote(needle).r)

  Seq("SparkSession.builder", "nanosAsLong").foreach { needle =>
    test(s"src/main has exactly one `$needle` site, in Session.scala") {
      val (inSession, elsewhere) =
        sites(mainRoot, needle).partition(_.startsWith(s"$sessionFile:"))
      assert(elsewhere.isEmpty,
        s"`$needle` outside Session.scala — build sessions and set " +
          s"session-wide confs in graft.Session:\n${elsewhere.mkString("\n")}")
      assert(inSession.size == 1, inSession.mkString("\n"))
    }
  }

  /** [[matches]] of `pattern` outside the `owners` (paths under
    * `root`). */
  private def strays(root: Path, pattern: Regex,
                     owners: Set[String]): Seq[String] =
    matches(root, pattern).filterNot(site =>
      owners.exists(o => site.startsWith(s"${root.resolve(o)}:")))

  // scratch state has one owner (graft.Scratch); Session keeps only
  // its warehouse dir
  Seq("createTempDirectory" -> Set("graft/Session.scala",
      "graft/Scratch.scala"),
    "Files.walk" -> Set("graft/Scratch.scala")).foreach {
    case (needle, owners) =>
      test(s"src/main has `$needle` only in ${owners.mkString(", ")}") {
        val elsewhere = strays(mainRoot, Regex.quote(needle).r, owners)
        assert(elsewhere.isEmpty,
          s"`$needle` outside ${owners.mkString(", ")} — stage scratch " +
            s"dirs with graft.Scratch:\n${elsewhere.mkString("\n")}")
      }
  }

  test("negative: the scratch guard flags a planted stray, not its " +
    "owner") {
    val root = Files.createTempDirectory("graft_guard")
    val owner = root.resolve("graft/Scratch.scala")
    val stray = root.resolve("Planted.scala")
    Files.createDirectories(owner.getParent)
    Seq(owner, stray).foreach(
      Files.writeString(_, "object P {\n  Files.walk(p)\n}\n"))
    try assert(strays(root, Regex.quote("Files.walk").r,
      Set("graft/Scratch.scala")) ==
      Seq(s"$stray:2"))
    finally Scratch.deleteTree(root)
  }

  // lineage cuts are freed by Scratch.scoped; the only explicit
  // releases left are the one-round-behind frees inside iterative
  // loops (connected components, BPE training, BFS and SSSP), which
  // bound storage while the loop still runs
  private val releaseOwners = Map("graft/Scratch.scala" -> 1,
    "graft/llmops/Dedup.scala" -> 1, "graft/llmops/Bpe.scala" -> 2,
    "graft/QueriesRelational.scala" -> 2)

  /** Owner-file counts of `pattern` under `root` that differ from
    * `owners` (path → expected count), plus every stray site. */
  private def drift(root: Path, pattern: Regex,
                    owners: Map[String, Int]): Seq[String] = {
    val all = matches(root, pattern)
    def in(owner: String)(site: String) =
      site.startsWith(s"${root.resolve(owner)}:")
    val counts = owners.toSeq.flatMap { case (owner, n) =>
      val found = all.count(in(owner))
      if (found == n) None else Some(s"$owner: $found sites, expected $n")
    }
    counts ++ all.filterNot(site => owners.keys.exists(in(_)(site)))
  }

  private def releaseDrift(root: Path): Seq[String] =
    drift(root, Regex.quote("CheckpointBridge.release").r, releaseOwners)

  test("src/main releases lineage cuts only through Scratch.scoped and " +
    "the one-round-behind loops; kernels take no onCheckpoint") {
    val drift = releaseDrift(mainRoot)
    assert(drift.isEmpty, "free cuts by wrapping the body in " +
      s"Scratch.scoped:\n${drift.mkString("\n")}")
    val callbacks = sites(mainRoot, "onCheckpoint")
    assert(callbacks.isEmpty, callbacks.mkString("\n"))
  }

  test("negative: the release guard flags a planted stray and an extra " +
    "owner site") {
    val root = Files.createTempDirectory("graft_guard")
    val release = "  CheckpointBridge.release(df)\n"
    releaseOwners.foreach { case (owner, n) =>
      val f = root.resolve(owner)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "object P {\n" + release * n + "}\n")
    }
    try {
      assert(releaseDrift(root).isEmpty)
      val stray = root.resolve("graft/Planted.scala")
      Files.writeString(stray, "object P {\n" + release + "}\n")
      val bpe = root.resolve("graft/llmops/Bpe.scala")
      Files.writeString(bpe, "object P {\n" + release * 3 + "}\n")
      assert(releaseDrift(root).toSet == Set(
        "graft/llmops/Bpe.scala: 3 sites, expected 2", s"$stray:2"))
    } finally Scratch.deleteTree(root)
  }

  // control files have one owner, graft.sources.ControlFile; the
  // manifest's exclusive create (ManifestTable.createExclusive) is a
  // different contract
  private val createOwners = Map("graft/sources/ControlFile.scala" -> 1,
    "graft/sources/ManifestTable.scala" -> 1)
  private val hadoopCreate = """\b(fs|f)\.create\(""".r
  private val overwriteModeScope =
    """withConf\([^)]*partitionOverwriteMode""".r

  test("src/main creates Hadoop files only in ControlFile and " +
    "ManifestTable.createExclusive; dynamic overwrite is a writer " +
    "option, never a withConf scope") {
    val creates = drift(mainRoot, hadoopCreate, createOwners)
    assert(creates.isEmpty, "read and replace control files with " +
      s"graft.sources.ControlFile:\n${creates.mkString("\n")}")
    val scopes = matches(mainRoot, overwriteModeScope)
    assert(scopes.isEmpty, "pass .option(\"partitionOverwriteMode\", " +
      s"\"dynamic\") on the write instead:\n${scopes.mkString("\n")}")
  }

  test("negative: the control-file guard flags a planted create and a " +
    "an extra owner site and a planted overwrite-mode scope") {
    val root = Files.createTempDirectory("graft_guard")
    val create = "  val out = fs.create(p, true)\n"
    createOwners.keys.foreach { owner =>
      val f = root.resolve(owner)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "object P {\n" + create + "}\n")
    }
    try {
      assert(drift(root, hadoopCreate, createOwners).isEmpty)
      val stray = root.resolve("graft/etl/Planted.scala")
      Files.createDirectories(stray.getParent)
      Files.writeString(stray, "object P {\n" + create.replace("fs.", "f.") +
        "  Session.withConf(s,\n    \"spark.sql.sources." +
        "partitionOverwriteMode\", \"dynamic\") {\n  }\n}\n")
      val manifest = root.resolve("graft/sources/ManifestTable.scala")
      Files.writeString(manifest, "object P {\n" + create * 2 + "}\n")
      assert(drift(root, hadoopCreate, createOwners).toSet == Set(
        "graft/sources/ManifestTable.scala: 2 sites, expected 1",
        s"$stray:2"))
      assert(matches(root, overwriteModeScope) == Seq(s"$stray:3"))
    } finally Scratch.deleteTree(root)
  }

  // Spark cost accounting has one owner (graft.Ledger), and a path's
  // FileSystem one resolver (Sources.fileSystem over the session's
  // Hadoop conf); configureStorage still writes the context conf
  private val ownedSites = Seq(
    """addSparkListener\(|listenerManager\.register\(""".r ->
      Map("graft/Ledger.scala" -> 1),
    """getFileSystem\(|newHadoopConf""".r ->
      Map("graft/sources/Sources.scala" -> 2),
    "hadoopConfiguration".r -> Map("graft/sources/Sources.scala" -> 1))

  private def ownedDrift(root: Path): Seq[String] =
    ownedSites.flatMap { case (pattern, owners) =>
      drift(root, pattern, owners)
    }

  test("src/main registers Spark listeners only in Ledger and resolves " +
    "FileSystems only through Sources.fileSystem") {
    val found = ownedDrift(mainRoot)
    assert(found.isEmpty, "measure Spark work with graft.Ledger and reach " +
      "a path's FileSystem with Sources.fileSystem:\n" + found.mkString("\n"))
  }

  test("negative: the ledger and resolver guards flag planted strays") {
    val root = Files.createTempDirectory("graft_guard")
    val ledger = root.resolve("graft/Ledger.scala")
    val sources = root.resolve("graft/sources/Sources.scala")
    Files.createDirectories(sources.getParent)
    Files.writeString(ledger,
      "object P {\n  sc.addSparkListener(book)\n}\n")
    Files.writeString(sources, "object P {\n" +
      "  def hadoopConf(s: S) = s.sessionState.newHadoopConf()\n" +
      "  def fileSystem(s: S, p: Path) = p.getFileSystem(hadoopConf(s))\n" +
      "  s.sparkContext.hadoopConfiguration.set(k, v)\n}\n")
    try {
      assert(ownedDrift(root).isEmpty)
      val stray = root.resolve("graft/etl/Planted.scala")
      Files.createDirectories(stray.getParent)
      Files.writeString(stray, "object P {\n" +
        "  spark.listenerManager.register(l)\n" +
        "  p.getFileSystem(spark.sparkContext.hadoopConfiguration)\n}\n")
      // line 3 trips both the resolver and the context-conf guard
      assert(ownedDrift(root) ==
        Seq(s"$stray:2", s"$stray:3", s"$stray:3"))
    } finally Scratch.deleteTree(root)
  }

  // in-memory session state has one owner per kind: a lineage cut's
  // storage is persisted only inside CheckpointBridge (the reliable
  // cut's internal RDD), and temp views are registered only by Tables
  // (registerViews and the query-scoped Tables.sql)
  private val sessionStateSites = Seq(
    """\.cache\(\)|\.persist\(""".r ->
      Map("org/apache/spark/sql/graft/CheckpointBridge.scala" -> 1),
    """create(OrReplace)?(Global)?TempView\(""".r ->
      Map("graft/Tables.scala" -> 2))

  private def sessionStateDrift(root: Path): Seq[String] =
    sessionStateSites.flatMap { case (pattern, owners) =>
      drift(root, pattern, owners)
    }

  test("src/main caches and persists only in CheckpointBridge and " +
    "registers temp views only in Tables") {
    val found = sessionStateDrift(mainRoot)
    assert(found.isEmpty, "stage an intermediate read twice as a " +
      "scratchCheckpoint in a Scratch.scoped body, and run SQL over " +
      s"frames with Tables.sql:\n${found.mkString("\n")}")
  }

  test("negative: the cache and temp-view guards flag planted strays") {
    val root = Files.createTempDirectory("graft_guard")
    val bridge =
      root.resolve("org/apache/spark/sql/graft/CheckpointBridge.scala")
    val tables = root.resolve("graft/Tables.scala")
    Seq(bridge, tables).foreach(f => Files.createDirectories(f.getParent))
    Files.writeString(bridge,
      "object P {\n  rdd.persist(StorageLevel.MEMORY_AND_DISK)\n}\n")
    Files.writeString(tables, "object P {\n" +
      "  df.createOrReplaceTempView(n)\n  df.createOrReplaceTempView(n)\n}\n")
    try {
      assert(sessionStateDrift(root).isEmpty)
      val stray = root.resolve("graft/Planted.scala")
      Files.writeString(stray, "object P {\n  val c = df.cache()\n" +
        "  df.persist(StorageLevel.DISK_ONLY)\n  df.createTempView(\"v\")\n" +
        "  df.createOrReplaceGlobalTempView(\"g\")\n}\n")
      assert(sessionStateDrift(root) ==
        Seq(s"$stray:2", s"$stray:3", s"$stray:4", s"$stray:5"))
    } finally Scratch.deleteTree(root)
  }

  test("negative: the scanner finds a planted site") {
    val root = Files.createTempDirectory("graft_guard")
    val f = root.resolve("Planted.scala")
    Files.writeString(f, "object P {\n  val s = SparkSession.builder()\n}\n")
    try assert(sites(root, "SparkSession.builder") == Seq(s"$f:2"))
    finally { Files.delete(f); Files.delete(root) }
  }

  test("Session.local's warehouse dir is a temp dir, not the working " +
    "directory") {
    val wh = Paths.get(new org.apache.hadoop.fs.Path(
      TestSpark.spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
      .toAbsolutePath.normalize
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      .toAbsolutePath.normalize
    val cwd = Paths.get("").toAbsolutePath.normalize
    assert(wh.startsWith(tmp), s"$wh is not under $tmp")
    assert(!wh.startsWith(cwd), s"$wh is under the working directory")
  }

  // threads have one owner: the pipeline makes its stage, reaper and
  // chain threads per call (so they inherit the stage's flags and
  // Spark's local properties), and Scratch its shutdown hook
  private val threadOwners = Map("graft/Pipeline.scala" -> 3,
    "graft/Scratch.scala" -> 1)
  private val threadStart = """new Thread\(|Executors\.new""".r

  test("src/main makes threads only in Pipeline and Scratch's shutdown " +
    "hook") {
    val found = drift(mainRoot, threadStart, threadOwners)
    assert(found.isEmpty, "make threads per call from the stage's own " +
      "thread, in graft.Pipeline; use no shared or global pool:\n" +
      found.mkString("\n"))
  }

  test("negative: the thread guard flags a planted stray and an extra " +
    "owner site") {
    val root = Files.createTempDirectory("graft_guard")
    val start = "  val t = new Thread(() => ())\n"
    threadOwners.foreach { case (owner, n) =>
      val f = root.resolve(owner)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "object P {\n" + start * n + "}\n")
    }
    try {
      assert(drift(root, threadStart, threadOwners).isEmpty)
      val stray = root.resolve("graft/etl/Planted.scala")
      Files.createDirectories(stray.getParent)
      Files.writeString(stray, "object P {\n" +
        "  val pool = Executors.newFixedThreadPool(4)\n}\n")
      val scratch = root.resolve("graft/Scratch.scala")
      Files.writeString(scratch, "object P {\n" + start * 2 + "}\n")
      assert(drift(root, threadStart, threadOwners).toSet == Set(
        "graft/Scratch.scala: 2 sites, expected 1", s"$stray:2"))
    } finally Scratch.deleteTree(root)
  }

  // the per-query top-k window has one owner, Similarity.topK; every
  // ANN path broadcasts its bounded query batch, with no opt-out knob
  private val topKOwners = Map("graft/llmops/Similarity.scala" -> 1)
  private val topKWindow = Regex.quote("""partitionBy(col("query_id"))""").r

  test("src/main ranks per query only in Similarity.topK and has no " +
    "broadcastQueries knob") {
    val found = drift(mainRoot, topKWindow, topKOwners)
    assert(found.isEmpty, "rank per query with Similarity.topK:\n" +
      found.mkString("\n"))
    val knob = sites(mainRoot, "broadcastQueries")
    assert(knob.isEmpty, knob.mkString("\n"))
  }

  test("negative: the top-k guard flags a planted stray and an extra " +
    "owner site") {
    val root = Files.createTempDirectory("graft_guard")
    val window = "  val w = Window.partitionBy(col(\"query_id\"))\n"
    val owner = root.resolve("graft/llmops/Similarity.scala")
    Files.createDirectories(owner.getParent)
    Files.writeString(owner, "object P {\n" + window + "}\n")
    try {
      assert(drift(root, topKWindow, topKOwners).isEmpty)
      val stray = root.resolve("graft/Planted.scala")
      Files.writeString(stray, "object P {\n" + window + "}\n")
      Files.writeString(owner, "object P {\n" + window * 2 + "}\n")
      assert(drift(root, topKWindow, topKOwners).toSet == Set(
        "graft/llmops/Similarity.scala: 2 sites, expected 1", s"$stray:2"))
    } finally Scratch.deleteTree(root)
  }

  // a stream is started and drained only by StreamingFact.drain and
  // drainTo, which name the query after its row
  private val streamOwners = Set("graft/stream/StreamingFact.scala")
  private val streamStart = """\.writeStream\b|awaitTermination""".r

  test("src/main starts and awaits streams only in StreamingFact") {
    val found = strays(mainRoot, streamStart, streamOwners)
    assert(found.isEmpty, "drain a stream with StreamingFact.drain or " +
      s"drainTo, named after its row:\n${found.mkString("\n")}")
  }

  test("negative: the stream-drain guard flags planted strays, not its " +
    "owner") {
    val root = Files.createTempDirectory("graft_guard")
    val owner = root.resolve("graft/stream/StreamingFact.scala")
    Files.createDirectories(owner.getParent)
    val start = "  df.writeStream.start().awaitTermination()\n"
    Files.writeString(owner, "object P {\n" + start + "}\n")
    try {
      assert(strays(root, streamStart, streamOwners).isEmpty)
      val stray = root.resolve("graft/QueriesPlanted.scala")
      Files.writeString(stray, "object P {\n  val w = df\n    .writeStream\n" +
        "  q.awaitTermination()\n}\n")
      assert(strays(root, streamStart, streamOwners) ==
        Seq(s"$stray:3", s"$stray:4"))
    } finally Scratch.deleteTree(root)
  }

  // env vars are read only by the entry points; query code decides
  // from its inputs and the session it is handed
  private val envOwners = Set("graft/Session.scala", "graft/Bench.scala",
    "graft/Debug.scala", "graft/Verify.scala")
  private val envRead = """sys\.env\b|System\.getenv""".r

  test("src/main reads env vars only in the entry points (Session, " +
    "Bench, Debug, Verify)") {
    val found = strays(mainRoot, envRead, envOwners)
    assert(found.isEmpty, "read settings in an entry point and pass " +
      s"them down, or derive them from the input:\n${found.mkString("\n")}")
  }

  test("negative: the env guard flags planted strays, not an entry " +
    "point") {
    val root = Files.createTempDirectory("graft_guard")
    val read = "  val v = sys.env.get(\"X\")\n"
    envOwners.foreach { owner =>
      val f = root.resolve(owner)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "object P {\n" + read + "}\n")
    }
    try {
      assert(strays(root, envRead, envOwners).isEmpty)
      val stray = root.resolve("graft/QueriesPlanted.scala")
      Files.writeString(stray, "object P {\n" + read +
        "  val w = System.getenv(\"Y\")\n}\n")
      assert(strays(root, envRead, envOwners) ==
        Seq(s"$stray:2", s"$stray:3"))
    } finally Scratch.deleteTree(root)
  }

  private def assertRejects(name: String, parse: Map[String, String] => Int)
  : Unit =
    Seq("four", "0", "-2", "", "3.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](parse(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }

  test("SPARK_GRAFT_CPUS: default 4, parsed once, a bad value names " +
    "the variable and the value") {
    assert(Session.cpus(Map.empty) == 4)
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> " 8")) == 8)
    assertRejects("SPARK_GRAFT_CPUS", Session.cpus(_))
  }

  test("SPARK_GRAFT_REPEATS: default 3, parsed once, a bad value names " +
    "the variable and the value") {
    assert(Bench.repeats(Map.empty) == 3)
    assert(Bench.repeats(Map("SPARK_GRAFT_REPEATS" -> "1")) == 1)
    assertRejects("SPARK_GRAFT_REPEATS", Bench.repeats(_))
  }
}
