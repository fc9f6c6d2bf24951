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
  * resolves a FileSystem. Plus the env parsing every main shares. */
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

  /** [[sites]] of `needle` outside the `owners` (paths under `root`). */
  private def strays(root: Path, needle: String,
                     owners: Set[String]): Seq[String] =
    sites(root, needle).filterNot(site =>
      owners.exists(o => site.startsWith(s"${root.resolve(o)}:")))

  // scratch state has one owner (graft.Scratch); Session keeps only
  // its warehouse dir
  Seq("createTempDirectory" -> Set("graft/Session.scala",
      "graft/Scratch.scala"),
    "Files.walk" -> Set("graft/Scratch.scala")).foreach {
    case (needle, owners) =>
      test(s"src/main has `$needle` only in ${owners.mkString(", ")}") {
        val elsewhere = strays(mainRoot, needle, owners)
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
    try assert(strays(root, "Files.walk", Set("graft/Scratch.scala")) ==
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
