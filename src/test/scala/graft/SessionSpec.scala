package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The one-session-factory rule, checked statically over `src/main`
  * (in the spirit of PlanGuardrailSpec's registry-wide guards): only
  * [[Session]] builds a session or sets the nanos read conf, so no
  * main drifts onto its own engine and no read site mutates the
  * session; only [[Scratch]] makes and deletes scratch dirs and frees
  * lineage cuts (outside the one-round-behind loops). Plus the env
  * parsing every main shares. */
class SessionSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val sessionFile = mainRoot.resolve("graft/Session.scala")

  /** `file:line` of every line of a `.scala` file under `root` that
    * contains `needle`. */
  private def sites(root: Path, needle: String): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sorted.flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$p:${i + 1}"
        }
      }
    finally walk.close()
  }

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

  /** Owner-file counts of `CheckpointBridge.release` under `root` that
    * differ from [[releaseOwners]], plus every stray site. */
  private def releaseDrift(root: Path): Seq[String] = {
    val all = sites(root, "CheckpointBridge.release")
    val counts = releaseOwners.toSeq.flatMap { case (owner, n) =>
      val found = all.count(_.startsWith(s"${root.resolve(owner)}:"))
      if (found == n) None else Some(s"$owner: $found sites, expected $n")
    }
    counts ++ strays(root, "CheckpointBridge.release", releaseOwners.keySet)
  }

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
