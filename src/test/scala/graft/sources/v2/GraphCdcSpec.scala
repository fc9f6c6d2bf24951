package graft.sources.v2

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.Graph
import graft.sources.ManifestTable
import graft.stream.StreamingFact

/** Kill-and-restart leg of the `graph_cdc_incremental` row: the CDC
  * feed (versioned manifest appends) driving
  * [[graft.etl.Graph.appendCdcBatch]] through foreachBatch must deliver
  * an EXACTLY-ONCE graph artifact across a mid-stream restart —
  * at-least-once redelivery from the checkpointed version offset,
  * made exactly-once by the anti-join's idempotent fold. */
class GraphCdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edgesOf(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.toDF("src", "dst")

  /** One AvailableNow CDC pass: consume every unprocessed fact
    * version via the shared checkpoint, folding each batch into the
    * graph artifact with the row's own fold. */
  private def runCdcFold(fact: String, graph: String,
                         ckpt: String): Unit = {
    StreamingFact.drain(spark.readStream.format("graft-manifest-cdc")
      .option("path", fact).option("startingVersion", "1").load(),
      "graph_cdc_fold", ckpt) { (batch, _) =>
      Graph.appendCdcBatch(spark, fact, graph, batch)
    }
  }

  private def edgeSet(graph: String): Set[(Long, Long)] =
    Graph.edgesFromManifest(spark, graph)
      .as[(Long, Long)].collect().toSet

  test("CDC -> appendEdges survives kill-and-restart exactly-once: " +
    "redelivered versions fold idempotently, no duplicate edges") {
    val root = java.nio.file.Files.createTempDirectory("graft_cdcspec")
    val fact = s"$root/fact"
    val graph = s"$root/graph"
    val ckpt = s"$root/ckpt"

    // bootstrap: fact v1 committed AND built into the graph
    ManifestTable.commitAppend(spark, fact,
      edgesOf(Seq((1L, 10L), (2L, 20L))), statsCol = Some("src"))
    Graph.commitEdges(spark, graph, ManifestTable.read(spark, fact))
    val g1 = edgeSet(graph)
    assert(g1 == Set((1L, 10L), (10L, 1L), (2L, 20L), (20L, 2L)))

    // growth batch 1 lands (fact v2: one new edge + one REDELIVERED
    // base edge — the anti-join must drop it); stream consumes it
    ManifestTable.commitAppend(spark, fact,
      edgesOf(Seq((3L, 30L), (1L, 10L))), statsCol = Some("src"))
    runCdcFold(fact, graph, ckpt)
    assert(edgeSet(graph) == g1 ++ Set((3L, 30L), (30L, 3L)),
      "redelivered base edge was not anti-joined out")
    val vAfterFirst = ManifestTable.latestVersion(spark, graph)

    // KILL: the first query is gone (AvailableNow terminated = the
    // crash point after commit). growth batch 2 lands while down.
    ManifestTable.commitAppend(spark, fact,
      edgesOf(Seq((4L, 40L))), statsCol = Some("src"))

    // RESTART from the same checkpoint: only the unprocessed fact
    // version is delivered — the graph gains exactly one commit
    runCdcFold(fact, graph, ckpt)
    assert(edgeSet(graph) ==
      g1 ++ Set((3L, 30L), (30L, 3L), (4L, 40L), (40L, 4L)))
    assert(ManifestTable.latestVersion(spark, graph) == vAfterFirst + 1,
      "restart reprocessed already-committed versions")

    // no duplicate (src, dst) pairs anywhere in the artifact
    val dups = Graph.edgesFromManifest(spark, graph)
      .groupBy("src", "dst").count().filter($"count" > 1).count()
    assert(dups == 0)

    // and a THIRD run with nothing new is a clean no-op
    runCdcFold(fact, graph, ckpt)
    assert(ManifestTable.latestVersion(spark, graph) == vAfterFirst + 1)
  }
}
