package graft
import java.nio.file.{Files, Paths}
import graft.sources.ControlFile.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = args match {
    case Array(sfDir, outDir) => run(sfDir, outDir)
    case _ =>
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
  }

  private def run(sfDir: String, outDir: String): Unit = {
    val spark = Session.local(Session.cpus())
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 dumps a subset — targeted re-checks
    // while iterating on one query (mirrors Bench's flag; unset = all)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
