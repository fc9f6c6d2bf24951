package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

class ControlFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Names in `dir` other than `keep` and the local ChecksumFs's
    * `.crc` sidecars. */
  private def litter(dir: java.nio.file.Path, keep: String): Seq[String] =
    dir.toFile.listFiles().map(_.getName).toSeq
      .filterNot(n => n == keep || n.endsWith(".crc"))

  test("replace over an absent file, an existing file and a legacy " +
    "directory reads back the new content and leaves no temp litter") {
    val root = Files.createTempDirectory("graft_control")
    try {
      val path = root.resolve("nested/state").toString
      assert(ControlFile.read(spark, path).isEmpty)
      ControlFile.replace(spark, path, "1\n") // parent dir made too
      assert(ControlFile.read(spark, path).contains("1\n"))
      ControlFile.replace(spark, path, "{\"v\":2}")
      assert(ControlFile.read(spark, path).contains("{\"v\":2}"))
      assert(litter(root.resolve("nested"), "state").isEmpty)

      // legacy layout: a Spark-written DIRECTORY of part files
      val legacy = root.resolve("legacy").toString
      import spark.implicits._
      Seq("old").toDF("v").coalesce(1).write.text(legacy)
      assert(ControlFile.read(spark, legacy).contains("old\n"))
      ControlFile.replace(spark, legacy, "new")
      assert(new java.io.File(legacy).isFile)
      assert(ControlFile.read(spark, legacy).contains("new"))
      assert(litter(root, "legacy").toSet == Set("nested"))
    } finally Scratch.deleteTree(root)
  }

  test("jsonString escapes quotes, backslashes and control characters") {
    assert(ControlFile.jsonString("a\"b\\c\nd\te\u0001") ==
      "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
