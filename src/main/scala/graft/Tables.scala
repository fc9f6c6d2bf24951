package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-facing surface, and the one owner of temp views: registers
  * the testdata tables as temp views (with the events timestamp
  * normalization applied — see [[Qdsl.normalizeTs]]) plus graft's
  * custom functions, so the whole engine is usable from `spark.sql`;
  * and runs a query's SQL over frames registered only for as long as
  * the text takes to analyze ([[sql]]).
  */
object Tables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One table through the registry's readers: [[Qdsl.events]] for
    * `events`, the schema-cached [[Qdsl.t]] for the rest. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Qdsl.events(spark, dir) else Qdsl.t(spark, dir, name)

  /** Register every table as a temp view + the custom SQL functions.
    * After this, `spark.sql("SELECT simhash64(...) FROM documents")`
    * works. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    graft.functions.GraftFunctions.register(spark)
  }

  /** `spark.sql(text)` over `views` (name → frame), registered as temp
    * views only while the text is analyzed: the returned frame's plan
    * already holds the views' plans, so the views are dropped before it
    * returns and a query leaves the session's catalog as it found it. */
  def sql(spark: SparkSession, views: (String, DataFrame)*)
         (text: String): DataFrame = {
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try spark.sql(text)
    finally views.foreach { case (n, _) => spark.catalog.dropTempView(n) }
  }
}
