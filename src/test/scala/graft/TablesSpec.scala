package graft

import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("registerViews: SQL over all tables + custom functions") {
    Tables.registerViews(spark, dir)
    // star join in plain SQL
    val revenue = spark.sql(
      """SELECT n.n_name, CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY 1""").collect()
    assert(revenue.length == 25)
    // custom function over a view
    val sh = spark.sql(
      """SELECT doc_id, simhash64(split(lower(text), '\\s+')) AS sh
         FROM documents WHERE doc_id < 3 ORDER BY doc_id""").collect()
    assert(sh.length == 3)
    // events view has the normalized timestamp type
    val ts = spark.sql("SELECT ts FROM events LIMIT 1").schema
    assert(ts("ts").dataType.typeName == "timestamp")
  }

  test("reading every table and running the streaming queries leaves " +
    "the session conf unchanged") {
    // a fresh session on the shared context: starts from the built
    // engine's conf, whatever earlier suites did to the shared session
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.names.foreach(n => Tables.load(s, dir, n).count())
    // over a plain path and a URI-qualified dir (file://, like hdfs://
    // or abfss:// roots): the staged stream input is listed and copied
    // through the Hadoop FS, and both give the same rows
    Seq("stream_daily_engagement", "stream_anomaly").foreach { n =>
      val q = Queries.all.find(_.name == n).get
      val Seq(plain, uri) = Seq(dir, s"file://$dir").map(d =>
        q.run(s, d).collect().toSeq)
      assert(uri.nonEmpty && uri == plain, n)
    }
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k)).toSeq.sorted
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, changed.mkString("\n"))
  }
}
