package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The shared test session is a [[GraftSession]]: the configuration the
  * mains verify and bench under, extensions included. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("shared session: 64 MB broadcast threshold, UTC, nanosAsLong") {
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("graft functions and table functions resolve without register") {
    // a new session over the shared context starts from what the
    // extensions inject: nothing another suite registered by hand
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.sql("SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F))")
        .head().getDouble(0) == 1.0)
      s.createDataFrame(Seq((1L, 10L), (1L, 30L))).toDF("k", "lt")
        .createOrReplaceTempView("session_left")
      s.createDataFrame(Seq((1L, 20L, "a"))).toDF("k", "rt", "v")
        .createOrReplaceTempView("session_right")
      val got = s.sql(
        """SELECT lt, asof_v FROM graft_asof_join(
          |  'session_left', 'session_right', 'k', 'lt', 'rt', 'v')""".stripMargin)
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got == Set((10L, None), (30L, Some("a"))))
    }
  }

  test("top-k window is rewritten: no Window in the optimized plan") {
    val df = (1 to 300).map(i => (i % 3, i.toLong, (i % 17).toDouble))
      .toDF("g", "id", "score")
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Window "), s"Window survived:\n$opt")
    assert(q.count() == 12)
  }

  test("GraftSession is the only session builder in src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    val builders = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toList
    finally stream.close()
    assert(builders == List("graft/GraftSession.scala"))
  }
}
