package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The TopKWindowRewrite optimizer rule: `row_number OVER (PARTITION BY g
  * ORDER BY score DESC, id ASC) <= k` becomes the bounded-heap aggregate
  * when (and only when) the rewrite is provably exact.
  */
class TopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  // non-nullable columns: built from primitive tuples
  private def scored: DataFrame = {
    val rnd = new scala.util.Random(31)
    (1 to 5000).map { i =>
      (i % 7, i.toLong, rnd.nextInt(1000).toDouble)
    }.toDF("g", "id", "score")
  }

  private def windowTopK(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
  }

  /** Plans `f` with the rule excluded: the plain-window reference. */
  private def withoutRewrite[A](f: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKWindowRewrite")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("rewrite fires: no Window in the optimized plan, agg instead") {
    val q = windowTopK(scored, 5)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Window "),
      s"Window survived the rewrite:\n$opt")
    assert(opt.contains("topkbyscore") || opt.contains("TopKByScore") ||
      opt.contains("__topk"), s"no TopK aggregate in plan:\n$opt")
  }

  test("rewritten result == window result, rows/ranks/ties identical") {
    val plain = withoutRewrite {
      val q = windowTopK(scored, 5)
      assert(q.queryExecution.optimizedPlan.toString.contains("Window "))
      q.collect().map(_.toSeq).toSet
    }
    val rewritten = windowTopK(scored, 5).collect().map(_.toSeq).toSet
    assert(rewritten == plain && plain.nonEmpty)
    // rn = 1 (argmax) variant
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val argmax = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).collect().map(_.toSeq).toSet
    assert(argmax.size == 7)
  }

  test("rule is active through the GraftExtensions injection path") {
    // the shared session is a GraftSession: the rule arrives through
    // injectOptimizerRule, with no extraOptimizations set
    assert(spark.experimental.extraOptimizations.isEmpty)
    val df = (1 to 300).map(i => (i % 3, i.toLong, (i % 17).toDouble))
      .toDF("g", "id", "score")
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
    assert(!q.queryExecution.optimizedPlan.toString.contains("Window "),
      "injected rule did not fire:\n" +
        q.queryExecution.optimizedPlan.toString)
    assert(q.count() == 12)
  }

  test("guards: nullable inputs, extra columns, other ranks do NOT rewrite") {
    // extra column used downstream → no rewrite, still correct
    val extra = scored.withColumn("payload", $"id" * 2)
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val q1 = extra.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    assert(q1.queryExecution.optimizedPlan.toString.contains("Window "))
    assert(q1.count() == 21)

    // nullable score → no rewrite (window ranks nulls, agg drops them)
    val nullable = scored
      .withColumn("score", when($"id" % 100 =!= 0, $"score"))
      .select($"g", $"id", $"score")
    val q2 = nullable.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    assert(q2.queryExecution.optimizedPlan.toString.contains("Window "))

    // rank() instead of row_number → no rewrite
    val q3 = scored.withColumn("rn", rank().over(w)).filter($"rn" <= 3)
    assert(q3.queryExecution.optimizedPlan.toString.contains("Window "))
  }
}
