package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes the N× scale replicas used for the scaling-decade
  * measurements in BASELINE.md / SCALE.md. The rounds 6–8 replicas were
  * built ad hoc in a console; this main makes the construction a
  * committed, reproducible artifact.
  *
  * Construction per table (the invariant: an N× replica must behave
  * like an N× INDEPENDENT corpus — near-dup / join structure scales
  * linearly; a verbatim copy would plant N-way exact-dup clusters and a
  * quadratic pair blowup no real corpus has):
  *
  *  - documents: doc_id offset per replica; every word in `text` gets a
  *    per-replica suffix so shingle vocabularies are disjoint across
  *    replicas (intra-replica near-dup structure preserved exactly,
  *    zero cross-replica shingle collisions); n_chars recomputed.
  *  - embeddings: vec_id offset; each replica's vectors pass through a
  *    per-replica deterministic ORTHOGONAL transform (coordinate
  *    permutation + Rademacher sign flips, java.util.Random(replica)).
  *    Orthogonality preserves every intra-replica cosine bit-for-bit in
  *    exact arithmetic (so each replica has the sf0.1 corpus's exact
  *    ANN/pair structure) while cross-replica cosines drop to the
  *    random-direction level — the cross-pair rate of an independent
  *    corpus.
  *  - events: event_id/user_id offsets (disjoint users: per-user
  *    history depth is an independent workload knob, not a scale one).
  *  - orders/lineitem: key offsets (orderkey/custkey/partkey/suppkey);
  *    dims (region/nation/customer/supplier/part) are copied verbatim
  *    by the caller if needed — replicating a dimension would break FK
  *    semantics.
  *
  * Usage: ReplicaGen <srcSfDir> <outDir> <factor> <table>[,<table>...]
  * Offsets use 100,000,000 per replica — beyond any key space in the
  * generated data by 3+ decades.
  */
object ReplicaGen {
  private val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS, tablesS) = args
    val factor = factorS.toInt
    val spark = GraftSession.forMain("graft-replica")
    spark.sparkContext.setLogLevel("WARN")
    tablesS.split(",").map(_.trim).filter(_.nonEmpty).foreach { t =>
      val base = Tables(spark, src, t)
      val all = replicateAll(spark, t, base, factor)
      all.repartition(math.min(1024, math.max(factor, 8)))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[replica] $t x$factor -> $out/$t.parquet")
    }
    spark.stop()
  }

  /** All `factor` replicas of `t` in one frame. Key-offset and
    * vocab-suffix tables replicate VECTORIZED (one crossJoin with
    * range(factor) — a 1000-way union would be a 1000-leg plan);
    * embeddings keep the per-replica union because each replica's
    * orthogonal transform needs its own literal permutation/sign
    * arrays (factors there stay ≤ a few hundred).
    */
  def replicateAll(spark: SparkSession, t: String, base: DataFrame,
      factor: Int): DataFrame = {
    val r = spark.range(factor).select(col("id").as("__r"))
    val off = col("__r") * lit(Offset)
    t match {
      case "documents" =>
        base.crossJoin(r)
          .withColumn("doc_id", col("doc_id") + off)
          .withColumn("text", when(col("__r") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1zz"), col("__r").cast("string")))))
          .withColumn("n_chars", length(col("text")))
          .drop("__r")
      case "events" =>
        base.crossJoin(r)
          .withColumn("event_id", col("event_id") + off)
          .withColumn("user_id", col("user_id") + off)
          .drop("__r")
      case "orders" =>
        base.crossJoin(r)
          .withColumn("o_orderkey", col("o_orderkey") + off)
          .withColumn("o_custkey", col("o_custkey") + off)
          .drop("__r")
      case "lineitem" =>
        base.crossJoin(r)
          .withColumn("l_orderkey", col("l_orderkey") + off)
          .withColumn("l_partkey", col("l_partkey") + off)
          .withColumn("l_suppkey", col("l_suppkey") + off)
          .drop("__r")
      case _ =>
        (0 until factor).map(i => replica(t, base, i)).reduce(_ unionAll _)
    }
  }

  /** One replica of `t` with index `r` (r=0 is the original verbatim).
    * Only the embeddings construction lives here — everything else is
    * vectorized in [[replicateAll]]. */
  def replica(t: String, base: DataFrame, r: Int): DataFrame = {
    val off = Offset * r
    t match {
      case "embeddings" =>
        if (r == 0) base
        else {
          val dims = 64
          val rnd = new java.util.Random(r.toLong)
          val perm = shuffled(dims, rnd)
          val sign = Array.fill(dims)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          // transform() with literal permutation/sign arrays keeps the
          // map codegen'd — no per-row Scala UDF even in tooling
          val permA = array(perm.map(lit): _*)
          val signA = array(sign.map(lit): _*)
          base
            .withColumn("vec_id", col("vec_id") + lit(off))
            .withColumn("embedding",
              zip_with(permA, signA, (p, s) =>
                element_at(col("embedding"), p + 1) * s))
        }
      case _ =>
        // dims replicate verbatim (FK targets must not fork)
        if (r == 0) base else base.limit(0)
    }
  }

  /** Deterministic Fisher–Yates permutation of 0 until n. java.util.Random
    * is a spec-fixed LCG, so the permutation is stable across JVMs. */
  def shuffled(n: Int, rnd: java.util.Random): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
    a
  }
}
