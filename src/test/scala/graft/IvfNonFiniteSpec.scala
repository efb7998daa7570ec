package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfIndex, IvfPqIndex, Similarity}

/** Vectors with a NaN or ±Inf component are dropped at the shared IVF
  * entry points (assignment and the coarse training sample), exactly
  * as null vectors are: one such row in a corpus must not keep the
  * index from building, and never reaches the codes. */
class IvfNonFiniteSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables(spark, sf001, "embeddings")

  /** `e` with one component of vec 7 set to NaN, of vec 11 to +Inf
    * and of vec 13 to −Inf. */
  private def poisoned: DataFrame = {
    def at0(v: Float) = transform($"embedding",
      (x, i) => when(i === 0, lit(v)).otherwise(x))
    e.withColumn("embedding",
      when($"vec_id" === 7L, at0(Float.NaN))
        .when($"vec_id" === 11L, at0(Float.PositiveInfinity))
        .when($"vec_id" === 13L, at0(Float.NegativeInfinity))
        .otherwise($"embedding"))
  }
  private val bad = Set(7L, 11L, 13L)

  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")

  private def ranks(df: DataFrame) =
    df.select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  test("IVF-PQ: a corpus with NaN/±Inf vectors commits a readable index " +
      "over the other rows; probe and append succeed") {
    val corpus = poisoned
    val clean = e.filter(!$"vec_id".isin(bad.toSeq: _*))
    val dir = tmpDir("ivfpq-nonfinite")
    IvfPqIndex.write(corpus, dir, dims = 64, nlist = 8)
    val mse = IvfPqIndex.meta(spark, dir).map(_._5)
    assert(mse.exists(m => !m.isNaN && !m.isInfinite && m > 0.0),
      s"build_mse must be finite: $mse")
    val ids = spark.read.parquet(
        s"${IndexVersions.resolvePath(spark, dir)}/codes")
      .select($"id").as[Long].collect().toSet
    assert(ids == clean.select($"vec_id").as[Long].collect().toSet)
    // every cell + full rerank: exact over the rows the index holds
    assert(ranks(IvfPqIndex.probe(spark, dir, queries, rerankFrom = corpus,
        k = 5, nprobe = 8, rerank = 100000)) ==
      ranks(Similarity.bruteForceTopK(clean, queries, k = 5)))
    val arrivals = corpus.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val seg = IvfPqIndex.append(spark, dir, arrivals)
    assert(seg == 1L)
    assert(spark.read.parquet(s"$dir/segments/seg1").count() == 20L - 3L)
  }

  test("IVF: a corpus with NaN/±Inf vectors builds, and the bad rows " +
      "are neither indexed nor assigned") {
    val corpus = poisoned
    val dir = tmpDir("ivf-nonfinite")
    IvfIndex.write(corpus, dir, dims = 64, nlist = 8)
    val m = IvfIndex.meta(spark, dir).map(_._3)
    assert(m.exists(x => !x.isNaN && !x.isInfinite && x > 0.0), s"build_mse: $m")
    val ids = spark.read.parquet(
        s"${IndexVersions.resolvePath(spark, dir)}/vectors")
      .select($"id").as[Long].collect().toSet
    assert(ids.size == 500 - 3 && ids.intersect(bad).isEmpty)
    val cells = IvfIndex.assignCells(spark, dir, corpus.filter($"vec_id" < 20))
    assert(cells.count() == 20L - 3L)
  }
}
