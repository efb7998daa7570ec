package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfPqIndex}
import graft.streaming.AnnIngestStream

/** What one IVF-PQ ingest round schedules, and that the cheaper round
  * computes the same artifacts: Spark job budgets for a streaming
  * micro-batch, a compaction and a probe; byte-copied compaction
  * artifacts; the drift row observed on the append write equal to
  * [[IvfPqIndex.drift]].
  */
class IvfPqJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Scope = "graft.spec.jobScope"

  /** Counts the jobs started by threads carrying the scope property
    * (local properties pass to the threads a query starts for
    * broadcasts and subqueries). */
  private final class JobCount extends SparkListener {
    val n = new AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Scope) != null)
        n.incrementAndGet(): Unit
  }

  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val count = new JobCount
    sc.addSparkListener(count)
    sc.setLocalProperty(Scope, "on")
    try {
      val a = f
      org.apache.spark.SpecListenerBus.drain(sc)
      (a, count.n.get)
    } finally {
      sc.setLocalProperty(Scope, null)
      sc.removeSparkListener(count)
    }
  }

  // every frame is built before a counted call: building a frame over
  // the testdata parquet infers its schema, which is a job of its own
  private lazy val e = Tables(spark, sf001, "embeddings")
  private lazy val baseRows = e.filter($"vec_id" % 3 =!= 0)
  private lazy val arrivals = e.filter($"vec_id" % 3 === 0)
  private lazy val queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")

  private def index(prefix: String): String = {
    val idx = tmpDir(prefix)
    IvfPqIndex.write(baseRows, idx, dims = 64, nlist = 8)
    idx
  }

  private def applyBatch(idx: String, driftDir: String, batch: DataFrame,
      batchId: Long): DataFrame =
    AnnIngestStream.applyBatch(spark, batch, batchId, idx, base = 0L,
      driftDir, "vec_id", "embedding", maxLiveSegments = Int.MaxValue,
      retrainRatio = Double.MaxValue, rebuildCorpus = None,
      nlist = 8, fitSamplePerCell = 256)

  /** (file name → bytes) of the data files of an artifact directory. */
  private def filesOf(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .filterNot(f => f.getName.startsWith("."))
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toMap

  private def driftRow(driftDir: String, batchId: Long) = {
    val rows = spark.read.parquet(s"$driftDir/batch=$batchId").collect()
    assert(rows.length == 1, s"batch $batchId logged ${rows.length} rows")
    rows.head
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  test("job budget: a micro-batch, a compaction and a partial probe " +
      "schedule at most 7, 3 and 12 Spark jobs") {
    val idx = index("jobs-idx")
    val driftDir = tmpDir("jobs-drift")
    val (_, batchJobs) = jobsOf(applyBatch(idx, driftDir, arrivals, 0L))
    val (_, compactJobs) = jobsOf(IvfPqIndex.compact(spark, idx))
    val (got, probeJobs) = jobsOf(IvfPqIndex.probe(spark, idx, queries,
      rerankFrom = e, k = 5, nprobe = 4, rerank = 50).collect())
    assert(got.nonEmpty)
    assert(batchJobs <= 7, s"applyBatch ran $batchJobs jobs")
    assert(compactJobs <= 3, s"compact ran $compactJobs jobs")
    assert(probeJobs <= 12, s"probe ran $probeJobs jobs")
  }

  test("compact copies centroids/ and codebook/ byte for byte into the " +
      "new generation") {
    val idx = index("copy-idx")
    IvfPqIndex.append(spark, idx, arrivals)
    val before = IndexVersions.resolvePath(spark, idx)
    val want = Seq("centroids", "codebook").map(a => filesOf(s"$before/$a"))
    IvfPqIndex.compact(spark, idx)
    val after = IndexVersions.resolvePath(spark, idx)
    assert(after != before)
    Seq("centroids", "codebook").zip(want).foreach { case (a, w) =>
      val got = filesOf(s"$after/$a")
      assert(w.keys.exists(_.endsWith(".parquet")))
      assert(got.keySet == w.keySet, s"$a files: ${got.keySet} vs ${w.keySet}")
      w.foreach { case (name, bytes) =>
        assert(got(name) == bytes, s"$a/$name differs from the previous generation")
      }
    }
  }

  test("the drift row observed on the append write equals " +
      "IvfPqIndex.drift over the same batch") {
    val idx = index("drift-eq-idx")
    val driftDir = tmpDir("drift-eq-log")
    // a shifted batch too, so the ratio is not near 1 by construction
    val shifted = arrivals.select(($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        (x + when(i < 8, 0.5f).otherwise(0f)).cast("float")).as("embedding"))
    Seq(arrivals -> 0L, shifted -> 1L).foreach { case (b, id) =>
      val want = IvfPqIndex.drift(spark, idx, b).head()
      applyBatch(idx, driftDir, b, id)
      val got = driftRow(driftDir, id)
      assert(got.getAs[Long]("seg") == id + 1)
      assert(got.getAs[Long]("n") == want.getAs[Long]("n"))
      assert(got.getAs[Double]("build_mse") == want.getAs[Double]("build_mse"))
      Seq("batch_mse", "ratio").foreach { c =>
        assert(close(got.getAs[Double](c), want.getAs[Double](c)),
          s"batch $id $c: logged ${got.getAs[Double](c)}, drift ${want.getAs[Double](c)}")
      }
    }
  }

  test("an empty batch (-1) and a retry after a fold (-2) each log " +
      "exactly one drift row") {
    val idx = index("drift-paths-idx")
    val driftDir = tmpDir("drift-paths-log")
    applyBatch(idx, driftDir, e.filter($"vec_id" < 0), 0L)
    val empty = driftRow(driftDir, 0L)
    assert(empty.getAs[Long]("seg") == -1L && empty.getAs[Long]("n") == 0L)
    assert(empty.getAs[Double]("ratio") == 0.0)
    applyBatch(idx, driftDir, arrivals, 1L)
    IvfPqIndex.compact(spark, idx)
    applyBatch(idx, driftDir, arrivals, 1L)
    val retry = driftRow(driftDir, 1L)
    val want = IvfPqIndex.drift(spark, idx, arrivals).head()
    assert(retry.getAs[Long]("seg") == -2L)
    assert(retry.getAs[Long]("n") == want.getAs[Long]("n"))
    assert(retry.getAs[Double]("batch_mse") == want.getAs[Double]("batch_mse"))
    assert(AnnIngestStream.driftLog(spark, driftDir).get.count() == 2L)
  }
}
