package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.config.ConfigLoader
import graft.model.{MigrationSpec, WriteMode}
import graft.operators.{IndexVersions, IvfPqIndex}
import graft.run.Migrator
import graft.sinks.{DerbyDialect, FileSink, JdbcSink, Sink}
import graft.sources.{Source, SourceReader}
import graft.streaming.AnnIngestStream

/** One timed operation of the measured phase. */
final case class Op(unit: Int, kind: String, name: String, seconds: Double,
    rows: Long, traced: Boolean, ok: Boolean)

/** What one run hands to perfbench/run.py as `result.json`. */
final case class Result(session_s: Double, setup_s: Double, measured_s: Double,
    units: Int, steal_share: Double, peak_rss_mb: Double, heap_live_mb: Double,
    heap_end_mb: Double, ops: Seq[Op], errors: Seq[String],
    layers: Map[String, Map[String, Double]], facts: Map[String, Any])

/** The JVM side of the benchmark: one workload, closed loop, one driver
  * thread issuing operations back to back on one session.
  *
  * Usage: `perfbench.Harness <workload> <workDir> <seconds> <trace 0|1>`
  * from the root of a checkout. Inputs come from
  * `<workDir>/in` (made by perfbench/gen.py); results go to
  * `<workDir>/result.json`, which perfbench/run.py turns into metrics.
  *
  * Set-up (session start, the untimed warm-up, the base index build) is
  * timed on its own. The measured phase then runs units (one query, or
  * one round) until `seconds` have passed and the workload's
  * [[Workload.minUnits]] are done; the minimum is set to take longer than
  * `seconds`, so a run's operation count is fixed. In a traced run half
  * the units are traced, so the untraced ones of the same run give the
  * tracing overhead. */
object Harness {

  val Cores = 4

  implicit val formats: DefaultFormats.type = DefaultFormats

  def writeJson(path: Path, value: AnyRef): Unit =
    Files.writeString(path, Serialization.write(value))

  def main(args: Array[String]): Unit =
    if (args(0) == "cds") classListRun(args(1)) else run(args)

  /** Loads the classes every run needs (session start, a shuffle, a
    * parquet round trip) so build.py can archive them for class-data
    * sharing; the archive halves JVM start-up on this host. */
  def classListRun(work: String): Unit = {
    val spark = session(work)
    spark.range(0, 10000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v")
      .write.mode("overwrite").parquet(s"$work/probe")
    spark.read.parquet(s"$work/probe").collect()
    spark.stop()
  }

  def run(args: Array[String]): Unit = {
    val workload = args(0)
    val work = Paths.get(args(1)).toAbsolutePath.toString
    val seconds = args(2).toDouble
    val trace = args(3) == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, new Tracer(spark.sparkContext), trace)
    val w: Workload = workload match {
      case "query_mix"  => new QueryMix(run, work)
      case "migrate"    => new Migrate(run, work)
      case "ann_ingest" => new AnnIngest(run, work)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    Console.err.println(f"[harness] session $sessionS%.2f s, set-up $setupS%.2f s")
    // what the ready session retains; the full GC it takes also starts
    // every measured phase from the same heap state
    val heapReadyMb = liveHeapMb(spark)
    val steal0 = Host.cpuTicks()
    val m0 = System.nanoTime()
    var unit = 0
    // a traced run needs traced and untraced samples of every operation,
    // and U T T U takes four single-unit passes; a run ends on a whole
    // pass, so every query of a pass has as many samples as the others
    val upp = w.unitsPerPass
    val minUnits = if (trace) math.max(w.minUnits, 4) else w.minUnits
    while (unit < minUnits || unit % upp != 0 || (System.nanoTime() - m0) / 1e9 < seconds) {
      run.unit = unit
      run.traced = trace && traced(unit, upp)
      run.tracing(run.traced)(w.unit(unit))
      unit += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val steal1 = Host.cpuTicks()
    run.traced = false
    val heapEndMb = liveHeapMb(spark)
    w.finish()
    val layers = run.tracer.snapshot.map { case (name, c) =>
      name -> Map("calls" -> c.calls.toDouble, "self_s" -> c.selfS, "build_s" -> c.buildS,
        "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble, "cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_bytes" -> c.shuffleBytes.toDouble,
        "spill_bytes" -> c.spillBytes.toDouble, "bytes_out" -> c.bytesOut.toDouble)
    }
    writeJson(Paths.get(work, "result.json"), Result(sessionS, setupS, measuredS, unit,
      Host.stealShare(steal0, steal1), Host.peakRssMb(), heapReadyMb, heapEndMb,
      run.ops.toSeq, run.errors.toSeq, layers, w.facts))
    spark.stop()
  }

  /** Heap still in use after a full collection, in MB. Blocks pinned by
    * the last operation are dropped first: they depend on where a phase
    * ended, not on what the session retains. */
  def liveHeapMb(spark: SparkSession): Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Which units of a traced run are traced. Passes of several units
    * swap halves from pass to pass (a query traced in one pass is
    * untraced in the next); single-unit passes follow U T T U. Either way
    * traced and untraced samples sit on both sides of the JIT warm-up
    * trend, which would otherwise read as tracing overhead. */
  def traced(unit: Int, upp: Int): Boolean =
    if (upp > 1) (unit / upp + unit % upp) % 2 == 1
    else unit % 4 == 1 || unit % 4 == 2

  /** The configuration `graft.Bench` and `graft.Verify` run under. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", String.valueOf(64L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** State shared by a workload's operations. */
final class Run(val spark: SparkSession, val tracer: Tracer, val traceRun: Boolean) {
  val ops = mutable.ArrayBuffer[Op]()
  val errors = mutable.ArrayBuffer[String]()
  var traced = false
  var unit = -1

  def tracing[A](on: Boolean)(f: => A): A = {
    if (on) tracer.start()
    try f finally if (on) tracer.stop()
  }

  def fail(what: String): Unit = errors += what

  /** Fails the operation recorded last, for a check made after it. */
  def failLast(what: String): Unit = {
    fail(what)
    ops(ops.size - 1) = ops.last.copy(ok = false)
  }

  /** Times `f` as one operation; `f` returns (rows, ok). A thrown
    * exception is a failed operation, never a timing. */
  def op(kind: String, name: String)(f: => (Long, Boolean)): Unit = {
    val t0 = System.nanoTime()
    val (rows, ok) =
      try f
      catch { case NonFatal(e) =>
        fail(s"$kind/$name: ${e.toString.take(300)}")
        (0L, false)
      }
    ops += Op(unit, kind, name, (System.nanoTime() - t0) / 1e9, rows, traced, ok)
  }

  /** Drops blocks pinned by the previous operation (iterative operators
    * leave local checkpoints cached), as `graft.Bench` does between
    * queries. */
  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

trait Workload {
  /** Units that make one pass (the traced/untraced pattern follows it). */
  def unitsPerPass: Int = 1
  /** Units a run measures at least: the workload's operation count, which
    * fixes which samples its percentiles are taken from. */
  def minUnits: Int
  def setup(): Unit
  def unit(i: Int): Unit
  def finish(): Unit
  /** Workload-specific figures for run.py's report line. */
  def facts: Map[String, Any] = Map.empty
}

object QueryMix {
  /** One query per family, each with its family's custom plan or kernel
    * (as-of merge exec, HLL sketch, MinHash, IVF-PQ with its quantizer
    * cache, n-gram spans, multimodal near-dup, curation pipeline, cast
    * pipeline), kept short so a cold pass fits the run budget. */
  val Names: Seq[String] = Seq("q_asof_join", "sketch_hll_rollup", "dedup_minhash_pairs",
    "sim_topk_ivfpq", "text_dup_spans", "mm_near_dedup", "pipeline_curate",
    "mig_cast_pipeline")

  /** Queries whose output is not bit-stable run to run: their measured
    * executions are checked on row count only. None is at this commit. */
  val NotBitStable: Set[String] = Set.empty
}

/** Passes over [[QueryMix.Names]], each query materialised through the
  * `noop` sink. The warm-up pass writes every result as parquet for the
  * DuckDB oracle check made by run.py; every measured execution must
  * reproduce the warm-up's row count and order-insensitive fingerprint
  * (row count only for [[QueryMix.NotBitStable]]). */
final class QueryMix(run: Run, work: String) extends Workload {
  import QueryMix.{Names => names, NotBitStable}
  private val spark = run.spark
  private val dir = s"$work/in"
  private val warm = mutable.LinkedHashMap[String, (Long, Long, Long)]()

  private def family(q: String): String = "queries." + q.takeWhile(_ != '_')

  private def fingerprint(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _          => c
      }
    }
    val h = xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(2147483647L))).as("s"))
  }

  private def read(obs: Observation): (Long, Long, Long) = {
    val m = obs.get
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    (l("n"), l("x"), l("s"))
  }

  def setup(): Unit = {
    names.foreach { q =>
      try {
        val obs = Observation(s"fp_$q")
        fingerprint(SparkEntry.queries(q)(spark, dir), obs)
          .write.mode("overwrite").parquet(s"$work/out/$q")
        warm(q) = read(obs)
      } catch { case NonFatal(e) => run.fail(s"warm-up $q: ${e.toString.take(300)}") }
      run.unpersistAll()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Harness.writeJson(Paths.get(work, "oracle_sql.json"), oracles)
  }

  override def unitsPerPass: Int = names.size
  // two whole passes: every query gets the same number of samples, and a
  // query's figure is the mean of two, not one cold-side sample
  override def minUnits: Int = 2 * names.size

  def unit(i: Int): Unit = {
    val q = names(i % names.size)
    val layer = family(q)
    run.op("query", q) {
      run.tracer.span(layer) {
        val b0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        run.tracer.addBuild(layer, (System.nanoTime() - b0) / 1e9)
        val obs = Observation(s"fp_$q")
        fingerprint(df, obs).write.format("noop").mode("overwrite").save()
        val got = read(obs)
        val ok = warm.get(q) match {
          case Some(w) if w == got || (NotBitStable(q) && w._1 == got._1) => true
          case Some(w) =>
            run.fail(s"$q: (rows, xor, sum) fingerprint $got, warm-up gave $w")
            false
          case None => false
        }
        (got._1, ok)
      }
    }
    run.unpersistAll()
  }

  def finish(): Unit = ()

  override def facts: Map[String, Any] =
    Map("queries" -> names, "not_bit_stable" -> NotBitStable.toSeq.sorted)
}

/** Rounds of two migrations from a Hive-partitioned source: `lineitem`
  * to parquet through `FileSink` with the `examples/migrate.json`
  * mapping, and `orders` to embedded Derby through `JdbcSink`, both
  * Overwrite. Every call is checked by reading the destination back. */
final class Migrate(run: Run, work: String) extends Workload {
  private val spark = run.spark
  private val srcDir = s"$work/in"
  private val dstDir = s"$work/dst"
  private val url = s"jdbc:derby:$work/derby/graft;create=true"
  private val config = "examples/migrate.json"
  private val compat = ConfigLoader.compatFrom(ConfigLoader.loadFlat(config))
  private val liSpec = MigrationSpec("lineitem", "lineitem_out", WriteMode.Overwrite,
    mapping = ConfigLoader.selectTableMapping(config, "lineitem"), compat = compat)
  private val orSpec = MigrationSpec("orders", "orders_out", WriteMode.Overwrite,
    mapping = ConfigLoader.selectTableMapping(config, "orders"), compat = compat)
  private val source = new SourceReader(spark, srcDir)
  private val fileSink = new FileSink(spark, dstDir)
  private val jdbcSink = new JdbcSink(url, dialect = DerbyDialect)
  private var liExpect: Row = _
  private var orExpect: Row = _
  private val bytesPerRow = mutable.ArrayBuffer[Double]()

  private def latest(table: String): DataFrame = {
    val df = spark.read.parquet(s"$srcDir/$table")
    df.filter(col("pt") === df.agg(max(col("pt"))).head().get(0))
  }

  private def migrate(spec: MigrationSpec, sink: Sink): Long = {
    val t = run.tracer
    val (src, snk): (Source, Sink) =
      if (run.traced) (new TracedSource(source, t), new TracedSink(sink, t))
      else (source, sink)
    t.span("run.migrate") {
      try new Migrator(src, snk, _ => ()).migrate(spec).rowsWritten
      finally t.closeIf("transform")
    }
  }

  private def parquetRound(name: String): Unit = {
    run.op("migrate", name) {
      val rows = migrate(liSpec, fileSink)
      (rows, rows == liExpect.getLong(0))
    }
    val d = spark.read.parquet(s"$dstDir/lineitem_out")
    val got = d.agg(count(lit(1)), sum(col("order_id")),
      sum(col("l_extendedprice").cast("decimal(18,2)")),
      sum(when(col("flag_status") ===
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")), 0).otherwise(1)),
      sum(when(col("ship_label") === format_string("%010d", col("order_id")), 0)
        .otherwise(1))).head()
    val ok = got.getLong(0) == liExpect.getLong(0) && got.getLong(1) == liExpect.getLong(1) &&
      got.getDecimal(2) == liExpect.getDecimal(2) && got.getLong(3) == 0L && got.getLong(4) == 0L
    if (!ok) readBackFailed(name, got, liExpect)
    bytesPerRow += dirBytes(Paths.get(dstDir, "lineitem_out")).toDouble / math.max(1L, got.getLong(0))
  }

  private def jdbcRound(name: String): Unit = {
    run.op("migrate", name) {
      val rows = migrate(orSpec, jdbcSink)
      (rows, rows == orExpect.getLong(0))
    }
    val c = java.sql.DriverManager.getConnection(url)
    val got = try {
      val rs = c.createStatement().executeQuery(
        """SELECT COUNT(*), SUM("o_orderkey"), SUM("o_custkey"), MIN("o_totalprice"),
          |MAX("o_totalprice") FROM "orders_out"""".stripMargin)
      rs.next()
      Row(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getDouble(4), rs.getDouble(5))
    } finally c.close()
    if (got != orExpect) readBackFailed(name, got, orExpect)
  }

  /** A read-back mismatch fails the operation it checked. */
  private def readBackFailed(name: String, got: Row, want: Row): Unit =
    run.failLast(s"$name read-back: got $got, source partition gives $want")

  private def dirBytes(p: Path): Long =
    Files.walk(p).filter(f => f.toString.endsWith(".parquet"))
      .mapToLong(f => Files.size(f)).sum()

  def setup(): Unit = {
    val li = latest("lineitem")
    liExpect = li.agg(count(lit(1)), sum(col("l_orderkey")),
      sum(col("l_extendedprice").cast("decimal(18,2)"))).head()
    orExpect = latest("orders").agg(count(lit(1)), sum(col("o_orderkey")),
      sum(col("o_custkey")), min(col("o_totalprice")), max(col("o_totalprice"))).head()
    // three warm-up rounds: the first compiles the code paths, the others
    // take the steep part of the JIT curve out of the measured phase
    for (_ <- 0 until 3) {
      parquetRound("warmup_parquet")
      jdbcRound("warmup_jdbc")
    }
    // the warm-up rounds are set-up, not measurement
    run.ops.clear()
  }

  override def minUnits: Int = 4

  def unit(i: Int): Unit = {
    parquetRound("lineitem_parquet")
    jdbcRound("orders_derby")
  }

  def finish(): Unit = ()

  override def facts: Map[String, Any] = Map("out_bytes_per_row" -> bytesPerRow.toSeq)
}

/** A persisted IVF-PQ index under streaming appends: a base build, then
  * rounds of one arrival file drained by `AnnIngestStream.run`, a
  * compaction, and a 64-query top-10 probe whose answers run.py scores
  * against exact top-10. Every round compacts, so every round does the
  * same work whichever rounds a run reaches. */
final class AnnIngest(run: Run, work: String) extends Workload {
  private val spark = run.spark
  private val in = s"$work/in"
  private val index = s"$work/index"
  private val srcDir = Paths.get(work, "stream-src")
  private val ckpt = s"$work/checkpoint"
  private val driftDir = s"$work/drift"
  private val dims = 64
  private val nlist = 16
  private val pqM = 16
  // 300 exact-rerank candidates per query: at 200 recall@10 reads about
  // 0.83 on this corpus and at 400 it reads 1.0, so at 300 it depends on
  // how well the PQ codes rank and a worse quantizer shows as lost recall
  private val rerank = 300
  private val probes = new StringBuilder
  private var rounds = 0
  private var baseRows = 0L
  private var arrivalRows = 0L

  private val arrivals: IndexedSeq[Path] = {
    val s = Files.list(Paths.get(in, "arrivals"))
    try s.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString).toIndexedSeq
    finally s.close()
  }

  private def corpus: DataFrame = spark.read.parquet(s"$in/base.parquet")

  private def round(r: Int, kind: String): Unit = {
    require(r < arrivals.size, s"only ${arrivals.size} arrival files generated")
    val a = arrivals(r)
    val tmp = srcDir.resolve("." + a.getFileName)
    Files.copy(a, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, srcDir.resolve(a.getFileName), StandardCopyOption.ATOMIC_MOVE)
    run.op(kind, s"ingest_$r") {
      run.tracer.span("streaming.batch") {
        AnnIngestStream.run(spark, srcDir.toString, index, ckpt, driftDir,
          maxLiveSegments = Int.MaxValue)
      }
      run.tracer.span("ivfpq.compact")(IvfPqIndex.compact(spark, index): Unit)
      (arrivalRows, true)
    }
    rounds += 1
    checkCodes()
    run.op("probe", s"probe_$r") {
      val got = run.tracer.span("ivfpq.probe") {
        val rerankFrom = spark.read.parquet(s"$in/base.parquet", srcDir.toString)
        IvfPqIndex.probe(spark, index, spark.read.parquet(s"$in/queries.parquet"),
          rerankFrom, k = 10, rerank = rerank).select(col("qid"), col("id")).collect()
      }
      got.foreach(row => probes.append(s"$r ${row.getLong(0)} ${row.getLong(1)}\n"))
      (got.length.toLong, got.nonEmpty)
    }
  }

  /** After the compaction the committed base must hold the corpus plus
    * every drained arrival, once each. */
  private def checkCodes(): Unit = {
    val codes = spark.read.parquet(IndexVersions.resolvePath(spark, index) + "/codes")
    val got = codes.agg(count(lit(1)), countDistinct(col("id"))).head()
    val want = baseRows + rounds * arrivalRows
    if (got.getLong(0) != want || got.getLong(1) != want)
      run.failLast(s"committed codes hold ${got.getLong(0)} rows " +
        s"(${got.getLong(1)} distinct ids), want base + arrivals = $want")
  }

  def setup(): Unit = {
    Files.createDirectories(srcDir)
    baseRows = corpus.count()
    arrivalRows = spark.read.parquet(arrivals.head.toString).count()
    val t0 = System.nanoTime()
    run.tracing(run.traceRun) {
      run.tracer.span("ivfpq.build") {
        IvfPqIndex.write(corpus, index, dims, nlist = nlist, m = pqM): Unit
      }
    }
    Console.err.println(f"[harness] base index build ${(System.nanoTime() - t0) / 1e9}%.2f s")
    round(0, "warmup")
    run.ops.clear()
    probes.clear()
  }

  // a round takes about 7 s, so two keep a run within its time budget
  override def minUnits: Int = 2

  def unit(i: Int): Unit = round(i + 1, "ingest")

  /** The drift log must hold one row per drained arrival file. */
  def finish(): Unit = {
    val logged = AnnIngestStream.driftLog(spark, driftDir).map(_.count()).getOrElse(0L)
    if (logged != rounds)
      run.fail(s"drift log has $logged rows for $rounds drained arrival files")
    Files.writeString(Paths.get(work, "probes.txt"), probes.toString)
  }
}

/** Host figures read from /proc. */
object Host {
  /** (steal, total) jiffies of the `cpu` line of /proc/stat; steal is
    * field 8 counting the label as field 0. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val line = try f.getLines().next() finally f.close()
      val v = line.split("\\s+").drop(1).take(8).map(_.toLong)
      (v(7), v.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      val kb = try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0) finally f.close()
      kb / 1024.0
    } catch { case NonFatal(_) => 0.0 }
}
