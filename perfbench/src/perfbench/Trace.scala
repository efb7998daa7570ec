package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType

import graft.model.{DestColumn, MigrationSpec, WriteMode}
import graft.sinks.Sink
import graft.sources.Source

/** Totals of one layer over the traced rounds of a run. */
final class LayerCounters {
  var calls = 0L
  var selfS = 0.0
  var buildS = 0.0
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesOut = 0L
}

/** Outside-in tracer: spans opened by the harness around calls into the
  * program's layers, plus one listener that attributes every Spark job,
  * stage and task to the innermost open span.
  *
  * Attribution goes through a local property the harness owns
  * ([[Tracer.Prop]]), not the job group, because `Migrator.migrate` sets
  * and clears its own job group around the sink write. Local properties
  * are inherited by the threads Spark starts for a query (streaming
  * micro-batches, broadcast and subquery jobs), so their jobs land on
  * the span that started them.
  *
  * Spans are kept in memory as per-layer totals; a layer's time is its
  * self time: span duration minus the time of the spans nested in it.
  * Only the harness thread opens and closes spans. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Prop

  private final class Open(val layer: String, val t0: Long) {
    var childNs = 0L
  }

  private val stack = mutable.ArrayBuffer[Open]()
  private val layers = mutable.LinkedHashMap[String, LayerCounters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private var on = false

  /** Starts recording: the listener is attached only while tracing, so
    * untraced rounds pay nothing for it. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(this)
    on = true
  }

  /** Stops recording after every pending listener event is delivered. */
  def stop(): Unit = if (on) {
    require(stack.isEmpty, s"open spans at stop: ${stack.map(_.layer)}")
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    on = false
  }

  def counters(layer: String): LayerCounters = synchronized {
    layers.getOrElseUpdate(layer, new LayerCounters)
  }

  def snapshot: Map[String, LayerCounters] = synchronized { layers.toMap }

  def open(layer: String): Unit = if (on) {
    stack += new Open(layer, System.nanoTime())
    sc.setLocalProperty(Prop, layer)
  }

  def close(): Unit = if (on && stack.nonEmpty) {
    val o = stack.remove(stack.size - 1)
    val dur = System.nanoTime() - o.t0
    val c = counters(o.layer)
    synchronized {
      c.calls += 1
      c.selfS += (dur - o.childNs) / 1e9
    }
    stack.lastOption.foreach(_.childNs += dur)
    sc.setLocalProperty(Prop, stack.lastOption.map(_.layer).orNull)
  }

  /** Closes the innermost span if it belongs to `layer`. */
  def closeIf(layer: String): Unit =
    if (on && stack.nonEmpty && stack.last.layer == layer) close()

  def span[A](layer: String)(f: => A): A = {
    open(layer)
    try f finally close()
  }

  /** Adds time measured inside a span that is not a layer of its own
    * (a query's build phase). */
  def addBuild(layer: String, seconds: Double): Unit = if (on) {
    val c = counters(layer)
    synchronized { c.buildS += seconds }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .getOrElse(Tracer.Untraced)
    e.stageIds.foreach(stageLayer.put(_, layer))
    val c = counters(layer)
    synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = Option(stageLayer.get(e.stageId)).getOrElse(Tracer.Untraced)
    val c = counters(layer)
    val m = e.taskMetrics
    synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Tracer {
  val Prop = "perfbench.layer"
  val Untraced = "untraced"
}

/** Delegating [[Source]]: catalog calls count as `sources.schemaOf`, the
  * pruned scan (with its latest-partition lookup job) as
  * `sources.buildScan`. Returning from `buildScan` opens the `transform`
  * span, which [[TracedSink.write]] closes: the gap between the two is
  * where the migrator builds its cast/map/align/default/null-policy plan
  * and runs any null-count job. */
final class TracedSource(in: Source, t: Tracer) extends Source {
  private def cat[A](f: => A): A = t.span("sources.schemaOf")(f)
  override def table(name: String): DataFrame = cat(in.table(name))
  override def schemaOf(name: String): Seq[graft.model.SourceColumn] =
    cat(in.schemaOf(name))
  override def partitionColumns(name: String): Set[String] =
    cat(in.partitionColumns(name))
  override def testConnection(): Boolean = cat(in.testConnection())
  override def validateAccess(name: String): Boolean = cat(in.validateAccess(name))
  override def latestPartitions(df: DataFrame,
      partCols: Seq[String]): Map[String, String] =
    t.span("sources.buildScan")(in.latestPartitions(df, partCols))
  override def buildScan(spec: MigrationSpec): DataFrame = {
    val df = t.span("sources.buildScan")(in.buildScan(spec))
    t.open("transform")
    df
  }
}

/** Delegating [[Sink]]: `write` is `sinks.write`, every other call
  * (existence, DDL, truncate, schema fetch) is `sinks.catalog`. */
final class TracedSink(in: Sink, t: Tracer) extends Sink {
  private def cat[A](f: => A): A = t.span("sinks.catalog")(f)
  override def testConnection(): Boolean = cat(in.testConnection())
  override def ddlType(dt: DataType): String = in.ddlType(dt)
  override def ensureNamespace(namespace: String): Unit =
    cat(in.ensureNamespace(namespace))
  override def tableExists(table: String): Boolean = cat(in.tableExists(table))
  override def createTable(table: String, columns: Seq[DestColumn],
      tableComment: Option[String]): Unit =
    cat(in.createTable(table, columns, tableComment))
  override def tableComment(table: String): Option[String] =
    cat(in.tableComment(table))
  override def setTableComment(table: String, comment: String): Boolean =
    cat(in.setTableComment(table, comment))
  override def truncateOrDrop(table: String): Unit = cat(in.truncateOrDrop(table))
  override def destSchema(table: String): Option[Seq[DestColumn]] =
    cat(in.destSchema(table))
  override def addColumns(table: String, columns: Seq[DestColumn]): Unit =
    cat(in.addColumns(table, columns))
  override def write(df: DataFrame, table: String, mode: WriteMode): Unit = {
    t.closeIf("transform")
    t.span("sinks.write")(in.write(df, table, mode))
  }
}
