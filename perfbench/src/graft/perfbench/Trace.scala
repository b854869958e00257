package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all from outside the program:
  *
  *  - spans the harness times around each call it makes into a module
  *    (`span`), kept in memory and summarised at the end;
  *  - a `SparkListener` that books jobs, tasks, executor CPU, shuffle
  *    and spill bytes to the LAYER the harness named on the calling thread
  *    (a Spark local property, so jobs started from that thread carry it),
  *    and a `QueryExecutionListener` whose planning phases are booked to
  *    the layer whose window of wall time they started in;
  *  - a `StreamingQueryListener` that keeps every micro-batch's progress
  *    (duration phases, state-store figures, input rows) per query name.
  *
  * Untraced runs install only the progress listener: the end-to-end
  * freshness metrics need each micro-batch's commit instant. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** Time `body` as one sample of span `name` (ms). Always returns the
    * body's value; records only when tracing. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]())
        .add((System.nanoTime() - t0) / 1e6)
    }

  def spanSamples(name: String): Seq[Double] =
    Option(spans.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Run `body` with every Spark job it starts booked to `layer`, and the
    * planning of every query it plans inside this window of wall time. */
  def inLayer[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      sc.setLocalProperty(LayerKey, prev)
      windows.add((layer, t0, System.currentTimeMillis()))
    }
  }

  // ---------------------------------------------------------- job ledger

  private final class LayerTotals {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val totals = mutable.Map[String, LayerTotals]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val windows = new ConcurrentLinkedQueue[(String, Long, Long)]()
  /** (planning start, planning ms) of every successful query */
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var markerSeen = false

  private def layerOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(LayerKey)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      layerOf(e.properties).foreach { l =>
        if (l == Marker) markerSeen = true
        else {
          totals.synchronized(totals.getOrElseUpdate(l, new LayerTotals).jobs += 1)
          e.stageIds.foreach(s => stageLayer.put(s, l))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLayer.get(e.stageId)).foreach { l =>
        val m = e.taskMetrics
        totals.synchronized {
          val t = totals.getOrElseUpdate(l, new LayerTotals)
          t.tasks += 1
          if (m != null) {
            t.cpuNs += m.executorCpuTime
            t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.add(phases.map(_.startTimeMs).min ->
        phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ------------------------------------------------- streaming progress

  private val progress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]]()

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.name, _ => new ConcurrentLinkedQueue()).add(e)
  }

  /** Every progress report of query `name`, by batch id. */
  def progressOf(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    Option(progress.get(name)).map(_.asScala.toSeq.map(_.progress)).getOrElse(Nil)
      .sortBy(_.batchId)

  spark.streams.addListener(progressListener)
  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait until the listener bus has delivered everything posted so far
    * (a marker job's start event arrives after every earlier event). */
  def drain(): Unit = if (enabled) {
    markerSeen = false
    inLayer(Marker)(spark.range(1).count())
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // the marker's own task/qe events trail its job start
  }

  /** Per-layer totals: (jobs, tasks, executor CPU s, shuffle bytes, spill
    * bytes, planning ms). */
  def layerTotals(layer: String): (Long, Long, Double, Long, Long, Double) =
    totals.synchronized {
      val mine = windows.asScala.toSeq.filter(_._1 == layer)
      val plan = plans.asScala.toSeq.collect {
        case (start, ms) if mine.exists { case (_, a, b) => start >= a && start <= b } => ms
      }.sum
      totals.get(layer) match {
        case Some(t) => (t.jobs, t.tasks, t.cpuNs / 1e9, t.shuffleBytes, t.spillBytes, plan)
        case None => (0L, 0L, 0.0, 0L, 0L, plan)
      }
    }

  def close(): Unit = {
    spark.streams.removeListener(progressListener)
    if (enabled) {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}

object Trace {
  val LayerKey = "perfbench.layer"
  private val Marker = "__marker"
}
