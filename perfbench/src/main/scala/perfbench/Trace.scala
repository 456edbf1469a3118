package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region of a traced pass. `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the Spark listener saw, attributed through two local properties
  * the client thread sets: the pass number and the attribution key (a
  * loader call, a query row, a lookup).
  */
final class SparkActivity(spark: SparkSession) extends SparkListener {
  import SparkActivity._

  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private def owner(props: java.util.Properties): (Int, String) =
    if (props == null) (-1, "")
    else (Option(props.getProperty(SparkActivity.PassProp)).map(_.toInt).getOrElse(-1),
      Option(props.getProperty(SparkActivity.KeyProp)).getOrElse(""))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (pass, key) = owner(e.properties)
    jobsById.put(e.jobId, Job(pass, key, e.time))
    e.stageIds.foreach(s => stageOwner.put(s, (pass, key)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val o = owner(e.properties)
    if (o._1 >= 0) stageOwner.putIfAbsent(e.stageInfo.stageId, o)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val (pass, key) = Option(stageOwner.get(e.stageId)).getOrElse((-1, ""))
      tasks.add(Task(pass, key, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Progress(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def jobs: Seq[Job] = jobsById.values.asScala.toSeq

  /** Waits until every started job has been seen to end, so the task and
    * job events of the measured passes are all in (the listener bus is
    * asynchronous). Called once, after the last pass.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stableSince = System.nanoTime()
    var last = -1
    while (System.nanoTime() < deadline &&
        (jobs.exists(_.endMs < 0) || System.nanoTime() - stableSince < 300000000L)) {
      val n = tasks.size
      if (n != last) { last = n; stableSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streaming)
  }
}

object SparkActivity {
  val PassProp = "perfbench.pass"
  val KeyProp = "perfbench.key"

  final case class Job(pass: Int, key: String, startMs: Long, var endMs: Long = -1L)
  final case class Task(pass: Int, key: String, runMs: Long, shuffleWrite: Long,
      spill: Long, peakMem: Long, records: Long, bytes: Long)
  final case class Progress(atMs: Long, durations: Map[String, Long])
}

/** Spans of the current pass plus per-pass metric samples. A disabled
  * trace still sets the attribution properties (so untraced passes can be
  * told apart) but records no spans.
  */
final class Trace(spark: SparkSession, val runId: String) {
  var enabled = false
  private var pass = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val allSpans = mutable.ArrayBuffer.empty[(Int, Span)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var keyStack: List[String] = Nil
  /** metric name -> one value per traced pass (summed within the pass) */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.Map[Int, Double]]

  def beginPass(p: Int): Unit = {
    pass = p
    spans.clear()
    nextId = 0
    spark.sparkContext.setLocalProperty(SparkActivity.PassProp, p.toString)
    spark.sparkContext.setLocalProperty(SparkActivity.KeyProp, "")
  }

  def endPass(): Unit = {
    allSpans ++= spans.map(pass -> _)
    spark.sparkContext.setLocalProperty(SparkActivity.PassProp, null)
  }

  /** Runs `body` as a span named `name`, recorded as the metric `metric`
    * (default `<name>_ms`); with `key` set, Spark work inside is attributed
    * to that key.
    */
  def span[T](name: String, key: String = null, metric: String = null)(body: => T): T = {
    if (key != null) {
      keyStack = key :: keyStack
      spark.sparkContext.setLocalProperty(SparkActivity.KeyProp, key)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (enabled) stack = id :: stack
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.nanoTime()
      if (enabled) {
        stack = stack.tail
        spans += Span(id, name, parent, t0, t1, ms0, System.currentTimeMillis())
        add(Option(metric).getOrElse(s"${name}_ms"), (t1 - t0) / 1e6)
      }
      if (key != null) {
        keyStack = keyStack.tail
        spark.sparkContext.setLocalProperty(SparkActivity.KeyProp, keyStack.headOption.orNull)
      }
    }
  }

  /** Adds to a per-pass metric sample (traced passes only). */
  def add(metric: String, v: Double): Unit =
    if (enabled) {
      val m = samples.getOrElseUpdate(metric, mutable.Map.empty)
      m(pass) = m.getOrElse(pass, 0.0) + v
    }

  /** (pass, span name, wall-clock start ms, end ms) of every traced span. */
  def windows(passes: Set[Int]): Seq[(Int, String, Long, Long)] =
    allSpans.toSeq.collect { case (p, s) if passes(p) => (p, s.name, s.startMs, s.endMs) }

  /** Median over traced passes of each metric; a pass that never touched a
    * metric counts as 0 for it.
    */
  def medians(passes: Set[Int]): Map[String, Double] =
    samples.map { case (k, m) =>
      k -> Stats.median(passes.toSeq.map(p => m.getOrElse(p, 0.0)))
    }.toMap

  /** Self time per top-level layer (the part of each span its children do
    * not cover), median over traced passes.
    */
  def layerSelfMs(passes: Set[Int]): Map[String, Double] = {
    val perPass = passes.toSeq.map { p =>
      val ss = allSpans.collect { case (`p`, s) => s }
      val childMs = ss.groupBy(_.parent).map { case (par, cs) => par -> cs.map(_.ms).sum }
      ss.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, xs) =>
        layer -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      }
    }
    perPass.flatMap(_.keys).distinct.map { l =>
      l -> Stats.median(perPass.map(_.getOrElse(l, 0.0)))
    }.toMap
  }

  /** Spans as TSV: run id, pass, id, name, parent, start/end (ns from the
    * pass's first span), self ms.
    */
  def spansTsv: String = {
    val sb = new StringBuilder("run\tpass\tid\tname\tparent\tstart_ns\tend_ns\tself_ms\n")
    allSpans.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (p, ps) =>
      val ss = ps.map(_._2)
      val t0 = ss.map(_.startNs).min
      val childMs = ss.groupBy(_.parent).map { case (par, cs) => par -> cs.map(_.ms).sum }
      ss.sortBy(_.startNs).foreach { s =>
        sb ++= s"$runId\t$p\t${s.id}\t${s.name}\t${s.parent}\t${s.startNs - t0}\t${s.endNs - t0}\t" +
          f"${s.ms - childMs.getOrElse(s.id, 0.0)}%.3f\n"
      }
    }
    sb.toString
  }
}

/** JVM-wide counters read around the measured passes. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** CPU time of the whole process: unlike wall time, it does not grow
    * while the host deschedules the machine's CPUs (steal time).
    */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
