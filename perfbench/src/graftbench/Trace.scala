package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One clock for the whole run: nanoTime, reported as ms since start. */
object Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def ms(): Double = at(System.nanoTime())
  def at(nanoTime: Long): Double = (nanoTime - nano0) / 1e6
  /** A listener event's epoch-ms stamp on the same axis (±1 ms). */
  def fromEpochMs(t: Long): Double = (t - wall0).toDouble

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def committedHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

final class JobRec(val id: Int, val group: String, val batch: String,
                   val phase: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Engine-layer listener: attributes jobs, tasks and task metrics to the
  * job group a span set. Registered only for traced passes. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), MlPhase.of(e.stageInfos.map(_.details)),
      Clock.fromEpochMs(e.time))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromEpochMs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null) rec.synchronized {
      rec.tasks += 1
      if (m != null) {
        rec.cpuNs += m.executorCpuTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def open: Int = jobs.values.asScala.count(_.end.isNaN)
}

/** The part of a fit-and-evaluate call (`Sentiment.trainEval`) a job
  * belongs to, from the call stacks Spark records for its stages: the
  * package of the spark.ml class that submitted it. Spark keeps
  * `spark.callstack.depth` frames, which a traced run raises so the
  * classifier's frames under breeze's optimizer are kept. */
object MlPhase {
  val Depth = "1000"

  def of(callSites: Seq[String]): String = {
    def has(pkg: String) = callSites.exists(_.contains(pkg))
    if (has("org.apache.spark.ml.evaluation.")) "evaluate"
    else if (has("org.apache.spark.ml.classification.")) "train_fit"
    else if (has("org.apache.spark.ml.feature.")) "featurize_fit"
    else ""
  }
}

final case class Span(name: String, group: String, start: Double, end: Double)

/** Spans around library calls, kept in memory and written at the end.
  * When `on` is false a span only runs its body. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  val listener = new JobListener
  @volatile var on = false
  private var n = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      n += 1
      val group = s"$name#$n"
      val sc = spark.sparkContext
      sc.setJobGroup(group, name)
      val t0 = Clock.ms()
      try body
      finally {
        val t1 = Clock.ms()
        sc.clearJobGroup()
        spans.synchronized(spans += Span(name, group, t0, t1))
      }
    }

  /** Record a span whose times were measured elsewhere (session start). */
  def record(name: String, start: Double, end: Double): Unit =
    spans.synchronized(spans += Span(name, "", start, end))

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  /** Stop tracing once every job it saw has ended on the listener bus. */
  def stop(): Unit = {
    on = false
    val deadline = System.nanoTime() + 10000000000L
    while (listener.open > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // trailing task-end events of the last job
    spark.sparkContext.removeSparkListener(listener)
  }
}

/** Per-microbatch progress, with the time each batch committed: its
  * trigger's start plus the trigger's duration, both from the progress
  * itself, so the listener bus's delivery delay is not counted. */
final class ProgressListener extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[(Double, StreamingQueryProgress)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val committed = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L))
    if (p.numInputRows > 0) batches.synchronized(batches += ((committed, p)))
  }

  def of(runId: java.util.UUID): Seq[(Double, StreamingQueryProgress)] =
    batches.synchronized(batches.filter(_._2.runId == runId).toList)
}
