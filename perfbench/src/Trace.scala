package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds since the recorder started;
  * `parent` is 0 for a top-level span and `trace` is the id of the
  * top-level span the interval belongs to.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String, start: Long, end: Long)

/** A finished Spark job with the task totals of its stages. */
final class JobStat(val id: Int, val span: Long, val batchId: Long, val start: Long) {
  var end: Long = start
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // stage -> task durations
}

/** Everything the benchmark observes from outside the program under test:
  * spans around the calls it makes, a `SparkListener` for jobs, stages,
  * tasks and block updates, a `QueryExecutionListener` for Catalyst phase
  * times, a `StreamingQueryListener` for micro-batch progress, Hadoop
  * `FileSystem` statistics and the JVM's GC and heap beans.
  *
  * Progress events are always collected, because the streaming latency is
  * read from them. The other listeners are attached around traced
  * operations only, so untraced operations pay for none of them.
  */
final class Recorder(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  def nowUs: Long = (System.nanoTime() - t0Nanos) / 1000
  def epochMsToUs(ms: Long): Long = (ms - t0Epoch) * 1000

  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  @volatile var tracing = false

  /** Run `body` inside a span. Spark jobs submitted by this thread meanwhile
    * are parented to it through a job-local property.
    */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val id = nextId.incrementAndGet()
    val (parent, trace) = stack.get() match {
      case (p, t) :: _ => (p, t)
      case Nil => (0L, id)
    }
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(Recorder.SpanKey)
    stack.set((id, trace) :: stack.get())
    sc.setLocalProperty(Recorder.SpanKey, s"$id:$trace")
    val start = nowUs
    try body
    finally {
      val end = nowUs
      stack.set(stack.get().tail)
      sc.setLocalProperty(Recorder.SpanKey, saved)
      spans.synchronized(spans += Span(id, parent, trace, name, start, end))
    }
  }

  /** Record a top-level span timed elsewhere (a micro-batch); returns its id. */
  def addSpan(name: String, start: Long, end: Long): Long = {
    val id = nextId.incrementAndGet()
    spans.synchronized(spans += Span(id, 0L, id, name, start, end))
    id
  }

  // ---- streaming progress (always on) --------------------------------------
  val progress = new java.util.concurrent.LinkedBlockingQueue[StreamingQueryListener.QueryProgressEvent]()
  private val progressListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.put(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(progressListener)

  /** Micro-batch id -> (span id, batch start, end of its addBatch phase). */
  val batchSpans = new ConcurrentHashMap[Long, (Long, Long, Long)]()

  // ---- jobs, stages, tasks, blocks -----------------------------------------
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, JobStat]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var blockBytes = 0L
  @volatile var blockPeak = 0L
  @volatile var blockAdded = 0L

  /** Current bytes of RDD blocks (persist and checkpoint data) in the store. */
  def rddBlockBytes: Long = blockBytes
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val spanId = props.flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
        .map(_.takeWhile(_ != ':').toLong).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      val j = new JobStat(e.jobId, spanId, batch, epochMsToUs(e.time))
      j.stages = e.stageInfos.size
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = epochMsToUs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) Recorder.this.synchronized {
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val old = Option(blocks.get(key)).getOrElse(0L)
        if (size > 0) blocks.put(key, size) else blocks.remove(key)
        blockBytes += size - old
        if (size > old) blockAdded += size - old
        if (blockBytes > blockPeak) blockPeak = blockBytes
      }
    }
  }

  // ---- Catalyst phases -----------------------------------------------------
  val phaseMs = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  /** Add the phase times of one executed plan, once per plan. */
  def addPhases(qe: QueryExecution): Unit = if (tracing) phaseMs.synchronized {
    if (seenQe.add(qe)) qe.tracker.phases.foreach { case (k, p) =>
      if (phaseMs.contains(k)) phaseMs(k) += p.durationMs
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPhases(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPhases(qe)
  }

  // ---- file system and JVM -------------------------------------------------
  /** Bytes written through Hadoop's local file system so far. */
  def fsBytesWritten: Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Attach the tracing listeners. */
  def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    tracing = true
  }

  /** Detach them; call after [[drain]], so they have seen every event. */
  def stopTracing(): Unit = {
    tracing = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def close(): Unit = {
    if (tracing) stopTracing()
    spark.streams.removeListener(progressListener)
  }

  /** Spark jobs as spans, parented to the call or micro-batch that ran them. */
  def jobSpans: Seq[Span] = {
    val traceOf = spans.synchronized(spans.map(s => s.id -> s.trace).toMap)
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val parent = if (j.span != 0L) j.span
        else Option(batchSpans.get(j.batchId)).map(_._1).getOrElse(0L)
      val id = nextId.incrementAndGet()
      Span(id, parent, traceOf.getOrElse(parent, id), "spark.job", j.start, j.end)
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit =
    org.apache.spark.perfbenchbridge.ListenerBus.waitUntilEmpty(spark.sparkContext)
}

object Recorder {
  val SpanKey = "perfbench.span"
}
