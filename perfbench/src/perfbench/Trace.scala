package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Outside-in tracing: everything here observes the program through
  * public hooks only — a `SparkListener` (jobs, stages, task metrics),
  * a `StreamingQueryListener` (`StreamingQueryProgress`), Hadoop
  * `FileSystem` statistics and JVM MXBeans. Spans come from the
  * benchmark's own code: the client thread tags each operation with a
  * local property, which Spark copies into the properties of every job
  * that operation submits; the streaming engine tags its jobs with
  * `streaming.sql.batchId`.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, prop(SpanKey).getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong), e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val r = StageRec(m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.recordsWritten)
        stages.merge(e.stageInfo.stageId, r, (a, b) => a + b)
        ()
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.put(e.progress.batchId, e.progress); ()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Block until the listener bus has delivered every event posted so
    * far: a tagged marker job is submitted and its end event awaited
    * (the bus delivers in order).
    */
  def fence(): Unit = {
    val tag = s"$FencePrefix${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!jobs.values.asScala.exists(j => j.span == tag && j.end >= 0) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Wait (bounded) until progress for every batch id has arrived. */
  def awaitProgress(batchIds: Seq[Long]): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!batchIds.forall(progress.containsKey) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def progressOf(batchId: Long): Option[StreamingQueryProgress] = Option(progress.get(batchId))

  def allJobs: Seq[JobRec] =
    jobs.values.asScala.toSeq.filterNot(_.span.startsWith(FencePrefix)).sortBy(_.id)

  def jobsOfBatch(batchId: Long): Seq[JobRec] = allJobs.filter(_.batchId.contains(batchId))

  def stageTotals(js: Seq[JobRec]): StageRec =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      .foldLeft(StageRec.zero)(_ + _)

  /** Σ executor run time (ms) of stages completed for jobs that ended
    * inside [t0, t1] (epoch ms).
    */
  def busyMsBetween(t0: Long, t1: Long): Long =
    stageTotals(allJobs.filter(j => j.end >= t0 && j.end <= t1)).runMs

  // ---- stack sampling of the client (or stream) thread ----

  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  @volatile private var sampling = false

  /** Sample `thread`'s stack through the JVM's ThreadMXBean every
    * `SampleMs`; each sample records the module of the innermost
    * `graft.` frame and stands for the time since the previous one.
    * Spark stamps streaming jobs with the query's start call site, so
    * stage names cannot say which module submitted a job; the stack of
    * the thread waiting on it can.
    */
  def sample(thread: Thread): Unit = {
    sampling = true
    val mx = ManagementFactory.getThreadMXBean
    val t = new Thread(() => {
      var prev = System.nanoTime()
      while (sampling) {
        val info = mx.getThreadInfo(thread.getId, Int.MaxValue)
        val now = System.nanoTime()
        if (info != null)
          samples.add(Sample(System.currentTimeMillis(), layerOf(info.getStackTrace),
            math.min(50.0, (now - prev) / 1e6)))
        prev = now
        Thread.sleep(SampleMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
  }

  def stopSampling(): Unit = sampling = false

  private def samplesIn(t0: Long, t1: Long): Seq[Sample] =
    samples.asScala.filter(x => x.t > t0 && x.t <= t1).toSeq

  /** Sampled wall time (ms) per module over (t0, t1]. */
  def layerMs(t0: Long, t1: Long): Map[String, Double] =
    samplesIn(t0, t1).groupBy(_.layer).map { case (l, xs) => l -> xs.map(_.ms).sum }

  /** Module that submitted `j`: the module the waiting thread spent
    * most of the job's interval in.
    */
  def jobLayer(j: JobRec): String = {
    val during = samplesIn(j.start, j.end + SampleMs)
    if (during.isEmpty) "unknown" else during.groupBy(_.layer).maxBy(_._2.map(_.ms).sum)._1
  }

  /** Layer metrics of flushes: jobs split
    * by the module that submitted them, driver time outside any job,
    * rows and files written, and sampled wall time per module.
    */
  def writeLayers(ops: Seq[OpSpan], records: Long): Map[String, Double] = {
    val n = ops.size.toDouble
    val wall = ops.map(o => o.e1 - o.e0).sum.toDouble
    val jobs = ops.flatMap(_.jobs)
    val (wh, other) = jobs.partition(j => jobLayer(j) == "sources")
    val modules = moduleLayers(ops.map(o => (o.e0, o.e1)))
    modules ++ Map(
      "flush.wall_ms_mean" -> wall / n,
      "flush.accounted_share" -> modules.values.sum * n / wall,
      "streaming.jobs_per_flush" -> jobs.size / n,
      "streaming.job_ms_per_flush" -> other.map(_.ms).sum / n,
      "wh.job_ms_per_flush" -> wh.map(_.ms).sum / n,
      "wh.driver_ms_per_flush" -> ops.map(o => (o.e1 - o.e0) - unionMs(o.jobs, o.e0, o.e1)).sum / n,
      "wh.rows_written_per_record" -> stageTotals(jobs).recordsWritten.toDouble / records,
      "wh.files_written_per_flush" -> ops.map(_.files).sum / n)
  }

  /** Sampled wall time per module, averaged over operations. */
  def moduleLayers(ops: Seq[(Long, Long)]): Map[String, Double] = {
    val per = ops.map { case (a, b) => layerMs(a, b) }
    Modules.map(m => s"time.${m}_ms_per_op" -> per.map(_.getOrElse(m, 0.0)).sum / ops.size).toMap
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val FencePrefix = "fence:"
  val SampleMs = 2L

  final case class Sample(t: Long, layer: String, ms: Double)

  /** One timed operation: its interval (epoch ms), its jobs and the
    * data files it added to the table.
    */
  final case class OpSpan(e0: Long, e1: Long, jobs: Seq[JobRec], files: Int)

  /** Module of the innermost `graft.` frame, named as the benchmark's
    * layers; "engine" when no program frame is on the stack.
    */
  def layerOf(frames: Array[StackTraceElement]): String =
    frames.iterator.map(_.getClassName).filter(c => c.startsWith("graft.") &&
      !c.startsWith("graft.util.")).map { c =>
      c.stripPrefix("graft.").split('.') match {
        case Array(_) => "queries" // SparkEntry, Tables, ...
        case Array("functions", _*) => "llm"
        case Array(m, _*) => m
      }
    }.nextOption().getOrElse("engine")

  val Modules: Seq[String] =
    Seq("streaming", "convert", "schema", "operators", "sources", "llm", "queries", "engine")

  final case class JobRec(id: Int, start: Long, var end: Long, span: String,
      batchId: Option[Long], stageIds: Seq[Int]) {
    def ms: Long = math.max(0L, end - start)
  }

  final case class StageRec(runMs: Long, inputBytes: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, recordsWritten: Long) {
    def +(o: StageRec): StageRec = StageRec(runMs + o.runMs, inputBytes + o.inputBytes,
      shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
      recordsWritten + o.recordsWritten)
  }
  object StageRec { val zero: StageRec = StageRec(0, 0, 0, 0, 0, 0) }

  /** Length (ms) of the union of job intervals clipped to [t0, t1]. */
  def unionMs(js: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Tag jobs submitted by this thread with a span id while `body` runs. */
  def span[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, id)
    try body
    finally sc.setLocalProperty(SpanKey, null)
  }

  /** Hadoop FileSystem statistics of the local file system:
    * (bytes read, bytes written) since JVM start.
    */
  @annotation.nowarn("cat=deprecation")
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Σ of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
}
