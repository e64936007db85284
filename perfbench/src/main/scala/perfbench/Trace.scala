package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is 0 for a root span; all
  * spans of one run share `run`. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the name's first dotted segment. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. When disabled, [[span]] only runs its
  * body. While a span is open on a thread, the thread's Spark local
  * property [[Tracer.SpanProperty]] names it, so jobs submitted from
  * it (and from threads it starts) are attributed to it. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
          if (parent == 0L) null else parent.toString))
        done.add(Span(id, parent, name, run, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Sum of the self times of every span whose layer is `layer`. */
  def layerSelfSeconds(layer: String): Double = {
    val all = spans
    val self = Stats.selfTimes(all)
    all.filter(_.layer == layer).map(s => self(s.id)).sum / 1e9
  }

  /** The ids of `root` and every span below it. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).map(s => walk(s.id)).foldLeft(Set(id))(_ ++ _)
    walk(root)
  }

  def toJson: String = Json.arr(spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  })
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** A tracer that records nothing. */
  val Off = new Tracer(false, "")
}

/** A Spark job as the benchmark's listener saw it (epoch ms). */
final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Long)

/** Summed task metrics. Times in seconds, sizes in bytes. */
final case class TaskSums(tasks: Long = 0, runS: Double = 0, cpuS: Double = 0,
                          gcS: Double = 0, shuffleWrite: Long = 0,
                          spill: Long = 0, input: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, runS + o.runS,
    cpuS + o.cpuS, gcS + o.gcS, shuffleWrite + o.shuffleWrite,
    spill + o.spill, input + o.input)
}

/** SparkListener the benchmark registers: job intervals with their
  * span, and task metrics per job. */
final class JobLog extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val ended = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    starts.put(e.jobId, (e.time, span))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t0, span) =>
      ended.add(JobRec(e.jobId, t0, e.time, span))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val t = TaskSums(1, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      taskSums.merge(job, t, (a, b) => a + b)
    }
  }

  def jobs: Seq[JobRec] = ended.asScala.toSeq.sortBy(_.startMs)

  /** Jobs that started inside `[fromMs, toMs]`. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  def tasksOf(js: Seq[JobRec]): TaskSums =
    js.map(j => Option(taskSums.get(j.id)).getOrElse(TaskSums()))
      .foldLeft(TaskSums())(_ + _)
}

/** Micro-batch progress as the streaming engine reports it. */
final case class BatchRec(query: String, batchId: Long, startMs: Long,
                          triggerMs: Long, addBatchMs: Long)

/** StreamingQueryListener the benchmark registers. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      batches.add(BatchRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch")))
  }

  def all: Seq[BatchRec] = batches.asScala.toSeq.sortBy(_.startMs)

  /** Wait until at least `n` batches have been reported: progress
    * events reach listeners asynchronously. */
  def awaitCount(n: Int, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (batches.size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Peak heap across the JVM's heap memory pools. */
object Heap {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())

  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
