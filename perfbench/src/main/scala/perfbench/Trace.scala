package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: one timed interval at a layer boundary. `batch` is the
  * micro-batch id it belongs to (-1 outside a batch).
  */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, batch: Long)

/** Query progress by run id — the only hook the untimed metrics need. */
final class ProgressLog extends StreamingQueryListener {
  private val byRun = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    byRun.computeIfAbsent(e.progress.runId, _ => new ConcurrentLinkedQueue()).add(e.progress)
    ()
  }

  /** Progress of `runId` for batches in `batches`, waiting (bounded) for
    * the asynchronous listener bus to deliver them.
    */
  def of(runId: UUID, batches: Set[Long]): Seq[StreamingQueryProgress] = {
    def got = Option(byRun.get(runId)).map(_.asScala.toSeq).getOrElse(Nil)
      .filter(p => batches.contains(p.batchId))
    val deadline = System.nanoTime() + 20000000000L
    while (got.size < batches.size && System.nanoTime() < deadline) Thread.sleep(20)
    got.sortBy(_.batchId)
  }
}

/** Spark jobs, stages and tasks grouped by the `perfbench.tag` local
  * property (set by the benchmark around each traced phase) and by the
  * engine's own `streaming.sql.batchId` property.
  */
final class JobTrace extends SparkListener {
  import JobTrace.Job
  final class Agg {
    var stages = 0L; var tasks = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val started = new ConcurrentHashMap[Int, Job]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  @volatile private var lastEventNs = System.nanoTime()

  def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so the aggregates cover all finished work.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((!started.isEmpty || System.nanoTime() - lastEventNs < 300000000L) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  private val CallSite = """ at ([^ :]+\.(?:scala|java)):\d+""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty("perfbench.tag"))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val file = CallSite.findFirstMatchIn(site).map(_.group(1)).getOrElse("other")
    started.put(e.jobId, Job(tag, batch, file, e.time, e.time))
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventNs = System.nanoTime()
    val j = started.remove(e.jobId)
    if (j != null) jobs.add(j.copy(end = e.time))
    ()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEventNs = System.nanoTime()
    val tag = Option(e.properties).flatMap(x => Option(x.getProperty("perfbench.tag")))
      .getOrElse("")
    stageTag.put(e.stageInfo.stageId, tag)
    val a = agg(tag)
    a.synchronized { a.stages += 1; a.tasks += e.stageInfo.numTasks }
    ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageTag.getOrDefault(e.stageId, ""))
      a.synchronized {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
      }
    }
  }

  def jobsOf(tag: String): Seq[Job] = jobs.asScala.toSeq.filter(_.tag == tag)
}

object JobTrace {
  /** A finished Spark job: its tag, micro-batch, call-site file, times. */
  final case class Job(tag: String, batch: Long, file: String, start: Long, end: Long)
}
