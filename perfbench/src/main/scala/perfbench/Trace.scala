package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Counters are filled by [[SpanListener]]
  * from the jobs and tasks the call submitted. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var planNs: Long = 0L
  val jobs = new java.util.concurrent.atomic.AtomicLong()
  val tasks = new java.util.concurrent.atomic.AtomicLong()
  val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
  val spillBytes = new java.util.concurrent.atomic.AtomicLong()
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once when the run ends. Each span tags the Spark jobs submitted while
  * it is open with a local property, so the listener can attribute jobs,
  * tasks, shuffle and spill to it even though listener events arrive on
  * another thread. Disabled, every method is a pass-through. */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanProp

  @volatile var enabled = false
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private[perfbench] val byId = new ConcurrentHashMap[Int, Span]()
  private val listener = new SpanListener(this)
  private val scans = new ScanFilesListener
  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(scans)
    installed = true
  }

  def spans: Seq[Span] = all.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      all += s
      byId.put(s.id, s)
      stack = s :: stack
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Force physical planning of `df` and charge the time to the open span
    * as `plan_s`. Only in traced runs: the later action plans its own
    * copy, so this adds the planning once more. */
  def plan(df: DataFrame): Unit =
    if (enabled && stack.nonEmpty) {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      stack.head.planNs += System.nanoTime() - t0
    }

  /** Files read by the scans of the last query, as the scan nodes'
    * `numFiles` metric reports it. Call after the action; waits for the
    * asynchronous listener. */
  def lastScanFiles(): Long = {
    val v = scans.queue.poll(5, java.util.concurrent.TimeUnit.SECONDS)
    if (v == null) -1L else v.longValue
  }

  def clearScanFiles(): Unit = scans.queue.clear()

  /** Wait until every event posted so far has reached the listener: a
    * marker job is submitted and the call returns once its end event has
    * been seen (the listener bus delivers in order). */
  def flush(): Unit = if (installed) {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, Tracer.FlushMark)
    listener.flushed = false
    sc.parallelize(Seq(1), 1).foreach(_ => ())
    sc.setLocalProperty(SpanProp, prev)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!listener.flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Per-stage (max task time / median task time), for stages of traced
    * spans that ran at least two tasks. */
  def stageSkews: Seq[Double] = listener.stageSkews

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      sb.append(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"plan_ns":${s.planNs},""" +
        f""""jobs":${s.jobs.get},"tasks":${s.tasks.get},""" +
        f""""shuffle_bytes":${s.shuffleBytes.get},"spill_bytes":${s.spillBytes.get}}""")
      sb.append(if (i + 1 < all.size) ",\n" else "\n")
    }
    sb.append("]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val FlushMark = "flush"
}

private final class SpanListener(tracer: Tracer) extends SparkListener {
  @volatile var flushed = false
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .filter(_ != Tracer.FlushMark)
      .flatMap(id => Option(tracer.byId.get(id.toInt)))

  @volatile private var flushJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty(Tracer.SpanProp) == Tracer.FlushMark))
      flushJob = e.jobId
    spanOf(e.properties).foreach { s =>
      s.jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == flushJob) flushed = true

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) {
      s.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageTaskMs.get(e.stageId) += e.taskInfo.duration }
    }
  }

  def stageSkews: Seq[Double] = {
    import scala.jdk.CollectionConverters._
    stageTaskMs.values.asScala.toSeq.flatMap { buf =>
      val ts = buf.synchronized(buf.toVector).sorted
      if (ts.size < 2) None
      else {
        val med = Stats.median(ts.map(_.toDouble))
        if (med <= 0) None else Some(ts.last / med)
      }
    }
  }
}

/** Reports, for each finished query, the total `numFiles` of its file
  * scans (the files left after stats and Bloom pruning). */
private final class ScanFilesListener extends QueryExecutionListener {
  val queue = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case m: InMemoryTableScanExec => scanFiles(m.relation.cachedPlan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = queue.put(scanFiles(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
