package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{ExecutionEnd, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer of the program, opened by the benchmark
  * around its own calls. `op` is the benchmark operation the call belongs
  * to; spans of one operation share it. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** Spark-side work attributed to one (operation, layer) pair. */
final class Work {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var analyzeNs, optimizeNs, planNs = 0L
  var filesListed, filesRead, filesWritten = 0L
  var worstSkew = 0.0
}

/** In-memory tracer. With tracing off every method is a pass-through, so
  * the untimed bookkeeping never enters the end-to-end numbers; with it on,
  * each span also tags the Spark jobs it submits (`setJobGroup`) so the
  * listener below can attribute jobs, tasks and query phases to the span
  * open at submission. Spans stay in memory and are
  * written once, at exit. */
final class Tracer(val on: Boolean) {
  /** Spans and job tags are recorded only while the timed window is open,
    * so warm-up work never reaches the per-layer numbers. */
  @volatile var active = false
  private def live = on && active
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val opOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private var sc: SparkContext = _

  /** Group id carried by the jobs a span submits: "<op>/<layer>". */
  private def group(op: Long, layer: String) = s"$op/$layer"

  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
  }

  /** Run one benchmark operation; spans opened inside it share its id. */
  def op[T](name: String)(body: => T): T =
    if (!live) body else {
      val id = ids.incrementAndGet()
      opOf.set(id)
      try span("op", name)(body) finally opOf.set(0L)
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!live) body else {
      val op: Long = opOf.get
      val outer = stack.get
      val s0 = Span(ids.incrementAndGet(), outer.headOption.fold(0L)(_.id), op,
        layer, name, System.nanoTime(), 0L)
      stack.set(s0 :: outer)
      if (sc != null) sc.setJobGroup(group(op, layer), name)
      try body
      finally {
        spans.add(s0.copy(end = System.nanoTime()))
        stack.set(outer)
        if (sc != null) outer.headOption match {
          case Some(p) => sc.setJobGroup(group(op, p.layer), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attribute a running streaming query's jobs to the current span. */
  def adoptStream(runId: String): Unit = if (live) {
    val op: Long = opOf.get
    streamGroups.put(runId, group(op, "streaming"))
  }

  // ---- listener: runs on Spark's single listener-bus thread -------------
  private val streamGroups = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val work = new java.util.concurrent.ConcurrentHashMap[String, Work]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageTaskNs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def w(g: String): Work = work.computeIfAbsent(g, _ => new Work)
  private def resolve(g: String): String = if (g == null) "0/unattributed" else g

  private object listener extends SparkListener with AdaptiveSparkPlanHelper {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = resolve(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      w(g).jobs += 1
      e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val g = Option(stageGroup.get(id)).getOrElse("0/unattributed")
      val times = Option(stageTaskNs.remove(id)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty)
      val x = w(g)
      x.stages += 1
      if (times.size >= 2) {
        val med = times(times.size / 2).max(1L).toDouble
        x.worstSkew = x.worstSkew.max(times.last / med)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("0/unattributed")
      val m = e.taskMetrics
      stageTaskNs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
      if (m != null) {
        val x = w(g)
        x.tasks += 1
        x.runNs += m.executorRunTime * 1000000L
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, resolve(s.jobGroupId.orNull))
      case s: SparkListenerSQLExecutionEnd => ExecutionEnd.qe(s).foreach { qe =>
        val g = Option(execGroup.remove(s.executionId)).getOrElse("0/unattributed")
        val ph = qe.tracker.phases
        def ns(p: String) = ph.get(p).fold(0L)(x => (x.endTimeMs - x.startTimeMs) * 1000000L)
        val files = collectWithSubqueries(qe.executedPlan) {
          case f: FileSourceScanExec =>
            (f.relation.location.inputFiles.length.toLong,
              f.metrics.get("numFiles").fold(0L)(_.value), 0L)
          case d: DataWritingCommandExec =>
            (0L, 0L, d.cmd.metrics.get("numFiles").fold(0L)(_.value))
        }
        val x = w(g)
        x.analyzeNs += ns("analysis"); x.optimizeNs += ns("optimization")
        x.planNs += ns("planning")
        files.foreach { case (l, r, wr) =>
          x.filesListed += l; x.filesRead += r; x.filesWritten += wr }
      }
      case _ =>
    }
  }

  // ---- reporting ---------------------------------------------------------

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: a span's duration minus the part of it covered
    * by its child spans. */
  def selfNsByLayer: Map[String, Long] = {
    val ss = allSpans
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum }
  }

  /** Spark work summed over every operation, per layer. */
  def workByLayer: Map[String, Work] =
    work.asScala.toSeq
      .map { case (g, x) => Option(streamGroups.get(g)).getOrElse(g) -> x }
      .filter(_._1.contains('/'))
      .groupBy(_._1.split("/", 2)(1)).filter(_._1 != "unattributed").map { case (l, ws) =>
      val t = new Work
      ws.foreach { case (_, x) =>
        t.jobs += x.jobs; t.stages += x.stages; t.tasks += x.tasks
        t.runNs += x.runNs; t.cpuNs += x.cpuNs; t.gcMs += x.gcMs
        t.shuffleRead += x.shuffleRead; t.shuffleWrite += x.shuffleWrite; t.spill += x.spill
        t.analyzeNs += x.analyzeNs; t.optimizeNs += x.optimizeNs; t.planNs += x.planNs
        t.filesListed += x.filesListed; t.filesRead += x.filesRead
        t.filesWritten += x.filesWritten; t.worstSkew = t.worstSkew.max(x.worstSkew)
      }
      l -> t
    }

  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val lines = allSpans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
