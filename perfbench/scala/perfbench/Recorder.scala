package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: an API call, a query or a store step.
  * Times are `System.nanoTime` readings; `traced` marks the ops of a pass
  * that ran with span recording on.
  */
final case class Op(id: Long, parent: Long, name: String, kind: String, t0: Long,
    t1: Long, ok: Boolean, traced: Boolean, tags: Map[String, Any])

/** A span recorded by the harness itself, around a call into one layer. */
final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long,
    tags: Map[String, Any])

/** Records ops always, and spans, Spark jobs and Catalyst phases while
  * tracing is on. Listener events carry epoch-millisecond times; `anchor`
  * maps them onto the nanoTime axis the ops use.
  *
  * Jobs are tied to the op that ran them through the `perfbench.op` local
  * property, set on the client thread for the op's duration; Catalyst phase
  * records are tied to ops later, by time containment.
  */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  private val ids = new AtomicLong(0L)
  val anchorNs: Long = System.nanoTime()
  val anchorMs: Long = System.currentTimeMillis()

  private val ops = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Span]
  @volatile var tracing = false
  private var current = 0L

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  final class JobRec(val op: Long, val t0Ms: Long) {
    @volatile var t1Ms = 0L
    val stages = new AtomicLong(); val tasks = new AtomicLong()
    val runMs = new AtomicLong(); val gcMs = new AtomicLong()
    val spill = new AtomicLong(); val shufW = new AtomicLong()
    val shufR = new AtomicLong(); val inRecs = new AtomicLong()
  }

  if (traceRun) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
        val op = Option(e.properties).flatMap(p =>
          Option(p.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
        jobs.put(e.jobId, new JobRec(op, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach(_.stages.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.tasks.incrementAndGet()
          val m = e.taskMetrics
          if (m != null) {
            j.runMs.addAndGet(m.executorRunTime)
            j.gcMs.addAndGet(m.jvmGCTime)
            j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            j.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            j.shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            j.inRecs.addAndGet(m.inputMetrics.recordsRead)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (tracing) {
          val ph = qe.tracker.phases
          def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
          val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
          phases.add(Map("t_ms" -> start, "analysis_ms" -> dur("analysis"),
            "optimization_ms" -> dur("optimization"), "planning_ms" -> dur("planning")))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Time `body` as one op; a thrown exception is recorded and rethrown. */
  def op[T](name: String, kind: String, tags: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    if (tracing) sc.setLocalProperty("perfbench.op", id.toString)
    val prev = current
    current = id
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      current = prev
      if (tracing) sc.setLocalProperty("perfbench.op", if (prev == 0L) null else prev.toString)
      ops += Op(id, prev, name, kind, t0, t1, ok, tracing, tags)
    }
  }

  /** A span around `body` while tracing; a plain call otherwise. */
  def span[T](name: String, tags: Map[String, Any] = Map.empty)(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        current = parent
        spans += Span(id, parent, name, t0, System.nanoTime(), tags)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }

  private def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def jobRecords: Seq[Map[String, Any]] = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
    Map("id" -> id, "op" -> j.op, "t0" -> msToNs(j.t0Ms),
      "t1" -> msToNs(if (j.t1Ms == 0L) j.t0Ms else j.t1Ms),
      "stages" -> j.stages.get, "tasks" -> j.tasks.get, "run_ms" -> j.runMs.get,
      "gc_ms" -> j.gcMs.get, "spill_bytes" -> j.spill.get, "shuffle_write_bytes" -> j.shufW.get,
      "shuffle_read_bytes" -> j.shufR.get, "input_records" -> j.inRecs.get)
  }

  def phaseRecords: Seq[Map[String, Any]] = phases.asScala.toSeq.map { p =>
    p - "t_ms" + ("t" -> msToNs(p("t_ms").asInstanceOf[Long]))
  }

  def opRecords: Seq[Map[String, Any]] = ops.toSeq.map(o => Map("id" -> o.id,
    "parent" -> o.parent, "name" -> o.name, "kind" -> o.kind, "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok,
    "traced" -> o.traced) ++ o.tags)

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1) ++ s.tags)
}
