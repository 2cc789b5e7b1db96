package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Phase times of every query execution in every session, delivered by
  * Spark through `spark.sql.queryExecutionListeners`. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.phases(qe)
}

/** The traced run's recorder. Jobs are attributed to the execution whose
  * local properties they carry (`pass/query` and the build, plan or exec
  * phase); SQL executions and planner phases, which carry no properties,
  * to the execution whose wall-clock window holds their start. */
object Trace {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, tag: String, phase: String, startMs: Long,
                       var endMs: Long)
  final case class Phase(startMs: Long, analysisMs: Long, optimizerMs: Long,
                         planningMs: Long)

  private val phaseLog = mutable.ArrayBuffer.empty[Phase]

  def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis()
      else p.values.map(_.startTimeMs).min
    phaseLog.synchronized {
      phaseLog += Phase(start, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  /** Store roots are the `graft_*` directories the catalog creates in
    * java.io.tmpdir; returns (files, bytes) under them. */
  def walk(tmp: File): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go))
      else { files += 1; bytes += f.length }
    Option(tmp.listFiles).foreach(_.filter(_.getName.startsWith("graft_")).foreach(go))
    (files, bytes)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Total JVM garbage-collection time so far. */
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def install(sc: SparkContext): Trace = {
    val t = new Trace
    sc.addSparkListener(t.listener)
    t
  }
}

class Trace {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageTag = mutable.Map.empty[Int, String]
  private val sqlStarts = mutable.ArrayBuffer.empty[Long]
  /** per tag: counter name -> value */
  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  /** per tag: GC and store growth measured around the execution */
  private val around = mutable.Map.empty[String, (Long, Long, Long)]

  private def add(tag: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(tag, mutable.Map.empty[String, Double])
    m(k) = m.getOrElse(k, 0.0) + v
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(QueryKey))).getOrElse("")
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      jobs += Job(e.jobId, tag, phase, e.time, -1L)
      e.stageIds.foreach(s => stageTag(s) = tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      add(stageTag.getOrElse(e.stageInfo.stageId, ""), "exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val tag = stageTag.getOrElse(e.stageId, "")
      add(tag, "exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(tag, "exec.task_run_ms", m.executorRunTime.toDouble)
        add(tag, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add(tag, "exec.task_gc_ms", m.jvmGCTime.toDouble)
        add(tag, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(tag, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(tag, "exec.spill_bytes", m.diskBytesSpilled.toDouble)
        add(tag, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(tag, "sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized { sqlStarts += s.time }
      case _ =>
    }
  }

  /** Records what one execution cost outside Spark's own metrics. */
  def noteAround(tag: String, gcMs: Long, storeFiles: Long, storeBytes: Long): Unit =
    synchronized { around(tag) = (gcMs, storeFiles, storeBytes) }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Union length and peak overlap of [start, end) intervals. */
  private def overlap(iv: Seq[(Long, Long)]): (Long, Int) = {
    val ev = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var depth = 0
    var peak = 0
    var covered = 0L
    var last = 0L
    ev.foreach { case (t, d) =>
      if (depth > 0) covered += t - last
      depth += d
      peak = math.max(peak, depth)
      last = t
    }
    (covered, peak)
  }

  /** Per-execution layer metrics plus the span tree, as JSON. */
  def report(execs: Seq[Runner.Exec]): String = synchronized {
    val phaseLog = Trace.phaseLog.synchronized(Trace.phaseLog.toList)
    val perExec = execs.map { e =>
      val tag = s"${e.pass}/${e.query}"
      def inWindow(t: Long) = t >= e.startMs && t <= e.endMs
      val mine = jobs.filter(j => j.tag == tag || (j.tag.isEmpty && inWindow(j.startMs)))
      val iv = mine.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else e.endMs))
      val (runMs, peak) = overlap(iv.toSeq)
      val ph = phaseLog.filter(p => inWindow(p.startMs))
      val c = counters.getOrElse(tag, mutable.Map.empty[String, Double])
      val (gc, files, bytes) = around.getOrElse(tag, (0L, 0L, 0L))
      val wallMs = (e.buildNs + e.planNs + e.execNs) / 1e6
      val m = Seq(
        "queries.build_ms" -> e.buildNs / 1e6,
        "queries.build_jobs" -> mine.count(_.phase == "build").toDouble,
        "catalyst.plan_ms" -> e.planNs / 1e6,
        "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
        "catalyst.optimizer_ms" -> ph.map(_.optimizerMs).sum.toDouble,
        "catalyst.planning_ms" -> ph.map(_.planningMs).sum.toDouble,
        "catalyst.sql_executions" -> sqlStarts.count(inWindow).toDouble,
        "exec.exec_ms" -> e.execNs / 1e6,
        "exec.jobs" -> mine.size.toDouble,
        "exec.run_ms" -> runMs.toDouble,
        "exec.job_idle_ms" -> math.max(0.0, wallMs - runMs),
        "core.max_concurrent_jobs" -> peak.toDouble,
        "jvm.gc_ms" -> gc.toDouble,
        "sources.store_files" -> files.toDouble,
        "sources.store_bytes" -> bytes.toDouble) ++
        Seq("exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
            "exec.task_gc_ms", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
            "exec.spill_bytes", "exec.input_bytes", "sources.output_bytes")
          .map(k => k -> c.getOrElse(k, 0.0))
      val spans = Seq(
        Json.obj("name" -> Json.str("build"), "start_ms" -> Json.num(e.startMs),
          "end_ms" -> Json.num(e.buildEndMs)),
        Json.obj("name" -> Json.str("plan"), "start_ms" -> Json.num(e.buildEndMs),
          "end_ms" -> Json.num(e.planEndMs)),
        Json.obj("name" -> Json.str("exec"), "start_ms" -> Json.num(e.planEndMs),
          "end_ms" -> Json.num(e.endMs))) ++
        mine.map(j => Json.obj("name" -> Json.str(s"job ${j.id}"),
          "phase" -> Json.str(j.phase), "start_ms" -> Json.num(j.startMs),
          "end_ms" -> Json.num(j.endMs)))
      Json.obj("query" -> Json.str(e.query), "pass" -> Json.num(e.pass),
        "start_ms" -> Json.num(e.startMs), "end_ms" -> Json.num(e.endMs),
        "metrics" -> Json.obj(m.map { case (k, v) => k -> Json.num(v) }: _*),
        "spans" -> Json.arr(spans))
    }
    val untagged = jobs.count(j => j.tag.isEmpty &&
      !execs.exists(e => j.startMs >= e.startMs && j.startMs <= e.endMs))
    Json.obj("executions" -> Json.arr(perExec), "unattributed_jobs" -> Json.num(untagged))
  }
}
