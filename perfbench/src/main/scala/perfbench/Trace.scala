package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree: op -> build / action (-> write /
  * readback) -> job -> stage, plus the plan phases under an action. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)

/** The traced run's instrumentation, attached from outside the program:
  * a `SparkListener` for jobs, stages and tasks, and a
  * `QueryExecutionListener` for each action's planning phases. Events are
  * only buffered here; `attribute` turns them into per-op layer figures
  * after the session has stopped, so no analysis runs inside a timed
  * window.
  *
  * Jobs are tied to the harness span that launched them through a local
  * property set on the driver thread (`SpanKey`); a job's module is read
  * from its Spark short call site (`localCheckpoint at Dedup.scala:NN`).
  * Adaptive execution submits query-stage jobs from a thread pool, so a
  * job that belongs to a SQL execution takes that execution's call site
  * (the `description` of `SparkListenerSQLExecutionStart`).
  */
final class Trace(spark: SparkSession, moduleOf: String => String) {
  import Trace._

  private case class Job(id: Int, span: String, stageSite: String, execution: Option[Long],
      startMs: Long, var endMs: Long, var open: Boolean, stages: Seq[Int])
  private case class Stage(id: Int, var submitted: Boolean, var startMs: Long = 0L, var endMs: Long = 0L)
  private final class TaskSum {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var bytesOut = 0L; var recordsOut = 0L
  }
  private case class Phase(name: String, startMs: Long, endMs: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val taskSums = mutable.Map[Int, TaskSum]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val sqlSites = mutable.Map[Long, String]()
  // start and end (epoch ms) of every SQL execution seen while attached
  private val executions = mutable.Map[Long, (Long, Long)]()
  @volatile private var lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage carries the job's call site as its name
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop(SpanKey).getOrElse(""), site,
        prop("spark.sql.execution.id").map(_.toLong), e.time, e.time, open = true, e.stageIds)
      e.stageIds.foreach(s => stages(s) = Stage(s, submitted = false))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.open = false }
      lastEventNs = System.nanoTime()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        sqlSites(x.executionId) = x.description
        executions(x.executionId) = (x.time, x.time)
        lastEventNs = System.nanoTime()
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        executions.get(x.executionId).foreach(s => executions(x.executionId) = (s._1, x.time))
        lastEventNs = System.nanoTime()
      }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submitted = true
        s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.endMs = e.stageInfo.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = taskSums.getOrElseUpdate(e.stageId, new TaskSum)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesOut += m.outputMetrics.bytesWritten
        s.recordsOut += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (k, p) => phases.add(Phase(k, p.startTimeMs, p.endTimeMs)) }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach once the listener bus has delivered the traced pass: no job
    * left open and no event for 100 ms (at most 5 s). */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def quiet = synchronized(!jobs.values.exists(_.open)) &&
      System.nanoTime() - lastEventNs > 100000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def site(j: Job): String = j.execution.flatMap(sqlSites.get).getOrElse(j.stageSite)

  /** Run `body` with every job it launches tagged as part of `span`. */
  def within[T](span: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Layer figures for one traced op sample. `spans` are the harness's
    * own intervals for the sample (`op`, `build`, `action`, and for the
    * ETL op `write` / `readback`), keyed by name; `key` is the prefix the
    * sample's jobs were tagged with. Call after the session has stopped,
    * so the listener bus has delivered every event. */
  def attribute(key: String, spans: Map[String, (Long, Long)], cores: Int,
      tree: mutable.ArrayBuffer[Span]): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val opId = tree.size
    val (os, oe) = spans("op")
    tree += Span(opId, -1, key, os, oe)
    val spanIds = spans.removed("op").map { case (name, (s, e)) =>
      val id = tree.size
      tree += Span(id, opId, name, s, e)
      name -> id
    }
    val mine = jobs.values.filter(_.span.startsWith(key + "/")).toSeq
    def phase(j: Job) = j.span.stripPrefix(key + "/")
    def union(js: Seq[Job]): Double = cover(js.map(j => (j.startMs, j.endMs)), Long.MinValue, Long.MaxValue)
    def sums(js: Seq[Job]): Seq[TaskSum] = js.flatMap(_.stages).flatMap(taskSums.get)

    for (j <- mine) {
      val parent = spanIds.getOrElse(phase(j), opId)
      val jid = tree.size
      tree += Span(jid, parent, s"job ${j.id}: ${site(j)}", j.startMs, j.endMs)
      j.stages.flatMap(stages.get).filter(_.submitted).foreach { s =>
        tree += Span(tree.size, jid, s"stage ${s.id}", s.startMs, s.endMs)
      }
    }

    val build = mine.filter(j => phase(j) == "build")
    val action = mine.filter(j => phase(j) != "build")
    val (bs, be) = spans("build")
    add("queries.build_s", (be - bs) / 1000.0)
    add("queries.build_jobs", build.size)
    val cut = mine.filter(j => isCut(site(j)))
    val infer = mine.filter(j => !isCut(site(j)) && moduleOf(site(j)) == "sources" &&
      phase(j) != "write")
    val eager = build.filter(j => !isCut(site(j)) &&
      Set("operators", "functions", "plans")(moduleOf(site(j))))
    add("sources.infer_jobs", infer.size); add("sources.infer_s", union(infer))
    add("operators.eager_jobs", eager.size); add("operators.eager_s", union(eager))
    add("lineage.cut_jobs", cut.size); add("lineage.cut_s", union(cut))

    // The action's wall time, split by measured intervals only, each
    // clipped to the action span: plan phases (QueryPlanningTracker),
    // then the action's jobs outside them, then the rest of its SQL
    // executions (code generation, adaptive re-planning, result
    // handling). What none of them covers stays unattributed.
    val (as, ae) = spans("action")
    val plan = phases.asScala.toSeq.filter(p => p.endMs > as && p.startMs < ae)
    val planIv = plan.map(p => (p.startMs, p.endMs))
    val jobIv = action.map(j => (j.startMs, j.endMs))
    val execIv = executions.values.filter { case (s, _) => s >= as && s <= ae }.toSeq
    val planS = cover(planIv, as, ae)
    val planJobS = cover(planIv ++ jobIv, as, ae)
    val allS = cover(planIv ++ jobIv ++ execIv, as, ae)
    Seq("analysis", "optimization", "planning").foreach { k =>
      val ps = plan.filter(_.name == k)
      add(s"plan.${k}_s", cover(ps.map(p => (p.startMs, p.endMs)), as, ae))
      ps.foreach(p => tree += Span(tree.size, spanIds("action"), s"plan.$k", p.startMs, p.endMs))
    }
    val execS = planJobS - planS
    val ts = sums(action)
    val run = ts.map(_.runMs).sum / 1000.0
    add("exec.s", execS)
    add("exec.driver_s", allS - planJobS)
    add("exec.unattributed_s", (ae - as) / 1000.0 - allS)
    add("exec.jobs", action.size)
    add("exec.stages", action.flatMap(_.stages).count(s => stages.get(s).exists(_.submitted)))
    add("exec.tasks", ts.map(_.tasks).sum)
    add("exec.task_run_s", run)
    add("exec.core_slots_s", union(action) * cores)
    add("exec.task_cpu_s", ts.map(_.cpuNs).sum / 1e9)
    add("exec.gc_s", ts.map(_.gcMs).sum / 1000.0)
    add("exec.shuffle_read_bytes", ts.map(_.shuffleRead).sum)
    add("exec.shuffle_write_bytes", ts.map(_.shuffleWrite).sum)
    add("exec.spill_bytes", ts.map(_.spill).sum)

    val writes = mine.filter(j => phase(j) == "write")
    val ws = sums(writes)
    add("lianjia.extract_task_s", ws.map(_.runMs).sum / 1000.0)
    add("lianjia.rows_out", ws.map(_.recordsOut).sum)
    add("sources.bytes_written", ws.map(_.bytesOut).sum)
    Seq("write", "readback").foreach { p =>
      add(s"sources.${p}_s", spans.get(p).map { case (s, e) => (e - s) / 1000.0 }.getOrElse(0.0))
    }
    out.toMap
  }

  /** Jobs launched inside `span`, for the standalone resolve probe. */
  def jobsIn(span: String): Int = synchronized(jobs.values.count(_.span == span))

  /** Jobs seen while attached that carry no span tag: work the
    * attribution missed (count, and seconds covered). */
  def untagged: (Int, Double) = synchronized {
    val js = jobs.values.filter(_.span.isEmpty).map(j => (j.startMs, j.endMs)).toSeq
    (js.size, cover(js, Long.MinValue, Long.MaxValue))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Seconds covered by the union of `ivs` (epoch ms), clipped to [lo, hi]. */
  def cover(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L; var reach = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) total += e - from
      reach = math.max(reach, e)
    }
    total / 1000.0
  }

  def isCut(site: String): Boolean =
    site.startsWith("localCheckpoint at") || site.startsWith("checkpoint at")

  /** Map a short call site (`count at Dedup.scala:12`) to the graft
    * module whose source file it names, from the source tree layout
    * (`src/main/scala/graft/<module>/<File>.scala`). */
  def moduleIndex(srcRoot: java.io.File): String => String = {
    val byFile = mutable.Map[String, String]()
    def walk(dir: java.io.File, module: String): Unit =
      Option(dir.listFiles).toSeq.flatten.foreach { f =>
        if (f.isDirectory) walk(f, if (module.isEmpty) f.getName else module)
        else if (f.getName.endsWith(".scala")) byFile(f.getName) = if (module.isEmpty) "graft" else module
      }
    walk(srcRoot, "")
    site => {
      val file = site.split(" at ").lastOption.getOrElse("").split(":").head
      byFile.getOrElse(file, "other")
    }
  }
}
