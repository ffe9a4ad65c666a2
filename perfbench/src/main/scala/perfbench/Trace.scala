package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span: an operation, a layer-isolation call, or (filled in from the
  * listener) a Spark job or stage. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, layer: String,
                      name: String, startMs: Double, var endMs: Double,
                      attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty) {
  def durMs: Double = endMs - startMs
}

/** Per-operation totals derived from the spans under one operation. */
final case class OpStats(jobs: Int, stages: Int, tasks: Long, shuffleBytes: Long,
                         spillBytes: Long, jobMs: Double, gapS: Double,
                         execIds: Seq[Long])

/** In-memory span recorder. Driver-side spans come from [[span]]; Spark
  * job and stage spans come from this listener and are linked to the
  * enclosing driver span through the job group it sets. Nothing is written
  * until [[write]], once, at the end of the run. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val driverSpans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1

  private final case class JobRec(id: Int, group: String, execId: Long, startMs: Long,
                                  var endMs: Long, stageIds: Seq[Int])
  private final case class StageRec(id: Int, name: String, tasks: Int, submitMs: Long,
                                    doneMs: Long, runMs: Long, shuffleW: Long,
                                    spill: Long, gcMs: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
      e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(i.stageId, i.name.takeWhile(_ != '\n').take(80), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.jvmGCTime)
  }

  def start(): Unit = sc.addSparkListener(this)

  def stop(): Unit = { drain(); sc.removeSparkListener(this) }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `body` inside a span; Spark jobs it starts carry the span's job
    * group. */
  def span[T](kind: String, layer: String, name: String)(body: => T): (T, Span) = {
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), kind, layer, name,
      nowMs, -1)
    nextId += 1
    driverSpans += s
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try {
      val r = body
      (r, s)
    } finally {
      s.endMs = nowMs
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    driverSpans.foreach(s => if (ids(s.parent)) ids += s.id)
    ids.toSet
  }

  private def jobsUnder(root: Span): Seq[JobRec] = synchronized {
    val groups = subtree(root).map(i => s"span-$i")
    jobs.values.filter(j => groups(j.group)).toVector
  }

  /** Length of the union of [lo, hi) intervals. */
  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curLo = Double.NaN; var curHi = Double.NaN
    iv.sortBy(_._1).foreach { case (lo, hi) =>
      if (curHi.isNaN || lo > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** Totals over several spans (an operation's measured phases). */
  def opStats(spans: Seq[Span]): OpStats = {
    val ps = spans.map(opStats)
    OpStats(ps.map(_.jobs).sum, ps.map(_.stages).sum, ps.map(_.tasks).sum,
      ps.map(_.shuffleBytes).sum, ps.map(_.spillBytes).sum, ps.map(_.jobMs).sum,
      ps.map(_.gapS).sum, ps.flatMap(_.execIds))
  }

  def opStats(root: Span): OpStats = synchronized {
    val js = jobsUnder(root)
    val stageIds = js.flatMap(_.stageIds).toSet
    val ss = stages.filter(s => stageIds(s.id))
    val jobMs = unionMs(js.filter(_.endMs >= 0).map(j =>
      (math.max(j.startMs.toDouble, root.startMs), math.min(j.endMs.toDouble, root.endMs))))
    OpStats(js.size, ss.size, ss.map(_.tasks.toLong).sum, ss.map(_.shuffleW).sum,
      ss.map(_.spill).sum, jobMs, math.max(0.0, root.durMs - jobMs) / 1000,
      js.map(_.execId).filter(_ >= 0).distinct.sorted)
  }

  private lazy val store = spark.sharedState.statusStore

  /** Final (post-AQE) plan-graph nodes of the given SQL executions. */
  def planNodes(execIds: Seq[Long]): Seq[org.apache.spark.sql.execution.ui.SparkPlanGraphNode] =
    execIds.flatMap(id => scala.util.Try(store.planGraph(id).allNodes.toSeq).getOrElse(Seq.empty))

  /** Physical-plan shape summed over executions: (exchanges, joins,
    * generates, scans). Reused exchanges are not counted. */
  def planShape(execIds: Seq[Long]): (Int, Int, Int, Int) = {
    val names = planNodes(execIds).map(_.name)
    (names.count(n => n.endsWith("Exchange") && !n.startsWith("Reused")),
      names.count(_.contains("Join")),
      names.count(_ == "Generate"),
      names.count(n => n.startsWith("Scan") || n.endsWith("Scan") || n.contains("TableScan")))
  }

  /** Sum of "number of output rows" over plan nodes matching `pick`. */
  def rowsOut(execIds: Seq[Long],
              pick: org.apache.spark.sql.execution.ui.SparkPlanGraphNode => Boolean): Long =
    execIds.map { id =>
      val values = scala.util.Try(store.executionMetrics(id)).getOrElse(Map.empty[Long, String])
      scala.util.Try(store.planGraph(id).allNodes.toSeq).getOrElse(Seq.empty).filter(pick)
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => scala.util.Try(v.takeWhile(_ != '\n').replaceAll("[^0-9]", "").toLong).getOrElse(0L))
        .sum
    }.sum

  def children(s: Span): Seq[Span] = driverSpans.filter(_.parent == s.id).toSeq

  /** Per layer, (self, jobs) seconds summed over its spans: self is a
    * span's duration minus the part of it that its child spans cover,
    * driver spans and Spark jobs alike; jobs is the part its own Spark jobs
    * cover. */
  def selfSeconds: Map[String, (Double, Double)] = synchronized {
    val byParent = driverSpans.groupBy(_.parent)
    val jobsByGroup = jobs.values.filter(_.endMs >= 0).groupBy(_.group)
    def clip(s: Span, lo: Double, hi: Double) = (math.max(lo, s.startMs), math.min(hi, s.endMs))
    driverSpans.groupBy(_.layer).map { case (layer, ss) =>
      val parts = ss.toSeq.map { s =>
        val js = jobsByGroup.getOrElse(s"span-${s.id}", Nil).toSeq
          .map(j => clip(s, j.startMs.toDouble, j.endMs.toDouble))
        val kids = byParent.getOrElse(s.id, Nil).toSeq.map(c => clip(s, c.startMs, c.endMs))
        (s.durMs - unionMs(js ++ kids), unionMs(js))
      }
      layer -> (parts.map(_._1).sum / 1000, parts.map(_._2).sum / 1000)
    }
  }

  def write(path: Path, summary: scala.collection.Map[String, Any]): Unit = synchronized {
    val jobSpans = jobs.values.toSeq.map { j =>
      val parent = if (j.group.startsWith("span-")) j.group.drop(5).toInt else 0
      Map("kind" -> "job", "id" -> s"job-${j.id}", "parent" -> parent,
        "exec_id" -> j.execId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stageIds)
    }
    val stageSpans = stages.toSeq.map { s =>
      Map("kind" -> "stage", "id" -> s"stage-${s.id}", "name" -> s.name,
        "start_ms" -> s.submitMs, "end_ms" -> s.doneMs, "tasks" -> s.tasks,
        "executor_run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleW,
        "spill_bytes" -> s.spill, "gc_ms" -> s.gcMs)
    }
    val spanRows = driverSpans.toSeq.map { s =>
      mutable.LinkedHashMap[String, Any]("kind" -> s.kind, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json(mutable.LinkedHashMap(
      "summary" -> summary, "spans" -> spanRows, "jobs" -> jobSpans,
      "stages" -> stageSpans)))
  }
}
