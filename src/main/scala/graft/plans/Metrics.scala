package graft.plans

import org.apache.spark.GraftBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/**
 * Per-stage row/byte metrics (SURVEY.md §4.4: "row-count metrics" for the
 * resumable job): a SparkListener snapshotting every completed stage's
 * input/output/shuffle volumes, dumped as one JSON file next to the
 * lineage table — the ops-visible record of what a run actually read,
 * shuffled and wrote.
 */
final class StageMetricsListener extends SparkListener {
  final case class StageRow(stageId: Int, name: String, numTasks: Int,
                            runTimeMs: Long, inputRecords: Long, inputBytes: Long,
                            outputRecords: Long, outputBytes: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long)

  private val rows = ArrayBuffer.empty[StageRow]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val m = sc.stageInfo.taskMetrics
    if (m != null) rows += StageRow(
      sc.stageInfo.stageId,
      sc.stageInfo.name.takeWhile(_ != '\n').take(120),
      sc.stageInfo.numTasks,
      m.executorRunTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
  }

  def snapshot: Seq[StageRow] = synchronized(rows.toVector)

  def toJson(runId: String): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val items = snapshot.map { r =>
      s"""{"stage":${r.stageId},"name":${q(r.name)},"tasks":${r.numTasks},""" +
        s""""run_ms":${r.runTimeMs},"in_rec":${r.inputRecords},"in_b":${r.inputBytes},""" +
        s""""out_rec":${r.outputRecords},"out_b":${r.outputBytes},""" +
        s""""shuf_r_b":${r.shuffleReadBytes},"shuf_w_b":${r.shuffleWriteBytes},""" +
        s""""spill_b":${r.spillBytes}}"""
    }
    s"""{"run_id":${q(runId)},"stages":[${items.mkString(",")}]}"""
  }
}

object Metrics {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run `body` with a fresh stage listener attached; write the collected
    * metrics JSON to `path` afterwards. Before the snapshot the listener
    * bus is drained, so every stage the body completed (the final lineage
    * write included) is in the report. The report is best-effort: a
    * failure to drain or write it is logged and never fails the job. */
  def withMetrics[T](spark: SparkSession, runId: String, path: String)(body: => T): T = {
    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      try {
        GraftBusBridge.drain(spark.sparkContext)
        val p = java.nio.file.Paths.get(path)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, listener.toJson(runId))
      } catch {
        case NonFatal(e) => log.warn(s"stage metrics report $path not written", e)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
