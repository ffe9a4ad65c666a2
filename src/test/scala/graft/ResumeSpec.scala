package graft

import org.apache.spark.GraftBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions._

import graft.core.Cells
import graft.functions.{GeoFunctions, TextFunctions}
import graft.plans.Lineage
import graft.sources.Pages

/** Kill/resume end-to-end (SURVEY.md §5.2-5): a half-completed run resumed
  * with the same runId must (a) process ONLY the uncompleted prefixes and
  * (b) end with output identical to an uninterrupted run. */
class ResumeSpec extends SparkTestBase {

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graftresume").toString
    (s"$base/out", s"$base/lineage")
  }

  /** Run `body` with `l` attached; the bus is drained before returning,
    * so `l` has seen every event of the body. */
  private def listening[T](l: SparkListener)(body: => T): T = {
    spark.sparkContext.addSparkListener(l)
    try { val r = body; GraftBusBridge.drain(spark.sparkContext); r }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Every stage that completed, in completion order. */
  private final class CompletedStages extends SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    def all: Seq[StageInfo] = stages.toArray(Array.empty[StageInfo]).toSeq
  }

  private def outSet(path: String): Set[(String, Long)] =
    spark.read.parquet(path).select("url", "region_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("killed-at-half run resumes without recomputing completed prefixes") {
    val pages = Pages.synthesize(spark, 3000, 16)

    // reference: uninterrupted run
    val (refOut, refLin) = freshDirs()
    val nFull = Pipeline.runResumable(spark, pages, refOut, refLin, "ref")
    assert(nFull == Pipeline.geocode(pages).count())
    val expected = outSet(refOut)
    assert(expected.nonEmpty)

    // "killed" run: only pages whose prefix is in an arbitrary half get
    // processed (simulates a job killed after half the partitions committed)
    val (out, lin) = freshDirs()
    val ptsAll = Lineage.withPrefix(Pipeline.geocode(pages))
    // a killed job commits WHOLE partitions: cut the input along prefix
    // boundaries (half the prefixes fully processed, the rest untouched)
    val allPrefixes = ptsAll.select("cell_prefix").distinct()
      .collect().map(_.getLong(0)).sorted
    val doneHalf = allPrefixes.take(allPrefixes.length / 2)
    val halfUrls = ptsAll.where(col("cell_prefix").isInCollection(doneHalf))
      .select("url")
    val firstN = Pipeline.runResumable(spark,
      pages.join(halfUrls, Seq("url"), "left_semi"), out, lin, "run1")
    assert(firstN > 0)

    // resume with the FULL input and same runId
    val completedBefore = Lineage.completedPrefixes(spark, lin, "run1")
      .collect().map(_.getLong(0)).toSet
    val secondN = Pipeline.runResumable(spark, pages, out, lin, "run1")
    // resumed run must process only rows outside completed prefixes
    val expectedSecondN = ptsAll
      .where(!col("cell_prefix").isInCollection(completedBefore)).count()
    assert(secondN == expectedSecondN, s"$secondN vs $expectedSecondN")
    assert(secondN < nFull) // something was actually skipped

    // final output identical to the uninterrupted run
    assert(outSet(out) == expected)

    // third invocation: everything complete -> zero rows processed
    val thirdN = Pipeline.runResumable(spark, pages, out, lin, "run1")
    assert(thirdN == 0L)
  }

  test("lineage rows are per-prefix with exact counts and stable hashes") {
    val pages = Pages.synthesize(spark, 1500, 8)
    val (out, lin) = freshDirs()
    Pipeline.runResumable(spark, pages, out, lin, "runA")
    val lineage = spark.read.parquet(lin)
    assert(lineage.columns.toSet ==
      Set("cell_prefix", "row_count", "row_hash", "run_id", "completed_at"))
    // counts must equal the written partition sizes
    val written = spark.read.parquet(out)
      .groupBy("cell_prefix").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    lineage.where(col("row_count") > 0).collect().foreach { r =>
      assert(written(r.getLong(0)) == r.getLong(1))
    }
    // re-running an identical job under a new runId yields identical hashes
    val (out2, lin2) = freshDirs()
    Pipeline.runResumable(spark, pages, out2, lin2, "runB")
    def hashes(p: String) = spark.read.parquet(p)
      .select("cell_prefix", "row_count", "row_hash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashes(lin) == hashes(lin2))
  }

  test("run history: runDelta classifies added/removed/changed/unchanged prefixes") {
    // two REAL flagship runs into one lineage table, with an injected
    // corpus change between them; the delta comes off the lineage alone
    val pages = Pages.synthesize(spark, 3000, 16)
    val ptsAll = Lineage.withPrefix(Pipeline.geocode(pages))
    // the "changed" prefix must lose a MATCHED url (an unmatched url's
    // removal leaves row_count and hash identical — correctly unchanged),
    // so candidate prefixes come from the matched output
    val matched = Lineage.withPrefix(Pipeline.matches(spark, pages))
    val prefixes = matched.select("cell_prefix").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(prefixes.length >= 4)
    // "changed" needs a prefix that SURVIVES losing one url: >= 2 matched
    val multi = matched.groupBy("cell_prefix")
      .agg(countDistinct(col("url")).as("nu"))
      .where(col("nu") >= 2).select("cell_prefix")
      .collect().map(_.getLong(0)).sorted
    assert(multi.nonEmpty)
    val pChanged = multi.head
    val Seq(pRemoved, pAdded) =
      prefixes.filterNot(_ == pChanged).take(2).toSeq
    def urlsOf(pred: org.apache.spark.sql.Column) =
      ptsAll.where(pred).select("url")
    // run OLD: everything except prefix pAdded
    val (out, lin) = freshDirs()
    val inOld = pages.join(urlsOf(col("cell_prefix") === pAdded),
      Seq("url"), "left_anti")
    Pipeline.runResumable(spark, inOld, out, lin, "old")
    // run NEW: drops SOME matched urls of pChanged, ALL of pRemoved
    val someChanged = matched.where(col("cell_prefix") === pChanged)
      .select("url").distinct().limit(1)
    val inNew = pages
      .join(someChanged, Seq("url"), "left_anti")
      .join(urlsOf(col("cell_prefix") === pRemoved), Seq("url"), "left_anti")
    val (out2, _) = freshDirs()
    Pipeline.runResumable(spark, inNew, out2, lin, "new")
    val delta = Lineage.runDelta(spark, lin, "old", "new")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change")).toMap
    assert(delta(pAdded) == "added")
    assert(delta(pRemoved) == "removed")
    assert(delta(pChanged) == "changed")
    // every other prefix (matched or zero-match) is untouched
    val special = Set(pChanged, pRemoved, pAdded)
    assert(delta.nonEmpty &&
      delta.filterNot(kv => special(kv._1)).values.forall(_ == "unchanged"))
  }

  test("runResumable dumps per-stage metrics JSON next to the lineage") {
    val pages = Pages.synthesize(spark, 800, 4)
    val (out, lin) = freshDirs()
    val seen = new CompletedStages
    listening(seen)(Pipeline.runResumable(spark, pages, out, lin, "runM"))
    val dir = new java.io.File(s"$lin-metrics")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
    assert(files.nonEmpty, "metrics json missing")
    val json = java.nio.file.Files.readString(files.head.toPath)
    assert(json.contains("\"run_id\":\"runM\"") && json.contains("\"stages\":["))
    assert(json.contains("\"in_rec\":"), json.take(200))
    // the report lists every stage an independent listener saw complete,
    // the last one included: the lineage append (of the two stages that
    // wrote records, the data write and the append, the second)
    val reported = "\"stage\":(\\d+)".r.findAllMatchIn(json)
      .map(_.group(1).toInt).toSet
    val completed = seen.all
    val writes = completed.filter(_.taskMetrics.outputMetrics.recordsWritten > 0)
    assert(writes.length == 2 && writes.last.stageId == completed.last.stageId,
      completed.map(_.stageId))
    val missing = completed.map(_.stageId).filterNot(reported)
    assert(missing.isEmpty, s"stages missing from the report: $missing")
  }

  test("fresh run reads no lineage: its first job is the points checkpoint") {
    val pages = Pages.synthesize(spark, 400, 4)
    val (out, lin) = freshDirs()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    listening(l)(Pipeline.runResumable(spark, pages, out, lin, "runJ"))
    val names = jobs.toArray(Array.empty[String]).toSeq
    assert(names.nonEmpty)
    assert(names.head.contains("localCheckpoint at Pipeline.scala"), names)
  }

  test("fresh run writes one file per prefix, from more than one task") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val pages = Pages.synthesize(spark, 1500, 8)
    val (out, lin) = freshDirs()
    val seen = new CompletedStages
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try listening(seen)(Pipeline.runResumable(spark, pages, out, lin, "runW"))
    finally spark.listenerManager.unregister(ql)
    val prefixDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("cell_prefix="))
    assert(prefixDirs.length >= 2)
    prefixDirs.foreach { d =>
      val data = d.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(data.length == 1, s"${d.getName}: ${data.mkString(", ")}")
    }
    // stages that wrote records: the data write, then the lineage append
    val writes = seen.all.filter(_.taskMetrics.outputMetrics.recordsWritten > 0)
    assert(writes.length == 2, writes.map(_.name))
    assert(writes.head.numTasks > 1,
      s"data write ran as ${writes.head.numTasks} task(s)")
    // the data write plans one exchange, the points' prefix partitioning:
    // the dedup and the write's layout reuse it
    val writePlan = plans.toArray(Array.empty[SparkPlan])
      .filter(_.toString.contains(s"path=$out]"))
    assert(writePlan.length == 1)
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(writePlan.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1 && exchanges.head.outputPartitioning.toString
      .startsWith("hashpartitioning(cell_prefix#"), writePlan.head)
  }

  test("a url at two coordinates in two prefixes: resume == fresh, count for count") {
    import spark.implicits._
    // one url at two points of the mega region 7, in two r7 prefixes
    val twice = "https://recurring.example/page"
    val (a, b) = ((1.25, 1.25), (-20.5, 15.25))
    val prefixB = Cells.encode(b._1, b._2, Lineage.PrefixRes)
    assert(Cells.encode(a._1, a._2, Lineage.PrefixRes) != prefixB)
    def page(at: (Double, Double)) = (twice, "<html><head><meta name=\"geo.position\" " +
      s"content=\"${at._1};${at._2}\"></head><body>x</body></html>")
    val pages = Seq(page(a), page(b)).toDF("url", "html")
      .select(col("url"), encode(col("html"), "UTF-8").as("html"))
      .union(Pages.synthesize(spark, 600, 4).select("url", "html"))
    val (refOut, refLin) = freshDirs()
    Pipeline.runResumable(spark, pages, refOut, refLin, "ref")
    // crash: every page outside prefix B (whole prefixes commit), then resume
    val prefixOf = GeoFunctions.cellEncode(TextFunctions.geoLat(col("html")),
      TextFunctions.geoLon(col("html")), lit(Lineage.PrefixRes))
    val (out, lin) = freshDirs()
    Pipeline.runResumable(spark,
      pages.where(coalesce(prefixOf =!= prefixB, lit(true))), out, lin, "run1")
    Pipeline.runResumable(spark, pages, out, lin, "run1")
    def counts(path: String): Map[(String, Long), Long] =
      spark.read.parquet(path).groupBy("url", "region_id").count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def linRows(path: String, runId: String): Long =
      Lineage.runStats(spark, path, runId).agg(sum("row_count")).first().getLong(0)
    val fresh = counts(refOut)
    assert(fresh((twice, 7L)) == 2L)
    assert(counts(out) == fresh)
    assert(linRows(refLin, "ref") == fresh.values.sum)
    assert(linRows(lin, "run1") == linRows(refLin, "ref"))
  }

  test("resume pruning on a stored prefix column prunes partitions at scan") {
    // when the input table is partitioned by cell_prefix (the production
    // layout, north rule), the resume predicate prunes whole partitions
    val dir = java.nio.file.Files.createTempDirectory("graftpart").toString
    val pts = Lineage.withPrefix(Pipeline.geocode(Pages.synthesize(spark, 2000, 8)))
    pts.write.mode("overwrite").partitionBy("cell_prefix").parquet(dir)
    val stored = spark.read.parquet(dir)
    val some = stored.select("cell_prefix").distinct().limit(5)
      .collect().map(_.getLong(0))
    val plan = stored.where(!col("cell_prefix").isInCollection(some))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_prefix"),
      plan.take(1500))
    // pruning is REAL, not just a plan string: the filtered scan touches
    // strictly fewer files than the full scan
    import org.apache.spark.sql.functions.input_file_name
    val allFiles = stored.select(input_file_name()).distinct().count()
    val prunedFiles = stored.where(col("cell_prefix") === some.head)
      .select(input_file_name()).distinct().count()
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruned=$prunedFiles all=$allFiles")
  }
}
