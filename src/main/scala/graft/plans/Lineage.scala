package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/**
 * Per-partition checkpoint lineage + resume (SURVEY.md §4.4, the north
 * rule's "resumable from checkpoint with per-partition lineage +
 * row-count metrics").
 *
 * The unit of checkpointing is the coarse cell prefix (parent cell at
 * `prefixRes`) — the same key the output is partitioned by, so "resume"
 * is a partition-pruned re-run: completed prefixes are read from the
 * lineage table and anti-filtered from the input BEFORE the heavy join,
 * and the filter is an ordinary column predicate that reaches the scan.
 *
 * Lineage rows are idempotent on retry: keyed by (runId, cellPrefix),
 * last-write-wins at read time via max(completedAt). The salt used for
 * skew handling never appears here (SURVEY.md hard-parts #3): prefixes
 * are computed from the unsalted cell id.
 *
 * The row hash is an order-independent xor of per-row xxhash64, so it is
 * stable under any partitioning/ordering — two runs producing the same
 * row set always produce the same checksum.
 */
object Lineage {

  final val PrefixRes = 7

  /** Add the lineage partition key to a matched-output DataFrame that
    * carries lat/lon. */
  def withPrefix(df: DataFrame, prefixRes: Int = PrefixRes): DataFrame =
    df.withColumn("cell_prefix",
      GeoFunctions.cellEncode(col("lat"), col("lon"), lit(prefixRes)))

  /** Hash-partition on `cell_prefix` into `defaultParallelism` (the count
    * OsmPbf uses) partitions: each prefix lands in exactly one partition,
    * and the explicit count keeps AQE from coalescing the exchange. A
    * frame already partitioned this way keeps its plan (Spark drops the
    * repartition as redundant), so partitioning the points once up front
    * carries through to the write. */
  def byPrefix(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col("cell_prefix"))

  /** Write output partitioned by cell_prefix, then append per-prefix
    * lineage rows (count + order-independent xor checksum over the named
    * key columns). The rows are written [[byPrefix]]-partitioned: the
    * write runs on every core and each prefix directory holds one data
    * file (a hot prefix is one task's work); the lineage aggregate reuses
    * that partitioning (no exchange). `processedPrefixes` is the set of
    * prefixes this run worked on — prefixes with ZERO output rows are
    * still recorded complete (row_count 0), otherwise resume would
    * re-process them forever. Lineage is appended strictly AFTER the data
    * write action completes, so a killed run never records unfinished
    * prefixes. */
  def writeWithLineage(out: DataFrame, processedPrefixes: DataFrame,
                       outPath: String, lineagePath: String,
                       runId: String, hashCols: Seq[String]): DataFrame = {
    val withP = byPrefix(
      if (out.columns.contains("cell_prefix")) out else withPrefix(out))
    // dynamic partition overwrite: a resumed run only rewrites the
    // partitions it recomputed; completed partitions are untouched
    withP.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell_prefix").parquet(outPath)
    val stats = withP.groupBy(col("cell_prefix"))
      .agg(count("*").as("row_count"),
        // bit_xor of per-row xxhash64: order/partitioning independent
        expr(s"bit_xor(xxhash64(${hashCols.mkString(", ")}))").as("row_hash"))
    val lin = processedPrefixes.select(col("cell_prefix")).distinct()
      .join(stats, Seq("cell_prefix"), "left")
      .select(col("cell_prefix"),
        coalesce(col("row_count"), lit(0L)).as("row_count"),
        coalesce(col("row_hash"), lit(0L)).as("row_hash"))
      .withColumn("run_id", lit(runId))
      .withColumn("completed_at", lit(java.time.Instant.now().toString))
    lin.write.mode(SaveMode.Append).parquet(lineagePath)
    lin
  }

  /** Prefixes recorded complete for runId (last write wins). */
  def completedPrefixes(spark: SparkSession, lineagePath: String,
                        runId: String): DataFrame =
    spark.read.parquet(lineagePath)
      .where(col("run_id") === runId)
      .select("cell_prefix").distinct()

  /** Latest per-prefix stats of one run: retried prefixes append
    * idempotent rows, so last write wins via max(completed_at). */
  def runStats(spark: SparkSession, lineagePath: String,
               runId: String): DataFrame =
    runStatsFrom(spark.read.parquet(lineagePath), runId)

  /** Relation form (any lineage-shaped DataFrame — parquet, Iceberg, or
    * constructed; the oracle query q_lineage_delta drives this). */
  def runStatsFrom(lineage: DataFrame, runId: String): DataFrame =
    lineage
      .where(col("run_id") === runId)
      .groupBy(col("cell_prefix"))
      .agg(max_by(struct(col("row_count"), col("row_hash")),
        col("completed_at")).as("s"))
      .select(col("cell_prefix"), col("s.row_count").as("row_count"),
        col("s.row_hash").as("row_hash"))

  /** Run-over-run HISTORY relation (the reference's stage F keeps deltas
    * vs the previously published run [PK]; SURVEY §2.A15 over REAL run
    * artifacts): full-outer join of two runs' per-prefix lineage stats,
    * classified added / removed / changed / unchanged. The row_hash is the
    * order-independent xor checksum writeWithLineage records, so "changed"
    * detects any row-set difference inside a prefix without re-reading
    * either run's data — the history query runs off the tiny lineage
    * table alone (at 10^12 pages that is the difference between a metadata
    * join and a full-output diff). */
  def runDelta(spark: SparkSession, lineagePath: String,
               runOld: String, runNew: String): DataFrame =
    runDeltaFrom(spark.read.parquet(lineagePath), runOld, runNew)

  /** Relation form of [[runDelta]]. */
  def runDeltaFrom(lineage: DataFrame,
                   runOld: String, runNew: String): DataFrame = {
    val a = runStatsFrom(lineage, runOld)
      .select(col("cell_prefix"), col("row_count").as("rows_old"),
        col("row_hash").as("hash_old"))
    val b = runStatsFrom(lineage, runNew)
      .select(col("cell_prefix"), col("row_count").as("rows_new"),
        col("row_hash").as("hash_new"))
    a.join(b, Seq("cell_prefix"), "full_outer")
      .withColumn("change",
        when(col("rows_old").isNull, "added")
          .when(col("rows_new").isNull, "removed")
          .when(col("rows_old") =!= col("rows_new") ||
                col("hash_old") =!= col("hash_new"), "changed")
          .otherwise("unchanged"))
  }

  /** Resume filter: drop input rows whose cell prefix is already complete.
    * Small sets go through isInCollection (pushdown-friendly literal
    * predicate); large through a left-anti join. */
  def pruneCompleted(points: DataFrame, completed: DataFrame,
                     prefixRes: Int = PrefixRes,
                     broadcastThreshold: Int = 10000): DataFrame = {
    val withP = withPrefix(points, prefixRes)
    val n = completed.count()
    if (n == 0) withP
    else if (n <= broadcastThreshold) {
      val set = completed.collect().map(_.getLong(0))
      withP.where(!col("cell_prefix").isInCollection(set))
    } else {
      withP.join(broadcast(completed), Seq("cell_prefix"), "left_anti")
    }
  }
}
