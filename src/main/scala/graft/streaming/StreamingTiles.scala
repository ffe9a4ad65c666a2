package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.Pipeline
import graft.operators.SpatialJoin

/**
 * Incremental ingest path (SURVEY.md §2.J maps the batch design onto
 * Structured Streaming; descoped from the correctness bar — the north rule
 * is batch + resume — but provided so a pages stream can drive the same
 * spatial join). `foreachBatch` reuses the EXACT batch operators, so
 * streaming results match batch semantics by construction; watermarked
 * tumbling windows give per-window tile stats for a live coverage map.
 */
object StreamingTiles {

  /** Streaming per-(window, tile, region) counts from a pages stream
    * (exact input_hint schema + event time = warc_ts). */
  def windowedTileStats(spark: SparkSession, pages: DataFrame, z: Int,
                        window_ : String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    import spark.implicits._
    val pts = pages
      .withWatermark("warc_ts", watermark)
      .select($"url", $"warc_ts",
        graft.functions.TextFunctions.geoLat($"html").as("lat"),
        graft.functions.TextFunctions.geoLon($"html").as("lon"))
      .where($"lat".isNotNull && $"lon".isNotNull)
    val assigned = SpatialJoin.assign(pts, "url",
      SpatialJoin.coverDF(spark), SpatialJoin.Broadcast)
    assigned
      .withColumn("tile", graft.functions.GeoFunctions
        .cellEncode($"lat", $"lon", lit(z)))
      .groupBy(window($"warc_ts", window_), $"tile", $"region_id")
      .agg(count("*").as("n"))
  }

  /** Streaming exact dedup over a pages stream: first occurrence of each
    * content hash wins; duplicates arriving later are dropped. State is
    * bounded by the watermark (`dropDuplicatesWithinWatermark`: a repeat of
    * a page older than the watermark may re-emit, which is the standard
    * trade for bounded state at 10^12-page scale — unbounded exact dedup
    * state is the batch job's business, SURVEY.md §2 Dedup row). Keyed by
    * md5(html): the shuffle key is the hash, so state is evenly spread. */
  def dedupStream(pages: DataFrame, watermark: String = "2 hours"): DataFrame =
    pages
      .withColumn("html_md5", md5(col("html")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("html_md5")

  /** Batch-parity variant: stream -> foreachBatch -> the batch pipeline,
    * appending matches to a parquet sink. The fixture cover is built once
    * per sink, as in [[coverageSink]], so the packed cover of the map-side
    * lookup is built by the first batch and reused. */
  def matchesSink(spark: SparkSession, pages: DataFrame,
                  outPath: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val cover = SpatialJoin.coverDF(spark)
    pages.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pipeline.matches(spark, batch, cover = Some(cover))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }
      .trigger(Trigger.AvailableNow())
  }

  /** Streaming twin of the round-5 single-scan flagship: per-micro-batch
    * coverage stats (tile_x, tile_y, pages, tok_sum, matched, batch_id)
    * appended as incremental snapshots — each batch is one crawl
    * increment run through the exact batch plan (Pipeline.coverageStats
    * over SpatialJoin.assignRegions), so stream == batch semantics hold
    * by construction; per-tile roll-up across batches is a plain
    * downstream aggregation (counts and token sums are additive). The
    * fixture cover is built once per sink, not per batch: under Auto it
    * resolves to the map-side lookup, whose packed cover is then built
    * and broadcast by the first batch and reused by every later one.
    *
    * `joinMode`: the streaming deployment IS the crawl-cycle steady
    * state [[graft.operators.SpatialJoin.ShuffleSaltedHot]] was built
    * for — earlier snapshots in `outPath` are exactly the tile-stats
    * relation `hotTilesFromStats` consumes, so a caller can pre-declare
    * hot tiles from yesterday's coverage with zero extra scans of the
    * stream. */
  def coverageSink(spark: SparkSession, pages: DataFrame, outPath: String,
                   z: Int = 8,
                   joinMode: graft.operators.SpatialJoin.Mode =
                     graft.operators.SpatialJoin.Auto())
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    val cover = SpatialJoin.coverDF(spark)
    pages.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pipeline.coverageStats(spark, batch, z, joinMode, Some(cover))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }
      .trigger(Trigger.AvailableNow())
  }

  /** Streaming incremental dedup — K27's streaming twin: a continuous
    * stream of NEW documents filtered against a STATIC kept corpus. The
    * reference side's banded MinHash keys are computed ONCE outside the
    * stream (they are the stable "what we already have" table); each
    * micro-batch computes its own banded keys and runs the exact batch
    * operators (incrementalPairsFromBanded + keepNovel), so a micro-batch
    * is literally one crawl increment and semantics match the batch path
    * by construction. Novelty here is vs the REFERENCE only — duplicates
    * between two new documents are [[dedupStream]]'s / the batch cluster
    * job's business, exactly as in the batch pipeline. */
  def novelSink(refBanded: DataFrame, docs: DataFrame, outPath: String,
                w: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val banded = Dedup.minhashBanded(batch, "doc_id", "text",
          w, numHashes, rowsPerBand)
        try {
          val pairs = Dedup.incrementalPairsFromBanded(banded, refBanded, "doc_id")
          Dedup.keepNovel(batch, "doc_id", pairs)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        } finally
          // minhashBanded localCheckpoints; under a caller-overridden
          // continuous trigger (AvailableNow is only this writer's
          // default) the per-batch checkpoint blocks would otherwise
          // accumulate for the life of the stream (round-4 advice — the
          // SessionCaches pinned-block leak class)
          graft.plans.SessionCaches.unpersistCheckpointed(banded)
      }
      .trigger(Trigger.AvailableNow())
}
