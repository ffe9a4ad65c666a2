package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, TextFunctions}
import graft.operators.{SpatialJoin, TileAgg}

/**
 * The flagship end-to-end pipeline (SURVEY.md §3.1 E1 / §7 M1): pages ->
 * extract + geocode -> region lookup (map-side, or candidate cover join +
 * exact PIP refine) -> per-region matches + tile aggregation.
 *
 * Column-pruning discipline: `html` (BINARY, the huge column) is consumed
 * exactly once at geocode/extract time; everything downstream carries only
 * url/lat/lon/cell columns, so Parquet scans of derived stages never read
 * html (verified by plan assertions in PipelineSpec).
 */
object Pipeline {

  /** Geocoded points from a pages table (input_hint shape). */
  def geocode(pages: DataFrame): DataFrame =
    pages.select(col("url"),
        TextFunctions.geoLat(col("html")).as("lat"),
        TextFunctions.geoLon(col("html")).as("lon"))
      .where(col("lat").isNotNull && col("lon").isNotNull)

  /** (region_id, url, lat, lon) exact region matches: SpatialJoin.assign,
    * map-side under Auto's broadcast pick, else the shuffle join. `cover`
    * defaults to the committed fixture polygons; for real boundary inputs
    * pass one built by SpatialJoin.coverDFDistributed (polygon files and
    * OSM relations) or SpatialJoin.coverDF (an in-memory PolyPart seq).
    * Pass one cover across batches, so its pack is built once. */
  def matches(spark: SparkSession, pages: DataFrame,
              mode: SpatialJoin.Mode = SpatialJoin.Auto(),
              cover: Option[SpatialJoin.CoverSides] = None): DataFrame =
    SpatialJoin.assign(geocode(pages), "url",
      cover.getOrElse(SpatialJoin.coverDF(spark)), mode)

  /** Per-(tile, region) counts at zoom z — the coverage-map output. */
  def tileStats(spark: SparkSession, pages: DataFrame, z: Int = 8,
                mode: SpatialJoin.Mode = SpatialJoin.Auto(),
                cover: Option[SpatialJoin.CoverSides] = None): DataFrame =
    TileAgg.perRegion(matches(spark, pages, mode, cover), z)

  /** The full coverage-map job (the reference's published page per area
    * [PK]: progress counts + page stats): per tile at zoom z — geocoded
    * pages, pages matched to any region, and token totals of the EXTRACTED
    * text (extraction is the mandated per-row invariant, so the e2e
    * throughput metric includes it). One action, one output. */
  def coverageStats(spark: SparkSession, pages: DataFrame, z: Int = 8,
                    joinMode: SpatialJoin.Mode = SpatialJoin.Auto(),
                    cover: Option[SpatialJoin.CoverSides] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    // carry warc_ts through the point relation: assignRegions keeps one
    // row per distinct point ROW, so row identity must hold under real
    // Common-Crawl input where the same url recurs across crawls (url
    // alone would collapse or double-count them — input_hint's per-url
    // contract only pins the text invariant, not row uniqueness). Rows
    // identical in ALL of (url, warc_ts, coords, tokens) are true
    // duplicate records and count once.
    val tsCol =
      if (pages.columns.contains("warc_ts")) col("warc_ts")
      else lit(null).cast("timestamp")
    val pts = pages.select(col("url"), tsCol.as("warc_ts"),
        TextFunctions.geoLat(col("html")).as("lat"),
        TextFunctions.geoLon(col("html")).as("lon"),
        TextFunctions.tokenCountWs(TextFunctions.extractText(col("html")))
          .as("tokens"))
      .where(col("lat").isNotNull && col("lon").isNotNull)
    // SINGLE-SCAN shape: the left-outer spatial assign keeps every point in
    // ONE plan (SpatialJoin.assignRegions), so per-tile totals AND match
    // counts come from one aggregation over one pass — the 100-TB html
    // column is read exactly once (PipelineSpec asserts one scan of the
    // pages relation). Under Auto's broadcast pick the regions are looked
    // up map-side (regions_at inside the scan's codegen stage: no explode,
    // no join, no broadcast job), and the plan is scan -> project ->
    // point-row dedup (exchange 1: the duplicate-record collapse above) ->
    // partial per-tile aggregate -> exchange 2 of per-tile partials
    // (PipelineSpec "plan: Auto flagship looks regions up map-side";
    // annotated in docs/FLAGSHIP_PLAN.md). The shuffle modes keep the
    // explode -> join -> regroup path. A count() of this frame still
    // prunes the lookup and the extraction (the per-tile count reads
    // neither), so the count() flagship (Bench) never builds the pack.
    val tiled = pts.withColumn("tile",
      GeoFunctions.cellEncode(col("lat"), col("lon"), lit(z)))
    val withRegions = SpatialJoin.assignRegions(tiled, "url",
      cover.getOrElse(SpatialJoin.coverDF(spark)), joinMode)
    withRegions.groupBy(col("tile"))
      .agg(count("*").as("pages"), sum(col("tokens")).as("tok_sum"),
        sum(when(size(col("regions")) > 0, 1L).otherwise(0L)).as("matched"))
      .select(
        GeoFunctions.cellTileX(col("tile")).as("tile_x"),
        GeoFunctions.cellTileY(col("tile")).as("tile_y"),
        col("pages"), col("tok_sum"), col("matched"))
  }

  /** Resumable flagship run (SURVEY.md §3.1 E3): geocode -> prune prefixes
    * already recorded complete in the lineage table -> spatial join ->
    * partitioned write + lineage append. A killed run re-invoked with the
    * same runId recomputes ONLY the uncompleted cell prefixes. Returns the
    * number of input points actually processed this invocation. Regions
    * come from SpatialJoin.assign, as in [[matches]], deduplicated per
    * (cell_prefix, url, region_id): the prefix is the unit a resume
    * recomputes, so a url recurring in two prefixes keeps a row in each,
    * on a fresh run and on a resumed one alike.
    *
    * The checkpointed points are hash-partitioned by prefix
    * (Lineage.byPrefix). Under the map-side lookup that is the write's one
    * exchange: the region lookup, the dedup and the partitioned write run
    * on that partitioning, one task per partition. (A checkpoint forgets
    * its partitioning under AQE, so the exchange sits after it.) A fresh
    * run (no lineage directory yet) skips the prune and so reads no
    * lineage. */
  def runResumable(spark: SparkSession, pages: DataFrame, outPath: String,
                   lineagePath: String, runId: String,
                   mode: SpatialJoin.Mode = SpatialJoin.Auto(),
                   cover: Option[operators.SpatialJoin.CoverSides] = None): Long = {
    import graft.plans.{Lineage, Metrics}
    Metrics.withMetrics(spark, runId,
        s"$lineagePath-metrics/$runId-${System.nanoTime()}.json") {
      val pts = Lineage.withPrefix(geocode(pages))
      val todo =
        if (new java.io.File(lineagePath).exists())
          Lineage.pruneCompleted(pts,
            Lineage.completedPrefixes(spark, lineagePath, runId))
        else pts
      val pruned = todo.localCheckpoint(true)
      val nProcessed = pruned.count()
      if (nProcessed > 0) {
        val matched = operators.SpatialJoin
          .assign(Lineage.byPrefix(pruned), "url",
            cover.getOrElse(operators.SpatialJoin.coverDF(spark)), mode,
            within = Seq("cell_prefix"))
        Lineage.writeWithLineage(matched, pruned.select("cell_prefix"),
          outPath, lineagePath, runId, hashCols = Seq("url", "region_id"))
      }
      nProcessed
    }
  }

  /** Text-extraction check: recompute text from html and compare to the
    * stored text column (byte-identical invariant, BASELINE.json). Returns
    * offending rows (must be empty). */
  def textInvariantViolations(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("text"),
        TextFunctions.extractText(col("html")).as("text2"))
      .where(col("text") =!= col("text2"))
}
