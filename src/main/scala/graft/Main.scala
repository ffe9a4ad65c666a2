package graft

import org.apache.spark.sql.SparkSession

import graft.operators.SpatialJoin

/**
 * spark-submit entry point (BASELINE.json north_star: "launches via
 * spark-submit"): runs the resumable flagship pipeline over a pages table.
 *
 *   spark-submit --class graft.Main engine.jar \
 *     --pages <path> [--format parquet|iceberg] | --warc <glob> \
 *     --out <dir> \
 *     --lineage <dir> --run-id <id>
 *     [--mode auto[:maxCells]|broadcast|shuffle|salted[:S]|salted-hot[:S]]
 *     [--hot-tiles <dir> --hot-threshold <n>]   (with salted-hot: hot set
 *       from a previous run's --tiles output — skew salting with zero
 *       extra scans of the corpus)
 *     [--zoom 8] [--tiles <dir>]
 *     [--polygons <jsonl> | --osm-boundaries <xml-glob> | --osm-pbf <pbf-glob>]
 *
 * --polygons joins against real boundary polygons (PolygonJson lines)
 * instead of the committed fixture set; --osm-boundaries instead
 * assembles the polygons from OSM XML boundary relations, --osm-pbf
 * from a PBF file (blob = split unit, so one planet file parallelizes)
 * — the reference's actual polygon provenance, end to end through the
 * CLI. Every polygon input takes the one executor path: ring stitching
 * per relation (OsmXml.boundariesDistributedFrom) and Geo.cover
 * (SpatialJoin.coverDFDistributed) run on executors, so geometry never
 * passes through the driver. Unknown --keys fail naming the key.
 *
 * Re-invoking with the same --run-id resumes: completed cell prefixes are
 * pruned before the join (plans/Lineage). On a cluster the session comes
 * from spark-submit; local fallback is for the sandbox.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-flagship")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --pages <path> (parquet/iceberg table, input_hint shape) or
    // --warc <glob> (Common-Crawl-native WARC files, one task per file;
    // the flagship consumes only url+html, which WARC carries)
    val pages = opts.get("pages")
      .map(p => spark.read.format(opts.getOrElse("format", "parquet")).load(p))
      .getOrElse(sources.Warc.read(spark, opts("warc")))
    val mode: SpatialJoin.Mode = opts.getOrElse("mode", "auto") match {
      case "auto" => SpatialJoin.Auto() // size-based broadcast/shuffle pick
      case s if s.startsWith("auto:") =>
        SpatialJoin.Auto(maxBroadcastCells = s.split(":")(1).toLong)
      case "broadcast" => SpatialJoin.Broadcast
      case "shuffle" => SpatialJoin.Shuffle
      case s if s.startsWith("salted-hot") =>
        // skew handling with ZERO extra scans: hot tiles come from a
        // PREVIOUS run's persisted --tiles output (the crawl-cycle steady
        // state) instead of the adaptive mode's counting pass
        val n = s.split(":").lift(1).map(_.toInt).getOrElse(8)
        val statsPath = opts.getOrElse("hot-tiles",
          sys.error("--mode salted-hot requires --hot-tiles <tile-stats dir>"))
        val z = opts.getOrElse("zoom", "8").toInt
        val threshold = opts.getOrElse("hot-threshold", "1000000").toLong
        SpatialJoin.ShuffleSaltedHot(n,
          SpatialJoin.hotTilesFromStats(
            spark.read.parquet(statsPath), z, threshold), z)
      case s if s.startsWith("salted") =>
        val n = s.split(":").lift(1).map(_.toInt).getOrElse(8)
        SpatialJoin.ShuffleSalted(n)
      case other => sys.error(s"unknown --mode $other")
    }

    val cover = opts.get("polygons")
      .map(p => sources.PolygonJson.coverFromJsonDistributed(spark, p))
      .orElse {
        // --osm-boundaries <xml-glob> | --osm-pbf <pbf-glob>: same assembly
        // chain, different parse (splittable blob-ranged PBF for planet
        // files). Parsed dataset -> boundary relations -> cover.
        import org.apache.spark.sql.functions.col
        opts.get("osm-boundaries").map(g => sources.OsmXml.read(spark, g))
          .orElse(opts.get("osm-pbf").map(g => sources.OsmPbf.read(spark, g)))
          .map(objs => SpatialJoin.coverDFDistributed(
            sources.OsmXml.boundariesDistributedFrom(objs)
              .select(col("regionId").as("region_id"), col("part"), col("rings"))))
      }

    val runId = opts.getOrElse("run-id", "run")
    val n = Pipeline.runResumable(spark, pages, opts("out"),
      opts.getOrElse("lineage", opts("out") + "_lineage"), runId, mode, cover)
    // eslint-style one-line summary for operators' logs
    println(s"""{"run_id":"$runId","points_processed":$n}""")

    opts.get("tiles").foreach { tilesOut =>
      val z = opts.getOrElse("zoom", "8").toInt
      Pipeline.coverageStats(spark, pages, z, mode, cover)
        .write.mode("overwrite").parquet(tilesOut)
    }
    spark.stop()
  }

  private val knownKeys = Set("pages", "format", "warc", "out", "lineage",
    "run-id", "mode", "hot-tiles", "hot-threshold", "zoom", "tiles",
    "polygons", "osm-boundaries", "osm-pbf")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--") && i + 1 < args.length,
        s"expected --key value pairs, got: ${args.mkString(" ")}")
      val key = args(i).drop(2)
      require(knownKeys(key), s"unknown option --$key " +
        s"(known: ${knownKeys.toSeq.sorted.map("--" + _).mkString(" ")})")
      m(key) = args(i + 1)
      i += 2
    }
    require((m.contains("pages") || m.contains("warc")) && m.contains("out"),
      "--pages (or --warc) and --out are required")
    m.toMap
  }
}
