package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.core.{Cells, Geo, Geocode, TextExtract}
import graft.functions.{GeoFunctions, TextFunctions}
import graft.operators.SpatialJoin
import graft.plans.Lineage
import graft.sources.PolygonJson
import Main.Metric

/** The per-layer measurements of a traced run, over the benchmark's own
  * inputs (the same generators, sizes and seed as the three workloads).
  * Every call into a layer's public functions runs inside a span of that
  * layer; Spark-side times are the minimum of `Reps` closed-loop calls. */
final class Layers(spark: SparkSession, seed: Long, cache: Path, work: Path,
                   tracer: Tracer) {
  final val Reps = 2
  final val MicroLoops = 9
  private val out = ArrayBuffer.empty[Metric]

  private def span[T](layer: String, name: String)(body: => T): (T, Span) =
    tracer.span("layer", layer, name)(body)

  /** Min of Reps calls, each in its own span. */
  private def minOf(layer: String, name: String)(body: => Any): Double =
    (1 to Reps).map(_ => span(layer, name)(body)._2.durMs / 1000).min

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Three warm-up loops, then MicroLoops `nanoTime` loops over a fixed
    * sample: records the median per unit as metric `name` and the minimum
    * in the trace. */
  private def micro(mins: mutable.Map[String, Double], name: String, unit: String,
                    units: Double)(body: => Unit): Unit = {
    (1 to 3).foreach(_ => body)
    val ts = (1 to MicroLoops).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / units
    }
    out += Metric(name, Util.median(ts), unit)
    mins(s"$name.min") = ts.min
  }

  private def core(polys: Seq[Polygons.Part]): Unit = {
    val c = mutable.LinkedHashMap.empty[String, Double]
    val (_, s) = span("core", "core")(coreLoops(polys, c))
    s.attrs ++= c
  }

  private def coreLoops(polys: Seq[Polygons.Part], c: mutable.Map[String, Double]): Unit = {
    val sample = (0L until 3000L).map(i => Pages.page(seed, i, GeoLayout.Global))
    var sink = 0L
    Seq(1 -> "geo", 2 -> "icbm", 0 -> "none").foreach { case (kind, name) =>
      val hs = sample.filter(_.kind == kind).map(_.html).toArray
      micro(c, s"core.geocode_ns_per_page.$name", "ns", hs.length) {
        hs.foreach(h => if (Geocode.fromHtml(h).isDefined) sink += 1)
      }
    }
    Seq(false -> "ascii", true -> "utf8").foreach { case (utf8, name) =>
      val hs = sample.filter(_.utf8 == utf8).map(_.html).toArray
      micro(c, s"core.tokens_ns_per_kb.$name", "ns/KB", hs.map(_.length.toLong).sum / 1024.0) {
        hs.foreach(h => sink += TextExtract.extractTokenCount(h))
      }
    }
    val r = Rng.at(seed, 9, 0)
    val lat = Array.fill(100000)(r.between(-80, 80))
    val lon = Array.fill(100000)(r.between(-180, 180))
    micro(c, "core.cell_encode_ns", "ns", lat.length) {
      var i = 0
      while (i < lat.length) { sink += Cells.encode(lat(i), lon(i), 12); i += 1 }
    }
    // point-in-polygon: admin-area points against every part whose bbox holds them
    val pts = (0 until 4000).map(_ => (r.between(Polygons.LatLo, Polygons.LatHi),
      r.between(Polygons.LonLo, Polygons.LonHi)))
    val tests = pts.flatMap { case (a, o) =>
      polys.filter(p => a >= p.latMin && a <= p.latMax && o >= p.lonMin && o <= p.lonMax)
        .map(p => (a, o, p.rings))
    }.toArray
    micro(c, "core.pip_ns_per_test", "ns", tests.length) {
      tests.foreach { case (a, o, rings) => if (Geo.contains(a, o, rings)) sink += 1 }
    }
    val coverSample = polys.indices.filter(_ % 16 == 0).map(polys(_).rings)
    var cells = 0L
    micro(c, "core.cover_ms_per_polygon", "ms", coverSample.size * 1e6) {
      cells = coverSample.map(rg => Geo.cover(rg, SpatialJoin.RMin, SpatialJoin.RMax).length.toLong).sum
    }
    out += Metric("core.cover_cells_per_polygon", cells.toDouble / coverSample.size, "count")
    if (sink == 42) println() // keeps the loops' results alive
  }

  def measure(): Seq[Metric] = {
    val Seq(cov: Coverage, res: Resume, sug: Suggest) =
      Seq("coverage", "resume", "suggest").map(Workload(_, spark, seed, cache, work))
    Seq(cov, res, sug).foreach(_.prepare())
    core(Polygons.generate(seed))

    // functions: codegen expressions over the coverage corpus, noop sink,
    // net of the same-sink scan of the html column
    val pages = cov.pages
    val scanNoop = minOf("sources", "scan.noop")(noop(pages.select(length(col("html")))))
    val lat = TextFunctions.geoLat(col("html"))
    val lon = TextFunctions.geoLon(col("html"))
    val geocode = minOf("functions", "geo_lat+geo_lon")(noop(pages.select(lat, lon)))
    val tokens = minOf("functions", "token_count_ws(extract_text)")(noop(pages.select(
      TextFunctions.tokenCountWs(TextFunctions.extractText(col("html"))))))
    val encode = minOf("functions", "cell_encode(geo)")(noop(pages.select(
      GeoFunctions.cellEncode(lat, lon, lit(8)))))
    out += Metric("functions.geocode_s", geocode - scanNoop, "s")
    out += Metric("functions.tokens_s", tokens - scanNoop, "s")
    out += Metric("functions.encode_s", encode - geocode, "s")

    // sources
    val scan = minOf("sources", "scan.sum_length_html")(cov.scanControl())
    val htmlBytes = pages.agg(sum(length(col("html")))).collect()(0).getLong(0)
    out += Metric("sources.scan_s", scan, "s")
    out += Metric("sources.scan_mb_per_s", htmlBytes / 1e6 / scan, "MB/s")
    out += Metric("sources.polygons_read_s", minOf("sources", "PolygonJson.readDF")(
      PolygonJson.readDF(spark, res.polygonsPath).agg(sum(size(col("rings")))).collect()), "s")

    // operators: spatial assign over pre-materialized points (no html)
    val covPointsPath = work.resolve("coverage-points").toString
    pages.select(col("url"), col("warc_ts"), lat.as("lat"), lon.as("lon"),
        TextFunctions.tokenCountWs(TextFunctions.extractText(col("html"))).as("tokens"))
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .withColumn("tile", GeoFunctions.cellEncode(col("lat"), col("lon"), lit(8)))
      .write.mode("overwrite").parquet(covPointsPath)
    val covPoints = spark.read.parquet(covPointsPath)
    val fixture = SpatialJoin.coverDF(spark)
    out += Metric("operators.assign_regions_s", minOf("operators", "SpatialJoin.assignRegions")(
      noop(SpatialJoin.assignRegions(covPoints, "url", fixture))), "s")
    res.setup()
    val resPointsPath = work.resolve("resume-points").toString
    Lineage.withPrefix(Pipeline.geocode(res.pages)).write.mode("overwrite").parquet(resPointsPath)
    val resPoints = spark.read.parquet(resPointsPath)
    val nResPoints = resPoints.count()
    val assignSpans = (1 to Reps).map(_ => span("operators", "SpatialJoin.assign")(
      noop(SpatialJoin.assign(resPoints, "url", res.cover)))._2)
    out += Metric("operators.assign_s", assignSpans.map(_.durMs / 1000).min, "s")
    tracer.drain()
    val assignExec = tracer.opStats(assignSpans.last).execIds
    val probes = tracer.rowsOut(assignExec, _.name == "Generate")
    // candidates: rows out of the cell equi-join; accepted: rows out of the
    // node that applies the exact PIP test (a Filter, or the parts join
    // when the optimizer folds the refine predicate into its condition)
    val candidates = tracer.rowsOut(assignExec, n => n.name.contains("Join") &&
      n.desc.contains(" [cell#"))
    val accepted = tracer.rowsOut(assignExec, n => (n.name == "Filter" || n.name.contains("Join")) &&
      n.desc.contains("pip_contains_packed"))
    out += Metric("operators.probes_per_point", probes.toDouble / nResPoints, "count")
    out += Metric("operators.candidates_per_point", candidates.toDouble / nResPoints, "count")
    out += Metric("operators.pip_accept_ratio", accepted.toDouble / math.max(1L, candidates), "ratio")
    out += Metric("operators.cover_cells", res.cover.nCells.toDouble, "count")

    out += Metric("operators.knn_index_build_s", minOf("operators", "Knn.buildIndex")(sug.setup()), "s")
    val (_, knnSpan) = span("operators", "Knn.nearestIndexed")(
      sug.query(Sizes.PointBatches - 1).collect())
    tracer.drain()
    val knn = tracer.opStats(knnSpan)
    val radii = tracer.planNodes(knn.execIds).filter(_.name == "Generate")
      .flatMap(n => "cell_disk\\([^,]*, (\\d+)\\)".r.findAllMatchIn(n.desc).map(_.group(1))).distinct
    out += Metric("operators.knn_rounds", radii.size.toDouble, "count")
    out += Metric("operators.knn_jobs", knn.jobs.toDouble, "count")
    out += Metric("operators.knn_candidates_per_point", tracer.rowsOut(knn.execIds, n =>
      n.name.contains("Join") && n.desc.contains("probe")).toDouble / Sizes.BatchPoints, "count")

    // plans: partitioned write + lineage of a materialized match set, and
    // the resume prune against the lineage it left
    val matchedPath = work.resolve("matched").toString
    SpatialJoin.assign(resPoints, "url", res.cover).write.mode("overwrite").parquet(matchedPath)
    val matched = spark.read.parquet(matchedPath)
    var files = 0
    val writeS = (1 to Reps).map { k =>
      val o = work.resolve(s"write-$k"); val l = work.resolve(s"lineage-$k")
      val (_, s) = span("plans", "Lineage.writeWithLineage")(Lineage.writeWithLineage(matched,
        resPoints.select("cell_prefix"), o.toString, l.toString, "layers", Seq("url", "region_id")))
      files = Util.dataFiles(o)._2 + Util.dataFiles(l)._2
      s.durMs / 1000
    }.min
    out += Metric("plans.write_s", writeS, "s")
    out += Metric("plans.files_written", files.toDouble, "count")
    out += Metric("plans.prune_s", minOf("plans", "Lineage.pruneCompleted")(noop(
      Lineage.pruneCompleted(resPoints, Lineage.completedPrefixes(spark,
        work.resolve("lineage-1").toString, "layers")))), "s")
    out.toSeq
  }
}
