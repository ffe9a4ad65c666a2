package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Geo, Geocode, TextExtract}

/** Brute-force reference outputs and input manifests. Nothing here calls
  * the measured operators, expressions or pipeline: pages are regenerated
  * from the seed (not read back), geocoded with the full-string regex path
  * (`Geocode.fromString`), tokenized with the string-path extraction
  * (`TextExtract.extract` + `countWsTokens`), and assigned to regions with
  * plain bbox + `Geo.contains` loops over every polygon. */
object Reference {

  /** Per-partition accumulator of the pages manifest. */
  final class PageStats extends Serializable {
    var pages = 0L; var geo = 0L; var icbm = 0L; var none = 0L
    var hot = 0L; var utf8 = 0L; var htmlBytes = 0L
    var htmlMin = Long.MaxValue; var htmlMax = 0L
    val sizeBuckets = new Array[Long](3) // [1,2) [2,3) [3,4] KB
    var hash = 0L
    var generatorMismatch = 0L
    def merge(o: PageStats): PageStats = {
      pages += o.pages; geo += o.geo; icbm += o.icbm; none += o.none
      hot += o.hot; utf8 += o.utf8; htmlBytes += o.htmlBytes
      htmlMin = math.min(htmlMin, o.htmlMin); htmlMax = math.max(htmlMax, o.htmlMax)
      for (k <- 0 until 3) sizeBuckets(k) += o.sizeBuckets(k)
      hash += o.hash; generatorMismatch += o.generatorMismatch
      this
    }
    def add(p: Page): Unit = {
      pages += 1
      p.kind match { case 1 => geo += 1; case 2 => icbm += 1; case _ => none += 1 }
      if (p.hot) hot += 1
      if (p.utf8) utf8 += 1
      val n = p.html.length.toLong
      htmlBytes += n; htmlMin = math.min(htmlMin, n); htmlMax = math.max(htmlMax, n)
      sizeBuckets(math.min(2, math.max(0, (n / 1024 - 1).toInt))) += 1
      hash += Util.fnv(p.html, Util.fnv(p.url.getBytes(StandardCharsets.UTF_8)))
    }
    def manifest(layout: GeoLayout): Map[String, Any] = scala.collection.immutable.ListMap(
      "pages" -> pages, "layout" -> layout.name,
      "marker_share" -> Map("geo.position" -> geo.toDouble / pages,
        "icbm" -> icbm.toDouble / pages, "none" -> none.toDouble / pages),
      "hot_box_share_of_geocoded" -> hot.toDouble / math.max(1, geo + icbm),
      "non_ascii_share" -> utf8.toDouble / pages,
      "html_bytes" -> Map("total" -> htmlBytes, "min" -> htmlMin, "max" -> htmlMax,
        "mean" -> htmlBytes.toDouble / pages,
        "share_1k_2k" -> sizeBuckets(0).toDouble / pages,
        "share_2k_3k" -> sizeBuckets(1).toDouble / pages,
        "share_3k_4k" -> sizeBuckets(2).toDouble / pages),
      "content_hash" -> java.lang.Long.toHexString(hash))
  }

  /** Reference geocode: full-string regex. */
  def geocode(p: Page): Option[(Double, Double)] =
    Geocode.fromString(new String(p.html, StandardCharsets.UTF_8))

  /** Reference token count: string-path extraction, then spaces + 1. */
  def tokens(p: Page): Long =
    TextExtract.countWsTokens(TextExtract.extract(p.html)).toLong

  /** The coverage reference: per z-tile (pages, tok_sum, matched) over the
    * committed fixture polygons, plus the manifest stats. */
  final case class Coverage(tiles: Map[(Long, Long), (Long, Long, Long)],
                            stats: PageStats)

  def coverage(spark: SparkSession, seed: Long, n: Long, z: Int,
               parts: Int): Coverage = {
    val fixture = graft.core.Polygons.all.map(p => (p.rings, p.latMin, p.latMax, p.lonMin, p.lonMax))
    val perPart = spark.sparkContext.range(0, n, 1, parts).mapPartitions { it =>
      val st = new PageStats
      val tiles = mutable.HashMap.empty[(Long, Long), (Long, Long, Long)]
      it.foreach { i =>
        val p = Pages.page(seed, i, GeoLayout.Global)
        st.add(p)
        val g = geocode(p)
        val intended = if (p.kind == 0) None else Some((p.lat.toDouble, p.lon.toDouble))
        if (g != intended) st.generatorMismatch += 1
        g.foreach { case (lat, lon) =>
          val inAny = fixture.exists { case (rings, a, b, c, d) =>
            lat >= a && lat <= b && lon >= c && lon <= d && Geo.contains(lat, lon, rings)
          }
          val k = (Grid.x(lon, z), Grid.y(lat, z))
          val (c0, t0, m0) = tiles.getOrElse(k, (0L, 0L, 0L))
          tiles(k) = (c0 + 1, t0 + tokens(p), m0 + (if (inAny) 1 else 0))
        }
      }
      Iterator((tiles.toMap, st))
    }.collect()
    val merged = mutable.HashMap.empty[(Long, Long), (Long, Long, Long)]
    perPart.foreach(_._1.foreach { case (k, (c, t, m)) =>
      val (c0, t0, m0) = merged.getOrElse(k, (0L, 0L, 0L))
      merged(k) = (c0 + c, t0 + t, m0 + m)
    })
    Coverage(merged.toMap, perPart.map(_._2).reduce(_ merge _))
  }

  /** The resume reference: every (url, region_id) pair of a geocoded page
    * in a region of the polygon table, as a checksum triple, plus the
    * processed-row counts of the fresh, crash and resumed invocations. */
  final case class Resume(pairs: Long, regionSum: Long, pairHash: Long,
                          geocoded: Long, crashGeocoded: Long,
                          regionsPerPoint: Double, stats: PageStats)

  def resume(spark: SparkSession, seed: Long, n: Long, parts: Int,
             polys: Seq[Polygons.Part]): Resume = {
    import spark.implicits._
    val ps = polys.toArray
    val rdd = spark.sparkContext.range(0, n, 1, parts).mapPartitions { it =>
      it.map { i =>
        val p = Pages.page(seed, i, GeoLayout.Admin)
        val g = geocode(p)
        val regions = g.toSeq.flatMap { case (lat, lon) =>
          ps.iterator.filter(q => lat >= q.latMin && lat <= q.latMax &&
            lon >= q.lonMin && lon <= q.lonMax && Geo.contains(lat, lon, q.rings))
            .map(_.regionId).toSeq.distinct
        }
        val st = new PageStats
        st.add(p)
        if (g != (if (p.kind == 0) None else Some((p.lat.toDouble, p.lon.toDouble))))
          st.generatorMismatch += 1
        (p.url, regions, g.isDefined, g.isDefined && Pages.inCrashHalf(seed, p), st)
      }
    }.cache()
    try {
      val counts = rdd.map(r => (if (r._3) 1L else 0L, if (r._4) 1L else 0L))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val st = rdd.map(_._5).reduce(_ merge _)
      val pairs = rdd.flatMap(r => r._2.map(rid => (r._1, rid))).toDF("url", "region_id")
      val agg = pairs.agg(count(lit(1)), coalesce(sum(col("region_id")), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(url, region_id))"), lit(0L))).collect()(0)
      Resume(agg.getLong(0), agg.getLong(1), agg.getLong(2), counts._1, counts._2,
        agg.getLong(0).toDouble / math.max(1L, counts._1), st)
    } finally rdd.unpersist(blocking = true)
  }

  def polygonManifest(ps: Seq[Polygons.Part]): Map[String, Any] = {
    val verts = ps.map(_.rings(0).length / 2).sorted
    val hash = ps.foldLeft(0L) { (h, p) =>
      h + p.rings.foldLeft(p.regionId * 31 + p.part) { (hh, ring) =>
        ring.foldLeft(hh)((x, d) => Rng.mix(x ^ java.lang.Double.doubleToLongBits(d)))
      }
    }
    scala.collection.immutable.ListMap(
      "regions" -> ps.map(_.regionId).distinct.size, "parts" -> ps.size,
      "regions_per_level" -> ps.filter(_.part == 0).groupBy(_.level).toSeq.sortBy(_._1)
        .map { case (l, g) => s"level$l" -> g.size }.toMap,
      "nesting_depth" -> ps.map(_.level).max,
      "shell_vertices" -> Map("min" -> verts.head, "median" -> verts(verts.size / 2),
        "max" -> verts.last, "total" -> verts.sum),
      "parts_with_holes" -> ps.count(_.rings.length > 1),
      "multi_part_regions" -> ps.count(_.part > 0),
      "content_hash" -> java.lang.Long.toHexString(hash))
  }

  /** Exact top-k by (d2, fid) over every feature: the suggest reference. */
  def topK(lat: Double, lon: Double, fLat: Array[Double], fLon: Array[Double],
           k: Int): Seq[(Long, Double)] = {
    val best = mutable.PriorityQueue.empty[(Double, Long)] // max-heap on (d2, fid)
    var i = 0
    while (i < fLat.length) {
      val dLat = lat - fLat(i); val dLon = lon - fLon(i)
      val d2 = dLat * dLat + dLon * dLon
      if (best.size < k) best.enqueue((d2, i.toLong))
      else {
        val (hd, hf) = best.head
        if (d2 < hd || (d2 == hd && i < hf)) { best.dequeue(); best.enqueue((d2, i.toLong)) }
      }
      i += 1
    }
    best.toSeq.sorted.map { case (d, f) => (f, d) }
  }
}
