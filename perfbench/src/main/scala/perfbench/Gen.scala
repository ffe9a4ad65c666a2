package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counter-based seeded randomness: every generated row is a pure function
  * of (seed, stream, row index), so a row can be regenerated anywhere (the
  * reference pass regenerates rows instead of reading the written files)
  * and any partitioning yields the same table. */
final class Rng(private var s: Long) {
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def uniform(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def below(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  def between(lo: Double, hi: Double): Double = lo + (hi - lo) * uniform()
  def chance(p: Double): Boolean = uniform() < p
  def gauss(): Double = {
    val u = math.max(uniform(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * uniform())
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Rng =
    new Rng(mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i))
}

/** Grid arithmetic of the benchmark's own: cell x/y at resolution r, with
  * the engine's documented convention (floor of the scaled degree offset,
  * clamped to the grid). Used by generators and references only. */
object Grid {
  def x(lon: Double, r: Int): Long = {
    val n = 1L << r
    math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
  }
  def y(lat: Double, r: Int): Long = {
    val n = 1L << r
    math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
  }
  def key(lat: Double, lon: Double, r: Int): Long = (x(lon, r) << 32) | y(lat, r)
}

/** Where a corpus puts its geocoded points. */
final case class GeoLayout(name: String, hotLat: Double, hotLon: Double,
                           areaShare: Double, latLo: Double, latHi: Double,
                           lonLo: Double, lonHi: Double)

object GeoLayout {
  /** Global spread; the hot box sits inside the fixture's quad and mega
    * regions, as in the engine's own corpus synthesizer. */
  val Global = GeoLayout("global", 9.80, 19.80, 0.0, 0, 0, 0, 0)
  /** Most points inside the admin polygon table's area. */
  val Admin = GeoLayout("admin", 45.80, 10.80, 0.85,
    Polygons.LatLo, Polygons.LatHi, Polygons.LonLo, Polygons.LonHi)
}

/** One generated page plus the facts the generator put into it. */
final case class Page(url: String, ts: Long, html: Array[Byte], lang: String,
                      kind: Int, lat: String, lon: String, hot: Boolean,
                      utf8: Boolean)

/** The pages table (shape of `graft.sources.Pages`: url, warc_ts, html,
  * lang; the derived `text` column is left out, the engine never reads it
  * on these paths). About 2/3 of pages are geocoded, half by a
  * geo.position marker and half by ICBM; 15% of geocoded pages fall in one
  * 0.2-degree hot box; `Utf8Share` of pages carry non-ASCII text; html is
  * 1-4 KB. */
object Pages {
  final val GeocodedShare = 2.0 / 3
  final val HotShare = 0.15
  final val Utf8Share = 0.12
  final val DecoyShare = 0.05
  final val Stream = 1L
  final val Epoch2024 = 1704067200L

  private val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "da",
      "gor", "lin", "mar", "tes", "bur", "vil", "ston", "ham", "ford", "ia")
    Array.tabulate(400)(i => syl(i % 20) + syl((i / 20) % 20) + (if (i % 3 == 0) syl((i * 7) % 20) else ""))
  }
  private val utf8Words = Array("café", "Zürich", "naïve", "東京", "Ελλάδα",
    "São Paulo", "Kraków", "Москва", "İstanbul", "Łódź")
  private val langs = Array("it", "en", "de", "fr", "es")

  /** Two-decimal coordinate text from hundredths. */
  def fmt2(v: Int): String = {
    val a = math.abs(v)
    (if (v < 0) "-" else "") + (a / 100) + "." + (if (a % 100 < 10) "0" else "") + (a % 100)
  }

  def page(seed: Long, i: Long, layout: GeoLayout): Page = {
    val r = Rng.at(seed, Stream, i)
    val geocoded = r.chance(GeocodedShare)
    val kind = if (!geocoded) 0 else if (r.chance(0.5)) 1 else 2
    val hot = geocoded && r.chance(HotShare)
    val (lat100, lon100) =
      if (!geocoded) (0, 0)
      else if (hot) ((layout.hotLat * 100).round.toInt + r.below(20),
                     (layout.hotLon * 100).round.toInt + r.below(20))
      else if (r.chance(layout.areaShare))
        ((layout.latLo * 100).toInt + r.below(((layout.latHi - layout.latLo) * 100).toInt),
         (layout.lonLo * 100).toInt + r.below(((layout.lonHi - layout.lonLo) * 100).toInt))
      else (-6000 + r.below(12000), -18000 + r.below(36000))
    val lat = fmt2(lat100)
    val lon = fmt2(lon100)
    val utf8 = r.chance(Utf8Share)
    val target = 1024 + r.below(3072)
    val sb = new java.lang.StringBuilder(target + 512)
    sb.append("<html><head>")
    kind match {
      case 1 => sb.append("<meta name=\"geo.position\" content=\"").append(lat)
        .append(';').append(lon).append("\">")
      case 2 => sb.append("<meta name=\"ICBM\" content=\"").append(lat)
        .append(", ").append(lon).append("\">")
      case _ => if (r.chance(DecoyShare / (1 - GeocodedShare)))
        sb.append("<meta name=\"geo.position\" content=\"unknown\">")
    }
    sb.append("<title>Page ").append(i).append("</title>")
    if (r.chance(0.3)) sb.append("<style>p { color: #333; }</style>")
    sb.append("</head><body><div class=\"nav\">home | about</div>")
    while (sb.length < target) {
      sb.append("<p>")
      val words = 8 + r.below(24)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(if (r.chance(0.05)) "\n  " else " ")
        if (utf8 && r.chance(0.08)) sb.append(utf8Words(r.below(utf8Words.length)))
        else sb.append(vocab(r.below(vocab.length)))
        w += 1
      }
      if (r.chance(0.06)) sb.append(" &amp; caf&#233; &lt;b&gt; &#x4E2D;")
      sb.append("</p>")
    }
    sb.append("<script>var x = ").append(i % 97).append(";</script></body></html>")
    Page(s"https://site${i % 97}.example/page/$i", Epoch2024 + i,
      sb.toString.getBytes(StandardCharsets.UTF_8), langs((i % 5).toInt),
      kind, lat, lon, hot, utf8)
  }

  /** Pages whose geocoded point lies in a seeded half of the r7 cell
    * prefixes: the input of the resume workload's induced-crash run. */
  def inCrashHalf(seed: Long, p: Page): Boolean =
    p.kind != 0 && (Rng.mix(seed * 31 + Grid.key(p.lat.toDouble, p.lon.toDouble, 7)) & 1L) == 0L

  def write(spark: SparkSession, seed: Long, n: Long, layout: GeoLayout,
            parts: Int, path: String, crashHalfOnly: Boolean = false): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].mapPartitions { it =>
      it.map(i => page(seed, i, layout)).filter(p => !crashHalfOnly || inCrashHalf(seed, p))
        .map(p => (p.url, new java.sql.Timestamp(p.ts * 1000), p.html, p.lang))
    }.toDF("url", "warc_ts", "html", "lang")
      .write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(path)
  }
}

/** Seeded admin-like boundary polygons: 12 "countries", each split into
  * 16 "states", each split into 16 "counties" (3276 regions, nesting depth
  * 3). Each region is a jagged inset of its grid cell with 16-256 vertices;
  * some counties carry a hole or a second, island part. */
object Polygons {
  final val LonLo = 0.0; final val LonHi = 24.0
  final val LatLo = 40.0; final val LatHi = 52.0
  final val Stream = 2L

  final case class Part(regionId: Long, part: Int, level: Int,
                        rings: Array[Array[Double]]) {
    val (latMin, latMax, lonMin, lonMax) = {
      val s = rings(0)
      var a = Double.MaxValue; var b = Double.MinValue
      var c = Double.MaxValue; var d = Double.MinValue
      var k = 0
      while (k < s.length) {
        c = math.min(c, s(k)); d = math.max(d, s(k))
        a = math.min(a, s(k + 1)); b = math.max(b, s(k + 1)); k += 2
      }
      (a, b, c, d)
    }
  }

  private def jaggedRing(r: Rng, x0: Double, y0: Double, w: Double, h: Double,
                         inset: Double): Array[Double] = {
    val nv = 16 + r.below(241)
    val per = 2 * (w + h)
    val out = new Array[Double](2 * nv)
    var k = 0
    while (k < nv) {
      val t = (k + 0.4 * r.uniform()) / nv * per
      val in = inset * (0.2 + 0.8 * r.uniform())
      val (px, py) =
        if (t < w) (x0 + t, y0 + in)
        else if (t < w + h) (x0 + w - in, y0 + (t - w))
        else if (t < 2 * w + h) (x0 + w - (t - w - h), y0 + h - in)
        else (x0 + in, y0 + h - (t - 2 * w - h))
      out(2 * k) = math.min(x0 + w - in, math.max(x0 + in, px))
      out(2 * k + 1) = math.min(y0 + h - in, math.max(y0 + in, py))
      k += 1
    }
    out
  }

  private def ellipse(r: Rng, cx: Double, cy: Double, rx: Double, ry: Double): Array[Double] = {
    val nv = 8 + r.below(9)
    val out = new Array[Double](2 * nv)
    var k = 0
    while (k < nv) {
      val a = 2 * math.Pi * (k + 0.3 * r.uniform()) / nv
      val f = 0.8 + 0.2 * r.uniform()
      out(2 * k) = cx + rx * f * math.cos(a)
      out(2 * k + 1) = cy + ry * f * math.sin(a)
      k += 1
    }
    out
  }

  def generate(seed: Long): Seq[Part] = {
    val parts = Seq.newBuilder[Part]
    val cw = 6.0; val ch = 4.0
    for (cy <- 0 until 3; cx <- 0 until 4) {
      val cid = cy * 4 + cx
      val x0 = LonLo + cx * cw; val y0 = LatLo + cy * ch
      val r = Rng.at(seed, Stream, 1000000L + cid)
      parts += Part(1000000L + cid, 0, 1,
        Array(jaggedRing(r, x0, y0, cw, ch, 0.005 * ch)))
      for (sy <- 0 until 4; sx <- 0 until 4) {
        val sid = cid * 16 + sy * 4 + sx
        val sw = cw / 4; val sh = ch / 4
        val sx0 = x0 + sx * sw; val sy0 = y0 + sy * sh
        val rs = Rng.at(seed, Stream, 2000000L + sid)
        parts += Part(2000000L + sid, 0, 2,
          Array(jaggedRing(rs, sx0, sy0, sw, sh, 0.015 * sh)))
        for (ky <- 0 until 4; kx <- 0 until 4) {
          val kid = sid * 16 + ky * 4 + kx
          val kw = sw / 4; val kh = sh / 4
          val kx0 = sx0 + kx * kw; val ky0 = sy0 + ky * kh
          val rk = Rng.at(seed, Stream, 3000000L + kid)
          val shell = jaggedRing(rk, kx0, ky0, kw, kh, 0.03 * kh)
          val rings =
            if (rk.chance(0.10)) Array(shell, ellipse(rk, kx0 + kw / 2, ky0 + kh / 2,
              kw * (0.1 + 0.1 * rk.uniform()), kh * (0.1 + 0.1 * rk.uniform())))
            else Array(shell)
          parts += Part(3000000L + kid, 0, 3, rings)
          if (rk.chance(0.05)) {
            val ix = LonLo + 0.5 + rk.uniform() * (LonHi - LonLo - 1)
            val iy = LatLo + 0.5 + rk.uniform() * (LatHi - LatLo - 1)
            parts += Part(3000000L + kid, 1, 3, Array(ellipse(rk, ix, iy, 0.04, 0.03)))
          }
        }
      }
    }
    parts.result()
  }

  /** JSON lines in the engine's PolygonJson layout, split into `files`. */
  def write(parts: Seq[Part], dir: Path, files: Int): Unit = {
    Files.createDirectories(dir)
    parts.grouped((parts.size + files - 1) / files).zipWithIndex.foreach { case (g, k) =>
      val sb = new java.lang.StringBuilder
      g.foreach { p =>
        sb.append("{\"region_id\":").append(p.regionId).append(",\"part\":").append(p.part)
          .append(",\"name\":\"r").append(p.regionId).append("\",\"rings\":[")
        p.rings.zipWithIndex.foreach { case (ring, ri) =>
          if (ri > 0) sb.append(',')
          sb.append('[')
          var k2 = 0
          while (k2 < ring.length) {
            if (k2 > 0) sb.append(','); sb.append(ring(k2)); k2 += 1
          }
          sb.append(']')
        }
        sb.append("]}\n")
      }
      Files.writeString(dir.resolve(f"part-$k%03d.json"), sb.toString)
    }
  }
}

/** OSM-like features: half clustered around seeded "cities", half a
  * uniform background of about one feature per square degree; and the
  * query points of the suggest workload in disjoint batches, a city-heavy
  * mix whose sparse-area share needs a second expansion round. The point
  * background stays inside the feature background, so a sparse-area point
  * has its k nearest within the second round's radius. */
object Features {
  final val Cities = 80
  final val ClusteredShare = 0.5
  final val PointCityShare = 0.6
  final val Stream = 3L

  final case class City(lat: Double, lon: Double, sigma: Double)

  def cities(seed: Long): Array[City] = Array.tabulate(Cities) { c =>
    val r = Rng.at(seed, Stream, -1L - c)
    // spreads are stratified, not drawn, so every seed has the same mix
    City(r.between(-50, 60), r.between(-170, 170), 0.3 + 0.9 * c / (Cities - 1))
  }

  private def place(r: Rng, cs: Array[City], cityShare: Double,
                    latLo: Double, latHi: Double): (Double, Double) =
    if (r.chance(cityShare)) {
      val c = cs(r.below(cs.length))
      (math.max(-89.0, math.min(89.0, c.lat + c.sigma * r.gauss())),
       math.max(-179.9, math.min(179.9, c.lon + c.sigma * r.gauss())))
    } else (r.between(latLo, latHi), r.between(-180, 180))

  def feature(seed: Long, cs: Array[City], i: Long): (Long, Double, Double) = {
    val (lat, lon) = place(Rng.at(seed, Stream, i), cs, ClusteredShare, -60, 70)
    (i, lat, lon)
  }

  def point(seed: Long, cs: Array[City], i: Long, batches: Int): (Long, Int, Double, Double) = {
    val (lat, lon) = place(Rng.at(seed, Stream + 1, i), cs, PointCityShare, -55, 65)
    (i, (i % batches).toInt, lat, lon)
  }

  def writeFeatures(spark: SparkSession, seed: Long, n: Long, path: String): Unit = {
    import spark.implicits._
    val cs = cities(seed)
    spark.range(0, n, 1, 4).as[Long].map(i => feature(seed, cs, i))
      .toDF("fid", "lat", "lon").write.mode("overwrite").parquet(path)
  }

  def writePoints(spark: SparkSession, seed: Long, n: Long, batches: Int,
                  path: String): Unit = {
    import spark.implicits._
    val cs = cities(seed)
    spark.range(0, n, 1, 4).as[Long].map(i => point(seed, cs, i, batches))
      .toDF("pid", "batch", "lat", "lon").write.mode("overwrite").parquet(path)
  }
}

/** Per-(kind, seed, size) input cache: a directory holding the generated
  * table(s), a manifest of its traffic properties and the reference
  * outputs, completed by a `_DONE` marker. */
object InputCache {
  final val Version = 1

  def dir(root: Path, kind: String, seed: Long, size: String): Path =
    root.resolve(s"$kind-v$Version-s$seed-$size")

  /** Returns the cache dir, running `build(tmpDir)` first when absent. */
  def get(root: Path, kind: String, seed: Long, size: String)(build: Path => Unit): Path = {
    val d = dir(root, kind, seed, size)
    if (!Files.exists(d.resolve("_DONE"))) {
      Util.deleteTree(d)
      Files.createDirectories(d)
      build(d)
      Files.writeString(d.resolve("_DONE"), "")
    }
    d
  }

  def readDF(spark: SparkSession, d: Path, name: String): DataFrame =
    spark.read.parquet(d.resolve(name).toString)
}
