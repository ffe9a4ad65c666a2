package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.{Knn, SpatialJoin}
import graft.plans.SessionCaches
import graft.sources.PolygonJson

/** Outcome of one operation: named phase timings (seconds; `job` is the
  * one `job_s` reports), the rows it consumed, and whether every check on
  * its output passed. */
final case class OpOutcome(timings: Map[String, Double], rows: Long,
                           ok: Boolean, detail: String,
                           writeBytesPerRow: Double = Double.NaN)

/** Input sizes of the three workloads. */
object Sizes {
  val Pages = 60000L
  val ResumePages = 20000L
  val Features = 100000L
  val PointBatches = 96
  val BatchPoints = 800
}

/** A workload: inputs and references (`prepare`, cached per seed and size,
  * untimed), a timed `setup` (cover or index build), one closed-loop
  * operation, and the in-run scan control. */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val cache: Path, val work: Path) {
  def name: String
  def rowUnit: String
  def prepare(): Unit
  def setup(): Unit
  /** Op `i`; `trace` wraps the measured phases in spans. */
  def op(i: Int, trace: Option[Tracer]): OpOutcome
  def scanControl(): Unit
  def manifest: Map[String, Any]
  /** Fewest measured operations per loop, whatever `--seconds` says. */
  def minOps: Int = 3
  /** Set-up repetitions per run (`setup_s` is their median). */
  def setupReps: Int = 5
  /** Untimed first operations (ids 0, 1, ...), checked like any other,
    * until WarmUpS have passed: op times still fall for several seconds
    * while the JIT compiles the query code. The measured loop continues
    * the ids. */
  def warmUp(): Seq[OpOutcome] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[OpOutcome]
    val t0 = System.nanoTime()
    while (out.size < 2 || System.nanoTime() - t0 < Workload.WarmUpS * 1e9) out += op(out.size, None)
    out.toSeq
  }

  protected def phase[T](trace: Option[Tracer], layer: String, name: String)(body: => T): (T, Double) =
    trace match {
      case None => Util.timed(body)
      case Some(t) =>
        val (r, s) = t.span("phase", layer, name)(body)
        (r, s.durMs / 1000)
    }

  protected def readJson(p: Path): Json.Raw = Json.Raw(Files.readString(p))
}

object Workload {
  val Parts = 16
  val WarmUpS = 4.0

  def apply(name: String, spark: SparkSession, seed: Long,
            cache: Path, work: Path): Workload = name match {
    case "coverage" => new Coverage(spark, seed, Sizes.Pages, cache, work)
    case "resume" => new Resume(spark, seed, Sizes.ResumePages, cache, work)
    case "suggest" => new Suggest(spark, seed, Sizes.Features, Sizes.PointBatches,
      Sizes.BatchPoints, cache, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Persisted RDD ids, to release what an operation checkpointed. */
  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  def release(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
}

/** `Pipeline.coverageStats(z=8, Auto)` over the fixture cover, noop sink. */
final class Coverage(spark: SparkSession, seed: Long, n: Long, cache: Path, work: Path)
    extends Workload(spark, seed, cache, work) {
  val name = "coverage"
  val rowUnit = "pages"
  final val Z = 8

  var dir: Path = _
  var pages: DataFrame = _
  var tiles: Map[(Long, Long), (Long, Long, Long)] = _
  var expectedHash: Long = 0L
  var manifest: Map[String, Any] = Map.empty
  private var cover: SpatialJoin.CoverSides = _
  private var fullCheckDone = false

  def prepare(): Unit = {
    dir = InputCache.get(cache, "coverage", seed, s"n$n") { d =>
      Pages.write(spark, seed, n, GeoLayout.Global, Workload.Parts, d.resolve("pages").toString)
      val ref = Reference.coverage(spark, seed, n, Z, Workload.Parts)
      Files.writeString(d.resolve("tiles.tsv"), ref.tiles.toSeq.sorted.map {
        case ((x, y), (c, t, m)) => s"$x\t$y\t$c\t$t\t$m" }.mkString("\n"))
      Files.writeString(d.resolve("manifest.json"), Json(ref.stats.manifest(GeoLayout.Global) ++
        Map("generator_mismatches" -> ref.stats.generatorMismatch)))
    }
    tiles = Files.readAllLines(dir.resolve("tiles.tsv")).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split('\t').map(_.toLong)
      (f(0), f(1)) -> (f(2), f(3), f(4))
    }.toMap
    manifest = Map("pages" -> readJson(dir.resolve("manifest.json")))
    pages = InputCache.readDF(spark, dir, "pages")
    import spark.implicits._
    expectedHash = tiles.toSeq.map { case ((x, y), (c, t, m)) => (x, y, c, t, m) }
      .toDF("tile_x", "tile_y", "pages", "tok_sum", "matched")
      .agg(expr("bit_xor(xxhash64(tile_x, tile_y, pages, tok_sum, matched))")).collect()(0).getLong(0)
  }

  def setup(): Unit = {
    SpatialJoin.clearCoverCache()
    cover = SpatialJoin.coverDF(spark)
  }

  def stats(): DataFrame = Pipeline.coverageStats(spark, pages, Z, SpatialJoin.Auto(), Some(cover))

  def op(i: Int, trace: Option[Tracer]): OpOutcome = {
    val obs = Observation(s"coverage-$i")
    val observed = stats().observe(obs, count(lit(1)).as("rows"),
      sum(col("pages")).as("pages"), sum(col("tok_sum")).as("tok_sum"),
      sum(col("matched")).as("matched"),
      expr("bit_xor(xxhash64(tile_x, tile_y, pages, tok_sum, matched))").as("hash"))
    val (_, t) = phase(trace, "Pipeline", "coverageStats") {
      observed.write.format("noop").mode("overwrite").save()
    }
    val got = obs.get
    val want = Map[String, Any]("rows" -> tiles.size.toLong,
      "pages" -> tiles.values.map(_._1).sum, "tok_sum" -> tiles.values.map(_._2).sum,
      "matched" -> tiles.values.map(_._3).sum, "hash" -> expectedHash)
    var ok = want.forall { case (k, v) => got.get(k).contains(v) }
    var detail = if (ok) "" else s"observed $got, expected $want"
    if (!fullCheckDone) { // once per run: compare every output row
      fullCheckDone = true
      val rows = stats().collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      if (rows != tiles) { ok = false; detail += s" row mismatch: ${(rows.toSet diff tiles.toSet).take(3)}" }
    }
    OpOutcome(Map("job" -> t), n, ok, detail)
  }

  def scanControl(): Unit = { pages.selectExpr("sum(length(html))").collect(); () }
}

/** `graft.Main`'s production path: distributed cover over a seeded polygon
  * table; per op a fresh `runResumable`, an induced crash (first
  * invocation over half the r7 prefixes) and the resumed re-invocation. */
final class Resume(spark: SparkSession, seed: Long, n: Long, cache: Path, work: Path)
    extends Workload(spark, seed, cache, work) {
  val name = "resume"
  val rowUnit = "pages"

  var dir: Path = _
  var pages: DataFrame = _
  var crashPages: DataFrame = _
  var ref: Map[String, Long] = Map.empty
  var manifest: Map[String, Any] = Map.empty
  var cover: SpatialJoin.CoverSides = _
  def polygonsPath: String = dir.resolve("polygons").toString

  def prepare(): Unit = {
    dir = InputCache.get(cache, "resume", seed, s"n$n") { d =>
      val polys = Polygons.generate(seed)
      Polygons.write(polys, d.resolve("polygons"), 8)
      Pages.write(spark, seed, n, GeoLayout.Admin, Workload.Parts, d.resolve("pages").toString)
      Pages.write(spark, seed, n, GeoLayout.Admin, Workload.Parts, d.resolve("pages_crash").toString,
        crashHalfOnly = true)
      val r = Reference.resume(spark, seed, n, Workload.Parts, polys)
      Files.writeString(d.resolve("reference.tsv"), Seq(
        "pairs" -> r.pairs, "region_sum" -> r.regionSum, "pair_hash" -> r.pairHash,
        "geocoded" -> r.geocoded, "crash_geocoded" -> r.crashGeocoded)
        .map { case (k, v) => s"$k\t$v" }.mkString("\n"))
      Files.writeString(d.resolve("manifest.json"), Json(Map(
        "pages" -> (r.stats.manifest(GeoLayout.Admin) ++
          Map("generator_mismatches" -> r.stats.generatorMismatch)),
        "polygons" -> Reference.polygonManifest(polys),
        "regions_per_geocoded_point" -> r.regionsPerPoint,
        "crash_half_geocoded" -> r.crashGeocoded)))
    }
    ref = Files.readAllLines(dir.resolve("reference.tsv")).asScala.map { l =>
      val f = l.split('\t'); f(0) -> f(1).toLong
    }.toMap
    manifest = Map("resume" -> readJson(dir.resolve("manifest.json")))
    pages = InputCache.readDF(spark, dir, "pages")
    crashPages = InputCache.readDF(spark, dir, "pages_crash")
  }

  def setup(): Unit = {
    if (cover != null) SessionCaches.unpersistCheckpointed(cover.cells)
    cover = PolygonJson.coverFromJsonDistributed(spark, polygonsPath)
  }

  /** An op is three pipeline runs and a set-up is a distributed cover
    * build; fewer of each bound a run's length. */
  override def minOps: Int = 2
  override def setupReps: Int = 3
  /** A fresh run only, checked: `job_s` times the fresh run, and a full
    * op would add nine seconds to every run. */
  override def warmUp(): Seq[OpOutcome] = Seq {
    val base = work.resolve("resume-warm-up")
    val n = Pipeline.runResumable(spark, pages, base.resolve("out").toString,
      base.resolve("lin").toString, "warm-up", SpatialJoin.Auto(), Some(cover))
    val got = checksum(base.resolve("out"))
    val want = (ref("pairs"), ref("region_sum"), ref("pair_hash"))
    Util.deleteTree(base)
    val ok = got == want && n == ref("geocoded")
    OpOutcome(Map.empty, n, ok, if (ok) "" else s"warm-up: $got vs $want, $n points")
  }

  /** (pairs, region sum, xor hash) of a run's output. */
  private def checksum(out: Path): (Long, Long, Long) = {
    val r = spark.read.parquet(out.toString).agg(count(lit(1)),
      coalesce(sum(col("region_id")), lit(0L)),
      coalesce(expr("bit_xor(xxhash64(url, region_id))"), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def op(i: Int, trace: Option[Tracer]): OpOutcome = {
    val base = work.resolve(s"resume-op-$i")
    Util.deleteTree(base)
    val runId = s"run-$i"
    def run(input: DataFrame, tag: String, layerName: String) = phase(trace, "Pipeline", layerName) {
      Pipeline.runResumable(spark, input, base.resolve(s"out-$tag").toString,
        base.resolve(s"lin-$tag").toString, runId, SpatialJoin.Auto(), Some(cover))
    }
    val (nFresh, tJob) = run(pages, "fresh", "runResumable.fresh")
    val (nCrash, tCrash) = run(crashPages, "resumed", "runResumable.crash")
    val (nResume, tResume) = run(pages, "resumed", "runResumable.resume")
    val want = (ref("pairs"), ref("region_sum"), ref("pair_hash"))
    val fresh = checksum(base.resolve("out-fresh"))
    val resumed = checksum(base.resolve("out-resumed"))
    val counts = (nFresh, nCrash, nResume)
    val wantCounts = (ref("geocoded"), ref("crash_geocoded"), ref("geocoded") - ref("crash_geocoded"))
    val ok = fresh == want && resumed == want && counts == wantCounts
    val (bytes, _) = Util.dataFiles(base.resolve("out-fresh"))
    val (linBytes, _) = Util.dataFiles(base.resolve("lin-fresh"))
    Util.deleteTree(base)
    OpOutcome(Map("job" -> tJob, "crash" -> tCrash, "resume" -> tResume), n, ok,
      if (ok) "" else s"fresh=$fresh resumed=$resumed want=$want counts=$counts want=$wantCounts",
      (bytes + linBytes).toDouble / math.max(1L, want._1))
  }

  def scanControl(): Unit = { pages.selectExpr("sum(length(html))").collect(); () }
}

/** `Knn.nearestIndexed(k=5, Auto)` batches over a prebuilt feature index;
  * each op queries a batch of points no other op of the run uses. */
final class Suggest(spark: SparkSession, seed: Long, nFeatures: Long, batches: Int,
                    batchPoints: Int, cache: Path, work: Path)
    extends Workload(spark, seed, cache, work) {
  val name = "suggest"
  val rowUnit = "points"
  final val K = 5
  final val SamplePerOp = 25

  var dir: Path = _
  var features: DataFrame = _
  var points: DataFrame = _
  var index: DataFrame = _
  var manifest: Map[String, Any] = Map.empty
  private var fLat: Array[Double] = _
  private var fLon: Array[Double] = _
  private val cs = Features.cities(seed)

  def prepare(): Unit = {
    val nPoints = batches.toLong * batchPoints
    dir = InputCache.get(cache, "suggest", seed, s"f$nFeatures-b$batches-p$batchPoints") { d =>
      Features.writeFeatures(spark, seed, nFeatures, d.resolve("features").toString)
      Features.writePoints(spark, seed, nPoints, batches, d.resolve("points").toString)
      val fs = (0L until nFeatures).map(i => Features.feature(seed, cs, i))
      val near = fs.count { case (_, lat, lon) =>
        cs.exists(c => math.abs(lat - c.lat) < 3 * c.sigma && math.abs(lon - c.lon) < 3 * c.sigma) }
      Files.writeString(d.resolve("manifest.json"), Json(Map(
        "features" -> nFeatures, "cities" -> cs.length,
        "features_within_3_sigma_of_a_city" -> near.toDouble / nFeatures,
        "clustered_share" -> Features.ClusteredShare,
        "points" -> nPoints, "batches" -> batches, "points_per_batch" -> batchPoints,
        "point_city_share" -> Features.PointCityShare,
        "content_hash" -> java.lang.Long.toHexString(fs.foldLeft(0L) { case (h, (f, a, b)) =>
          h + Rng.mix(f ^ java.lang.Double.doubleToLongBits(a) * 31 ^ java.lang.Double.doubleToLongBits(b)) }))))
    }
    manifest = Map("suggest" -> readJson(dir.resolve("manifest.json")))
    features = InputCache.readDF(spark, dir, "features")
    points = InputCache.readDF(spark, dir, "points")
    val fs = (0L until nFeatures).map(i => Features.feature(seed, cs, i))
    fLat = fs.map(_._2).toArray
    fLon = fs.map(_._3).toArray
  }

  def setup(): Unit = {
    if (index != null) SessionCaches.unpersistCheckpointed(index)
    index = Knn.buildIndex(features, "fid")
  }

  /** Batch `b`'s query: the op's public call. */
  def query(b: Int): DataFrame =
    Knn.nearestIndexed(points.where(col("batch") === b), "pid", index, "fid", K,
      mode = Knn.Auto())

  def op(i: Int, trace: Option[Tracer]): OpOutcome = {
    require(i < batches - 1, s"suggest ran out of disjoint point batches ($batches)")
    val (rows, t) = phase(trace, "operators", "Knn.nearestIndexed") { query(i).collect() }
    val pts = (i.toLong until batches.toLong * batchPoints by batches.toLong)
      .map(p => Features.point(seed, cs, p, batches)).map(p => p._1 -> (p._3, p._4)).toMap
    val byKey = rows.groupBy(_.getLong(0))
    val problems = Seq.newBuilder[String]
    if (byKey.keySet != pts.keySet) problems += s"keys ${byKey.size} vs ${pts.size}"
    byKey.foreach { case (k, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      val (plat, plon) = pts.getOrElse(k, (Double.NaN, Double.NaN))
      val d2s = sorted.map { r =>
        val f = r.getLong(2).toInt
        val dLat = plat - fLat(f); val dLon = plon - fLon(f)
        dLat * dLat + dLon * dLon
      }
      if (sorted.map(_.getInt(1)).toSeq != (1 to K)) problems += s"ranks of $k"
      if (sorted.map(_.getDouble(3)).toSeq != d2s.toSeq) problems += s"d2 of $k"
      if (sorted.sliding(2).exists { case Array(a, b) =>
            a.getDouble(3) > b.getDouble(3) ||
              (a.getDouble(3) == b.getDouble(3) && a.getLong(2) >= b.getLong(2))
            case _ => false }) problems += s"order of $k"
    }
    val sample = pts.keys.toSeq.sorted.filter(k => (Rng.mix(seed ^ k) & 63) < 2).take(SamplePerOp)
    sample.foreach { k =>
      val (plat, plon) = pts(k)
      val want = Reference.topK(plat, plon, fLat, fLon, K).map(_._1)
      val got = byKey.get(k).toSeq.flatMap(_.sortBy(_.getInt(1)).map(_.getLong(2)))
      if (got != want) problems += s"top-$K of $k: $got vs $want"
    }
    val p = problems.result()
    OpOutcome(Map("job" -> t), pts.size.toLong, p.isEmpty, p.take(3).mkString("; "))
  }

  def scanControl(): Unit = { points.selectExpr("sum(lat)", "sum(lon)").collect(); () }
}
