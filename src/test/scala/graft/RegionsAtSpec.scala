package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{Cells, Geo, Polygons}
import graft.operators.SpatialJoin

/** Differential spec of the map-side region lookup: `assignRegions`,
  * `assign` and `assignOuter` under Broadcast (`regions_at` over the packed
  * cover) must return exactly the rows of the Shuffle join path (explode →
  * join → refine, then regroup or dedup) on random points and on points
  * picked to break it — on r12 cell edges, on polygon vertices and edges,
  * inside holes, in the second part of a multipart region, outside every
  * coarse cell, at the poles and the antimeridian, with null coordinates
  * and with duplicated input rows. */
class RegionsAtSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tag", StringType)))

  private def ll(lat: Double, lon: Double): (java.lang.Double, java.lang.Double) =
    (lat, lon)

  /** Seeded random points: a quarter anywhere on the globe, the rest in a
    * fixture polygon's bbox grown by a degree (so most of them test a
    * candidate, and many land near a boundary). */
  private def randomPoints(n: Int): Seq[(java.lang.Double, java.lang.Double)] = {
    val anywhere = Gen.zip(Gen.choose(-90.0, 90.0), Gen.choose(-180.0, 180.0))
    val nearPolygon = for {
      p <- Gen.oneOf(Polygons.all)
      lat <- Gen.choose(p.latMin - 1, p.latMax + 1)
      lon <- Gen.choose(p.lonMin - 1, p.lonMax + 1)
    } yield (lat, lon)
    val g = Gen.frequency(1 -> anywhere, 3 -> nearPolygon)
    (0 until n).map { i =>
      val (lat, lon) = g.pureApply(Gen.Parameters.default, Seed(i.toLong))
      ll(lat, lon)
    }
  }

  private def adversarialPoints: Seq[(java.lang.Double, java.lang.Double)] = {
    val vertexAndEdge = for {
      p <- Polygons.all
      ring <- p.rings
      n = ring.length / 2
      i <- 0 until n
      j = (i + 1) % n
      (x, y) <- Seq((ring(2 * i), ring(2 * i + 1)),
        ((ring(2 * i) + ring(2 * j)) / 2, (ring(2 * i + 1) + ring(2 * j + 1)) / 2))
    } yield ll(y, x)
    // corners and edge midpoints of r12 boundary cells of every polygon
    val cellEdges = Polygons.all.flatMap { p =>
      Geo.cover(p.rings, SpatialJoin.RMin, SpatialJoin.RMax)
        .filter(c => Cells.res(c) == SpatialJoin.RMax).take(40).toSeq
        .flatMap { c =>
          val (la0, la1, lo0, lo1) = Cells.bounds(c)
          Seq(ll(la0, lo0), ll(la1, lo1), ll(la0, (lo0 + lo1) / 2),
            ll((la0 + la1) / 2, lo0))
        }
    }
    val named = Seq(
      ll(-20.0, 75.0), ll(-24.999, 70.002), ll(-15.001, 79.999), // in the hole
      ll(37.0, -170.0), ll(44.9, -179.9994),    // second part of region 4
      ll(37.0, 179.9994), ll(37.0, 180.0), ll(37.0, -180.0),
      ll(-70.0, -170.0), ll(80.0, 0.0), ll(-60.0, 150.0), // no coarse cell
      ll(90.0, 0.0), ll(-90.0, 0.0), ll(0.0, 180.0), ll(0.0, -180.0),
      ll(90.0, 180.0), ll(-90.0, -180.0), ll(90.0, -180.0), ll(-90.0, 180.0),
      ll(59.501, 120.0), ll(59.5, 120.0),      // nearclamp top edge
      ll(7.0155, 33.0155),                     // inside the sub-r12 "tiny"
      ll(10.0, 10.0), ll(0.0, 0.0))            // quad inside mega
    val nulls = Seq(ll(1.0, 2.0).copy(_1 = null), ll(1.0, 2.0).copy(_2 = null),
      (null, null))
    vertexAndEdge ++ cellEdges ++ named ++ nulls
  }

  /** Random + adversarial points, keyed, with every eleventh row repeated
    * byte-for-byte (duplicate crawl records). */
  private def points: DataFrame = {
    val all = (randomPoints(3000) ++ adversarialPoints).zipWithIndex.map {
      case ((lat, lon), i) => Row(i.toLong, lat, lon, s"t${i % 7}")
    }
    val dup = all.zipWithIndex.collect { case (r, i) if i % 11 == 0 => r }
    spark.createDataFrame(spark.sparkContext.parallelize(all ++ dup, 6), schema)
  }

  private type Out = (Long, Option[Double], Option[Double], String, Seq[Long])

  private def rows(df: DataFrame): Seq[Out] =
    df.select("k", "lat", "lon", "tag", "regions").collect().toSeq.map { r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3),
        r.getSeq[Long](4).toSeq)
    }.sortBy(_.toString)

  /** `op` under Broadcast looks regions up map-side and returns the same
    * schema and the same full rows as under Shuffle. */
  private def assertSameOutput(op: SpatialJoin.Mode => DataFrame): Unit = {
    val (mapSide, join) = (op(SpatialJoin.Broadcast), op(SpatialJoin.Shuffle))
    assert(mapSide.queryExecution.optimizedPlan.toString.contains("regions_at"))
    assert(mapSide.schema == join.schema, s"${mapSide.schema} vs ${join.schema}")
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val (got, want) = (sorted(mapSide), sorted(join))
    assert(got == want, (got diff want).take(5) ++ Seq("vs") ++ (want diff got).take(5))
  }

  /** Map-side rows == join-path rows for `assignRegions`, `assign` and
    * `assignOuter`; returns the map-side rows of `assignRegions`. */
  private def assertParity(cover: SpatialJoin.CoverSides): Seq[Out] = {
    val pts = points
    val mapSide = SpatialJoin.assignRegions(pts, "k", cover, SpatialJoin.Broadcast)
    assert(mapSide.queryExecution.optimizedPlan.toString.contains("regions_at"))
    val got = rows(mapSide)
    val want = rows(SpatialJoin.assignRegions(pts, "k", cover, SpatialJoin.Shuffle))
    assert(got == want, (got diff want).take(5) ++ Seq("vs") ++ (want diff got).take(5))
    assertSameOutput(SpatialJoin.assign(pts, "k", cover, _))
    assertSameOutput(SpatialJoin.assignOuter(pts, "k", cover, _))
    got
  }

  private def distributedCover(): SpatialJoin.CoverSides = {
    val dir = java.nio.file.Files.createTempDirectory("graftregionsat")
    val path = dir.resolve("polys.jsonl")
    java.nio.file.Files.writeString(path,
      graft.sources.PolygonJson.toJsonLines(Polygons.all))
    graft.sources.PolygonJson.coverFromJsonDistributed(spark, path.toString)
  }

  test("regions_at == join path over the fixture cover") {
    val got = assertParity(SpatialJoin.coverDF(spark))
    // the sample exercises misses, hits, multi-region hits, the second
    // part of region 4 and null coordinates
    assert(got.exists(_._5.isEmpty) && got.exists(_._5 == Seq(1L, 7L)))
    assert(got.exists(r => r._2.contains(37.0) && r._3.contains(-170.0) &&
      r._5 == Seq(4L)))
    assert(got.exists(r => r._2.isEmpty && r._5.isEmpty))
    // one row per distinct input row: the repeated records collapsed
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("regions_at == join path over a distributed cover") {
    assertParity(distributedCover())
  }

  test("regions_at == join path when regions share cover cells") {
    // every fixture part twice, under a second region id: each cover cell
    // is held by two regions, so equal cells sit side by side in the pack
    val twice = Polygons.all ++ Polygons.all.map(p => p.copy(regionId = p.regionId + 100))
    val got = assertParity(SpatialJoin.coverDF(spark, twice))
    assert(got.exists(_._5 == Seq(1L, 7L, 101L, 107L)))
  }

  test("regions_at == join path with whole-stage codegen off (interpreted eval)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      // fresh covers: their packs are first built on the interpreted path
      assertParity(SpatialJoin.coverDF(spark))
      assertParity(distributedCover())
    } finally keys.zip(before).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
