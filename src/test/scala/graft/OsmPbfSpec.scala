package graft

import graft.sources.{OsmPbf, OsmXml}
import graft.sources.OsmXml.OsmObject

/** PBF decode parity vs the XML parser: identical OsmObjects (coordinates
  * EXACTLY equal — the nano/1e9 division contract in OsmPbf's scaladoc),
  * identical boundary assembly through the driver-side stitcher and the
  * distributed path,
  * multi-blob framing, plain + dense nodes, granularity/offset math, and
  * loud failure modes. */
class OsmPbfSpec extends SparkTestBase {

  private val boundaryXml =
    """<?xml version='1.0' encoding='UTF-8'?>
      |<osm version="0.6">
      |  <node id="1" lat="0.001" lon="0.001"/>
      |  <node id="2" lat="10.001" lon="0.001"/>
      |  <node id="3" lat="10.001" lon="10.001"/>
      |  <node id="4" lat="0.001" lon="10.001"/>
      |  <node id="5" lat="4.001" lon="4.001"/>
      |  <node id="6" lat="6.001" lon="4.001"/>
      |  <node id="7" lat="6.001" lon="6.001"/>
      |  <node id="8" lat="4.001" lon="6.001"/>
      |  <node id="9" lat="45.4642" lon="9.1900">
      |    <tag k="wikipedia" v="it:Duomo di Milano"/>
      |    <tag k="amenity" v="place_of_worship"/>
      |  </node>
      |  <node id="10" lat="-33.8568" lon="151.2153">
      |    <tag k="wikipedia:en" v="Sydney Opera House"/>
      |  </node>
      |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
      |  <way id="101"><nd ref="1"/><nd ref="4"/><nd ref="3"/></way>
      |  <way id="102"><nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="8"/><nd ref="5"/>
      |    <tag k="natural" v="water"/></way>
      |  <relation id="200">
      |    <member type="way" ref="100" role="outer"/>
      |    <member type="way" ref="101" role="outer"/>
      |    <member type="way" ref="102" role="inner"/>
      |    <member type="node" ref="9" role="admin_centre"/>
      |    <tag k="type" v="boundary"/>
      |  </relation>
      |</osm>""".stripMargin

  private lazy val xmlObjs: Seq[OsmObject] =
    OsmXml.parseDocument(boundaryXml).toSeq

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("graftpbf").toString + "/" + name

  private def sortKey(o: OsmObject) = (o.featureType, o.featureId)

  test("PBF round-trip == XML parse, dense nodes, multi-blob, zlib") {
    val path = tmp("a.pbf")
    PbfTestWriter.write(path, xmlObjs, dense = true, perBlob = 3)
    assert(OsmPbf.blobSlices(spark, path).length > 1) // real multi-blob framing
    val got = OsmPbf.read(spark, path).collect().toSeq.sortBy(sortKey)
    assert(got == xmlObjs.sortBy(sortKey))
  }

  test("PBF round-trip with plain (non-dense) nodes and raw (uncompressed) blobs") {
    val path = tmp("plain.pbf")
    PbfTestWriter.write(path, xmlObjs, dense = false, compress = false)
    val got = OsmPbf.read(spark, path).collect().toSeq.sortBy(sortKey)
    assert(got == xmlObjs.sortBy(sortKey))
  }

  test("granularity and lat/lon offset decode math is exact") {
    // granularity 1000 (all fixture coords sit on the 1e-6-degree grid)
    // plus non-zero offsets: decode must still equal the XML-parsed double
    val path = tmp("gran.pbf")
    PbfTestWriter.write(path, xmlObjs, granularity = 1000,
      latOffset = 1000000, lonOffset = -2000000)
    val got = OsmPbf.read(spark, path).collect().toSeq.sortBy(sortKey)
    assert(got == xmlObjs.sortBy(sortKey))
  }

  test("boundary assembly from PBF == from XML, driver and distributed") {
    val path = tmp("b.pbf")
    PbfTestWriter.write(path, xmlObjs, perBlob = 4)
    val fromXml = OsmXml.boundaryPolygons(xmlObjs)
    // driver: the pure stitcher over the collected PBF parse
    val driver = OsmXml.boundaryPolygons(OsmPbf.read(spark, path).collect().toSeq)
    val dist = OsmXml.boundariesDistributedFrom(OsmPbf.read(spark, path))
      .collect().toSeq.sortBy(p => (p.regionId, p.part))
    def render(ps: Seq[graft.core.Polygons.PolyPart]) =
      ps.map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
    assert(render(driver) == render(fromXml))
    assert(render(dist) == render(fromXml))
    assert(fromXml.nonEmpty)
  }

  test("features() from PBF == from XML") {
    val pbfPath = tmp("f.pbf")
    PbfTestWriter.write(pbfPath, xmlObjs)
    val xmlDir = tmp("")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(xmlDir + "extract.osm"), boundaryXml)
    def render(df: org.apache.spark.sql.DataFrame) =
      df.select("feature_id", "tag_key", "error_class").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val viaPbf = render(OsmXml.featuresFrom(OsmPbf.read(spark, pbfPath)))
    val viaXml = render(OsmXml.features(spark, xmlDir + "extract.osm"))
    assert(viaPbf == viaXml && viaPbf.nonEmpty)
  }

  test("failure modes are loud: bad compression, bad required feature, truncation") {
    // unsupported required feature
    val p1 = tmp("feat.pbf")
    PbfTestWriter.write(p1, xmlObjs,
      requiredFeatures = Seq("OsmSchema-V0.6", "HistoricalInformation"))
    val e1 = intercept[IllegalArgumentException](OsmPbf.blobSlices(spark, p1))
    assert(e1.getMessage.contains("HistoricalInformation"))
    // truncated file (framing overruns)
    val p2 = tmp("trunc.pbf")
    PbfTestWriter.write(p2, xmlObjs)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2))
    java.nio.file.Files.write(java.nio.file.Paths.get(p2),
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 10))
    intercept[Exception](
      OsmPbf.read(spark, p2).collect())
    // garbage header
    val p3 = tmp("junk.pbf")
    java.nio.file.Files.write(java.nio.file.Paths.get(p3),
      Array.fill[Byte](64)(0x7f))
    intercept[Exception](OsmPbf.blobSlices(spark, p3))
  }

  test("way-less boundary relation fails loudly in the DISTRIBUTED path too") {
    // regression (round-4 advice): a boundary relation with zero way
    // members used to produce no RelPieces and silently vanish from the
    // distributed groupByKey, while the driver-side stitcher failed loudly
    val xml =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" lat="1.0" lon="1.0"/>
        |  <relation id="900">
        |    <member type="node" ref="1" role="admin_centre"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |</osm>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graftnoway").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/x.osm"), xml)
    val eDriver = intercept[Exception](
      OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq))
    val eDist = intercept[Exception](
      OsmXml.readBoundariesDistributed(spark, s"$dir/x.osm").collect())
    assert(eDriver.getMessage.contains("no outer ring"))
    assert(eDist.getMessage != null &&
      (eDist.getMessage.contains("no outer ring") ||
       Option(eDist.getCause).exists(_.getMessage.contains("no outer ring"))))
  }

  test("fuzz: 300 random objects (unicode tags, negative coords, deltas) round-trip") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.OsmXml.OsmMember
    def sample[A](g: Gen[A], i: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(i), retries = 1000)
    // coordinates ON the granularity-100 nanodegree grid, as the format
    // stores them; expected double = nano/1e9 (the decode contract)
    val nanoLat = Gen.chooseNum(-900000000L, 900000000L).map(_ * 100)
    val nanoLon = Gen.chooseNum(-1800000000L, 1800000000L).map(_ * 100)
    val tagStr = Gen.oneOf(Gen.alphaNumStr.map(_.take(12)),
      Gen.const("café ü 東京"), Gen.const("a=b|c;d"), Gen.const(""))
    val tagsGen = Gen.mapOfN(2, Gen.zip(tagStr.suchThat(_.nonEmpty), tagStr))
    val objGen: Gen[OsmObject] = Gen.oneOf(
      Gen.zip(Gen.chooseNum(1L, 1L << 40), nanoLat, nanoLon, tagsGen).map {
        case (id, la, lo, t) =>
          OsmObject(id, "node", Some(la / 1e9), Some(lo / 1e9), t)
      },
      Gen.zip(Gen.chooseNum(1L, 1L << 40), tagsGen,
        Gen.listOfN(5, Gen.chooseNum(1L, 1L << 44))).map {
        case (id, t, refs) => OsmObject(id, "way", None, None, t, refs)
      },
      Gen.zip(Gen.chooseNum(1L, 1L << 40), tagsGen,
        Gen.listOfN(3, Gen.zip(Gen.oneOf("node", "way", "relation"),
          Gen.chooseNum(1L, 1L << 44), tagStr))).map {
        case (id, t, ms) => OsmObject(id, "relation", None, None, t, Nil,
          ms.map { case (mt, ref, role) => OsmMember(mt, ref, role) })
      })
    val objs = (0 until 300).map(i => sample(objGen, i.toLong))
      .distinctBy(o => (o.featureType, o.featureId))
    for (dense <- Seq(true, false)) {
      val path = tmp(s"fuzz$dense.pbf")
      PbfTestWriter.write(path, objs, dense = dense, perBlob = 37)
      val got = OsmPbf.read(spark, path).collect().toSeq.sortBy(sortKey)
      assert(got == objs.sortBy(sortKey))
    }
  }

  test("10^6-object PBF: multi-blob split, executor filtering, identical polygons") {
    // the planet-file shape at volume: a million bulk nodes drowning a
    // handful of boundary objects, split across ~250 blobs — decode
    // parallelizes per blob, the filter chain runs executor-side, and
    // the distributed assembly emits the same PolyParts as the pure
    // stitcher
    import graft.sources.OsmXml.OsmObject
    val bulk = (0 until 1000000).map(i =>
      OsmObject(100000L + i, "node", Some(1.0), Some(1.0), Map.empty))
    val boundary = xmlObjs // corners, two-way shell, hole, tagged nodes
    val noise = Seq(
      OsmObject(9000L, "way", None, None, Map.empty, Seq(100000L, 100001L)),
      OsmObject(8000L, "relation", None, None, Map("type" -> "route"), Nil,
        Seq(graft.sources.OsmXml.OsmMember("way", 9000L, ""))))
    val path = tmp("big.pbf")
    PbfTestWriter.write(path, boundary ++ bulk ++ noise, perBlob = 4096)
    val slices = OsmPbf.blobSlices(spark, path)
    assert(slices.length > 200, s"expected multi-blob framing, got ${slices.length}")
    val full = OsmXml.boundaryPolygons(boundary)
    def render(ps: Seq[graft.core.Polygons.PolyPart]) =
      ps.map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
    val dist = OsmXml.boundariesDistributedFrom(OsmPbf.read(spark, path))
      .collect().toSeq.sortBy(p => (p.regionId, p.part))
    assert(render(dist) == render(full) && full.nonEmpty)
  }

  test("PBF -> boundaries -> distributed cover -> spatial join, end to end") {
    import spark.implicits._
    import graft.operators.SpatialJoin
    val path = tmp("e2e.pbf")
    PbfTestWriter.write(path, xmlObjs, perBlob = 5)
    val polys = OsmXml.boundariesDistributedFrom(OsmPbf.read(spark, path))
      .map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
      .toDF("region_id", "part", "rings")
    val cover = SpatialJoin.coverDFDistributed(polys, rMin = 5, rMax = 8)
    val pts = Seq((1L, 2.0, 2.0), (2L, 5.0, 5.0), (3L, 12.0, 12.0))
      .toDF("k", "lat", "lon")
    val got = SpatialJoin.assign(pts, "k", cover)
      .select("k", "region_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 200L))) // in shell; hole and outside excluded
  }
}
