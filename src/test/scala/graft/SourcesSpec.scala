package graft

import org.apache.spark.sql.functions._

import graft.core.Polygons
import graft.functions.LineageAgg
import graft.sources.{OsmXml, PolygonJson}

class SourcesSpec extends SparkTestBase {

  /** Full (cell, region, part) content of a cover, any construction path. */
  private def cellsOf(c: graft.operators.SpatialJoin.CoverSides): Seq[(Long, Long, Int)] =
    c.cells.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  val osmXml =
    """<?xml version='1.0' encoding='UTF-8'?>
      |<osm version="0.6" generator="test">
      |  <node id="101" lat="45.4642" lon="9.1900">
      |    <tag k="wikipedia" v="it:Duomo di Milano"/>
      |    <tag k="amenity" v="place_of_worship"/>
      |  </node>
      |  <node id="102" lat="41.8902" lon="12.4922">
      |    <tag k="wikipedia:en" v="Colosseum"/>
      |  </node>
      |  <node id="103" lat="0.0" lon="0.0"/>
      |  <node id="104" lat="48.8583" lon="2.2945">
      |    <tag k="wikipedia" v="http://fr.wikipedia.org/wiki/Tour_Eiffel"/>
      |  </node>
      |  <way id="2001">
      |    <nd ref="101"/>
      |    <tag k="wikipedia" v="de:Some_Way"/>
      |  </way>
      |  <relation id="3001">
      |    <member type="way" ref="2001" role="outer"/>
      |    <tag k="type" v="boundary"/>
      |  </relation>
      |</osm>""".stripMargin

  test("OSM XML pull parser extracts objects, coords and tags") {
    val objs = OsmXml.parseDocument(osmXml).toSeq
    assert(objs.map(_.featureId) == Seq(101L, 102L, 103L, 104L, 2001L, 3001L))
    val n101 = objs.find(_.featureId == 101).get
    assert(n101.featureType == "node" && n101.lat.contains(45.4642) &&
      n101.tags("wikipedia") == "it:Duomo di Milano" &&
      n101.tags("amenity") == "place_of_worship")
    assert(objs.find(_.featureId == 2001).get.featureType == "way")
    assert(objs.find(_.featureId == 2001).get.lat.isEmpty)
  }

  test("OsmXml.features routes malformed tags and normalizes keys") {
    val dir = java.nio.file.Files.createTempDirectory("graftosm").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/extract.osm"), osmXml)
    val feats = OsmXml.features(spark, s"$dir/extract.osm")
    val byId = feats.collect().map(r =>
      r.getAs[Long]("feature_id") ->
        (r.getAs[String]("tag_key"), r.getAs[String]("error_class"))).toMap
    assert(byId.keySet == Set(101L, 102L, 104L, 2001L)) // 103,3001: no wikipedia tag
    assert(byId(101L) == (("it:Duomo di Milano", "ok")))
    assert(byId(102L) == (("en:Colosseum", "ok")))  // wikipedia:en variant
    assert(byId(104L)._1 == null && byId(104L)._2 == "url_value")
    assert(byId(2001L) == (("de:Some Way", "ok")))
  }

  test("OSM boundary relations assemble into polygons and spatial-join e2e") {
    import graft.operators.SpatialJoin
    import spark.implicits._
    // square shell from TWO ways (the second stored in reverse direction,
    // so stitching must flip it) + a closed inner-hole way
    val xml =
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
        |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
        |  <way id="101"><nd ref="1"/><nd ref="4"/><nd ref="3"/></way>
        |  <way id="102"><nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="8"/><nd ref="5"/></way>
        |  <relation id="200">
        |    <member type="way" ref="100" role="outer"/>
        |    <member type="way" ref="101" role="outer"/>
        |    <member type="way" ref="102" role="inner"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |</osm>""".stripMargin
    val parts = OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq)
    assert(parts.length == 1)
    val p = parts.head
    assert(p.regionId == 200L && p.rings.length == 2) // shell + hole
    assert(p.rings(0).length == 8 && p.rings(1).length == 8) // 4 open vertices
    // geometry sanity straight off the assembled rings
    assert(graft.core.Geo.contains(2.0, 2.0, p.rings))   // in shell
    assert(!graft.core.Geo.contains(5.0, 5.0, p.rings))  // in hole
    assert(!graft.core.Geo.contains(12.0, 12.0, p.rings))
    // ...and through the full cover + candidate + PIP-refine join
    val pts = Seq((1L, 2.0, 2.0), (2L, 5.0, 5.0), (3L, 12.0, 12.0))
      .toDF("k", "lat", "lon")
    val cover = SpatialJoin.coverDF(spark, parts, rMin = 5, rMax = 8)
    val got = SpatialJoin.assign(pts, "k", cover)
      .select("k", "region_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 200L)))
    // malformed input fails loudly, never silently drops geometry
    val unclosed = xml.replace("""<member type="way" ref="101" role="outer"/>""", "")
    intercept[IllegalArgumentException] {
      OsmXml.boundaryPolygons(OsmXml.parseDocument(unclosed).toSeq)
    }
  }

  test("readBoundaries filters executor-side: 10^6 irrelevant nodes, identical PolyParts") {
    // a planet-extract-shaped input: a handful of boundary relations
    // drowning in bulk nodes/ways that have nothing to do with boundaries.
    // The distributed path (relation scan -> way join -> node join ->
    // per-relation stitching) must assemble byte-identical PolyParts to
    // the pure stitcher fed the full parse.
    val sb = new StringBuilder(64 << 20)
    sb ++= "<?xml version='1.0' encoding='UTF-8'?>\n<osm version=\"0.6\">\n"
    sb ++= """  <node id="1" lat="0.001" lon="0.001"/>
             |  <node id="2" lat="10.001" lon="0.001"/>
             |  <node id="3" lat="10.001" lon="10.001"/>
             |  <node id="4" lat="0.001" lon="10.001"/>
             |""".stripMargin
    var i = 0
    while (i < 1000000) { // bulk nodes: must never reach the driver
      sb ++= "  <node id=\""; sb ++= (100000 + i).toString
      sb ++= "\" lat=\"1.0\" lon=\"1.0\"/>\n"
      i += 1
    }
    // bulk non-boundary ways + a non-boundary relation: also filtered out
    sb ++= """  <way id="9000"><nd ref="100000"/><nd ref="100001"/></way>
             |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
             |  <way id="101"><nd ref="1"/><nd ref="4"/><nd ref="3"/></way>
             |  <relation id="8000">
             |    <member type="way" ref="9000" role=""/>
             |    <tag k="type" v="route"/>
             |  </relation>
             |  <relation id="200">
             |    <member type="way" ref="100" role="outer"/>
             |    <member type="way" ref="101" role="outer"/>
             |    <tag k="type" v="boundary"/>
             |  </relation>
             |</osm>""".stripMargin
    val xml = sb.toString
    val dir = java.nio.file.Files.createTempDirectory("graftosmbig").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/big.osm"), xml)
    val dist = OsmXml.readBoundariesDistributed(spark, s"$dir/big.osm")
      .collect().toSeq.sortBy(p => (p.regionId, p.part))
    val full = OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq)
    assert(dist.map(p => (p.regionId, p.part)) == full.map(p => (p.regionId, p.part)))
    dist.zip(full).foreach { case (a, b) =>
      assert(a.rings.length == b.rings.length)
      a.rings.zip(b.rings).foreach { case (ra, rb) => assert(ra.sameElements(rb)) }
    }
    assert(dist.length == 1 && dist.head.regionId == 200L)
  }

  test("distributed boundary assembly == driver stitcher, geometry never on the driver") {
    import graft.operators.SpatialJoin
    // reuse the hardest committed shape: two-way split shell (one way
    // reversed) + hole, PLUS a second disjoint relation so the per-
    // relation grouping actually groups
    val xml =
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
        |  <node id="20" lat="20.001" lon="20.001"/>
        |  <node id="21" lat="25.001" lon="20.001"/>
        |  <node id="22" lat="25.001" lon="25.001"/>
        |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
        |  <way id="101"><nd ref="1"/><nd ref="4"/><nd ref="3"/></way>
        |  <way id="102"><nd ref="5"/><nd ref="6"/><nd ref="7"/><nd ref="8"/><nd ref="5"/></way>
        |  <way id="103"><nd ref="20"/><nd ref="21"/><nd ref="22"/><nd ref="20"/></way>
        |  <relation id="200">
        |    <member type="way" ref="100" role="outer"/>
        |    <member type="way" ref="101" role="outer"/>
        |    <member type="way" ref="102" role="inner"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |  <relation id="201">
        |    <member type="way" ref="103" role="outer"/>
        |    <tag k="type" v="multipolygon"/>
        |  </relation>
        |</osm>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graftosmdist").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/x.osm"), xml)
    def norm(ps: Seq[Polygons.PolyPart]) = ps
      .map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
      .sortBy(t => (t._1, t._2))
    val dist = norm(OsmXml.readBoundariesDistributed(spark, s"$dir/x.osm")
      .collect().toSeq)
    val drv = norm(OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq))
    assert(dist == drv && dist.map(_._1) == Seq(200L, 201L))
    // ...and the fully distributed chain (executor assembly -> executor
    // covers -> join) returns the same matches as an in-memory cover of
    // the pure stitcher's parts
    import spark.implicits._
    val polyDf = OsmXml.readBoundariesDistributed(spark, s"$dir/x.osm")
      .select(col("regionId").as("region_id"), col("part"), col("rings"))
    val dCover = SpatialJoin.coverDFDistributed(polyDf, rMin = 5, rMax = 8)
    val lCover = SpatialJoin.coverDF(spark,
      OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq), rMin = 5, rMax = 8)
    val pts = Seq((1L, 2.0, 2.0), (2L, 5.0, 5.0), (3L, 22.0, 21.0))
      .toDF("k", "lat", "lon")
    def run(c: SpatialJoin.CoverSides) =
      SpatialJoin.assign(pts, "k", c).select("k", "region_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(dCover) == run(lCover) && run(dCover) == Set((1L, 200L), (3L, 201L)))
  }

  test("overlapping extracts: duplicated border objects assemble once, all paths") {
    // osmosis-style regional extracts DUPLICATE objects near the cut: the
    // same boundary relation (with its ways and nodes) appears in BOTH
    // files. Every assembly path must dedup by id — a doubled member list
    // would fail stitching on the duplicate segments.
    val xml =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" lat="0.001" lon="0.001"/>
        |  <node id="2" lat="10.001" lon="0.001"/>
        |  <node id="3" lat="10.001" lon="10.001"/>
        |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/></way>
        |  <relation id="500">
        |    <member type="way" ref="100" role="outer"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |</osm>""".stripMargin
    val single = OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq)
    // pure stitcher over a doubled object stream
    val doubled = OsmXml.boundaryPolygons(
      (OsmXml.parseDocument(xml) ++ OsmXml.parseDocument(xml)).toSeq)
    assert(doubled.map(p => (p.regionId, p.part)) ==
      single.map(p => (p.regionId, p.part)))
    assert(doubled.head.rings(0).sameElements(single.head.rings(0)))
    // the Spark path over two overlapping files
    val dir = java.nio.file.Files.createTempDirectory("graftosmdup").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.osm"), xml)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.osm"), xml)
    val dist = OsmXml.readBoundariesDistributed(spark, s"$dir/*.osm").collect()
    assert(dist.length == 1 && dist.head.rings(0).sameElements(single.head.rings(0)))
  }

  test("readBoundariesDistributed resolves cross-FILE references (split extracts)") {
    // real extracts ship split (per-region files, or nodes/ways/relations
    // in separate dumps): a relation in one file referencing ways in a
    // second and nodes in a third must assemble — the join chain
    // operates over the union of all parsed files, not per document
    val nodes =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" lat="0.001" lon="0.001"/>
        |  <node id="2" lat="10.001" lon="0.001"/>
        |  <node id="3" lat="10.001" lon="10.001"/>
        |  <node id="4" lat="0.001" lon="10.001"/>
        |</osm>""".stripMargin
    val ways =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/></way>
        |  <way id="101"><nd ref="1"/><nd ref="4"/><nd ref="3"/></way>
        |</osm>""".stripMargin
    val rels =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <relation id="300">
        |    <member type="way" ref="100" role="outer"/>
        |    <member type="way" ref="101" role="outer"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |</osm>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graftosmsplit").toString
    Seq("nodes" -> nodes, "ways" -> ways, "rels" -> rels).foreach { case (n, c) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$n.osm"), c)
    }
    val parts = OsmXml.readBoundariesDistributed(spark, s"$dir/*.osm").collect()
    assert(parts.length == 1 && parts.head.regionId == 300L)
    assert(parts.head.rings.length == 1 && parts.head.rings(0).length == 8)
    assert(graft.core.Geo.contains(5.0, 5.0, parts.head.rings))
    // identical to the pure stitcher over the three documents together
    val whole = OsmXml.boundaryPolygons(
      Seq(nodes, ways, rels).flatMap(OsmXml.parseDocument))
    assert(parts.head.rings(0).sameElements(whole.head.rings(0)))
  }

  test("boundary assembly fails loudly on a ring node without coordinates") {
    val xml =
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        |  <node id="1" lat="0.001" lon="0.001"/>
        |  <node id="2" lat="10.001" lon="0.001"/>
        |  <node id="3"/>
        |  <way id="100"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/></way>
        |  <relation id="200">
        |    <member type="way" ref="100" role="outer"/>
        |    <tag k="type" v="boundary"/>
        |  </relation>
        |</osm>""".stripMargin
    val e = intercept[IllegalArgumentException] {
      OsmXml.boundaryPolygons(OsmXml.parseDocument(xml).toSeq)
    }
    // the pre-fix behavior silently mapped node 3 to NaN vertices (NaN
    // comparisons are all-false -> covers/PIP corrupt quietly)
    assert(e.getMessage.contains("node 3") && e.getMessage.contains("without lat/lon"))
  }

  test("stitchRings reassembles randomly segmented, reversed, shuffled cycles") {
    val rnd = new scala.util.Random(42) // fixed seed: deterministic test
    def edges(sq: Seq[Long]) = sq.indices.map { i =>
      val a = sq(i); val b = sq((i + 1) % sq.length)
      (math.min(a, b), math.max(a, b))
    }.toSet
    (0 until 60).foreach { _ =>
      val n = 5 + rnd.nextInt(20)
      val cycle = (0 until n).map(_.toLong + 100)
      val k = 1 + rnd.nextInt(5)
      val cuts = rnd.shuffle((0 until n).toList).take(k).sorted
      val segs = (cuts :+ (cuts.head + n)).sliding(2).collect {
        case List(a, b) => (a to b).map(i => cycle(i % n))
      }.toList
      val mangled = rnd.shuffle(
        segs.map(s => if (rnd.nextBoolean()) s.reverse else s))
      val rings = OsmXml.stitchRings(mangled)
      assert(rings.length == 1)
      val ring = rings.head
      assert(ring.length == n && ring.toSet == cycle.toSet)
      assert(edges(ring) == edges(cycle)) // adjacency up to rotation/flip
    }
  }

  test("polygon JSON round-trips and produces the same covers") {
    val dir = java.nio.file.Files.createTempDirectory("graftpoly").toString
    val path = s"$dir/polys.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      PolygonJson.toJsonLines(Polygons.all))
    def render(ps: Seq[(Long, Int, String, Seq[Seq[Double]])]) = ps.sortBy(p => (p._1, p._2))
    val parts = PolygonJson.readDF(spark, path).collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[scala.collection.Seq[Double]](3).map(_.toSeq).toSeq))
    assert(render(parts) == render(Polygons.all.map(p =>
      (p.regionId, p.part, p.name, p.rings.map(_.toSeq).toSeq))))
    val cover1 = PolygonJson.coverFromJsonDistributed(spark, path)
    val cover2 = graft.operators.SpatialJoin.coverDF(spark, Polygons.all)
    assert(cellsOf(cover1) == cellsOf(cover2))
  }

  test("cover memo keys by polygon CONTENT: equal-content seqs share covers") {
    // deep-copy the polygon list (fresh PolyPart instances, fresh ring
    // arrays): identical content, different identity -> must produce the
    // exact same cover as the canonical instance (the old identity-hash
    // key could silently miss or, worse, alias after GC recycling)
    val copy = Polygons.all.map(p =>
      Polygons.PolyPart(p.regionId, p.part, p.name, p.rings.map(_.clone())))
    val a = graft.operators.SpatialJoin.coverDF(spark, Polygons.all)
    val b = graft.operators.SpatialJoin.coverDF(spark, copy)
    assert(cellsOf(a) == cellsOf(b))
    // and different content must NOT collide: drop one part -> different cover
    val c = graft.operators.SpatialJoin.coverDF(spark, Polygons.all.tail)
    assert(cellsOf(c) != cellsOf(a))
  }

  test("LineageAgg: partitioning-independent count+xor") {
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).as("g"), concat(lit("v"), col("id")).as("v"))
    val u = udaf(LineageAgg.onColumns(Seq("id", "v")),
      org.apache.spark.sql.Encoders.row(df.schema))
    def run(parts: Int) =
      df.repartition(parts).groupBy("g")
        .agg(u(col("id"), col("g"), col("v")).as("cs"))
        .collect().map { r =>
          val s = r.getStruct(1)
          (r.getLong(0), s.getLong(0), s.getLong(1))
        }.toSet
    assert(run(2) == run(16))
    assert(run(2).forall(_._2 > 0))
  }

  test("KmvSketch: bounded state, partitioning-independent, sane estimate") {
    import graft.functions.KmvSketch
    val df = spark.range(0, 5000).select(col("id"),
      (col("id") % 3).as("g"), md5((col("id") % 1000).cast("string")).as("h"))
    val u = udaf(new KmvSketch(64))
    def run(parts: Int) =
      df.repartition(parts).groupBy("g").agg(u(col("h")).as("sk"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val a = run(2)
    val b = run(32)
    assert(a == b) // merge order cannot matter
    a.values.foreach { sk =>
      assert(sk.length == 64 && sk == sk.sorted && sk.distinct == sk)
    }
    // gcd(3, 1000) = 1, so every group sees all 1000 distinct hashes;
    // KMV with k=64 should estimate within ~40%
    a.values.foreach { sk =>
      val est = KmvSketch.estimate(sk, 64)
      assert(est > 600 && est < 1400, s"estimate $est")
    }
    // below k the sketch IS the distinct set (exact count)
    val tiny = spark.range(0, 30).select(lit(0L).as("g"),
      md5((col("id") % 10).cast("string")).as("h"))
    val sk = tiny.groupBy("g").agg(u(col("h")).as("sk"))
      .collect()(0).getSeq[String](1)
    assert(sk.length == 10 && KmvSketch.estimate(sk, 64) == 10.0)
  }

  test("Iceberg seam: format=iceberg is a config swap, absent jar fails named") {
    // production mandates an Iceberg table (BASELINE.json input_hint); the
    // sandbox has no iceberg-spark-runtime jar, so the read must fail with
    // the data source NAMED — documenting that the production shape is the
    // one-line `format` argument, not a refactor
    val e = intercept[Exception] {
      graft.sources.Pages.read(spark, "/tmp/nonexistent", format = "iceberg")
        .count()
    }
    val msg = e.toString.toLowerCase(java.util.Locale.ROOT)
    assert(msg.contains("iceberg"), s"error does not name iceberg: $msg")
  }

  test("cover memo cache is bounded: overflow evicts instead of growing") {
    import graft.operators.SpatialJoin
    SpatialJoin.clearCoverCache()
    assert(SpatialJoin.coverCacheSize == 0)
    val base = Polygons.all
    // distinct polygon CONTENTS (shifted quads) -> distinct memo keys
    def shifted(i: Int) = base.map(p => p.copy(
      rings = p.rings.map(_.map(_ + i * 1e-9))))
    (0 until SpatialJoin.CoverCacheMax + 3).foreach { i =>
      SpatialJoin.coverDF(spark, shifted(i), rMin = 7, rMax = 8)
      assert(SpatialJoin.coverCacheSize <= SpatialJoin.CoverCacheMax)
    }
    SpatialJoin.clearCoverCache()
    assert(SpatialJoin.coverCacheSize == 0)
  }

  test("banded-minhash memo is bounded and clearable") {
    import graft.queries.TextFixtures
    TextFixtures.clearMemo()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // same dir repeatedly -> one entry, memo hit returns the same frame
    val a = TextFixtures.bandedCached(spark, sfDir)
    val b = TextFixtures.bandedCached(spark, sfDir)
    assert(a eq b)
    assert(TextFixtures.memoSize == 1)
    val aCount = a.count() // read BEFORE clearing: the frame dies with it
    // the memoized frame pinned at least one new checkpoint RDD...
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    TextFixtures.clearMemo()
    assert(TextFixtures.memoSize == 0)
    // ...and clearMemo UNPERSISTED it (the eager path walks down to the
    // persisted ancestor — unpersisting the derived toRdd was a no-op
    // that left the blocks pinned; post-fix the evicted frame is dead)
    val remaining = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !remaining.contains(id)))
    // cleared memo recomputes, same content
    val c = TextFixtures.bandedCached(spark, sfDir)
    assert(c.count() == aCount)
  }
}
