package graft

import org.apache.spark.sql.functions._

import graft.core.{Geocode, Polygons, TextExtract}
import graft.operators.SpatialJoin
import graft.sources.{GeoFixtures, Pages}

/** End-to-end flagship pipeline vs a naive in-test oracle (SURVEY.md §5.2-3:
  * the committed mini-oracle role), plus join-mode equivalence and plan
  * shape assertions. */
class PipelineSpec extends SparkTestBase {
  import java.nio.charset.StandardCharsets

  val nPages = 2000L

  test("flagship spatial join matches naive per-row oracle exactly") {
    val pages = Pages.synthesize(spark, nPages, numPartitions = 16)
    val got = Pipeline.matches(spark, pages)
      .select("url", "region_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    // naive oracle: decode html -> geocode -> O(n*m) PIP over all parts
    val raw = pages.select("url", "html").collect()
    val expected = raw.flatMap { r =>
      val url = r.getString(0)
      val html = new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8)
      Geocode.fromString(html).toSeq.flatMap { case (lat, lon) =>
        Polygons.regionsContaining(lat, lon).map(url -> _)
      }
    }.toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("geocoded fraction and hot cluster are as designed") {
    val pages = Pages.synthesize(spark, nPages, 8)
    val pts = Pipeline.geocode(pages)
    val n = pts.count()
    assert(n == (0L until nPages).count(i => i % 3 < 2))
    val hot = pts.where(col("lat").between(9.8, 10.0) &&
      col("lon").between(19.8, 20.0)).count()
    assert(hot >= n * 12 / 100, s"hot=$hot of $n") // ~15% by construction
  }

  test("join modes (broadcast / shuffle / salted) return identical rows") {
    val pts = GeoFixtures.points(spark, sfDir)
    val cover = SpatialJoin.coverDF(spark)
    // one output schema under every mode: region_id, then the input columns
    val schema = SpatialJoin.assign(pts, "k", cover, SpatialJoin.Broadcast).schema
    assert(schema.fieldNames.toSeq == "region_id" +: pts.columns.toSeq, schema)
    def run(m: SpatialJoin.Mode) = {
      val df = SpatialJoin.assign(pts, "k", cover, m)
      assert(df.schema == schema, s"$m: ${df.schema}")
      df.select("k", "region_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val b = run(SpatialJoin.Broadcast)
    assert(b.nonEmpty)
    assert(run(SpatialJoin.Shuffle) == b)
    assert(run(SpatialJoin.ShuffleSalted(4)) == b)
    assert(run(SpatialJoin.ShuffleSalted(16)) == b)
    // low threshold forces BOTH the cold and the salted-hot path
    assert(run(SpatialJoin.ShuffleSaltedAdaptive(8, hotThreshold = 50)) == b)
    // threshold above every count: pure cold path
    assert(run(SpatialJoin.ShuffleSaltedAdaptive(8, hotThreshold = 1000000)) == b)
    // Auto on both sides of its threshold: same rows either way
    assert(run(SpatialJoin.Auto()) == b)
    assert(run(SpatialJoin.Auto(maxBroadcastCells = 1)) == b)
    // pre-declared hot set (from a tile-stats relation, the previous-run
    // artifact): same rows through the hot/cold split, and through the
    // empty-set degradation to plain shuffle
    val tstats = tileStatsOf(pts, 4)
    val hotT = SpatialJoin.hotTilesFromStats(tstats, 4, hotThreshold = 10)
    assert(hotT.nonEmpty)
    assert(run(SpatialJoin.ShuffleSaltedHot(8, hotT, 4)) == b)
    assert(run(SpatialJoin.ShuffleSaltedHot(8, Nil, 4)) == b)
  }

  /** A previous run's per-tile coverage stats, reconstructed from the
    * fixture points (tile_x, tile_y, pages — the persisted flagship
    * artifact shape hotTilesFromStats consumes). */
  private def tileStatsOf(pts: org.apache.spark.sql.DataFrame, z: Int) = {
    import graft.functions.GeoFunctions
    pts.withColumn("tile",
        GeoFunctions.cellEncode(col("lat"), col("lon"), lit(z)))
      .groupBy(GeoFunctions.cellTileX(col("tile")).as("tile_x"),
        GeoFunctions.cellTileY(col("tile")).as("tile_y"))
      .agg(count("*").as("pages"))
  }

  test("salted-hot plans with ZERO detection jobs; adaptive pays one") {
    val pts = GeoFixtures.points(spark, sfDir)
    val cover = SpatialJoin.coverDF(spark)
    // z=4, threshold 10: a strict subset of the fixture's 192 z4 tiles
    // is hot (32), so both the hot and the cold branch carry rows
    val hotT = SpatialJoin.hotTilesFromStats(tileStatsOf(pts, 4), 4, 10)
    assert(hotT.nonEmpty)

    // count job submissions via a listener; the bus is FIFO, so running a
    // flush action and waiting for its event guarantees every job
    // submitted during plan construction has been counted
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def flush(): Unit = {
      // a marker job; waiting for its event also drains everything queued
      // before it (the async bus is FIFO). An RDD count is exactly ONE
      // job — a DataFrame action under AQE can be several, which would
      // leak trailing events past the counter reset.
      val j0 = jobs
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs <= j0 && System.nanoTime() < deadline) Thread.sleep(20)
    }
    def countPlanningJobs(mode: SpatialJoin.Mode): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        flush() // drain events queued before the listener registered
        jobs = 0
        // construct + resolve the physical plan, NO action
        SpatialJoin.assignRegions(pts, "k", cover, mode)
          .queryExecution.executedPlan
        flush()
        jobs - 1 // minus the marker
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // the whole point of ShuffleSaltedHot: skew handling without the
    // adaptive mode's counting scan of the probe input
    assert(countPlanningJobs(SpatialJoin.ShuffleSaltedHot(8, hotT, 4)) == 0)
    // positive control: the same harness sees adaptive's detection job
    assert(countPlanningJobs(SpatialJoin.ShuffleSaltedAdaptive(8, 50)) >= 1)

    // bounded driver list: a hot set larger than maxHot fails loudly
    intercept[IllegalArgumentException] {
      SpatialJoin.hotTilesFromStats(tileStatsOf(pts, 4), 4,
        hotThreshold = 0, maxHot = 1)
    }

    // counts are summed per tile BEFORE thresholding: the streaming sink
    // appends one row per tile per micro-batch, so two half snapshots
    // must equal one full one (2n > 21 <=> n > 10 on integers)
    val stats = tileStatsOf(pts, 4)
    assert(SpatialJoin.hotTilesFromStats(stats.unionByName(stats), 4,
      hotThreshold = 21).toSet == hotT.toSet)
  }

  test("tile pyramid: rolled-up levels equal direct aggregation at each zoom") {
    import graft.operators.TileAgg
    val assigned = SpatialJoin.assign(GeoFixtures.points(spark, sfDir), "k",
      SpatialJoin.coverDF(spark))
    val pyr = TileAgg.pyramid(assigned, zMax = 7, zMin = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getLong(4))
      .toMap
    assert(pyr.nonEmpty)
    // every level, every (tile, region): the pyramid rollup equals the
    // per-level direct aggregation over raw matches
    (4 to 7).foreach { z =>
      val direct = TileAgg.perRegion(assigned, z).collect()
        .map(r => (z, r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      val level = pyr.filter(_._1._1 == z)
      assert(level == direct, s"level $z")
    }
    // additivity: every level carries the same total match count
    val totals = pyr.groupBy(_._1._1).map { case (z, m) => z -> m.values.sum }
    assert(totals.values.toSet.size == 1, totals)
  }

  test("tile GeoJSON sink: geometry equals cell bounds, properties round-trip") {
    import graft.operators.TileAgg
    import org.apache.spark.sql.types.StructType
    val assigned = SpatialJoin.assign(GeoFixtures.points(spark, sfDir), "k",
      SpatialJoin.coverDF(spark))
    val stats = TileAgg.pyramid(assigned, zMax = 7, zMin = 6)
    val schema = StructType.fromDDL(
      "type STRING, geometry STRUCT<type: STRING, " +
        "coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>, " +
        "properties STRUCT<region_id: BIGINT, n: BIGINT>")
    val rows = TileAgg.geoJsonFeatures(stats)
      .select(col("tile_z"), col("tile_x"), col("tile_y"),
        from_json(col("feature"), schema).as("f"))
      .collect()
    assert(rows.nonEmpty)
    // one feature per (tile, region) row; n must round-trip the properties
    val origs = stats.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getLong(4)).toMap
    rows.foreach { r =>
      val (z, x, y) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val f = r.getStruct(3)
      assert(f.getString(0) == "Feature")
      val geom = f.getStruct(1)
      assert(geom.getString(0) == "Polygon")
      val ring = geom
        .getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](1).head
      assert(ring.length == 5 && ring.head == ring.last) // closed quad
      val cell = graft.core.Cells.mkCell(z,
        graft.core.Cells.interleave(x, y, z))
      val (latMin, latMax, lonMin, lonMax) = graft.core.Cells.bounds(cell)
      def fmt(d: Double) = f"$d%.6f".toDouble
      assert(ring.head.toSeq == Seq(fmt(lonMin), fmt(latMin)))
      assert(ring(2).toSeq == Seq(fmt(lonMax), fmt(latMax)))
      val props = f.getStruct(2)
      assert(props.getLong(1) == origs((z, x, y, props.getLong(0))))
    }
  }

  test("distributed cover enrichment: identical covers, summary and join rows") {
    import graft.sources.PolygonJson
    val dir = java.nio.file.Files.createTempDirectory("graftpolydist").toString
    val path = s"$dir/polys.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      PolygonJson.toJsonLines(Polygons.all))
    val dCover = PolygonJson.coverFromJsonDistributed(spark, path)
    val lCover = SpatialJoin.coverDF(spark)
    // covers computed ON EXECUTORS == driver-side covers, cell for cell
    def cells(c: SpatialJoin.CoverSides) = c.cells.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cells(dCover) == cells(lCover))
    // the driver-side summary agrees (the InSet prefilter + Auto decision
    // see the same facts either way)
    assert(dCover.coarseCells.toSeq == lCover.coarseCells.toSeq)
    assert(dCover.resolutions == lCover.resolutions)
    assert(dCover.nCells == lCover.nCells)
    // the packed parts dim matches too (same refine inputs)
    def parts(c: SpatialJoin.CoverSides) = c.parts.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2),
        r.getSeq[Int](3))).toSet
    assert(parts(dCover) == parts(lCover))
    // and the join returns identical rows through either construction
    val pts = GeoFixtures.points(spark, sfDir)
    def run(c: SpatialJoin.CoverSides, m: SpatialJoin.Mode) =
      SpatialJoin.assign(pts, "k", c, m).select("k", "region_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = run(lCover, SpatialJoin.Broadcast)
    assert(base.nonEmpty)
    assert(run(dCover, SpatialJoin.Broadcast) == base)
    assert(run(dCover, SpatialJoin.Shuffle) == base)
    assert(run(dCover, SpatialJoin.ShuffleSalted(4)) == base)
    assert(run(dCover, SpatialJoin.ShuffleSaltedAdaptive(4, 50)) == base)
    assert(run(dCover,
      SpatialJoin.ShuffleSaltedHot(4,
        SpatialJoin.hotTilesFromStats(tileStatsOf(pts, 4), 4, 10), 4)) == base)
  }

  test("distributed covers equal driver covers on randomized polygons") {
    import spark.implicits._
    // seeded random simple polygons (jittered rects + right triangles) far
    // beyond the committed fixture set: the two construction paths must
    // agree cell-for-cell on every one of them
    val rnd = new scala.util.Random(20260817)
    val polys = (0 until 40).map { i =>
      val lon0 = -170.0 + rnd.nextDouble() * 320
      val lat0 = -80.0 + rnd.nextDouble() * 150
      val w = 0.05 + rnd.nextDouble() * 12
      val h = 0.05 + rnd.nextDouble() * 8
      val ring =
        if (i % 3 == 0) Array(lon0, lat0, lon0 + w, lat0, lon0 + w / 3, lat0 + h)
        else Array(lon0, lat0, lon0 + w, lat0, lon0 + w, lat0 + h, lon0, lat0 + h)
      graft.core.Polygons.PolyPart(i.toLong, 0, s"rnd-$i", Array(ring))
    }
    val local = SpatialJoin.coverDF(spark, polys, rMin = 6, rMax = 9)
    val polyDf = polys.map(p => (p.regionId, p.part, p.rings.map(_.toSeq).toSeq))
      .toDF("region_id", "part", "rings")
    val dist = SpatialJoin.coverDFDistributed(polyDf, rMin = 6, rMax = 9)
    def cells(c: SpatialJoin.CoverSides) = c.cells.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cells(dist) == cells(local) && dist.nCells == local.nCells)
    assert(dist.coarseCells.toSeq == local.coarseCells.toSeq)
    assert(dist.resolutions == local.resolutions)
  }

  test("oversized coarse-cell set skips the InSet prefilter, same rows") {
    val cover = SpatialJoin.coverDF(spark)
    // same cover, coarse summary inflated past the cap (junk ids can only
    // ever make the prefilter LESS selective, so equality is the proof
    // that correctness never depended on it)
    val junk = Array.tabulate(SpatialJoin.CoarsePrefilterMax + 1)(i =>
      graft.core.Cells.mkCell(20, i.toLong))
    val inflated = cover.copy(coarseCells = cover.coarseCells ++ junk)
    val pts = GeoFixtures.points(spark, sfDir)
    // Shuffle: the join path is the one that reads coarseCells (the
    // map-side lookup of Broadcast/Auto never does)
    def run(c: SpatialJoin.CoverSides) =
      SpatialJoin.assign(pts, "k", c, SpatialJoin.Shuffle).select("k", "region_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = run(cover)
    assert(base.nonEmpty && run(inflated) == base)
    // the base plan has the literal IN filter, the inflated one lacks it
    def plan(c: SpatialJoin.CoverSides) = SpatialJoin.assign(pts, "k", c,
      SpatialJoin.Shuffle).queryExecution.optimizedPlan.toString
    assert(plan(cover).contains(" INSET "), plan(cover).take(1500))
    val inflatedPlan = plan(inflated)
    assert(!inflatedPlan.contains(" INSET ") &&
      !inflatedPlan.contains("isInCollection") &&
      !inflatedPlan.toLowerCase.contains(" in ("), inflatedPlan.take(500))
  }

  test("distributed cover of an EMPTY polygon relation joins to zero rows, no crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Int, Seq[Seq[Double]])]
      .toDF("region_id", "part", "rings")
    val cover = SpatialJoin.coverDFDistributed(empty)
    assert(cover.nCells == 0 && cover.coarseCells.isEmpty)
    val out = SpatialJoin.assign(GeoFixtures.points(spark, sfDir), "k", cover)
    assert(out.count() == 0)
  }

  test("distributed cover rejects malformed rings naming the polygon") {
    import spark.implicits._
    // odd-length ring: would silently drop its last coordinate deep in
    // the cover math — must fail loudly with (region, part) instead
    val bad = Seq((42L, 1, Seq(Seq(0.0, 0.0, 10.0, 0.0, 10.0))))
      .toDF("region_id", "part", "rings")
    val e = intercept[org.apache.spark.SparkException] {
      SpatialJoin.coverDFDistributed(bad)
    }
    val msg = e.getCause match { case c if c != null => c.getMessage; case _ => e.getMessage }
    assert(msg != null && msg.contains("(42, 1)"), msg)
    // the in-memory path shares the validation: same ring, same failure
    val eLocal = intercept[IllegalArgumentException] {
      SpatialJoin.coverDF(spark,
        Seq(Polygons.PolyPart(42, 1, "bad", Array(Array(0.0, 0.0, 10.0, 0.0, 10.0)))))
    }
    assert(eLocal.getMessage.contains("(42, 1)"), eLocal.getMessage)
  }

  test("probe explode covers only the resolutions present in the cover") {
    import graft.core.{Cells, Geo}
    val quad = Polygons.all.filter(_.name == "quad")
    val cover88 = SpatialJoin.coverDF(spark, quad, rMin = 8, rMax = 8)
    assert(cover88.resolutions == Seq(8))
    val pts = GeoFixtures.points(spark, sfDir)
    // Shuffle: the join path is the one that explodes probes
    val df = SpatialJoin.assign(pts, "k", cover88, SpatialJoin.Shuffle)
    // the Generate explodes exactly ONE parent (not rMax-rMin+1 of them);
    // the coarse test shares its line, so count inside the exploded array
    val gen = df.queryExecution.optimizedPlan.toString
      .linesIterator.find(_.contains("explode")).get
    val exploded = gen.substring(gen.indexOf("array("))
    assert("cell_parent".r.findAllIn(exploded).size == 1, gen)
    // semantics unchanged: equals the naive per-point ray cast
    val got = df.select("k", "region_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pts.select("k", "lat", "lon").collect().flatMap { r =>
      quad.filter(p => Geo.contains(r.getDouble(1), r.getDouble(2), p.rings))
        .map(p => (r.getLong(0), p.regionId))
    }.toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("Auto mode picks Broadcast for a small cover, Shuffle past the cap") {
    val cover = SpatialJoin.coverDF(spark)
    assert(cover.nCells > 1)
    // default cap: the fixture cover is tiny -> broadcast
    assert(SpatialJoin.resolveMode(SpatialJoin.Auto(), cover) ==
      SpatialJoin.Broadcast)
    // a cover larger than the cap flips the decision to shuffle — the
    // 100x-grown-cover path must not OOM-broadcast
    assert(SpatialJoin.resolveMode(
      SpatialJoin.Auto(maxBroadcastCells = cover.nCells - 1), cover) ==
      SpatialJoin.Shuffle)
    // explicit modes pass through untouched
    assert(SpatialJoin.resolveMode(SpatialJoin.Shuffle, cover) ==
      SpatialJoin.Shuffle)
    assert(SpatialJoin.resolveMode(SpatialJoin.ShuffleSalted(4), cover) ==
      SpatialJoin.ShuffleSalted(4))
  }

  test("spatial join output is unique per (key, region)") {
    val out = GeoQueriesHelper.assigned(spark, sfDir)
    assert(out.groupBy("k", "region_id").count().where(col("count") > 1).isEmpty)
  }

  test("text invariant: extract(html) == text column, byte-identical") {
    val pages = Pages.synthesize(spark, 500, 4)
    assert(Pipeline.textInvariantViolations(pages).isEmpty)
    // and the engine expression agrees with the core function row-by-row
    val rows = pages.select("html", "text").collect()
    rows.foreach { r =>
      assert(TextExtract.extract(r.getAs[Array[Byte]](0)) == r.getString(1))
    }
  }

  test("plan: downstream of geocode never reads html/text columns") {
    // write a real parquet, read back, run the match plan — the scan's
    // ReadSchema must contain url+html only (geocode needs html; text,
    // lang, warc_ts must be pruned)
    val dir = java.nio.file.Files.createTempDirectory("graftpages").toString
    Pages.synthesize(spark, 500, 4).write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir)
    val plan = Pipeline.matches(spark, pages).queryExecution.executedPlan.toString
    val scanSchema = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(scanSchema.contains("url") && scanSchema.contains("html"), scanSchema)
    assert(!scanSchema.contains("text") && !scanSchema.contains("warc_ts") &&
      !scanSchema.contains("lang"), scanSchema)
  }

  test("plan: filters push down to parquet scans") {
    val plan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity,45"), plan.take(2000))
  }

  test("plan: broadcast assign looks regions up map-side, shuffle uses SortMergeJoin") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val pts = GeoFixtures.points(spark, sfDir)
    val cover = SpatialJoin.coverDF(spark)
    // AQE off: the adaptive root would hide the operators from collect
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (m <- Seq(SpatialJoin.Broadcast, SpatialJoin.Auto())) {
        val bExec = SpatialJoin.assign(pts, "k", cover, m)
          .queryExecution.executedPlan
        assert(bExec.toString.contains("regions_at"), bExec)
        assert(bExec.collect { case j: BaseJoinExec => j }.isEmpty, bExec)
        assert(bExec.collect { case b: BroadcastExchangeExec => b }.isEmpty, bExec)
      }
      val sExec = SpatialJoin.assign(pts, "k", cover, SpatialJoin.Shuffle)
        .queryExecution.executedPlan
      val sPlan = sExec.toString
      assert(sPlan.contains("SortMergeJoin") &&
        sPlan.contains("pip_contains_packed") && !sPlan.contains("regions_at"), sPlan)
      // coarse-rejected points' null-cell probe rows are filtered out
      // between the probe explode and the exchange, never shuffled
      val probeExchanges = sExec.collect {
        case e: ShuffleExchangeExec
            if e.find(_.isInstanceOf[GenerateExec]).isDefined => e }
      assert(probeExchanges.nonEmpty && probeExchanges.forall(_.child.exists {
        case f: FilterExec => f.condition.toString.contains("isnotnull(cell#") &&
          f.child.find(_.isInstanceOf[GenerateExec]).isDefined
        case _ => false
      }), sPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }


  test("plan: whole-stage codegen spans cover the flagship (custom exprs codegen)") {
    // AQE hides codegen ids pre-execution; check with a non-adaptive copy
    val pages = Pages.synthesize(spark, 200, 2)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Pipeline.coverageStats(spark, pages, 8)
        .queryExecution.executedPlan.toString
      val spans = "\\*\\(\\d+\\)".r.findAllIn(plan).toList.distinct.length
      // the round-5 single-scan shape fused the two aggregation branches
      // into one chain: 3 spans now cover the whole flagship (was 4)
      assert(spans >= 3, s"expected >=3 codegen spans, got $spans")
      // custom expressions run INSIDE codegen stages (star-prefixed nodes):
      // the map-side region lookup on the default (Auto -> Broadcast)
      // plan, the packed ray cast on the shuffle join path
      assert(plan.contains("regions_at"), "region lookup in plan")
      assert(!plan.contains("CodegenFallback"), "no fallback")
      val sPlan = Pipeline.coverageStats(spark, pages, 8, SpatialJoin.Shuffle)
        .queryExecution.executedPlan.toString
      assert(sPlan.contains("pip_contains"), "pip in shuffle plan")
      assert(!sPlan.contains("CodegenFallback"), "no fallback (shuffle)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("plan: Auto flagship looks regions up map-side; Shuffle keeps the join") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val pages = Pages.synthesize(spark, 200, 2)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Pipeline.coverageStats(spark, pages, 8)
        .queryExecution.executedPlan
      // no probe explode, no candidate/refine join, no broadcast build
      assert(exec.collect { case g: GenerateExec => g }.isEmpty, exec)
      assert(exec.collect { case j: BaseJoinExec => j }.isEmpty, exec)
      assert(exec.collect { case b: BroadcastExchangeExec => b }.isEmpty, exec)
      // two shuffles: the point-row dedup (byte-identical records collapse,
      // "counts per crawl record" below) and the per-tile partials
      assert(exec.collect { case e: ShuffleExchangeExec => e }.length == 2, exec)
      // the lookup runs inside a whole-stage codegen stage
      val lookup = exec.toString.linesIterator
        .filter(_.contains("regions_at(")).toList
      assert(lookup.nonEmpty &&
        lookup.forall("\\*\\(\\d+\\) ".r.findFirstIn(_).nonEmpty), lookup)
      // the shuffle mode keeps the explode -> join -> refine parity path
      val sPlan = Pipeline.coverageStats(spark, pages, 8, SpatialJoin.Shuffle)
        .queryExecution.executedPlan.toString
      assert(sPlan.contains("SortMergeJoin") &&
        sPlan.contains("pip_contains_packed") && !sPlan.contains("regions_at"), sPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pruned flagship: count() keeps no lookup, no extraction, builds no pack") {
    // Bench's count() flagship times a Catalyst-pruned plan:
    // the per-tile count never reads regions or tokens, so neither the
    // lookup nor the token extraction may survive — and the packed cover
    // must not be built (it would land in every count() timing)
    val pages = Pages.synthesize(spark, 300, 4)
    val cover = SpatialJoin.coverDF(spark)
    val stats = Pipeline.coverageStats(spark, pages, 8, SpatialJoin.Auto(), Some(cover))
    val plan = stats.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!plan.contains("regions_at") && !plan.contains("token_count") &&
      !plan.contains("extract_text"), plan)
    assert(stats.count() > 0)
    assert(!cover.packed.isBuilt)
    // positive control: a plan that keeps the lookup builds the pack
    stats.write.format("noop").mode("overwrite").save()
    assert(cover.packed.isBuilt)
  }

  test("coverageStats equals a naive recomputation") {
    val pages = Pages.synthesize(spark, 1500, 4)
    val got = Pipeline.coverageStats(spark, pages, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // naive: geocode + tokens per row, PIP per polygon, group in memory
    val raw = pages.select("url", "html").collect()
    case class P(url: String, lat: Double, lon: Double, tokens: Long)
    val pts = raw.flatMap { r =>
      val html = new String(r.getAs[Array[Byte]](1),
        java.nio.charset.StandardCharsets.UTF_8)
      graft.core.Geocode.fromString(html).map { case (lat, lon) =>
        P(r.getString(0), lat, lon,
          graft.core.TextExtract.countWsTokens(
            graft.core.TextExtract.extractFromString(html)).toLong)
      }
    }
    val expected = pts.groupBy(p => graft.core.Cells.encode(p.lat, p.lon, 7))
      .map { case (tile, ps) =>
        val (x, y) = graft.core.Cells.toXY(tile)
        val matched = ps.count(p => Polygons.regionsContaining(p.lat, p.lon).nonEmpty)
        (x, y, ps.size.toLong, ps.map(_.tokens).sum, matched.toLong)
      }.toSet
    assert(got == expected)
  }

  test("flagship entry returns rows at smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("coverageStats plan scans the pages relation exactly once") {
    // the single-scan contract (SpatialJoin.assignRegions): totals and
    // match counts come from ONE pass — the 100-TB html column must not
    // appear as two scan leaves in the optimized plan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val path = java.nio.file.Files.createTempDirectory("graftonepass").toString + "/pages"
    Pages.writeCorpus(spark, 500, path, numPartitions = 2)
    val pages = Pages.read(spark, path)
    val plan = Pipeline.coverageStats(spark, pages, 8)
      .queryExecution.optimizedPlan
    val pageScans = plan.collectLeaves().collect {
      case l: LogicalRelation if (l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.exists(_.toString.contains("graftonepass"))
        case _ => false
      }) => l
    }
    assert(pageScans.length == 1,
      s"expected exactly 1 pages scan, got ${pageScans.length}:\n$plan")
    // and the contract survives pre-declared hot-cell salting: the
    // conditional-salt join keeps ONE probe consumer (a hot/cold union
    // would add a second scan leaf — the regression this pins)
    val hotMode = SpatialJoin.ShuffleSaltedHot(4,
      Seq(graft.core.Cells.encode(10.0, 20.0, 8)), 8)
    val saltedPlan = Pipeline.coverageStats(spark, pages, 8, hotMode)
      .queryExecution.optimizedPlan
    val saltedScans = saltedPlan.collectLeaves().collect {
      case l: LogicalRelation if (l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.exists(_.toString.contains("graftonepass"))
        case _ => false
      }) => l
    }
    assert(saltedScans.length == 1,
      s"expected exactly 1 pages scan under salted-hot, got ${saltedScans.length}")
  }

  test("coverageStats counts per crawl record, not per url") {
    // real Common-Crawl input repeats urls across crawls; row identity is
    // (url, warc_ts): re-crawled records each count, byte-identical
    // duplicate records collapse once
    val pages = Pages.synthesize(spark, 300, 4)
    def totals(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Pipeline.coverageStats(spark, df, 8)
        .agg(sum("pages"), sum("matched")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (pBase, mBase) = totals(pages)
    assert(pBase > 0 && mBase > 0)
    val recrawl = pages.withColumn("warc_ts",
      expr("warc_ts + INTERVAL 1 DAY"))
    assert(totals(pages.unionByName(recrawl)) == (2 * pBase, 2 * mBase))
    assert(totals(pages.unionByName(pages)) == (pBase, mBase))
  }

  test("assignOuter: matched subset == assign, unmatched kept with null") {
    val pts = GeoFixtures.points(spark, sfDir)
    val cover = SpatialJoin.coverDF(spark)
    val inner = SpatialJoin.assign(pts, "k", cover)
      .select("k", "region_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val outer = SpatialJoin.assignOuter(pts, "k", cover)
      .select("k", "region_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // matched rows identical to the inner join's
    assert(outer.collect { case (k, Some(rid)) => (k, rid) }.toSet == inner)
    // a matched point never also carries a null row; an unmatched point
    // carries exactly one
    val matchedKeys = inner.map(_._1)
    assert(outer.collect { case (k, None) => k }.toSet ==
      pts.select("k").collect().map(_.getLong(0)).toSet -- matchedKeys)
    assert(outer.length == outer.distinct.length)
  }

  test("assignRegions is mode-independent (broadcast/shuffle/salted/adaptive)") {
    val pts = GeoFixtures.points(spark, sfDir)
    val cover = SpatialJoin.coverDF(spark)
    def run(m: SpatialJoin.Mode) =
      SpatialJoin.assignRegions(pts, "k", cover, m)
        .select(col("k"), col("regions")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val base = run(SpatialJoin.Broadcast)
    assert(base.exists(_._2.nonEmpty) && base.exists(_._2.isEmpty))
    assert(run(SpatialJoin.Shuffle) == base)
    assert(run(SpatialJoin.ShuffleSalted(4)) == base)
    assert(run(SpatialJoin.ShuffleSaltedAdaptive(4, 50)) == base)
    val hotT = SpatialJoin.hotTilesFromStats(tileStatsOf(pts, 4), 4, 10)
    assert(run(SpatialJoin.ShuffleSaltedHot(4, hotT, 4)) == base)
  }
}

/** Exposes GeoQueries.assigned for tests without widening its API. */
object GeoQueriesHelper {
  def assigned(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.queries.GeoQueries.assigned(s, d)
}
