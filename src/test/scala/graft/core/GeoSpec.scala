package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

class GeoSpec extends AnyFunSuite with PropHelpers {

  val gf = new GeometryFactory()

  def jtsPoly(rings: Array[Array[Double]]) = {
    def toRing(r: Array[Double]) = {
      val pts = (r.grouped(2).map(a => new Coordinate(a(0), a(1))).toSeq :+
        new Coordinate(r(0), r(1))).toArray
      gf.createLinearRing(pts)
    }
    gf.createPolygon(toRing(rings(0)), rings.drop(1).map(toRing))
  }

  test("pip hand cases: convex quad") {
    val quad = Polygons.all.find(_.name == "quad").get.rings
    assert(Geo.contains(10.0, 10.0, quad))
    assert(!Geo.contains(10.0, 30.0, quad))
    assert(!Geo.contains(25.0, 10.0, quad)) // above top edge (lat 20.001)
    assert(Geo.contains(19.99, 24.99, quad))
  }

  test("pip hand cases: concave L-shape") {
    val l = Polygons.all.find(_.name == "lshape").get.rings
    assert(Geo.contains(-5.0, -45.0, l))   // in the vertical arm
    assert(Geo.contains(-5.0, -35.0, l))   // in the horizontal arm
    assert(!Geo.contains(5.0, -35.0, l))   // in the notch
  }

  test("pip hand cases: hole") {
    val h = Polygons.all.find(_.name == "holed").get.rings
    assert(Geo.contains(-28.0, 65.0, h))   // in shell, outside hole
    assert(!Geo.contains(-20.0, 75.0, h))  // inside hole
    assert(!Geo.contains(-40.0, 75.0, h))  // outside shell
  }

  test("pip agrees with JTS on the fixture polygons over a point grid") {
    val pts = for {
      lat <- BigDecimal(-60) to BigDecimal(60) by BigDecimal("1.37")
      lon <- BigDecimal(-180) to BigDecimal(179) by BigDecimal("2.71")
    } yield (lat.toDouble, lon.toDouble)
    Polygons.all.foreach { p =>
      val jp = jtsPoly(p.rings)
      pts.foreach { case (lat, lon) =>
        val ours = Geo.contains(lat, lon, p.rings)
        val theirs = jp.contains(gf.createPoint(new Coordinate(lon, lat)))
        assert(ours == theirs, s"poly=${p.name} lat=$lat lon=$lon")
      }
    }
  }

  test("pip agrees with JTS on random triangles") {
    val coord = Gen.chooseNum(-50.0, 50.0)
    val triGen = for {
      x1 <- coord; y1 <- coord; x2 <- coord; y2 <- coord
      x3 <- coord; y3 <- coord; px <- coord; py <- coord
    } yield (x1, y1, x2, y2, x3, y3, px, py)
    forAll(triGen) { case (x1, y1, x2, y2, x3, y3, px, py) =>
      val area = (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)
      if (math.abs(area) > 1e-6) { // skip degenerate triangles
        val rings = Array(Array(x1, y1, x2, y2, x3, y3))
        val jp = jtsPoly(rings)
        val ours = Geo.contains(py, px, rings)
        val theirs = jp.contains(gf.createPoint(new Coordinate(px, py)))
        // allow disagreement only within a hair of the boundary
        if (jp.getBoundary.distance(gf.createPoint(new Coordinate(px, py))) > 1e-9)
          assert(ours == theirs)
      }
    }
  }

  test("cover soundness: every interior point's cell has an ancestor in cover") {
    Polygons.all.foreach { p =>
      val cov = Geo.cover(p.rings, 7, 12)
      assert(cov.nonEmpty, p.name)
      val covSet = cov.toSet
      // sample interior points via rejection over bbox
      val (la0, la1, lo0, lo1) = Geo.bbox(p.rings)
      var found = 0
      var i = 0
      while (found < 50 && i < 20000) {
        val lat = la0 + (la1 - la0) * ((i * 7919 % 1000) / 1000.0)
        val lon = lo0 + (lo1 - lo0) * ((i * 104729 % 1000) / 1000.0)
        if (Geo.contains(lat, lon, p.rings)) {
          found += 1
          val anc = (7 to 12).map(r => Cells.encode(lat, lon, r))
          assert(anc.exists(covSet.contains),
            s"poly=${p.name} lat=$lat lon=$lon not covered")
        }
        i += 1
      }
      assert(found > 0, s"no interior points sampled for ${p.name}")
    }
  }

  test("cover cells are disjoint (no cell is an ancestor of another)") {
    Polygons.all.foreach { p =>
      val cov = Geo.cover(p.rings, 7, 12)
      val set = cov.toSet
      cov.foreach { c =>
        var r = Cells.res(c) - 1
        while (r >= 7) {
          assert(!set.contains(Cells.parent(c, r)),
            s"poly=${p.name}: ${Cells.parent(c, r)} is ancestor of $c")
          r -= 1
        }
      }
    }
  }

  test("cover tightness: cells fully outside never emitted (center check)") {
    Polygons.all.foreach { p =>
      val cov = Geo.cover(p.rings, 7, 12)
      val interior = cov.filter(c => Cells.res(c) < 12)
      interior.foreach { c =>
        val (la0, la1, lo0, lo1) = Cells.bounds(c)
        assert(Geo.contains((la0 + la1) / 2, (lo0 + lo1) / 2, p.rings),
          s"poly=${p.name}: coarse cell $c center not inside")
      }
    }
  }

  test("d2 is symmetric and zero on identity") {
    forAll(Gen.chooseNum(-80.0, 80.0), Gen.chooseNum(-170.0, 170.0)) { (lat, lon) =>
      assert(Geo.d2(lat, lon, lat, lon) == 0.0)
      assert(Geo.d2(lat, lon, 0.0, 0.0) == Geo.d2(0.0, 0.0, lat, lon))
    }
  }

  test("packed-ring pip == nested pip on fixtures and random points") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def packedPip(lat: Double, lon: Double, rings: Array[Array[Double]]) = {
      val flat = new GenericArrayData(rings.flatten)
      val offsets = new GenericArrayData(rings.scanLeft(0)(_ + _.length))
      graft.functions.CellRuntime.pipPacked(lat, lon, flat, offsets)
    }
    val coord = Gen.chooseNum(-85.0, 85.0)
    val lonG = Gen.chooseNum(-180.0, 180.0)
    // fixture polygons (incl. the holed + multi-part ones) on random points:
    // the packed layout must be BIT-identical to the nested one — same
    // fixed-order crossing test, just a different vertex container
    forAll(Gen.zip(coord, lonG)) { case (lat, lon) =>
      Polygons.all.foreach { p =>
        assert(packedPip(lat, lon, p.rings) == Geo.contains(lat, lon, p.rings),
          s"${p.name} at ($lat, $lon)")
      }
    }
    // the packed cover's refine (regions_at) runs the same kernel: one part
    // under the root cell, so every point is a candidate and the answer is
    // exactly bbox && ray cast — equal to Geo.contains, vertices and edge
    // midpoints included (the bbox test is inclusive, so it never rejects
    // a point the ray cast would accept)
    import graft.functions.PackedCover
    def rootPack(p: Polygons.PolyPart) = PackedCover(
      Array((Cells.mkCell(0, 0L), p.regionId, p.part)),
      Array(PackedCover.Part(p.regionId, p.part, p.rings.flatten,
        p.rings.scanLeft(0)(_ + _.length), p.latMin, p.latMax, p.lonMin,
        p.lonMax)),
      Seq(0), 12)
    Polygons.all.foreach { p =>
      val pack = rootPack(p)
      val onBoundary = p.rings.toSeq.flatMap { ring =>
        val n = ring.length / 2
        (0 until n).flatMap { i =>
          val j = (i + 1) % n
          Seq((ring(2 * i + 1), ring(2 * i)),
            ((ring(2 * i + 1) + ring(2 * j + 1)) / 2, (ring(2 * i) + ring(2 * j)) / 2))
        }
      }
      val inBox = Gen.zip(Gen.choose(p.latMin - 0.5, p.latMax + 0.5),
        Gen.choose(p.lonMin - 0.5, p.lonMax + 0.5))
      val sampled = (0 until propRuns).map(i =>
        inBox.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
      (onBoundary ++ sampled).foreach { case (lat, lon) =>
        val hit = pack.regionsAt(lat, lon).toLongArray().toSeq
        assert(hit == (if (Geo.contains(lat, lon, p.rings)) Seq(p.regionId) else Nil),
          s"${p.name} at ($lat, $lon)")
      }
    }
  }
}
