package graft.functions

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.core.Cells

/**
 * A polygon cover packed for in-place region lookup (`regions_at`): the
 * cover cells as one sorted `long[]` with a part index per entry, and per
 * part its region id, bbox and packed rings (the `pip_contains_packed`
 * layout: flat [lon,lat,...] vertices + ring start offsets). Read-only
 * once built; executors receive it as one broadcast. It serves both
 * region lookups of the Broadcast mode: SpatialJoin.assign and
 * SpatialJoin.assignRegions.
 *
 * The entries are exactly the rows of the cover's cells ⋈ parts equi-join
 * on (region_id, part), so a lookup sees the same candidates as the
 * shuffle modes' explode → join → refine path, refines them with the same
 * bbox conjunction and the same ray cast (CellRuntime.pipPacked), and
 * returns the same region set.
 */
final class PackedCover private (
    cells: Array[Long],        // sorted; equal cells of overlapping parts adjacent
    entryPart: Array[Int],     // part index per cells entry
    resolutions: Array[Int],   // the resolutions the cover uses
    rMax: Int,
    partRegion: Array[Long],
    partBox: Array[Double],    // latMin, latMax, lonMin, lonMax per part
    partFlat: Array[ArrayData],
    partOffsets: Array[ArrayData]) extends Serializable {

  /** Sorted distinct ids of the regions containing (lat, lon): the point's
    * ancestor at each cover resolution is binary-searched, then every
    * entry of that cell is refined by bbox + ray cast. */
  def regionsAt(lat: Double, lon: Double): ArrayData = {
    val leaf = Cells.encode(lat, lon, rMax)
    var hits: Array[Long] = null
    var n = 0
    var ri = 0
    while (ri < resolutions.length) {
      val c = Cells.parent(leaf, resolutions(ri))
      var i = lowerBound(c)
      while (i < cells.length && cells(i) == c) {
        val p = entryPart(i)
        val b = 4 * p
        if (lat >= partBox(b) && lat <= partBox(b + 1) &&
            lon >= partBox(b + 2) && lon <= partBox(b + 3) &&
            CellRuntime.pipPacked(lat, lon, partFlat(p), partOffsets(p))) {
          if (hits == null) hits = new Array[Long](4)
          else if (n == hits.length) hits = java.util.Arrays.copyOf(hits, 2 * n)
          hits(n) = partRegion(p)
          n += 1
        }
        i += 1
      }
      ri += 1
    }
    if (n == 0) PackedCover.Empty
    else {
      java.util.Arrays.sort(hits, 0, n)
      var m = 1
      var k = 1
      while (k < n) {
        if (hits(k) != hits(m - 1)) { hits(m) = hits(k); m += 1 }
        k += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hits, m))
    }
  }

  private def lowerBound(c: Long): Int = {
    var lo = 0
    var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < c) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object PackedCover {
  /** One `parts` row of a cover (SpatialJoin.CoverSides.parts). */
  final case class Part(regionId: Long, part: Int, flat: Array[Double],
                        offsets: Array[Int], latMin: Double, latMax: Double,
                        lonMin: Double, lonMax: Double)

  /** The no-region answer, shared: never mutated by readers. */
  val Empty: ArrayData = UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))

  /** Pack a cover from its `(cell, region_id, part)` rows and its parts.
    * A cell row meets every part row of its (region, part) — none, one or
    * several — as in the equi-join it replaces. */
  def apply(cellRows: Array[(Long, Long, Int)], parts: Array[Part],
            resolutions: Seq[Int], rMax: Int): PackedCover = {
    val partsOf = parts.indices.groupBy(i => (parts(i).regionId, parts(i).part))
    val entries = cellRows
      .flatMap { case (cell, rid, part) =>
        partsOf.getOrElse((rid, part), Nil).map(p => (cell, p)) }
      .sorted
    new PackedCover(entries.map(_._1), entries.map(_._2), resolutions.toArray,
      rMax, parts.map(_.regionId),
      parts.flatMap(p => Array(p.latMin, p.latMax, p.lonMin, p.lonMax)),
      parts.map(p => UnsafeArrayData.fromPrimitiveArray(p.flat): ArrayData),
      parts.map(p => UnsafeArrayData.fromPrimitiveArray(p.offsets): ArrayData))
  }
}

/**
 * The broadcast handle of a cover's [[PackedCover]], built on the driver at
 * first use: when a plan that keeps `regions_at` is code-generated
 * (RegionsAt.doGenCode) or serialized for its tasks (`writeObject`, the
 * interpreted path). Building a cover, or running a plan the optimizer
 * pruned the lookup out of, never builds it. Owned by the cover value
 * (SpatialJoin.CoverSides), not by a global memo: the broadcast lives as
 * long as the cover does.
 */
final class PackedCoverRef(@transient private val sc: SparkContext,
                           @transient private val build: () => PackedCover)
    extends Serializable {
  @volatile private var handle: Broadcast[PackedCover] = _

  def broadcast: Broadcast[PackedCover] = {
    if (handle == null) synchronized {
      if (handle == null) handle = sc.broadcast(build())
    }
    handle
  }

  private[graft] def isBuilt: Boolean = handle != null

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    broadcast
    out.defaultWriteObject()
  }

  override def toString: String = "packed_cover"
}
