package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Polygons
import graft.operators.SpatialJoin

/**
 * Boundary-polygon ingestion from GeoJSON-ish JSON lines (SURVEY.md §2.A3):
 * one object per line with `region_id`, `part`, `name`, and `rings` as
 * [[lon,lat,lon,lat,...]] (ring 0 shell, rest holes — the engine's native
 * layout, a flattened GeoJSON Polygon coordinates array).
 *
 * Read with an explicit schema (spark.read.json) into a polygon relation
 * that SpatialJoin.coverDFDistributed covers on executors — the file is
 * never collected to the driver.
 */
object PolygonJson {

  val schema = "region_id LONG, part INT, name STRING, rings ARRAY<ARRAY<DOUBLE>>"

  /** The polygon RELATION (distributed; nothing collected) — the input
    * shape of SpatialJoin.coverDFDistributed. */
  def readDF(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Parts -> cover sides with covers computed ON EXECUTORS (SpatialJoin
    * .coverDFDistributed doc) — the one path from a polygon file to a
    * cover. */
  def coverFromJsonDistributed(spark: SparkSession, path: String,
                               rMin: Int = SpatialJoin.RMin,
                               rMax: Int = SpatialJoin.RMax): SpatialJoin.CoverSides =
    SpatialJoin.coverDFDistributed(readDF(spark, path), rMin, rMax)

  /** Serialize parts as JSON lines (fixture round-trip + export). */
  def toJsonLines(parts: Seq[Polygons.PolyPart]): String =
    parts.map { p =>
      val rings = p.rings.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"region_id":${p.regionId},"part":${p.part},"name":"${p.name}","rings":$rings}"""
    }.mkString("\n")
}
