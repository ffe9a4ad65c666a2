package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Distributed OSM XML parsing (SURVEY.md §2.A2 — the reference's stage B
 * stream-parses an osmfilter'ed national extract with a SAX parser [PK]).
 *
 * Spark mapping: one XML document per file, parsed executor-side with a
 * forward-only StAX pull parser inside `mapPartitions` over the file list
 * (plain Scala, no Catalyst extension needed — SURVEY.md §2.A2). Files
 * parallelize across executors; production-scale inputs arrive as many
 * per-region extracts (or PBF blocks), so per-file is the natural split.
 *
 * Extracted per object: id, type (node/way/relation), lat/lon (nodes only;
 * ways/relations would need geometry assembly — the reference's matching
 * needs only the wikipedia tags + node coords), and the full tag map.
 */
object OsmXml {

  final case class OsmMember(mtype: String, ref: Long, role: String)

  final case class OsmObject(
      featureId: Long,
      featureType: String,
      lat: Option[Double],
      lon: Option[Double],
      tags: Map[String, String],
      ndRefs: Seq[Long] = Nil,
      members: Seq[OsmMember] = Nil)

  /** Parse one OSM XML document (string form). Pure, deterministic. */
  def parseDocument(xml: String): Iterator[OsmObject] = {
    val factory = javax.xml.stream.XMLInputFactory.newInstance()
    factory.setProperty(javax.xml.stream.XMLInputFactory.IS_COALESCING, true)
    factory.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    val reader = factory.createXMLStreamReader(new java.io.StringReader(xml))
    val out = scala.collection.mutable.ArrayBuffer.empty[OsmObject]
    var cur: OsmObject = null
    var tags = Map.newBuilder[String, String]
    var nds = Seq.newBuilder[Long]
    var membs = Seq.newBuilder[OsmMember]
    import javax.xml.stream.XMLStreamConstants._
    while (reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          reader.getLocalName match {
            case t @ ("node" | "way" | "relation") =>
              def attr(n: String): Option[String] =
                Option(reader.getAttributeValue(null, n))
              cur = OsmObject(
                attr("id").map(_.toLong).getOrElse(-1L), t,
                attr("lat").map(java.lang.Double.parseDouble),
                attr("lon").map(java.lang.Double.parseDouble),
                Map.empty)
              tags = Map.newBuilder
              nds = Seq.newBuilder
              membs = Seq.newBuilder
            case "tag" if cur != null =>
              val k = reader.getAttributeValue(null, "k")
              val v = reader.getAttributeValue(null, "v")
              if (k != null && v != null) tags += (k -> v)
            case "nd" if cur != null =>
              Option(reader.getAttributeValue(null, "ref"))
                .foreach(r => nds += r.toLong)
            case "member" if cur != null =>
              val t = reader.getAttributeValue(null, "type")
              val r = reader.getAttributeValue(null, "ref")
              if (t != null && r != null) membs += OsmMember(t, r.toLong,
                Option(reader.getAttributeValue(null, "role")).getOrElse(""))
            case _ =>
          }
        case END_ELEMENT =>
          reader.getLocalName match {
            case "node" | "way" | "relation" if cur != null =>
              out += cur.copy(tags = tags.result(), ndRefs = nds.result(),
                members = membs.result())
              cur = null
            case _ =>
          }
        case _ =>
      }
    }
    reader.close()
    out.iterator
  }

  /** Distributed read: each file parsed on an executor. */
  def read(spark: SparkSession, pathGlob: String): Dataset[OsmObject] = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(pathGlob)
      .flatMap { case (_, content) => parseDocument(content) }
      .toDS()
  }

  /** Assemble OSM boundary/multipolygon relations into PolyPart rings —
    * the reference's actual polygon source (admin boundaries come from OSM
    * relations over member ways, not pre-baked GeoJSON). Pure function
    * over parsed objects, so the stitcher is unit-testable without Spark.
    *
    * Semantics (the standard OSM multipolygon model, public spec):
    * relations with type=boundary or type=multipolygon; member ways with
    * role "outer" (or the legacy empty role) form shells, role "inner"
    * forms holes. Ways are stitched into closed rings by NODE REF (never
    * by float coordinate equality), reversing segments as needed; a hole
    * is attached to the shell that contains its first vertex. Emitted
    * rings are open (closing vertex dropped), flat [lon,lat,...] — the
    * exact PolyPart layout the covers consume, so
    * "OSM XML -> polygons -> cover -> spatial join" is one composed path
    * (SourcesSpec proves it end-to-end). [[boundariesDistributedFrom]]
    * runs it per relation on executors.
    *
    * Deterministic: relations ordered by id, ways stitched in member
    * order, extension always picks the first matching segment. Unclosed
    * ring sets and members referencing missing ways fail loudly. */
  def boundaryPolygons(objs: Seq[OsmObject]): Seq[graft.core.Polygons.PolyPart] = {
    import graft.core.{Geo, Polygons}
    // nodes without BOTH coordinates never enter the map: a ring vertex
    // must fail loudly at lookup (with the node id), never silently become
    // NaN — NaN comparisons are all-false and would corrupt covers/PIP
    // downstream, contradicting the stitcher's fail-loudly contract
    val nodes = objs.iterator.filter(o =>
        o.featureType == "node" && o.lat.isDefined && o.lon.isDefined)
      .map(o => o.featureId -> (o.lon.get, o.lat.get)).toMap
    val coordless = objs.iterator.filter(o =>
        o.featureType == "node" && (o.lat.isEmpty || o.lon.isEmpty))
      .map(_.featureId).toSet
    val ways = objs.iterator.filter(_.featureType == "way")
      .map(o => o.featureId -> o.ndRefs).toMap
    // distinctBy: overlapping split extracts DUPLICATE border objects (the
    // same relation appears in both regional files); stitching a relation
    // twice would double its member list and fail on the duplicate
    // segments. Ways/nodes dedup for free through the id-keyed maps above.
    val rels = objs.filter(o => o.featureType == "relation" &&
        o.tags.get("type").exists(t => t == "boundary" || t == "multipolygon"))
      .distinctBy(_.featureId)

    def ringsOf(rel: OsmObject, inner: Boolean): Seq[Array[Double]] = {
      val refs = rel.members.filter(m => m.mtype == "way" &&
        (if (inner) m.role == "inner" else m.role == "outer" || m.role.isEmpty))
        .map(_.ref)
      refs.foreach(r => require(ways.contains(r),
        s"relation ${rel.featureId} references missing way $r"))
      stitchRings(refs.map(ways)).map { ringRefs =>
        ringRefs.flatMap { nid =>
          val (lon, lat) = nodes.getOrElse(nid,
            throw new IllegalArgumentException(
              if (coordless(nid))
                s"relation ${rel.featureId} references node $nid without lat/lon"
              else s"relation ${rel.featureId} references missing node $nid"))
          Seq(lon, lat)
        }.toArray
      }
    }

    rels.sortBy(_.featureId).flatMap { rel =>
      val shells = ringsOf(rel, inner = false)
      val holes = ringsOf(rel, inner = true)
      require(shells.nonEmpty, s"relation ${rel.featureId} has no outer ring")
      shells.zipWithIndex.map { case (shell, i) =>
        val mine = holes.filter(h => Geo.contains(h(1), h(0), Array(shell)))
        Polygons.PolyPart(rel.featureId, i, s"osm-${rel.featureId}-$i",
          (shell +: mine).toArray)
      }
    }
  }

  /** Stitch way node-ref polylines into closed rings (open form: the
    * closing ref is dropped). Matching is by endpoint node ref; segments
    * reverse freely (OSM ways have arbitrary direction). Assumes distinct
    * rings of one role set are NODE-DISJOINT (the OSM multipolygon
    * validity rule — rings may not touch); self-touching inputs would
    * close at the first revisit of the start node rather than fail. */
  private[graft] def stitchRings(segs: Seq[Seq[Long]]): Seq[Seq[Long]] = {
    val pool = scala.collection.mutable.ArrayBuffer(
      segs.filter(_.length >= 2): _*)
    val rings = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    while (pool.nonEmpty) {
      val current = scala.collection.mutable.ArrayBuffer(pool.remove(0): _*)
      while (current.head != current.last) {
        val i = pool.indexWhere(s =>
          s.head == current.last || s.last == current.last)
        require(i >= 0,
          s"unclosed ring: no way continues from node ${current.last}")
        val seg = pool.remove(i)
        val oriented = if (seg.head == current.last) seg else seg.reverse
        current ++= oriented.tail
      }
      require(current.length >= 4, "degenerate ring (< 3 distinct vertices)")
      rings += current.dropRight(1).toSeq
    }
    rings.toSeq
  }

  /** One keyed fragment of a boundary relation's input, for the
    * distributed assembly path: kind 0 = relation member (way ref + role
    * at member position midx), kind 1 = way (ndRefs), kind 2 = node
    * (coords; hasCoords=false marks a node present without lat/lon so the
    * stitcher can still name it precisely). Public only because Spark's
    * generated encoder code cannot access a private class — not API. */
  final case class RelPiece(
      relId: Long, kind: Int, midx: Int, wayRef: Long, role: String,
      ndRefs: Seq[Long], nodeId: Long, lon: Double, lat: Double,
      hasCoords: Boolean)

  /** Boundary assembly from a distributed parse: geometry NEVER passes
    * through the driver. Executor-side filtering keeps only boundary
    * relations, their member ways (joined on way id) and those ways'
    * ring nodes (joined on node id) — a planet extract's billions of
    * other nodes never leave the scan. Relations are independent, so the
    * kept inputs are re-keyed by relation id and each relation's ways +
    * ring nodes are grouped onto one executor, where the pure stitcher
    * ([[boundaryPolygons]]) runs on the reconstructed object set —
    * identical PolyParts to the stitcher over the full parse, loud on
    * missing/coordless nodes and unclosed rings exactly as it is
    * (missing ways/nodes drop out of the joins and surface as the
    * stitcher's "references missing ..." failure).
    *
    * Per-relation memory is that relation's own rings — bounded — and
    * thousands of relations assemble in parallel. The result feeds
    * SpatialJoin.coverDFDistributed directly, so "planet XML -> polygons
    * -> covers -> join" is distributed end to end (the only driver-side
    * state is the bounded cover summary).
    *
    * A way shared by two relations (the common admin-hierarchy case) is
    * replicated into both groups by the membership join — correct, and
    * cheap relative to geometry size. */
  def readBoundariesDistributed(spark: SparkSession, pathGlob: String)
      : Dataset[graft.core.Polygons.PolyPart] =
    boundariesDistributedFrom(read(spark, pathGlob))

  /** Source-agnostic form of [[readBoundariesDistributed]] (XML or PBF). */
  def boundariesDistributedFrom(parsed: Dataset[OsmObject])
      : Dataset[graft.core.Polygons.PolyPart] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parse once, spill to executor-local disk: the relation, way and
    // node passes below re-read the parse, not the source bytes
    val objs = parsed
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val rels = objs.filter(o => o.featureType == "relation" &&
      o.tags.get("type").exists(t => t == "boundary" || t == "multipolygon"))
    // (rel, member position, way ref, role) — the membership relation.
    // distinct: overlapping split extracts duplicate border relations
    // (same object in two regional files); identical member pieces must
    // collapse or the reconstructed member list doubles. Duplicate way /
    // node rows dedup downstream (piece distinct in the group, node map).
    // kind 3 = one sentinel per boundary relation: a relation with NO way
    // members would otherwise produce no pieces at all and silently vanish
    // from the groupByKey — the sentinel guarantees every boundary
    // relation reaches the stitcher, which then fails loudly ("has no
    // outer ring")
    val members = rels.flatMap { r =>
      RelPiece(r.featureId, 3, 0, 0L, "", Nil, 0L, 0.0, 0.0, false) +:
        r.members.zipWithIndex.collect {
          case (OsmMember("way", ref, role), i) =>
            RelPiece(r.featureId, 0, i, ref, role, Nil, 0L, 0.0, 0.0, false)
        }
    }.distinct()
    // ways keyed by every relation that references them
    val wayDs = objs.filter(col("featureType") === "way")
    val memberRefs = members.filter(col("kind") === 0) // not the sentinels
    val ways = wayDs.joinWith(memberRefs, wayDs("featureId") === memberRefs("wayRef"))
      .map { case (w, m) =>
        RelPiece(m.relId, 1, 0, w.featureId, "", w.ndRefs, 0L, 0.0, 0.0, false) }
    // (rel, node) pairs a relation's ways need, then the node coords
    val needed = ways.flatMap(p => p.ndRefs.map(n => (p.relId, n)))
      .toDF("relId", "nodeId").distinct()
    val nodeDs = objs.filter(col("featureType") === "node")
    val nodes = nodeDs.joinWith(needed, nodeDs("featureId") === needed("nodeId"))
      .map { case (n, r) =>
        RelPiece(r.getLong(0), 2, 0, 0L, "", Nil, n.featureId,
          n.lon.getOrElse(Double.NaN), n.lat.getOrElse(Double.NaN),
          n.lat.isDefined && n.lon.isDefined) }
    val out = members.union(ways).union(nodes)
      .groupByKey(_.relId)
      .flatMapGroups { (relId, it) =>
        val pieces = it.toSeq
        val rel = OsmObject(relId, "relation", None, None,
          Map("type" -> "boundary"), Nil,
          pieces.filter(_.kind == 0).sortBy(_.midx)
            .map(p => OsmMember("way", p.wayRef, p.role)))
        val wayObjs = pieces.filter(_.kind == 1).distinct
          .map(p => OsmObject(p.wayRef, "way", None, None, Map.empty, p.ndRefs))
        val nodeObjs = pieces.filter(_.kind == 2).map(p =>
          OsmObject(p.nodeId, "node",
            if (p.hasCoords) Some(p.lat) else None,
            if (p.hasCoords) Some(p.lon) else None, Map.empty))
        boundaryPolygons(rel +: (wayObjs ++ nodeObjs))
      }
    // materialize before dropping the parse cache: the result is geometry-
    // sized (bounded), the parse cache is corpus-sized
    val result = out.localCheckpoint(true)
    objs.unpersist(blocking = false)
    result
  }

  /** Feature relation for the tag-match join: objects carrying any
    * wikipedia tag, with the normalized key and error routing columns
    * (SURVEY.md §1.2-2: malformed values flow to errors, never join). */
  def features(spark: SparkSession, pathGlob: String): DataFrame =
    featuresFrom(read(spark, pathGlob))

  /** Source-agnostic form of [[features]] (XML or PBF). */
  def featuresFrom(objs: Dataset[OsmObject]): DataFrame = {
    val spark = objs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    objs.filter(o => o.tags.keys.exists(k =>
        k == "wikipedia" || k.startsWith("wikipedia:")))
      .map(o => (o.featureId, o.featureType,
        o.lat.getOrElse(Double.NaN), o.lon.getOrElse(Double.NaN),
        o.tags, o.tags.getOrElse("wikipedia",
          o.tags.collectFirst {
            // wikipedia:lang=Title variant -> lang:Title
            case (k, v) if k.startsWith("wikipedia:") =>
              k.substring("wikipedia:".length) + ":" + v
          }.getOrElse(""))))
      .toDF("feature_id", "feature_type", "lat", "lon", "tags", "raw_value")
      .withColumn("tag_key", TextFunctions.tagParse(col("raw_value")))
      .withColumn("error_class", TextFunctions.tagClassify(col("raw_value")))
  }
}
