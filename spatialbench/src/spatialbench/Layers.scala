package spatialbench

import org.apache.spark.sql.{functions => F}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.functions.GeoExpressions
import graft.join.GridNearestJoin
import graft.plans.{PackedSpatialIndex, SpatialProbe}
import graft.spatial.{GeoKit, Geodesic, SpatialPredicate}

/**
 * Per-layer measurements on one workload's own inputs, each a timed call
 * into a module's public functions: `functions` (GeoExpressions), `spatial`
 * (GeoKit, Geodesic), `plans` (PackedSpatialIndex, SpatialProbe) and `join`
 * (GridNearestJoin.autoCellDeg, and the cell equi-join's candidate pairs
 * counted by a query of the benchmark's own). Every timed batch is a span
 * in the "micro" trace.
 */
final class Layers(h: Harness, tracer: Tracer) {
  private val w = h.w
  private val gen = Workloads.Gen(w, h.seed)
  private val Trace = "micro"
  private val Reps = 5
  @volatile private var sink = 0L

  /** Median over `Reps` batches of the batch time divided by `ops`. */
  private def perOp(name: String, layer: String, ops: Int, reps: Int = Reps)(batch: => Unit): Double = {
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span(Trace, 0, name, layer)(batch)
      (System.nanoTime() - t0).toDouble / ops
    }.sorted
    times(times.length / 2)
  }

  def measure(expectedCount: Long): Seq[(String, Double)] = {
    val nSample = math.min(w.probes, 10000)
    val probeIdx = Array.tabulate(nSample)(k => (k.toLong * w.probes) / nSample)
    val probeXY = probeIdx.map(gen.probe)
    val extWkt: Array[String] = Array.tabulate(w.external) { j =>
      if (w.zones) gen.zoneWkt(j)
      else { val (x, y) = gen.externalPoint(j); s"POINT ($x $y)" }
    }
    val extWkb = extWkt.map(s => GeoExpressions.computeWkbFromWkt(UTF8String.fromString(s)))
    val probeWkb = probeXY.map { case (x, y) => GeoExpressions.computeWkbPoint(x, y) }
    val probeGeom = probeWkb.map(GeoKit.wkbToGeom)
    val pred = SpatialPredicate.parse(w.predicate)

    // functions: WKB construction from points and from WKT
    val wkbPointNs = perOp("GeoExpressions.computeWkbPoint", "functions", nSample) {
      var acc = 0L
      probeXY.foreach { case (x, y) => acc += GeoExpressions.computeWkbPoint(x, y).length }
      sink += acc
    }
    val wktN = math.min(extWkt.length, 5000)
    val wktUtf = extWkt.take(wktN).map(UTF8String.fromString)
    val wkbFromWktNs = perOp("GeoExpressions.computeWkbFromWkt", "functions", wktN) {
      var acc = 0L
      wktUtf.foreach(s => acc += GeoExpressions.computeWkbFromWkt(s).length)
      sink += acc
    }

    // spatial: WKB parse of the build side
    val parseN = math.min(extWkb.length, 20000)
    val wkbParseNs = perOp("GeoKit.wkbToGeom", "spatial", parseN) {
      var acc = 0L
      var j = 0
      while (j < parseN) { acc += GeoKit.wkbToGeom(extWkb(j)).getNumPoints; j += 1 }
      sink += acc
    }

    // plans: index build over the whole external side, then the probe kernel
    val ids = Array.tabulate(w.external)(_.toLong)
    val buildS = perOp("PackedSpatialIndex.tree", "plans", 1, reps = 3) {
      sink += new PackedSpatialIndex(ids, extWkb).tree.size()
    } / 1e9
    val idx = new PackedSpatialIndex(ids, extWkb)
    val probe = new SpatialProbe(idx.geoms, idx.tree)
    val needDist = w.distance
    val probeUs = perOp("SpatialProbe.matches", "plans", nSample, reps = 3) {
      var acc = 0L
      probeGeom.foreach(g => acc += probe.matches(g, pred, SpatialProbe.AlwaysTrue, needDist).size)
      sink += acc
    } / 1e3

    // plans: filter (STRtree envelope query) vs refine outcome per probe
    val candPairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var candidates = 0L; var matches = 0L
    probeGeom.indices.foreach { k =>
      val g = probeGeom(k)
      val env = searchEnvelope(g, pred, probe, idx.geoms)
      val cs = scala.collection.mutable.ArrayBuffer.empty[Int]
      idx.tree.query(env, (item: Any) => cs += item.asInstanceOf[Integer].intValue())
      candidates += cs.size
      matches += probe.matches(g, pred, SpatialProbe.AlwaysTrue, false).size
      if (candPairs.size < 20000) cs.foreach(j => candPairs += ((k, j)))
    }
    if (candPairs.isEmpty) probeGeom.indices.foreach(k => candPairs += ((k, k % w.external)))
    val pairs = candPairs.toArray

    // functions: exact relate on candidate pairs (the workload's relation,
    // `within` for the point workloads)
    val relOrdinal = GeoExpressions.predOrdinal(pred match {
      case SpatialPredicate.Within | SpatialPredicate.Contains | SpatialPredicate.Intersects |
           SpatialPredicate.Overlaps => pred.toString.toLowerCase
      case _ => "within"
    })
    val relateNs = perOp("GeoExpressions.computeRelates", "functions", pairs.length) {
      var acc = 0L
      pairs.foreach { case (k, j) => if (GeoExpressions.computeRelates(probeWkb(k), extWkb(j), relOrdinal)) acc += 1 }
      sink += acc
    }

    // spatial: Vincenty inverse on candidate pairs
    val extXY: Array[(Double, Double)] = Array.tabulate(w.external) { j =>
      val c = idx.geoms(j).getCentroid; (c.getX, c.getY)
    }
    val geodesicNs = perOp("Geodesic.inverseMeters", "spatial", pairs.length) {
      var acc = 0.0
      pairs.foreach { case (k, j) =>
        acc += Geodesic.inverseMeters(probeXY(k)._2, probeXY(k)._1, extXY(j)._2, extXY(j)._1)
      }
      sink += acc.toLong
    }

    // join: the density-derived cell over the external view (a Spark job)
    val extDF = h.spark.table(h.ExternalView)
    val extWkbCol =
      if (w.zones) GeoExpressions.wkbFromWkt(F.col("wkt"))
      else GeoExpressions.wkbPoint(F.col("slon"), F.col("slat"))
    var density = 0.0
    val autocellS = perOp("GridNearestJoin.autoCellDeg", "join", 1, reps = 3) {
      density = GridNearestJoin.autoCellDeg(extDF, extWkbCol)
    } / 1e9
    val cellDeg = math.max(density, 2.0 * w.radiusMeters / 110500.0)

    // functions: grid-cell explode of the probe side at that cell
    var cells = 0L
    val gridCellsNs = perOp("GeoExpressions.computeGridCells", "functions", nSample) {
      var acc = 0L
      probeWkb.foreach(b => acc += GeoExpressions.computeGridCells(b, cellDeg, w.radiusMeters).numElements())
      cells = acc
    }

    // join: candidate pairs of the one-cell equi-join at that cell
    val (candidatePairs, _) = tracer.span(Trace, 0, "cell equi-join pairs", "join") {
      val l = h.probeDF.select(F.explode(GeoExpressions.gridCells(
        GeoExpressions.wkbPoint(F.col("lon"), F.col("lat")), cellDeg, w.radiusMeters)).as("cell"))
      val r = extDF.select(F.explode(GeoExpressions.gridCells(extWkbCol, cellDeg)).as("cell"))
      l.join(r, "cell").count()
    }

    Seq(
      "plans.build_rows" -> w.external.toDouble,
      "plans.build_wkb_mb" -> extWkb.map(_.length.toLong).sum / 1e6,
      "plans.index_build_s" -> buildS,
      "plans.probe_us" -> probeUs,
      "plans.candidates_per_probe" -> candidates.toDouble / nSample,
      "plans.refine_precision" -> (if (candidates == 0) 0.0 else matches.toDouble / candidates),
      "functions.wkb_point_ns" -> wkbPointNs,
      "functions.wkb_from_wkt_ns" -> wkbFromWktNs,
      "functions.relate_ns" -> relateNs,
      "functions.grid_cells_ns" -> gridCellsNs,
      "functions.grid_fanout" -> cells.toDouble / nSample,
      "spatial.wkb_parse_ns" -> wkbParseNs,
      "spatial.geodesic_ns" -> geodesicNs,
      "join.cell_deg" -> cellDeg,
      "join.autocell_s" -> autocellS,
      "join.pair_precision" -> (if (candidatePairs == 0) 0.0 else expectedCount.toDouble / candidatePairs))
  }

  /** The envelope the STRtree filter must return for `g`: the point itself
    * for a relation, the radius-expanded envelope for withindist (the exec's
    * own bound), and for nearest the disc through the nearest match. */
  private def searchEnvelope(g: Geometry, pred: SpatialPredicate, probe: SpatialProbe,
      geoms: Array[Geometry]): Envelope = pred match {
    case SpatialPredicate.WithinDist(m) =>
      val (x0, x1, y0, y1) = GeoExpressions.expandedBounds(g.getEnvelopeInternal, m)
      new Envelope(x0, x1, y0, y1)
    case SpatialPredicate.Nearest =>
      val e = new Envelope(g.getEnvelopeInternal)
      val i = probe.nearestMatch(g, SpatialProbe.AlwaysTrue)
      if (i >= 0) e.expandBy(g.distance(geoms(i)))
      e
    case _ => g.getEnvelopeInternal
  }
}
