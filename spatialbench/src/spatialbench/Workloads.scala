package spatialbench

import org.locationtech.jts.algorithm.locate.SimplePointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Location}
import org.locationtech.jts.io.WKTReader

import graft.spatial.Geodesic

/** Counter-based random numbers: draw `k` of item `i` in `stream` is a pure
  * function of the seed, so Spark tasks and the driver regenerate exactly
  * the same inputs without shipping them. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def u(seed: Long, stream: Long, i: Long, k: Int): Double =
    (mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i * 16 + k) >>> 11) / 9007199254740992.0 // 2^53

  /** Standard normal (Box-Muller over draws k and k + 1). */
  def gauss(seed: Long, stream: Long, i: Long, k: Int): Double = {
    val u1 = math.max(u(seed, stream, i, k), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u(seed, stream, i, k + 1))
  }
}

/** Where points fall: `bind(seed)` gives point `i` of a random stream. */
sealed trait Layout extends Serializable {
  def bind(seed: Long): (Long, Long) => (Double, Double)
  def describe: String
}

/** Uniform over a lon/lat box. */
final case class Uniform(lon0: Double, lon1: Double, lat0: Double, lat1: Double) extends Layout {
  def point(seed: Long, stream: Long, i: Long): (Double, Double) =
    (lon0 + (lon1 - lon0) * Rng.u(seed, stream, i, 0),
      lat0 + (lat1 - lat0) * Rng.u(seed, stream, i, 1))
  def bind(seed: Long): (Long, Long) => (Double, Double) = point(seed, _, _)
  def describe: String = s"uniform lon [$lon0, $lon1] lat [$lat0, $lat1]"
}

/** Mixture of Gaussian "cities" plus a uniform background. The cities are
  * part of the workload, drawn once from `layoutSeed`: city `c` has its
  * centre uniform in the box, a standard deviation log-spaced by index from
  * sigma0 to sigma1 degrees and a Zipf(`zipf`) weight by index; a
  * `background` share of points is uniform over the box. The run's seed
  * draws the points, so every seed sees the same density field. */
final case class Clustered(cities: Int, sigma0: Double, sigma1: Double, zipf: Double,
    background: Double, box: Uniform, layoutSeed: Long) extends Layout {
  private val CityStream = 7L

  def bind(seed: Long): (Long, Long) => (Double, Double) = {
    val cx = Array.tabulate(cities)(c => box.point(layoutSeed, CityStream, c)._1)
    val cy = Array.tabulate(cities)(c => box.point(layoutSeed, CityStream, c)._2)
    // the heaviest cities are the widest, so no single one is a point mass
    val sd = Array.tabulate(cities)(c =>
      sigma1 * math.exp(math.log(sigma0 / sigma1) * c / math.max(cities - 1, 1)))
    val w = Array.tabulate(cities)(c => 1.0 / math.pow(c + 1, zipf))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    (stream, i) =>
      if (Rng.u(seed, stream, i, 0) < background) box.point(seed, stream + 100, i)
      else {
        val r = Rng.u(seed, stream, i, 1)
        var k = java.util.Arrays.binarySearch(cum, r)
        k = math.min(if (k < 0) -k - 1 else k, cities - 1)
        val lon = cx(k) + sd(k) * Rng.gauss(seed, stream, i, 2)
        val lat = cy(k) + sd(k) * Rng.gauss(seed, stream, i, 4)
        (math.max(-179.9, math.min(179.9, lon)), math.max(-84.0, math.min(84.0, lat)))
      }
  }

  def describe: String =
    f"$cities Gaussian cities from layout seed $layoutSeed (sigma log-spaced $sigma1%.2f..$sigma0%.2f deg " +
      f"by rank, Zipf $zipf%.2f weights) + ${background * 100}%.0f%% uniform background, ${box.describe}"
}

/** One benchmark workload: its inputs and the transformer parameters a user
  * would set. The external side is points, or convex zones when `zones`. */
final case class Workload(
    name: String,
    probes: Int,
    external: Int,
    probeLayout: Layout,
    externalLayout: Layout,
    zones: Boolean,
    broadcast: String,
    predicate: String,
    distance: Boolean,
    probeFiles: Int,
    externalFiles: Int) {

  val radiusMeters: Double = graft.spatial.SpatialPredicate.parse(predicate) match {
    case graft.spatial.SpatialPredicate.WithinDist(m) => m
    case _ => 0.0
  }
  def isNearest: Boolean = predicate == "nearest"
  def extIdCol: String = if (zones) "zid" else "sid"

  /** The same workload over fewer probes (matches per probe unchanged). */
  def withProbes(n: Int): Workload = copy(probes = n)
}

object Workloads {
  private val ProbeStream = 1L
  private val ExternalStream = 2L
  private val ZoneStream = 3L

  /** Box side for `n` zones so that the zones cover it about once. */
  private def zoneBox(n: Int): Uniform = {
    val side = math.sqrt(n * MeanZoneArea)
    Uniform(-5.0, -5.0 + side, 25.0, 25.0 + side)
  }
  // mean area in deg^2 of the zone shapes below: 3/4 polygons inscribed in
  // circles of radius 0.12..0.18 (~0.068), 1/4 rectangles 0.2..0.4 square (0.09)
  private val MeanZoneArea = 0.074

  private val pois = Uniform(-10.0, 30.0, 35.0, 60.0)
  private val world = Uniform(-110.0, 140.0, -40.0, 60.0)
  // dense enough for about one withindist-5km match per probe
  private val cities = Clustered(cities = 400, sigma0 = 0.07, sigma1 = 0.5, zipf = 0.6,
    background = 0.2, box = world, layoutSeed = 1L)

  val all: Seq[Workload] = Seq(
    Workload("poi_nearest_bcast", probes = 250000, external = 50000,
      probeLayout = pois, externalLayout = pois, zones = false,
      broadcast = "external", predicate = "nearest", distance = true,
      probeFiles = 8, externalFiles = 4),
    Workload("zone_within_bcast", probes = 250000, external = 20000,
      probeLayout = zoneBox(20000), externalLayout = zoneBox(20000), zones = true,
      broadcast = "external", predicate = "within", distance = false,
      probeFiles = 8, externalFiles = 4),
    Workload("grid_withindist", probes = 80000, external = 40000,
      probeLayout = cities, externalLayout = cities, zones = false,
      broadcast = "none", predicate = "withindist 5000", distance = true,
      probeFiles = 8, externalFiles = 8))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload `$n`; one of ${all.map(_.name).mkString(", ")}"))

  /** Generator bound to one seed: the inputs as pure functions of the row index. */
  final case class Gen(w: Workload, seed: Long) {
    private val pb = w.probeLayout.bind(seed)
    private val eb = w.externalLayout.bind(seed)
    def probe(i: Long): (Double, Double) = pb(ProbeStream, i)
    def externalPoint(j: Long): (Double, Double) = eb(ExternalStream, j)

    /** Convex zone `j` as WKT: every 4th zone an axis-aligned rectangle, the
      * rest 8..64 vertices on a circle (points on a circle are in convex
      * position), jittered but strictly increasing in angle. */
    def zoneWkt(j: Long): String = {
      val (cx, cy) = externalPoint(j)
      val sb = new StringBuilder("POLYGON ((")
      def pt(x: Double, y: Double): Unit = sb.append(x).append(' ').append(y)
      if (j % 4 == 0) {
        val hw = 0.1 + 0.1 * Rng.u(seed, ZoneStream, j, 0)
        val hh = 0.1 + 0.1 * Rng.u(seed, ZoneStream, j, 1)
        pt(cx - hw, cy - hh); sb.append(", "); pt(cx + hw, cy - hh); sb.append(", ")
        pt(cx + hw, cy + hh); sb.append(", "); pt(cx - hw, cy + hh); sb.append(", ")
        pt(cx - hw, cy - hh)
      } else {
        val n = 8 + (Rng.u(seed, ZoneStream, j, 0) * 57).toInt
        val r = 0.12 + 0.06 * Rng.u(seed, ZoneStream, j, 1)
        val a0 = 2 * math.Pi * Rng.u(seed, ZoneStream, j, 2)
        var x0 = 0.0; var y0 = 0.0
        var k = 0
        while (k < n) {
          val a = a0 + 2 * math.Pi * (k + 0.8 * Rng.u(seed, ZoneStream + 1 + k, j, 3)) / n
          val x = cx + r * math.cos(a); val y = cy + r * math.sin(a)
          if (k == 0) { x0 = x; y0 = y }
          pt(x, y); sb.append(", ")
          k += 1
        }
        pt(x0, y0)
      }
      sb.append("))").toString
    }
  }
}

/**
 * The benchmark's own answer to each workload, computed with JTS and
 * `Geodesic.inverseMeters` directly and never through graft's join path:
 * the exact output row count over all probes, and the exact rows of a
 * seeded sample of probes by brute force over the whole external side.
 */
final class Oracle(w: Workload, seed: Long) {
  private val gen = Workloads.Gen(w, seed)
  private val gf = new GeometryFactory()

  val extLon: Array[Double] = Array.tabulate(w.external)(j => gen.externalPoint(j)._1)
  val extLat: Array[Double] = Array.tabulate(w.external)(j => gen.externalPoint(j)._2)
  lazy val zones: Array[Geometry] = {
    val r = new WKTReader(gf)
    Array.tabulate(w.external)(j => r.read(gen.zoneWkt(j)))
  }

  private def meters(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Int =
    math.round(Geodesic.inverseMeters(lat1, lon1, lat2, lon2)).toInt

  /** Degrees that strictly cover `r` metres at latitude `lat`: a degree of
    * latitude is at least 110.5 km, a degree of longitude at least
    * 111.3 km * cos(phi) at the band edge. */
  private def latPad(r: Double): Double = r / 110000.0 + 1e-9
  private def lonPad(r: Double, lat: Double): Double = {
    val c = math.cos(math.toRadians(math.min(89.0, math.abs(lat) + latPad(r))))
    r / (111000.0 * c) + 1e-9
  }

  /** Rows (external id, distance in metres, or 0) that `probe` must join to. */
  def expectedRows(i: Long): Seq[(Long, Int)] = {
    val (x, y) = gen.probe(i)
    if (w.zones) {
      val p = gf.createPoint(new Coordinate(x, y))
      zones.indices.filter(j => zones(j).getEnvelopeInternal.contains(x, y) && p.within(zones(j)))
        .map(j => (j.toLong, 0))
    } else if (w.isNearest) {
      val best = nearestSet(x, y)
      best.map(j => (j.toLong, if (w.distance) meters(y, x, extLat(j), extLon(j)) else 0))
    } else {
      val r = w.radiusMeters
      val dy = latPad(r); val dx = lonPad(r, y)
      extLon.indices.flatMap { j =>
        if (math.abs(extLat(j) - y) > dy || math.abs(extLon(j) - x) > dx) None
        else {
          val d = meters(y, x, extLat(j), extLon(j))
          if (d <= r.toInt) Some((j.toLong, d)) else None
        }
      }
    }
  }

  /** All external points at the minimum planar (JTS coordinate) distance. */
  def nearestSet(x: Double, y: Double): Seq[Int] = {
    var best = Double.MaxValue
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var j = 0
    while (j < extLon.length) {
      val dx = extLon(j) - x; val dy = extLat(j) - y
      val d = math.sqrt(dx * dx + dy * dy)
      if (d < best) { best = d; out.clear(); out += j }
      else if (d == best) out += j
      j += 1
    }
    out.toSeq
  }

  /** Exact output row count over all probes, through a uniform grid over
    * the external side (a nearest join has exactly one row per probe). */
  def exactCount(): Long =
    if (w.isNearest) w.probes.toLong
    else if (w.zones) {
      val cell = 0.5
      val grid = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      zones.indices.foreach { j =>
        val e = zones(j).getEnvelopeInternal
        for (cx <- cellOf(e.getMinX, cell) to cellOf(e.getMaxX, cell);
             cy <- cellOf(e.getMinY, cell) to cellOf(e.getMaxY, cell))
          grid.computeIfAbsent(key(cx, cy), _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += j
      }
      // a point is within a polygon exactly when it lies in its interior
      parallelSum { i =>
        val (x, y) = gen.probe(i)
        val b = grid.get(key(cellOf(x, cell), cellOf(y, cell)))
        if (b == null) 0L
        else {
          val c = new Coordinate(x, y)
          b.count(j => zones(j).getEnvelopeInternal.contains(x, y) &&
            SimplePointInAreaLocator.locate(c, zones(j)) == Location.INTERIOR).toLong
        }
      }
    } else {
      val r = w.radiusMeters
      val cell = 0.1
      val grid = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      extLon.indices.foreach { j =>
        grid.computeIfAbsent(key(cellOf(extLon(j), cell), cellOf(extLat(j), cell)),
          _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += j
      }
      parallelSum { i =>
        val (x, y) = gen.probe(i)
        val dy = latPad(r); val dx = lonPad(r, y)
        var n = 0L
        for (cx <- cellOf(x - dx, cell) to cellOf(x + dx, cell);
             cy <- cellOf(y - dy, cell) to cellOf(y + dy, cell)) {
          val b = grid.get(key(cx, cy))
          if (b != null) b.foreach { j =>
            if (math.abs(extLat(j) - y) <= dy && math.abs(extLon(j) - x) <= dx &&
                meters(y, x, extLat(j), extLon(j)) <= r.toInt) n += 1
          }
        }
        n
      }
    }

  private def cellOf(v: Double, cell: Double): Int = math.floor(v / cell).toInt
  private def key(cx: Int, cy: Int): Long = (cx.toLong << 32) ^ (cy & 0xffffffffL)
  private def parallelSum(f: Long => Long): Long =
    java.util.stream.LongStream.range(0, w.probes).parallel().map(i => f(i)).sum()
}
