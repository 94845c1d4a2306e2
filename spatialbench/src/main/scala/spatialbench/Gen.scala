package spatialbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.{Coordinate, Geometry}

import graft.core.GeometryCodec

/** Seeded input generators. Everything a workload reads comes from here, as
  * a pure function of (seed, size): the program only ever sees the files.
  * Coordinates are snapped to a binary grid so the text form round-trips
  * exactly and the references below see the very doubles the program
  * parses. */
object Gen {

  private def snap(v: Double, q: Double): Double = math.rint(v * q) / q

  // ---------------------------------------------------------------- pathology

  /** Two segmentations of one slide: `a` holds nucleus-like 12-vertex
    * polygons, `b` the same nuclei re-traced (center shift, radius and
    * rotation jitter). `null` marks a row written as malformed WKT. */
  final case class Pathology(a: Array[Geometry], b: Array[Geometry], side: Double)

  def pathology(seed: Long, n: Int, malformedShare: Double): Pathology = {
    val rnd = new Random(seed * 31 + 1)
    // ~0.005 nuclei per unit area: each nucleus meets its re-trace plus
    // about two neighbours of the other segmentation
    val side = math.sqrt(n / 0.005)
    val q = 256.0
    def nucleus(cx: Double, cy: Double, r: Double, rot: Double, radii: Array[Double]) = {
      val cs = new Array[Coordinate](13)
      var i = 0
      while (i < 12) {
        val t = rot + 2 * math.Pi * i / 12
        cs(i) = new Coordinate(snap(cx + r * radii(i) * math.cos(t), q),
                               snap(cy + r * radii(i) * math.sin(t), q))
        i += 1
      }
      cs(12) = cs(0)
      GeometryCodec.factory.createPolygon(cs)
    }
    val a = new Array[Geometry](n); val b = new Array[Geometry](n)
    var i = 0
    while (i < n) {
      val cx = 10 + rnd.nextDouble() * (side - 20)
      val cy = 10 + rnd.nextDouble() * (side - 20)
      val r = 3.5 + rnd.nextDouble() * 3.0
      val rot = rnd.nextDouble() * math.Pi
      val radii = Array.fill(12)(0.8 + 0.4 * rnd.nextDouble())
      a(i) = nucleus(cx, cy, r, rot, radii)
      b(i) = nucleus(cx + rnd.nextGaussian() * 0.8, cy + rnd.nextGaussian() * 0.8,
        r * (0.9 + 0.2 * rnd.nextDouble()), rot + rnd.nextGaussian() * 0.1,
        radii.map(x => x * (0.92 + 0.16 * rnd.nextDouble())))
      if (rnd.nextDouble() < malformedShare) a(i) = null
      if (rnd.nextDouble() < malformedShare) b(i) = null
      i += 1
    }
    Pathology(a, b, side)
  }

  /** `id \t wkt` rows; a null geometry is written as truncated WKT, the
    * malformed-row shape a broken segmentation export produces. */
  def writeTsv(geoms: Array[Geometry], file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      var i = 0
      while (i < geoms.length) {
        w.write(i.toString); w.write('\t')
        if (geoms(i) == null) w.write(s"POLYGON ((${i % 97} 1, 2 ")
        else w.write(GeometryCodec.toWkt(geoms(i)))
        w.write('\n')
        i += 1
      }
    } finally w.close()
  }

  // ------------------------------------------------------------------- osm

  /** OSM-like points over [0, 1000]²: Zipf-sized Gaussian clusters
    * ("cities"), a uniform background and a stack of identical points at
    * one coordinate (a hot tile no split can divide). NaN coordinates mark
    * broken records (null in the file). */
  final case class Points(x: Array[Double], y: Array[Double]) {
    def n: Int = x.length
    def valid(i: Int): Boolean = !x(i).isNaN
  }

  final case class Osm(points: Points, probes: Points)

  val OsmSide = 1000.0

  def osm(seed: Long, n: Int, probes: Int): Osm = {
    val rnd = new Random(seed * 31 + 2)
    val q = 1024.0
    val nc = 48
    val cx = Array.fill(nc)(100 + rnd.nextDouble() * 800)
    val cy = Array.fill(nc)(100 + rnd.nextDouble() * 800)
    val sigma = Array.fill(nc)(4 + rnd.nextDouble() * 16)
    val weights = Array.tabulate(nc)(r => 1.0 / (r + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    // the stack sits inside the largest city, so its tile is hot twice over
    val hotX = snap(cx(0) + sigma(0) * 0.3, q); val hotY = snap(cy(0) - sigma(0) * 0.2, q)
    def draw(m: Int, hotShare: Double, backgroundShare: Double, invalidShare: Double) = {
      val xs = new Array[Double](m); val ys = new Array[Double](m)
      var i = 0
      while (i < m) {
        val u = rnd.nextDouble()
        if (u < invalidShare) { xs(i) = Double.NaN; ys(i) = Double.NaN }
        else if (u < invalidShare + hotShare) { xs(i) = hotX; ys(i) = hotY }
        else if (u < invalidShare + hotShare + backgroundShare) {
          xs(i) = snap(rnd.nextDouble() * OsmSide, q); ys(i) = snap(rnd.nextDouble() * OsmSide, q)
        } else {
          val c0 = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
          val c = if (c0 >= 0) c0 else math.min(nc - 1, -c0 - 1)
          xs(i) = snap(clamp(cx(c) + rnd.nextGaussian() * sigma(c)), q)
          ys(i) = snap(clamp(cy(c) + rnd.nextGaussian() * sigma(c)), q)
        }
        i += 1
      }
      Points(xs, ys)
    }
    Osm(draw(n, 0.1, 0.2, 0.002), draw(probes, 0.0, 0.1, 0.0))
  }

  private def clamp(v: Double): Double = math.max(0.0, math.min(OsmSide, v))

  /** `id, x, y` parquet (null coordinates for broken records), written as
    * one file so the bytes depend on the rows alone. */
  def writePoints(spark: SparkSession, p: Points, path: String): Unit = {
    import spark.implicits._
    (0 until p.n).map { i =>
      if (p.valid(i)) (i.toLong, Some(p.x(i)), Some(p.y(i))) else (i.toLong, None, None)
    }.toDF("id", "x", "y").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  // --------------------------------------------------------------- windows

  /** Axis-aligned query windows covering 0.01% to 5% of the space
    * (log-uniform), centered on data points half of the time so most
    * windows return rows. */
  final case class Window(xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
    def wkb: Array[Byte] = GeometryCodec.toWkb(GeometryCodec.box(xmin, ymin, xmax, ymax))
  }

  def windows(seed: Long, count: Int, side: Double,
              anchor: Int => Option[(Double, Double)], anchors: Int): Array[Window] = {
    val rnd = new Random(seed * 31 + 3)
    val q = 256.0
    Array.fill(count) {
      val share = math.exp(math.log(1e-4) + rnd.nextDouble() * (math.log(5e-2) - math.log(1e-4)))
      val w = side * math.sqrt(share) * (0.7 + 0.6 * rnd.nextDouble())
      val h = side * side * share / w
      val centre =
        if (rnd.nextBoolean()) anchor(rnd.nextInt(anchors)) else None
      val (x, y) = centre.getOrElse((rnd.nextDouble() * side, rnd.nextDouble() * side))
      Window(snap(x - w / 2, q), snap(y - h / 2, q), snap(x + w / 2, q), snap(y + h / 2, q))
    }
  }
}
