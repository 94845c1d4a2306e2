package spatialbench

import scala.collection.mutable.ArrayBuffer

import org.locationtech.jts.geom.{Envelope, Geometry}

/** Expected results computed straight from the generated inputs with plain
  * JTS, through none of graft's tiling, partitioning or refine code: a
  * uniform-grid bucketed envelope join refined by JTS, brute-force kNN and
  * brute-force window counts. Computed once per seed. */
object Reference {

  /** Order-insensitive pair digest. The same arithmetic runs in Spark SQL
    * (see [[PairDigest.sql]]), so both sides agree bit for bit. */
  object PairDigest {
    val P = 1000000007L
    def term(l: Long, r: Long): Long = java.lang.Math.floorMod(l * 1000003L + r * 99991L + l * r, P)
    def sql(l: String, r: String): String = s"pmod($l * 1000003 + $r * 99991 + $l * $r, $P)"
  }

  final case class JoinResult(pairs: Long, digest: Long, jaccardSum: Double)

  /** A pair of geometries whose envelopes overlap. */
  type Candidate = (Geometry, Geometry)

  /** Envelope candidates bucketed on a uniform grid of `cell`-sized cells;
    * a pair is tested once, in the cell holding the lower-left corner of
    * the two envelopes' intersection. */
  private def gridPairs(a: Array[Geometry], b: Array[Geometry], cell: Double,
                        expandA: Double)(visit: (Int, Int) => Unit): Unit = {
    def key(cx: Long, cy: Long): Long = (cx << 32) ^ (cy & 0xffffffffL)
    val grid = scala.collection.mutable.HashMap.empty[Long, ArrayBuffer[Int]]
    val envB = b.map(g => if (g == null) null else g.getEnvelopeInternal)
    var j = 0
    while (j < b.length) {
      val e = envB(j)
      if (e != null && !e.isNull) {
        var x = math.floor(e.getMinX / cell).toLong
        while (x <= math.floor(e.getMaxX / cell).toLong) {
          var y = math.floor(e.getMinY / cell).toLong
          while (y <= math.floor(e.getMaxY / cell).toLong) {
            grid.getOrElseUpdate(key(x, y), ArrayBuffer.empty[Int]) += j
            y += 1
          }
          x += 1
        }
      }
      j += 1
    }
    var i = 0
    while (i < a.length) {
      if (a(i) != null && !a(i).isEmpty) {
        val e = new Envelope(a(i).getEnvelopeInternal)
        e.expandBy(expandA)
        var x = math.floor(e.getMinX / cell).toLong
        while (x <= math.floor(e.getMaxX / cell).toLong) {
          var y = math.floor(e.getMinY / cell).toLong
          while (y <= math.floor(e.getMaxY / cell).toLong) {
            grid.get(key(x, y)).foreach { js =>
              js.foreach { jj =>
                val eb = envB(jj)
                if (e.intersects(eb)) {
                  val ox = math.max(e.getMinX, eb.getMinX)
                  val oy = math.max(e.getMinY, eb.getMinY)
                  if (math.floor(ox / cell).toLong == x && math.floor(oy / cell).toLong == y)
                    visit(i, jj)
                }
              }
            }
            y += 1
          }
          x += 1
        }
      }
      i += 1
    }
  }

  /** Intersects join with the jaccard sum; also returns a seeded sample of
    * envelope candidates for the refine probes. */
  def overlapJoin(a: Array[Geometry], b: Array[Geometry], cell: Double,
                  sampleEvery: Int): (JoinResult, Array[Candidate]) = {
    var pairs = 0L; var digest = 0L; var jac = 0.0
    val sample = ArrayBuffer.empty[Candidate]
    var seen = 0L
    gridPairs(a, b, cell, 0.0) { (i, j) =>
      val hit = a(i).intersects(b(j))
      seen += 1
      if (seen % sampleEvery == 0) sample += ((a(i), b(j)))
      if (hit) {
        pairs += 1
        digest = (digest + PairDigest.term(i, j)) % PairDigest.P
        // union area by inclusion-exclusion: one overlay per pair
        val inter = a(i).intersection(b(j)).getArea
        val uni = a(i).getArea + b(j).getArea - inter
        jac += (if (uni == 0) 0.0 else inter / uni)
      }
    }
    (JoinResult(pairs, digest, jac), sample.toArray)
  }

  /** Planar dwithin join of probes against points. */
  def dwithinJoin(probes: Gen.Points, points: Gen.Points, d: Double,
                  sampleEvery: Int): (JoinResult, Array[Candidate]) = {
    val pg = geoms(probes); val qg = geoms(points)
    var pairs = 0L; var digest = 0L
    val sample = ArrayBuffer.empty[Candidate]
    var seen = 0L
    gridPairs(pg, qg, math.max(d * 4, 1e-9), d) { (i, j) =>
      val hit = pg(i).getEnvelopeInternal.distance(qg(j).getEnvelopeInternal) <= d
      seen += 1
      if (seen % sampleEvery == 0) sample += ((pg(i), qg(j)))
      if (hit) { pairs += 1; digest = (digest + PairDigest.term(i, j)) % PairDigest.P }
    }
    (JoinResult(pairs, digest, 0.0), sample.toArray)
  }

  def geoms(p: Gen.Points): Array[Geometry] =
    Array.tabulate(p.n)(i => if (p.valid(i)) graft.core.GeometryCodec.point(p.x(i), p.y(i)) else null)

  /** Sorted k nearest distances per probe, brute force. */
  def knn(probes: Gen.Points, points: Gen.Points, k: Int): Array[Array[Double]] =
    Array.tabulate(probes.n) { i =>
      val heap = scala.collection.mutable.PriorityQueue.empty[Double]
      var j = 0
      while (j < points.n) {
        if (points.valid(j)) {
          val dx = probes.x(i) - points.x(j); val dy = probes.y(i) - points.y(j)
          val d = math.sqrt(dx * dx + dy * dy)
          if (heap.size < k) heap.enqueue(d)
          else if (d < heap.head) { heap.dequeue(); heap.enqueue(d) }
        }
        j += 1
      }
      heap.toArray.sorted
    }

  /** Rows intersecting each window (closed rectangles). */
  def windowCounts(ws: Array[Gen.Window], gs: Array[Geometry]): Array[Long] = {
    val envs = gs.map(g => if (g == null) null else g.getEnvelopeInternal)
    ws.map { w =>
      val box = graft.core.GeometryCodec.box(w.xmin, w.ymin, w.xmax, w.ymax)
      val we = box.getEnvelopeInternal
      var c = 0L; var i = 0
      while (i < gs.length) {
        val e = envs(i)
        if (e != null && we.intersects(e) &&
            (we.contains(e) || box.intersects(gs(i)))) c += 1
        i += 1
      }
      c
    }
  }
}
