package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions._

class SpatialJoinSpec extends SparkTestBase {
  import spark.implicits._

  /** Seeded random rectangles in [0,100]x[0,50] as (id, wkt). */
  private def boxes(n: Int, seed: Long, prefix: String): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val cx = rnd.nextDouble() * 100; val cy = rnd.nextDouble() * 50
      val w = rnd.nextDouble() * 3; val h = rnd.nextDouble() * 3
      val xmin = cx - w / 2; val ymin = cy - h / 2
      (i.toLong,
       s"POLYGON(($xmin $ymin,${xmin + w} $ymin,${xmin + w} ${ymin + h},$xmin ${ymin + h},$xmin $ymin))")
    }
  }

  private def df(rows: Seq[(Long, String)], idCol: String, geomCol: String): DataFrame =
    rows.toDF(idCol, "__wkt")
      .withColumn(geomCol, st_geomfromwkt(col("__wkt"))).drop("__wkt")

  /** Driver-side brute force over the same JTS predicates. */
  private def brute(a: Seq[(Long, String)], b: Seq[(Long, String)],
                    pred: (org.locationtech.jts.geom.Geometry,
                           org.locationtech.jts.geom.Geometry) => Boolean): Set[(Long, Long)] = {
    val ga = a.map { case (i, w) => (i, GeometryCodec.fromWkt(w)) }
    val gb = b.map { case (i, w) => (i, GeometryCodec.fromWkt(w)) }
    (for { (i, g1) <- ga; (j, g2) <- gb if pred(g1, g2) } yield (i, j)).toSet
  }

  private val la = boxes(300, seed = 1, "a")
  private val lb = boxes(400, seed = 2, "b")

  for (partitioner <- Seq("fg", "str", "hc", "hc_dist", "str_dist", "slc_dist",
      "qt_dist", "bsp_dist", "bos_dist", "bsp", "qt", "slc", "bos")) {
    test(s"tiled st_intersects join == brute force [$partitioner]") {
      val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
      val got = SpatialJoin.join(a, "g1", b, "g2",
          SpatialJoin.Config(predicate = "intersects", partitioner = partitioner, bucket = 50))
        .select("id1", "id2").as[(Long, Long)].collect().toSeq
      val want = brute(la, lb, _.intersects(_))
      assert(got.size == got.toSet.size, s"duplicate pairs from $partitioner")
      assert(got.toSet == want, s"$partitioner mismatch: " +
        s"missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
    }
  }

  for (pred <- Seq("touches", "contains", "within", "overlaps", "equals")) {
    test(s"tiled $pred join == brute force") {
      val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
      val got = SpatialJoin.join(a, "g1", b, "g2",
          SpatialJoin.Config(predicate = pred, partitioner = "fg", bucket = 60))
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      val want = brute(la, lb, (g1, g2) => pred match {
        case "touches"  => g1.touches(g2)
        case "contains" => g1.contains(g2)
        case "within"   => g1.within(g2)
        case "overlaps" => g1.overlaps(g2)
        case "equals"   => g1.equalsTopo(g2)
      })
      assert(got == want, s"$pred mismatch")
    }
  }

  test("M3 bucket scaling: sampled plan keeps ~n/bucket tiles and exact results") {
    val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
    // sampleTarget far below n engages the Bernoulli sample; the bucket
    // scales by the fraction (reference queryprocessor_2d.cpp:280), so the
    // tile count stays ~n/bucket as if planned on the full 700 MBBs
    val cfg = SpatialJoin.Config(predicate = "intersects", bucket = 50,
      sampleTarget = 100)
    val env = (d: DataFrame, g: String) => d
      .withColumn("__e", st_envelope(col(g)))
      .select(col("__e.xmin").as("__xmin"), col("__e.ymin").as("__ymin"),
        col("__e.xmax").as("__xmax"), col("__e.ymax").as("__ymax"))
    val tiles = SpatialJoin.planTiles(env(a, "g1"), env(b, "g2"), cfg).tiles.length
    val full = math.ceil(700.0 / 50).toInt // 14
    assert(tiles >= full / 2 && tiles <= full * 2,
      s"sampled plan produced $tiles tiles, expected ~$full")
    val got = SpatialJoin.join(a, "g1", b, "g2", cfg)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == brute(la, lb, _.intersects(_)), "sampled-plan join mismatch")
  }

  test("dwithin join == brute force isWithinDistance") {
    val d = 2.5
    val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
    val got = SpatialJoin.join(a, "g1", b, "g2",
        SpatialJoin.Config(predicate = "dwithin", distance = d, bucket = 50))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val want = brute(la, lb, _.isWithinDistance(_, d))
    assert(got == want)
  }

  test("global dedup == refpoint dedup, and preserves duplicate input rows") {
    val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
    val ref = SpatialJoin.join(a, "g1", b, "g2", SpatialJoin.Config(bucket = 40))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val glob = SpatialJoin.join(a, "g1", b, "g2",
        SpatialJoin.Config(bucket = 40, dedup = "global"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(ref == glob)

    // two value-identical left rows must yield 2x the pairs in global mode
    val dupRows = la.take(20) ++ la.take(20)
    val ad = df(dupRows, "id1", "g1")
    val n = SpatialJoin.join(ad, "g1", b, "g2",
        SpatialJoin.Config(bucket = 40, dedup = "global")).count()
    val n1 = SpatialJoin.join(df(la.take(20), "id1", "g1"), "g1", b, "g2",
        SpatialJoin.Config(bucket = 40)).count()
    assert(n == 2 * n1, s"global dedup collapsed duplicate input rows: $n vs 2*$n1")
  }

  test("self-join excludes identity via caller predicate") {
    val a = df(la, "id1", "g1")
    val b = df(la, "id2", "g2")
    val got = SpatialJoin.join(a, "g1", b, "g2", SpatialJoin.Config(bucket = 50))
      .where($"id1" < $"id2").select("id1", "id2").as[(Long, Long)].collect().toSet
    val want = brute(la, la, _.intersects(_)).filter { case (i, j) => i < j }
    assert(got == want)
  }

  test("hotspot salting: sharded hot tiles keep results exact") {
    // 1500 boxes stacked at ONE coordinate (spatially unsplittable) + 300
    // uniform; small bucket so the hot tile trips the hotTileFactor
    val hot = (0 until 1500).map(i =>
      (i.toLong, "POLYGON((50 25,52 25,52 27,50 27,50 25))"))
    val uniform = boxes(300, seed = 41, "u").map { case (i, w) => (i + 1500L, w) }
    val all = hot ++ uniform
    val a = df(all, "id1", "g1")
    val b = df(all.map { case (i, w) => (i, w) }, "id2", "g2")
    val cfg = SpatialJoin.Config(bucket = 50, hotTileFactor = 2)

    // the planner must actually shard something
    val l = df(all, "idx", "gx")
    val env = l.withColumn("__env", graft.functions.st_envelope(col("gx")))
      .select(col("__env.xmin").as("__xmin"), col("__env.ymin").as("__ymin"),
        col("__env.xmax").as("__xmax"), col("__env.ymax").as("__ymax"))
    val idx = SpatialJoin.planTiles(env, env.limit(0), cfg)
    assert(idx.shardCounts.nonEmpty, "hot tile was not sharded")
    assert(idx.shardCounts.values.forall(s => s > 1 && s <= 64))

    val got = SpatialJoin.join(a, "g1", b, "g2", cfg)
      .where($"id1" < $"id2").select("id1", "id2").as[(Long, Long)].collect()
    val want = brute(all, all, _.intersects(_)).filter { case (i, j) => i < j }
    assert(got.length == got.toSet.size, "salting produced duplicate pairs")
    assert(got.toSet == want)
  }

  test("knnJoin: tile-local, no duplicate neighbors, <=k per left row") {
    val a = df(la, "id1", "g1"); val b = df(lb, "id2", "g2")
    val k = 3
    val got = SpatialJoin.knnJoin(a, "g1", b, "g2", k, SpatialJoin.Config(bucket = 50))
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate (left,right) pairs from knnJoin")
    val perLeft = got.groupBy(_._1).map(_._2.length)
    assert(perLeft.forall(_ <= k))
  }

  test("knnJoin: per-tile STRtree probe matches brute force (single tile)") {
    // One giant tile makes tile-local == global, so a brute-force oracle is
    // valid. Dense lattice boxes + edge-hugging points reproduce the shape
    // where JTS's nearestNeighbourK can return the same item twice — its
    // max distance then undershoots the true k-th distance, and without the
    // re-query loop some lefts silently got < k neighbors (round-13 find:
    // 899,947 instead of 900,000 rows in the sf1 knn_tile lane).
    val rnd = new Random(13)
    val pts = (0 until 400).map { i =>
      // half the points pinned to the space edges, where the drop showed up
      val x = if (i % 2 == 0) rnd.nextInt(40) else (if (i % 4 == 1) 0 else 39)
      val y = if (i % 2 == 0) rnd.nextInt(20) else rnd.nextInt(20)
      (i.toLong, s"POINT ($x $y)")
    }
    val bxs = (0 until 300).map { i =>
      val x = rnd.nextInt(38); val y = rnd.nextInt(18)
      (i.toLong, s"POLYGON(($x $y,${x + 2} $y,${x + 2} ${y + 2},$x ${y + 2},$x $y))")
    }
    val k = 5
    val got = SpatialJoin.knnJoin(df(pts, "id1", "g1"), "g1",
        df(bxs, "id2", "g2"), "g2", k, SpatialJoin.Config(bucket = 1000000))
      .select("id1", "knn_dist").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val gb = bxs.map { case (_, w) => GeometryCodec.fromWkt(w) }
    val want = pts.map { case (i, w) =>
      val g1 = GeometryCodec.fromWkt(w)
      i -> gb.map(g1.distance).sorted.take(k).toSeq
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (i, ds) => assert(got(i) == ds, s"left $i") }
  }

  /** Brute-force exact kNN with ties broken by right id: (left, right,
    * rank) triples, optionally cut at `maxD`. Null, invalid and empty
    * geometries take no part, as in every engine path. */
  private def bruteKnnRanks(pa: Seq[(Long, String)], pb: Seq[(Long, String)], k: Int,
                            maxD: Double = Double.PositiveInfinity): Set[(Long, Long, Int)] = {
    def valid(rows: Seq[(Long, String)]) = rows.flatMap { case (i, w) =>
      Option(GeometryCodec.fromWkt(w)).filterNot(_.isEmpty).map((i, _)) }
    val gb = valid(pb)
    valid(pa).flatMap { case (i, g1) =>
      gb.map { case (j, g2) => (g1.distance(g2), j) }
        .sortBy(identity).take(k).zipWithIndex
        .collect { case ((dist, j), r) if dist < maxD => (i, j, r + 1) }
    }.toSet
  }

  /** Lattice points (plenty of distance ties), then two rows per side that
    * match nothing: unparseable WKT and an empty point. */
  private def knnSides(seed: Long, nl: Int, nr: Int) = {
    val rnd = new Random(seed)
    val pa = (0 until nl).map(i => (i.toLong, s"POINT (${rnd.nextInt(40)} ${rnd.nextInt(20)})"))
    val pb = (0 until nr).map(i => (i.toLong, s"POINT (${rnd.nextInt(40)} ${rnd.nextInt(20)})"))
    (pa ++ Seq((900L, "not-a-wkt"), (901L, "POINT EMPTY")),
     pb ++ Seq((900L, "not-a-wkt"), (901L, "POINT EMPTY")))
  }

  /** The right side hash-spread over 12 partitions by a 4-valued key: most
    * partitions are empty and up to three hold a single row (< k), the
    * shapes the small-left broadcast path must union correctly. */
  private def skewedRight(rows: Seq[(Long, String)]): DataFrame =
    df(rows, "id2", "g2")
      .repartition(12, when(col("id2") < 3, col("id2")).otherwise(lit(-1L)))

  // the third mode pins the RELATIONAL probe branch (probeCollectMax = 0):
  // the giant-tiling form with the WindowGroupLimit probe + join-back that
  // the collected-map default skips at spec scale. The fourth broadcasts
  // the small LEFT side: threshold between the two side sizes.
  for ((mode, threshold, pcm, nl, nr) <- Seq(
      ("broadcast", 10000, 1000000L, 150, 80),
      ("tiled", 0, 1000000L, 150, 80),
      ("tiled relational-probe", 0, 0L, 150, 80),
      ("broadcast-probes", 100, 1000000L, 60, 200))) {
    test(s"knnJoinExact == brute-force global kNN [$mode path, with ties]") {
      val (pa, pb) = knnSides(9, nl, nr)
      val k = 4
      val q = SpatialJoin.knnJoinExact(df(pa, "id1", "g1"), "g1", "id1",
          skewedRight(pb), "g2", k,
          tieBreak = Seq("id2"),
          cfg = SpatialJoin.Config(bucket = 30, knnBroadcastThreshold = threshold,
            probeCollectMax = pcm))
      val got = q.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect()
      val want = bruteKnnRanks(pa, pb, k)
      assert(got.length == got.toSet.size, s"duplicate rows from $mode path")
      assert(got.toSet == want,
        s"$mode mismatch: missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
      if (mode == "broadcast-probes") {
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("CoGroup"), s"small-left kNN ran the tiled engine:\n$plan")
        assert(plan.contains("WindowGroupLimit"), s"rank did not compile to WindowGroupLimit:\n$plan")
      }
    }
  }

  test("knnJoinExact: sparse-region lefts (starved tiles) stay exact under the ring radius") {
    // lefts spread over [0,1000]², rights clustered into [0,10]² — nearly
    // every owner tile holds zero rights, the class whose pass-2 radius
    // used to be the space diagonal and is now the density-planned ring
    val rnd = new Random(41)
    val pa = (0 until 120).map(i =>
      (i.toLong, s"POINT (${rnd.nextInt(1000)} ${rnd.nextInt(1000)})"))
    val pb = (0 until 60).map(i =>
      (i.toLong, s"POINT (${rnd.nextInt(1000) / 100.0} ${rnd.nextInt(1000) / 100.0})"))
    val a = df(pa, "id1", "g1"); val b = df(pb, "id2", "g2")
    val k = 3
    val got = SpatialJoin.knnJoinExact(a, "g1", "id1", b, "g2", k,
        tieBreak = Seq("id2"),
        cfg = SpatialJoin.Config(bucket = 20, knnBroadcastThreshold = 0))
      .select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect()
    val want = bruteKnnRanks(pa, pb, k)
    assert(got.length == got.toSet.size, "duplicate rows on the sparse-region path")
    assert(got.toSet == want, s"sparse-region mismatch: " +
      s"missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
  }

  for ((mode, threshold, nl, nr) <- Seq(
      ("broadcast", 10000, 120, 70),
      ("tiled", 0, 120, 70),
      ("broadcast-probes", 100, 50, 160))) {
    test(s"knnJoinBounded == brute kNN truncated at d [$mode path]") {
      val (pa, pb) = knnSides(23, nl, nr)
      val k = 4; val d = 2.5 // mid-gap on the integer lattice
      val q = SpatialJoin.knnJoinBounded(df(pa, "id1", "g1"), "g1", "id1",
          skewedRight(pb), "g2", k, d,
          tieBreak = Seq("id2"),
          cfg = SpatialJoin.Config(bucket = 30, knnBroadcastThreshold = threshold))
      val got = q.select("id1", "id2", "knn_rank").as[(Long, Long, Int)].collect()
      assert(got.toSet == bruteKnnRanks(pa, pb, k, maxD = d), s"$mode bounded mismatch")
      // ranks stay consecutive from 1 (bound removes a suffix, never a gap)
      got.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
      }
      if (mode == "broadcast-probes")
        assert(!q.queryExecution.executedPlan.toString.contains("CoGroup"),
          "small-left bounded kNN ran the tiled engine")
    }
  }

  test("knnJoinExact ranks string ties in Spark's UTF-8 order on every path") {
    // "！" (U+FF01) sorts AFTER "😀" (U+1F600) by UTF-16 code units but
    // BEFORE it by UTF-8 bytes, Spark's string order. Both sit at distance 1
    // from the probe, so k = 1 keeps whichever the tie order ranks first.
    val lefts = Seq((1L, "POINT (0 0)")).toDF("id1", "w")
      .withColumn("g1", st_geomfromwkt(col("w"))).drop("w")
    val rights = Seq(("😀", "POINT (-1 0)"), ("！", "POINT (1 0)"), ("far", "POINT (9 9)"))
      .toDF("name", "w").withColumn("g2", st_geomfromwkt(col("w"))).drop("w")
    val picks = Seq(10000, 2, 0).map { threshold => // right-broadcast, left-broadcast, tiled
      threshold -> SpatialJoin.knnJoinExact(lefts, "g1", "id1", rights, "g2", 1,
          tieBreak = Seq("name"),
          cfg = SpatialJoin.Config(bucket = 2, knnBroadcastThreshold = threshold))
        .select("name").as[String].collect().toSeq
    }
    picks.foreach { case (threshold, names) =>
      assert(names == Seq("！"), s"threshold $threshold picked $names")
    }
  }

  test("tileRingPlans: 10k-tile tiling gets non-empty plans matching the full-sort reference") {
    import graft.core.{Mbb, TileBoundary}
    // 100x100 uniform grid; occupied tiles = a deterministic ~30% subset
    // with varying counts, plus a cleared 20x20 dead zone so some tiles
    // must expand their search radius well past the immediate ring
    val n = 100
    val tiles = Array.tabulate(n * n) { t =>
      val x = t % n; val y = t / n
      TileBoundary(t, Mbb(x * 10.0, y * 10.0, x * 10.0 + 10, y * 10.0 + 10))
    }
    val stats: Map[Int, (Long, Double)] = tiles.indices.collect {
      case t if (t * 2654435761L % 10) < 3 &&
        !(t % n >= 40 && t % n < 60 && t / n >= 40 && t / n < 60) =>
        t -> (((t % 7) + 1).toLong, (t % 5) * 0.5)
    }.toMap
    val k = 25
    val (sets, mhds) = graft.operators.SpatialJoin.tileRingPlans(tiles, stats, k)
    assert(sets.forall(_.nonEmpty),
      "every tile must get a ring plan on a 10k-tile tiling (the old 4M budget gave up here)")
    // reference: the former full-sort formulation, on sampled tiles
    // including dead-zone centers (worst-case expansion)
    def maxDist(a: Mbb, b: Mbb): Double = {
      val dx = math.max(a.xmax - b.xmin, b.xmax - a.xmin)
      val dy = math.max(a.ymax - b.ymin, b.ymax - a.ymin)
      math.sqrt(dx * dx + dy * dy)
    }
    val occ = stats.toArray.sortBy(_._1)
    for (i <- Seq(0, 57, 4040, 5050, 4545, 9999, 123, 8888)) {
      val ds = occ.map { case (t, (c, hd)) => (maxDist(tiles(i).mbb, tiles(t).mbb), t, c, hd) }
        .sortBy(d => (d._1, d._2))
      var acc = 0L; var j = 0; var mhd = 0.0
      while (j < ds.length && acc < k) { acc += ds(j)._3; mhd = math.max(mhd, ds(j)._4); j += 1 }
      assert(sets(i).toSeq == ds.take(j).map(_._2).toSeq, s"ring set diverged at tile $i")
      assert(mhds(i) == mhd, s"ring mhd diverged at tile $i")
    }
  }
}
