package spatialbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.core.{GeomPredicates, GeometryCodec, Mbb}
import graft.functions.{GeomKernels, st_envelope}
import graft.operators.{SpatialJoin, TileIndex}
import graft.partition.SpatialPartitioner
import graft.sources.SpatialStore

/** Per-layer metrics of one traced pass. Seconds and counts are summed over
  * the pass's ops; `_ns` metrics are means per call; ratios divide summed
  * numerators by summed denominators, except the max-over-mean and
  * straggler ratios, which are the worst op's. */
final class LayerAcc {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val parts = mutable.LinkedHashMap.empty[String, (Double, Double)]
  private val maxes = mutable.LinkedHashMap.empty[String, Double]

  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def ratio(k: String, num: Double, den: Double): Unit = {
    val (n, d) = parts.getOrElse(k, (0.0, 0.0)); parts(k) = (n + num, d + den)
  }
  def max(k: String, v: Double): Unit = maxes(k) = math.max(maxes.getOrElse(k, v), v)

  def result: Map[String, Double] =
    (sums ++ parts.map { case (k, (n, d)) => k -> (if (d == 0) 0.0 else n / d) } ++ maxes).toMap
}

/** Layer probes: each times a call into one layer's public functions from
  * outside, on the op's own inputs. None of them runs inside the program. */
final class Layers(spark: SparkSession, trace: Trace, bucket: Int, seed: Long) {
  private val scanCache = mutable.Map.empty[String, (Double, Long)]
  private val metaCache = mutable.Map.empty[String, SpatialStore.Meta]
  private val rnd = new Random(seed)

  /** Forgets per-pass caches (the store is rewritten every pass). */
  def newPass(): Unit = { scanCache.clear(); metaCache.clear() }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def sample[T: scala.reflect.ClassTag](xs: Array[T], max: Int): Array[T] =
    if (xs.length <= max) xs else Array.fill(max)(xs(rnd.nextInt(xs.length)))

  /** Time to scan and decode one input, and the rows it keeps. */
  private def scan(in: Input, op: Int, acc: LayerAcc): Unit = {
    val (secs, kept) = scanCache.getOrElseUpdate(in.name, trace.span("sources.scan", op) { _ =>
      timed { val df = in.frame(); df.where(col(df.columns(1)).isNotNull).count() }
    }.swap)
    acc.add("sources.scan_s", secs)
    acc.add("sources.rows_invalid", (in.rows - kept).toDouble)
  }

  private def envelope(g: Geometry, expand: Double): Mbb = {
    val e = g.getEnvelopeInternal
    Mbb(e.getMinX - expand, e.getMinY - expand, e.getMaxX + expand, e.getMaxY + expand)
  }

  /** The driver partitioner on a sample of the op's envelopes, as the
    * sampled planners call it; `hc_dist` is timed as its driver form `hc`. */
  private def partition(mbbs: Array[Mbb], partitioner: String, op: Int, acc: LayerAcc): Unit = {
    val space = mbbs.reduce((a, b) => Mbb(a.xmin min b.xmin, a.ymin min b.ymin,
      a.xmax max b.xmax, a.ymax max b.ymax))
    val target = 100000
    val fraction = math.min(1.0, target.toDouble / mbbs.length)
    val s = sample(mbbs, target)
    val scaled = math.max(1, math.floor(bucket * fraction).toInt)
    val part = SpatialPartitioner(partitioner.stripSuffix("_dist"))
    val (tiles, secs) = trace.span("partition.partition", op) { _ =>
      timed(part.partition(s, space, scaled)) }
    acc.add("partition.partition_s", secs)
    acc.add("partition.tiles", tiles.length.toDouble)
    val index = new TileIndex(tiles, space)
    val load = new Array[Int](index.tiles.map(_.tileId).max + 1)
    s.foreach { m => val t = index.refTile(m.centerX, m.centerY); if (t >= 0) load(t) += 1 }
    val loads = index.tiles.map(t => load(t.tileId))
    acc.max("partition.load_max_over_mean", loads.max / (loads.sum.toDouble / loads.length))
  }

  private def envFrame(df: DataFrame, expand: Double): DataFrame = {
    val g = df.columns(1)
    df.select(st_envelope(col(g)).as("e")).where(col("e").isNotNull)
      .select((col("e.xmin") - expand).as("__xmin"), (col("e.ymin") - expand).as("__ymin"),
        (col("e.xmax") + expand).as("__xmax"), (col("e.ymax") + expand).as("__ymax"))
  }

  /** `SpatialJoin.planTiles` on the op's inputs, then the cogroup keys a
    * sample of objects gets from the planned index: `probe` and `build`
    * are the join's two sides, `tiles` the plain replication kNN and the
    * store use. */
  private def plan(left: DataFrame, right: Option[DataFrame], expand: Double,
                   partitioner: String, keyed: Seq[(Array[Geometry], String)],
                   op: Int, acc: LayerAcc): Unit = {
    val l = envFrame(left, expand)
    val r = right.map(envFrame(_, 0.0)).getOrElse(l.limit(0))
    val cfg = SpatialJoin.Config(partitioner = partitioner, bucket = bucket)
    val (index, secs) = trace.span("operators.plan_tiles", op) { _ =>
      timed(SpatialJoin.planTiles(l, r, cfg)) }
    acc.add("operators.plan_tiles_s", secs)
    acc.add("operators.hot_tiles", index.shardCounts.size.toDouble)
    trace.span("operators.keys", op) { _ =>
      keyed.foreach { case (geoms, role) =>
        val s = sample(geoms, 5000)
        var keys = 0L; var i = 0
        while (i < s.length) {
          val m = envelope(s(i), if (role == "probe") expand else 0.0)
          keys += (role match {
            case "probe" => index.probeKeys(m.xmin, m.ymin, m.xmax, m.ymax, i.toLong).length
            case "build" => index.buildKeys(m.xmin, m.ymin, m.xmax, m.ymax).length
            case _ => index.tilesFor(m.xmin, m.ymin, m.xmax, m.ymax).length
          })
          i += 1
        }
        acc.ratio("operators.keys_per_object", keys.toDouble, s.length.toDouble)
      }
    }
  }

  private def decode(geoms: Array[Geometry], op: Int, acc: LayerAcc): Unit = {
    val wkbs = sample(geoms, 2000).map(GeometryCodec.toWkb)
    val (_, secs) = trace.span("core.decode", op) { _ =>
      timed { var i = 0; while (i < wkbs.length) { GeometryCodec.fromWkb(wkbs(i)); i += 1 } } }
    acc.ratio("core.decode_ns", secs * 1e9, wkbs.length.toDouble)
  }

  /** The refine kernel and st_jaccard's kernel on envelope-overlapping
    * pairs (the reference's seeded candidate sample). */
  private def refine(pairs: Array[(Geometry, Geometry)], predicate: String, distance: Double,
                     op: Int, acc: LayerAcc): Unit = if (pairs.nonEmpty) {
    val ((hits, secs)) = trace.span("core.refine", op) { _ =>
      timed { pairs.count { case (a, b) => GeomPredicates.eval(predicate, a, b, distance) } } }
    acc.ratio("core.refine_ns", secs * 1e9, pairs.length.toDouble)
    acc.ratio("core.refine_hit_ratio", hits.toDouble, pairs.length.toDouble)
    val wkbs = pairs.map { case (a, b) => (GeometryCodec.toWkb(a), GeometryCodec.toWkb(b)) }
    val (_, jsecs) = trace.span("functions.jaccard", op) { _ =>
      timed(wkbs.foreach { case (a, b) => GeomKernels.measure(a, b, "jaccard") }) }
    acc.ratio("functions.jaccard_ns", jsecs * 1e9, wkbs.length.toDouble)
  }

  /** Every probe for one op of a traced pass. `opSeconds` is the op's wall
    * time and `recordsRead` the input records its Spark jobs read. */
  def probe(o: Op, op: Int, opSeconds: Double, recordsRead: Long, acc: LayerAcc): Unit =
    o.probe match {
      case p: JoinProbe =>
        scan(p.left, op, acc); scan(p.right, op, acc)
        val expand = if (p.predicate == "dwithin") p.distance else 0.0
        partition(p.leftGeoms.map(envelope(_, expand)) ++ p.rightGeoms.map(envelope(_, 0.0)),
          p.partitioner, op, acc)
        val knn = p.predicate == "knn"
        val roles = if (knn) ("tiles", "tiles") else ("probe", "build")
        plan(p.left.frame(), Some(p.right.frame()), expand, p.partitioner,
          Seq((p.leftGeoms, roles._1), (p.rightGeoms, roles._2)), op, acc)
        decode(p.leftGeoms ++ p.rightGeoms, op, acc)
        if (!knn) refine(p.candidates, p.predicate, p.distance, op, acc)
      case p: WriteProbe =>
        acc.add("sources.store_write_s", opSeconds)
        scan(p.input, op, acc)
        partition(p.objects.map(envelope(_, 0.0)), "fg", op, acc)
        plan(p.input.frame(), None, 0.0, "fg", Seq((p.objects, "tiles")), op, acc)
        decode(p.objects, op, acc)
        trace.span("sources.store_stats", op) { _ =>
          val files = Option(new java.io.File(p.path, "data").listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          acc.add("sources.store_files", files.length.toDouble)
          acc.add("sources.store_mb", files.map(_.length).sum / (1024.0 * 1024.0))
          val stored = spark.read.parquet(new java.io.File(p.path, "data").getAbsolutePath).count()
          acc.ratio("sources.replication", stored.toDouble, p.objects.length.toDouble)
        }
      case p: WindowProbe =>
        val meta = metaCache.getOrElseUpdate(p.path, SpatialStore.readMeta(spark, p.path))
        val w = Mbb(p.window.xmin, p.window.ymin, p.window.xmax, p.window.ymax)
        acc.add("sources.window_tiles", meta.tiles.count(_.mbb.intersects(w)).toDouble)
        acc.ratio("sources.window_rows_per_hit", recordsRead.toDouble, p.expected.toDouble)
        val box = GeometryCodec.box(w.xmin, w.ymin, w.xmax, w.ymax)
        val we = new Envelope(w.xmin, w.xmax, w.ymin, w.ymax)
        val cands = p.objects.iterator
          .filter(g => g != null && we.intersects(g.getEnvelopeInternal)).take(200).toArray
        refine(cands.map(g => (g, box: Geometry)), "intersects", 0.0, op, acc)
    }
}
