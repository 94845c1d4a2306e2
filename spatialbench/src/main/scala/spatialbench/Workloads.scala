package spatialbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import graft.api._
import graft.functions._
import graft.sources.{SpatialStore, WktTsvSource}

/** One step of a workload's fixed op list. `frame` builds the query (the
  * programmatic join plans its tiles here); `finish` runs the action and
  * compares the result with the reference, returning the mismatch. A write
  * op's frame is its input, which is not planned on its own. */
final case class Op(name: String, kind: String, expectExec: Option[String],
                    frame: () => DataFrame, finish: DataFrame => Option[String],
                    probe: Probe)

/** What the traced run's layer probes need to know about an op. */
sealed trait Probe
final case class JoinProbe(left: Input, right: Input,
                           leftGeoms: Array[Geometry], rightGeoms: Array[Geometry],
                           predicate: String, distance: Double, partitioner: String,
                           candidates: Array[Reference.Candidate]) extends Probe
final case class WriteProbe(input: Input, objects: Array[Geometry], path: String) extends Probe
final case class WindowProbe(window: Gen.Window, objects: Array[Geometry],
                             path: String, expected: Long) extends Probe

/** An input as the program reads it: `frame` yields (id, geometry) with
  * malformed rows dropped; `rows` is how many rows it holds. */
final case class Input(name: String, rows: Long, frame: () => DataFrame)

/** A workload: its inputs as files under `dir`, the reference results and
  * the op list of one pass. */
abstract class Workload(val name: String) {
  /** Input sizes, reported with every record. */
  def sizes: Map[String, Any]
  /** Generates the inputs and writes them under `dir`. */
  def prepare(spark: SparkSession, dir: File): Unit
  /** Computes the expected results from the generated inputs. */
  def reference(): Unit
  /** The fixed op list of one pass over the inputs last prepared. */
  def ops(spark: SparkSession): Seq[Op]

  protected var dir: File = _
  protected def path(rel: String): String = new File(dir, rel).getAbsolutePath

  protected def relTol(got: Double, want: Double, tol: Double): Boolean =
    math.abs(got - want) <= tol * math.max(1.0, math.abs(want))

  /** Count, order-insensitive pair digest and (with `jaccard`) the
    * overlap sum of a joined frame with long ids `l` and `r`. */
  protected def pairAgg(df: DataFrame, jaccard: Option[(String, String)]): DataFrame = {
    val aggs = Seq(count(lit(1)), sum(expr(Reference.PairDigest.sql("l", "r")))) ++
      jaccard.map { case (a, b) => sum(st_jaccard(col(a), col(b))) }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** SQL text of [[pairAgg]]'s select list. */
  protected def pairAggSql(jaccard: Option[(String, String)]): String =
    s"count(*), sum(${Reference.PairDigest.sql("l", "r")})" +
      jaccard.map { case (a, b) => s", sum(st_jaccard($a, $b))" }.getOrElse("")

  /** Runs a [[pairAgg]] frame and compares it with `want`. */
  protected def checkPairs(df: DataFrame, want: Reference.JoinResult): Option[String] = {
    val row = df.head()
    val n = row.getLong(0)
    val digest = if (row.isNullAt(1)) 0L else row.getLong(1) % Reference.PairDigest.P
    val withJaccard = row.length > 2
    val jac = if (withJaccard && !row.isNullAt(2)) row.getDouble(2) else 0.0
    if (n != want.pairs) Some(s"pairs $n != ${want.pairs}")
    else if (digest != want.digest) Some(s"pair digest $digest != ${want.digest}")
    // SQL and programmatic summation orders differ in the last digits
    else if (withJaccard && !relTol(jac, want.jaccardSum, Workload.JaccardTol))
      Some(s"jaccard sum $jac != ${want.jaccardSum} (rel tol ${Workload.JaccardTol})")
    else None
  }

  /** The store half every workload shares: write the objects spatially
    * partitioned (store cleared first), then count seeded windows. */
  protected def storeOps(spark: SparkSession, objects: Array[Geometry], input: Input,
                         windows: Array[Gen.Window], expected: Array[Long]): Seq[Op] = {
    val store = path("store")
    val write = Op("store_write", "write", None, input.frame, { df =>
      Workload.deleteRecursively(new File(store))
      df.spatialPartitionWrite(store, "geom", "fg", Workload.Bucket)
      None
    }, WriteProbe(input, objects.filter(_ != null), store))
    write +: windows.indices.map { i =>
      val wkb = windows(i).wkb
      Op(f"window_$i%03d", "window", None,
        () => SpatialStore.containmentRead(spark, store, wkb), { df =>
          val n = df.count()
          if (n == expected(i)) None else Some(s"window $i rows $n != ${expected(i)}")
        }, WindowProbe(windows(i), objects, store, expected(i)))
    }
  }
}

object Workload {
  val JaccardTol = 1e-9
  /** Target objects per tile for every join, store write and SQL join
    * (`graft.join.bucket`): small enough that the inputs span 25–100 tiles
    * and the points' stacked coordinate makes a hot tile. */
  val Bucket = 250
  val Names: Seq[String] = Seq("pathology_overlap", "osm_points")

  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "pathology_overlap" => new PathologyOverlap(seed, tiny)
    case "osm_points" => new OsmPoints(seed, tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Cross-comparison of two segmentations: intersects join with the jaccard
  * overlap sum, once as SQL (SpatialJoinExec) and once through the
  * programmatic join, then the slide stored and queried by region. */
final class PathologyOverlap(seed: Long, tiny: Boolean) extends Workload("pathology_overlap") {
  private val n = if (tiny) 400 else 3000
  private val windowCount = if (tiny) 3 else 6
  private val malformed = 0.005
  private var data: Gen.Pathology = _
  private var joinRef: Reference.JoinResult = _
  private var candidates: Array[Reference.Candidate] = _
  private var windows: Array[Gen.Window] = _
  private var windowRef: Array[Long] = _

  def sizes: Map[String, Any] = Map("polygons_per_side" -> n, "vertices" -> 12,
    "malformed_share" -> malformed, "windows_per_pass" -> windowCount)

  def prepare(spark: SparkSession, d: File): Unit = {
    dir = d
    data = Gen.pathology(seed, n, malformed)
    Gen.writeTsv(data.a, new File(d, "a.tsv"))
    Gen.writeTsv(data.b, new File(d, "b.tsv"))
  }

  def reference(): Unit = {
    val (r, c) = Reference.overlapJoin(data.a, data.b, 16.0, 97)
    joinRef = r; candidates = c
    val anchors = data.a.filter(_ != null)
    windows = Gen.windows(seed, windowCount, data.side, i => {
      val p = anchors(i).getCentroid; Some((p.getX, p.getY)) }, anchors.length)
    windowRef = Reference.windowCounts(windows, data.a)
  }

  private def side(spark: SparkSession, file: String, id: String, g: String) =
    WktTsvSource.read(spark, path(file), 2, nFields = Some(2))
      .select(col("f1").cast("long").as(id), col("geom").as(g))

  def ops(spark: SparkSession): Seq[Op] = {
    val a = () => side(spark, "a.tsv", "l", "ga")
    val b = () => side(spark, "b.tsv", "r", "gb")
    val probe = JoinProbe(Input("a.tsv", n, a), Input("b.tsv", n, b),
      data.a.filter(_ != null), data.b.filter(_ != null),
      "intersects", 0.0, "fg", candidates)
    val jaccard = Some(("ga", "gb"))
    val sqlJoin = Op("sql_intersects_jaccard", "join", Some("SpatialJoinExec"), { () =>
      a().createOrReplaceTempView("path_a"); b().createOrReplaceTempView("path_b")
      spark.sql(s"SELECT ${pairAggSql(jaccard)} FROM path_a JOIN path_b ON st_intersects(ga, gb)")
    }, checkPairs(_, joinRef), probe)
    val apiJoin = Op("api_intersects_jaccard", "join", None,
      () => pairAgg(a().spatialJoin(b(), "ga", "gb", "intersects", 0.0, "fg", Workload.Bucket), jaccard),
      checkPairs(_, joinRef), probe)
    Seq(sqlJoin, apiJoin) ++ storeOps(spark, data.a,
      Input("a.tsv", n, () => side(spark, "a.tsv", "id", "geom")), windows, windowRef)
  }
}

/** OSM-like points: skew-prone dwithin joins under three partitioners, the
  * same join in SQL and exact kNN in SQL, then the points stored spatially
  * partitioned and queried by window (the store half never touches the join
  * engine). */
final class OsmPoints(seed: Long, tiny: Boolean) extends Workload("osm_points") {
  private val nPoints = if (tiny) 3000 else 20000
  private val nProbes = if (tiny) 800 else 5000
  private val windowCount = if (tiny) 3 else 6
  private val distance = 0.4
  private val k = 5
  private val knnProbes = if (tiny) 10 else 30
  private var data: Gen.Osm = _
  private var pointGeoms: Array[Geometry] = _
  private var joinRef: Reference.JoinResult = _
  private var candidates: Array[Reference.Candidate] = _
  private var knnRef: Array[Array[Double]] = _
  private var windows: Array[Gen.Window] = _
  private var windowRef: Array[Long] = _

  def sizes: Map[String, Any] = Map("points" -> nPoints, "probes" -> nProbes,
    "dwithin_distance" -> distance, "knn_probes" -> knnProbes, "k" -> k,
    "windows_per_pass" -> windowCount)

  def prepare(spark: SparkSession, d: File): Unit = {
    dir = d
    data = Gen.osm(seed, nPoints, nProbes)
    Gen.writePoints(spark, data.points, path("points.parquet"))
    Gen.writePoints(spark, data.probes, path("probes.parquet"))
  }

  def reference(): Unit = {
    pointGeoms = Reference.geoms(data.points)
    val (r, c) = Reference.dwithinJoin(data.probes, data.points, distance, 53)
    joinRef = r; candidates = c
    val kp = Gen.Points(data.probes.x.take(knnProbes), data.probes.y.take(knnProbes))
    knnRef = Reference.knn(kp, data.points, k)
    val p = data.points
    windows = Gen.windows(seed, windowCount, Gen.OsmSide,
      i => if (p.valid(i)) Some((p.x(i), p.y(i))) else None, p.n)
    windowRef = Reference.windowCounts(windows, pointGeoms)
  }

  private def points(spark: SparkSession, id: String, g: String): DataFrame =
    spark.read.parquet(path("points.parquet"))
      .select(col("id").as(id), st_point(col("x"), col("y")).as(g))

  private def probes(spark: SparkSession, id: String, g: String): DataFrame =
    spark.read.parquet(path("probes.parquet"))
      .select(col("id").as(id), st_point(col("x"), col("y")).as(g))

  def ops(spark: SparkSession): Seq[Op] = {
    val q = () => probes(spark, "l", "gq")
    val p = () => points(spark, "r", "gp")
    val probeGeoms = Reference.geoms(data.probes)
    def probe(partitioner: String) = JoinProbe(Input("probes.parquet", nProbes, q),
      Input("points.parquet", nPoints, p), probeGeoms, pointGeoms.filter(_ != null),
      "dwithin", distance, partitioner, candidates)
    val api = Seq("fg", "bsp", "hc_dist").map { part =>
      Op(s"api_dwithin_$part", "join", None,
        () => pairAgg(q().spatialJoin(p(), "gq", "gp", "dwithin", distance, part, Workload.Bucket), None),
        checkPairs(_, joinRef), probe(part))
    }
    val sqlJoin = Op("sql_dwithin", "join", Some("SpatialJoinExec"), { () =>
      q().createOrReplaceTempView("osm_q"); p().createOrReplaceTempView("osm_p")
      spark.sql(s"SELECT ${pairAggSql(None)} FROM osm_q JOIN osm_p ON st_dwithin(gq, gp, $distance)")
    }, checkPairs(_, joinRef), probe("fg"))
    val knn = Op("sql_knn", "knn", Some("KnnJoinExec"), { () =>
      q().where(col("l") < knnProbes).createOrReplaceTempView("osm_k")
      p().createOrReplaceTempView("osm_p")
      spark.sql(s"SELECT l, st_distance(gq, gp) AS d FROM osm_k JOIN osm_p ON st_nearest(gq, gp, $k)")
    }, df => checkKnn(df), probe("fg").copy(
      left = Input(s"probes.parquet[l<$knnProbes]", knnProbes, () => q().where(col("l") < knnProbes)),
      leftGeoms = probeGeoms.take(knnProbes), predicate = "knn", distance = 0.0))
    api ++ Seq(sqlJoin, knn) ++ storeOps(spark, pointGeoms,
      Input("points.parquet", nPoints, () => points(spark, "id", "geom")), windows, windowRef)
  }

  /** Each probe's sorted k distances against brute force: stacked
    * duplicates make neighbour identity depend on ties, distances do not. */
  private def checkKnn(df: DataFrame): Option[String] = {
    val got = df.collect().groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> rows.map(_.getDouble(1)).sorted }
    val bad = knnRef.indices.find { i =>
      val g = got.getOrElse(i.toLong, Array.empty[Double])
      g.length != knnRef(i).length ||
        g.indices.exists(j => !relTol(g(j), knnRef(i)(j), 1e-12))
    }
    bad.map { i =>
      s"probe $i knn distances ${got.get(i.toLong).map(_.mkString(",")).orNull} != " +
        knnRef(i).mkString(",")
    }
  }
}
