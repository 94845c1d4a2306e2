package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.api._
import graft.core.GeometryCodec
import graft.functions._

class SpatialStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def boxesDf(n: Int) = {
    val rnd = new scala.util.Random(17)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
      .withColumn("geom", st_makebox(col("x"), col("y"),
        col("x") + lit(2.0), col("y") + lit(2.0)))
  }

  test("partition write -> read roundtrip collapses replicas") {
    val dir = Files.createTempDirectory("graft_store").toString + "/t1"
    val df = boxesDf(500)
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 50))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 500)
    assert(back.select("id").as[Long].collect().toSet == (0L until 500L).toSet)
    val meta = SpatialStore.readMeta(spark, dir)
    assert(meta.geomCol == "geom" && meta.tiles.nonEmpty)
  }

  test("content-hash row ids: deterministic across writes, dup lines collapse") {
    val base = Files.createTempDirectory("graft_store").toString
    val df = boxesDf(100)
    // two independent writes of the same data produce the SAME id per row —
    // the property a positional id (monotonically_increasing_id) lacks
    // under stage retry
    SpatialStore.write(df, "geom", base + "/a",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    SpatialStore.write(df, "geom", base + "/b",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    def ids(p: String): Map[Long, Long] =
      spark.read.parquet(p + "/data").select("id", SpatialStore.RowIdCol)
        .distinct().as[(Long, Long)].collect().toMap
    assert(ids(base + "/a") == ids(base + "/b"))
    // value-identical input rows share an id and collapse on read — the
    // reference's full-line uniq semantics (duplicate_remover.cpp:45-63)
    SpatialStore.write(df.unionAll(df.limit(5)), "geom", base + "/c",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    assert(SpatialStore.read(spark, base + "/c").count() == 100)
  }

  test("map-typed attribute columns survive the content-hash row ids") {
    val dir = Files.createTempDirectory("graft_store").toString + "/m1"
    val df = boxesDf(50).withColumn("props",
      map(lit("name"), concat(lit("box"), col("id")), lit("kind"), lit("poly")))
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 50)
    assert(back.select(col("props")("name")).as[String].collect().toSet ==
      (0 until 50).map(i => s"box$i").toSet)
  }

  test("nested map columns (in struct and array) hash and round-trip") {
    val dir = Files.createTempDirectory("graft_store").toString + "/m2"
    val df = boxesDf(40)
      .withColumn("meta", struct(
        map(lit("k"), col("id").cast("string")).as("tags"),
        col("id").as("n")))
      .withColumn("hist", array(
        map(lit("a"), col("id")), map(lit("b"), col("id") * 2)))
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    val back = SpatialStore.read(spark, dir)
    assert(back.count() == 40)
    assert(back.select(col("meta")("tags")("k")).as[String].collect().toSet ==
      (0 until 40).map(_.toString).toSet)
    // null struct must keep its own identity (not alias struct-of-nulls)
    val withNull = boxesDf(4).withColumn("meta",
      when(col("id") < 2, struct(map(lit("k"), lit("v")).as("tags"))))
    val ids = SpatialStore.withRowIds(withNull)
      .select(SpatialStore.RowIdCol).distinct().count()
    assert(ids == 4)
  }

  test("preserveDuplicates=true round-trips value-identical rows") {
    val base = Files.createTempDirectory("graft_store").toString
    val df = boxesDf(30)
    SpatialStore.write(df.unionAll(df.limit(5)), "geom", base + "/d",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20),
      preserveDuplicates = true)
    assert(SpatialStore.read(spark, base + "/d").count() == 35)
    // and the duplicated ids appear exactly twice
    val byId = SpatialStore.read(spark, base + "/d")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert((0L until 5L).forall(byId(_) == 2) && (5L until 30L).forall(byId(_) == 1))
  }

  test("containment read prunes tiles and matches direct filter") {
    val dir = Files.createTempDirectory("graft_store").toString + "/t2"
    val df = boxesDf(800)
    SpatialStore.writeDirs(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 40))

    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val got = SpatialStore.containmentRead(spark, dir, window)
    val want = df.where(st_intersects(col("geom"), lit(window)))
    assert(got.count() == want.count())
    assert(got.select("id").as[Long].collect().toSet ==
           want.select("id").as[Long].collect().toSet)

    // pruning must touch fewer files than a full scan: read the scan node's
    // numFiles metric (inputFiles does not reflect partition pruning)
    val meta = SpatialStore.readMeta(spark, dir)
    val wantedTiles = meta.tiles
      .filter(t => t.mbb.intersects(graft.core.Mbb(10, 10, 30, 25))).map(_.tileId)
    assert(wantedTiles.length < meta.tiles.length, "window should not span all tiles")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      val plan = df.queryExecution.executedPlan
      plan.execute().count()
      plan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.get
    }
    val allFiles = scannedFiles(spark.read.parquet(dir))
    val prunedFiles = scannedFiles(spark.read.parquet(dir)
      .where(col(SpatialStore.TileCol).isin(wantedTiles.toSeq: _*)))
    assert(prunedFiles < allFiles, s"pruned $prunedFiles vs all $allFiles")
  }

  test("prunedRead lists only window-selected tile dirs; off-space window is empty and schema-true") {
    val dir = Files.createTempDirectory("graft_store").toString + "/pr"
    val df = boxesDf(600)
    SpatialStore.writeDirs(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 40))

    // the selective read's scan must see exactly the files under the
    // wanted tile dirs — listing cost ∝ selectivity, not leaf count
    val window = GeometryCodec.toWkb(GeometryCodec.box(5, 5, 20, 15))
    val meta = SpatialStore.readMeta(spark, dir)
    val wanted = meta.tiles
      .filter(t => t.mbb.intersects(graft.core.Mbb(5, 5, 20, 15)))
      .map(_.tileId).toSet
    assert(wanted.nonEmpty && wanted.size < meta.tiles.length)
    val filesUnderWanted = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory &&
        wanted.contains(d.getName.stripPrefix(SpatialStore.TileCol + "=").toInt))
      .map(_.listFiles().count(f => f.getName.endsWith(".parquet"))).sum
    val got = SpatialStore.containmentRead(spark, dir, window)
    // execute THIS plan instance (a separate .count() builds its own query
    // execution whose metrics this one never sees), then read the scan out
    // of the finalized adaptive plan
    val root = got.queryExecution.executedPlan
    root.execute().count()
    // AQE hides the scan inside materialized QueryStageExec leaves whose
    // wrapped plan is not a TreeNode child — expand them explicitly
    def expand(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          expand(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          expand(q.plan)
        case _ => Nil
      }
      (p +: p.children.flatMap(expand)) ++ nested
    }
    val scanned = expand(root).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.max
    assert(scanned == filesUnderWanted,
      s"scan read $scanned files, wanted dirs hold $filesUnderWanted")
    assert(got.select("id").as[Long].collect().toSet ==
      df.where(st_intersects(col("geom"), lit(window)))
        .select("id").as[Long].collect().toSet)

    // a window off the store's space: zero rows, original columns intact
    val off = GeometryCodec.toWkb(GeometryCodec.box(5000, 5000, 5010, 5010))
    val empty = SpatialStore.containmentRead(spark, dir, off)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == df.columns.toSet)
  }

  test("multiWindowRead: one scan matches per-window containment reads") {
    val dir = Files.createTempDirectory("graft_store").toString + "/mw"
    val df = boxesDf(500)
    SpatialStore.write(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 50))
    val wins = Seq((0L, 0.0, 0.0), (1L, 30.0, 10.0), (2L, 70.0, 20.0),
        (3L, 95.0, 45.0), (4L, 200.0, 200.0)) // last window hits nothing
      .toDF("wid", "wx", "wy")
      .withColumn("wgeom", st_makebox(col("wx"), col("wy"),
        col("wx") + lit(20.0), col("wy") + lit(15.0)))
    val batch = SpatialStore.multiWindowRead(spark, dir, wins, "wid", "wgeom")
      .select("wid", "id").as[(Long, Long)].collect().toSet
    val oneByOne = wins.select("wid", "wx", "wy").as[(Long, Double, Double)]
      .collect().flatMap { case (wid, wx, wy) =>
        SpatialStore.containmentRead(spark, dir, GeometryCodec.toWkb(
            GeometryCodec.box(wx, wy, wx + 20.0, wy + 15.0)))
          .select("id").as[Long].collect().map(wid -> _)
      }.toSet
    assert(batch == oneByOne)
    assert(!batch.exists(_._1 == 4L))
  }

  test("api implicits: containment + spatialJoin + describeSpatialPartitioning") {
    val df = boxesDf(300)
    val inWin = df.containment("POLYGON((0 0,40 0,40 40,0 40,0 0))")
    assert(inWin.count() > 0 && inWin.count() < 300)

    val right = boxesDf(200).select(col("id").as("rid"), col("geom").as("rgeom"))
    val joined = df.select(col("id"), col("geom"))
      .spatialJoin(right, "geom", "rgeom", bucket = 50)
    assert(joined.count() > 0)

    val (perTile, summary) = df.describeSpatialPartitioning("geom", "fg", 50)
    val s = summary.head()
    assert(s.getAs[Long]("n_tiles") == perTile.count())
    assert(s.getAs[Long]("n_replicated_objects") >= 300)
    assert(s.getAs[Long]("max_objects") >= s.getAs[Long]("min_objects"))

    // compact-store write through the API implicit round-trips
    val cDir = Files.createTempDirectory("graft_store").toString + "/api_c"
    df.spatialPartitionWriteCompact(cDir, "geom", "fg", 50)
    val w = GeometryCodec.toWkb(GeometryCodec.box(0, 0, 40, 40))
    assert(SpatialStore.containmentReadCompact(spark, cDir, w)
      .count() == inWin.count())
  }

  test("GraftExtensions registers functions in a fresh session") {
    val s2 = spark.newSession()
    new graft.GraftExtensions().apply(
      // SparkSessionExtensions is applied at build time normally; simulate by
      // registering into the new session's registry through the same builders
      new org.apache.spark.sql.SparkSessionExtensions {
        override def injectFunction(
            fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
                 org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                 Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                   org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
          s2.sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)
      })
    val r = s2.sql("SELECT st_area(st_makebox(0D,0D,3D,3D)) a").head()
    assert(r.getDouble(0) == 9.0)
  }

  test("compact (manifest-committed) layout: same reads, task-count files") {
    val dir = Files.createTempDirectory("graft_store").toString + "/tc"
    val df = boxesDf(800)
    // pin the writer-task count: the `scanned < dataFiles` pruning
    // assertion below needs enough range-clustered files that the small
    // window misses at least one — with very few shuffle partitions every
    // file's tile range could intersect it and the test would depend on
    // the environment's spark.sql.shuffle.partitions
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try SpatialStore.writeCompact(df, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    // identical answers to the dir layout's window semantics
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val got = SpatialStore.containmentReadCompact(spark, dir, window)
      .select("id").as[Long].collect().toSet
    val want = df.where(st_intersects(col("geom"), lit(window)))
      .select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // the layout's point: data file count tracks TASKS, not tiles
    val meta = SpatialStore.readMeta(spark, dir)
    val dataFiles = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(meta.tiles.length > dataFiles,
      s"compact layout should write fewer files ($dataFiles) than tiles " +
        s"(${meta.tiles.length})")
    val manifest = spark.read.parquet(s"$dir/_graft_manifest")
    assert(manifest.count() == dataFiles.toLong)
    // manifest file-pruning engages: the window's scan reads a strict
    // subset of the data files (tiles are range-clustered across many
    // files here: 800 boxes / bucket 10 >> one file's tile range)
    val wantedTiles = meta.tiles
      .filter(t => t.mbb.intersects(graft.core.Mbb(10, 10, 30, 25)))
      .map(_.tileId)
    val scanned =
      SpatialStore.manifestRead(spark, dir, wantedTiles).inputFiles.length
    assert(scanned < dataFiles, s"manifest pruned $scanned of $dataFiles files")
    // empty window returns empty, not an error
    assert(SpatialStore.containmentReadCompact(spark, dir,
      GeometryCodec.toWkb(GeometryCodec.box(-500, -500, -400, -400))).count() == 0)
    // relocatable: the manifest stores bare file names, not write-time
    // URIs — a moved store must read identically (and not silently read
    // the old location)
    val moved = Files.createTempDirectory("graft_store").toString + "/moved"
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    }
    cp(new java.io.File(dir), new java.io.File(moved))
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    rmAll(new java.io.File(dir))
    val gotMoved = SpatialStore.containmentReadCompact(spark, moved, window)
      .select("id").as[Long].collect().toSet
    assert(gotMoved == want)
  }

  test("compact layout torn writes: loud failure, re-write heals") {
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    val dir = Files.createTempDirectory("graft_store").toString + "/torn"
    val df = boxesDf(400)
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.writeCompact(df, "geom", dir, cfg)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val want = df.where(st_intersects(col("geom"), lit(window)))
      .select("id").as[Long].collect().toSet

    // kill between the data write and the FIRST manifest commit: data is
    // present, manifest absent — the read must fail loudly, not fall back
    // to a silent full scan or an opaque path error
    val manifestDir = new java.io.File(s"$dir/_graft_manifest")
    val saved = Files.createTempDirectory("graft_store").toFile
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    }
    cp(manifestDir, new java.io.File(saved, "_graft_manifest"))
    rmAll(manifestDir)
    val noManifest = intercept[IllegalStateException] {
      SpatialStore.containmentReadCompact(spark, dir, window).count()
    }
    assert(noManifest.getMessage.contains("torn write"))
    // re-running writeCompact heals: full answer, no double-counting
    SpatialStore.writeCompact(df, "geom", dir, cfg)
    assert(SpatialStore.containmentReadCompact(spark, dir, window)
      .select("id").as[Long].collect().toSet == want)

    // kill between a RE-write's data overwrite (clears data/) and its
    // manifest commit: the surviving manifest names files that no longer
    // exist — simulate by dropping one data file the manifest still names
    val dataDir = new java.io.File(s"$dir/data")
    val victim = dataDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val stale = intercept[IllegalStateException] {
      SpatialStore.containmentReadCompact(spark, dir, window).count()
    }
    assert(stale.getMessage.contains("stale manifest"))
    SpatialStore.writeCompact(df, "geom", dir, cfg)
    assert(SpatialStore.containmentReadCompact(spark, dir, window)
      .select("id").as[Long].collect().toSet == want)

    // retired round-13 3-D manifest layout: name the format in the error
    rmAll(new java.io.File(s"$dir/_graft_manifest"))
    cp(new java.io.File(saved, "_graft_manifest"),
       new java.io.File(s"$dir/_graft_manifest3d"))
    val legacy = intercept[IllegalStateException] {
      SpatialStore.containmentReadCompact(spark, dir, window).count()
    }
    assert(legacy.getMessage.contains("_graft_manifest3d"))
  }

  test("writeCompact over a dir-layout store removes the stale tile dirs") {
    val dir = Files.createTempDirectory("graft_store").toString + "/mixed"
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.writeDirs(boxesDf(300), "geom", dir, cfg)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(SpatialStore.TileCol + "=")))
    // different data: a mixed store would serve the OLD rows from the
    // stale tile dirs against the new meta
    val df2 = boxesDf(500)
    SpatialStore.writeCompact(df2, "geom", dir, cfg)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(SpatialStore.TileCol + "=")),
      "stale dir-layout tile dirs must not survive a compact overwrite")
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    assert(SpatialStore.containmentReadCompact(spark, dir, window)
      .select("id").as[Long].collect().toSet ==
      df2.where(st_intersects(col("geom"), lit(window)))
        .select("id").as[Long].collect().toSet)
  }

  test("writeDirs over a compact store removes the stale manifest + data/") {
    // the MIRROR of the compact-over-dirs lane: a dir-layout rebuild over
    // a compact store must not leave data/ + _graft_manifest behind —
    // layout detection prefers the manifest, so reads would silently
    // serve the OLD rows against the new meta
    val dir = Files.createTempDirectory("graft_store").toString + "/mixed2"
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.writeCompact(boxesDf(300), "geom", dir, cfg)
    assert(new java.io.File(s"$dir/_graft_manifest").exists())
    val df2 = boxesDf(500)
    SpatialStore.writeDirs(df2, "geom", dir, cfg)
    assert(!new java.io.File(s"$dir/_graft_manifest").exists(),
      "stale compact manifest must not survive a dir-layout rebuild")
    assert(!new java.io.File(s"$dir/data").exists(),
      "stale compact data/ must not survive a dir-layout rebuild")
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    assert(SpatialStore.containmentRead(spark, dir, window)
      .select("id").as[Long].collect().toSet ==
      df2.where(st_intersects(col("geom"), lit(window)))
        .select("id").as[Long].collect().toSet)
  }

  test("manifest without data/ fails loudly (torn opposite half)") {
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    val dir = Files.createTempDirectory("graft_store").toString + "/nodata"
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10)
    SpatialStore.writeCompact(boxesDf(200), "geom", dir, cfg)
    rmAll(new java.io.File(s"$dir/data"))
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val err = intercept[IllegalStateException] {
      SpatialStore.containmentReadCompact(spark, dir, window).count()
    }
    assert(err.getMessage.contains("no data/"),
      s"wanted the heal-instructing message, got: ${err.getMessage}")
  }

  test("building compact and dir-layout read frames runs no Spark job") {
    val base = Files.createTempDirectory("graft_store").toString
    val df = boxesDf(500)
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20)
    SpatialStore.write(df, "geom", base + "/c", cfg)
    SpatialStore.writeDirs(df, "geom", base + "/d", cfg)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val off = GeometryCodec.toWkb(GeometryCodec.box(-500, -500, -400, -400))
    var win, empty, full, dirWin: org.apache.spark.sql.DataFrame = null
    // manifest, data schema and tile-dir schema all resolve on the driver
    assert(jobsDuring { win = SpatialStore.containmentRead(spark, base + "/c", window) } == 0)
    assert(jobsDuring { empty = SpatialStore.containmentRead(spark, base + "/c", off) } == 0)
    assert(jobsDuring { full = SpatialStore.read(spark, base + "/c") } == 0)
    assert(jobsDuring { dirWin = SpatialStore.containmentRead(spark, base + "/d", window) } == 0)
    val want = df.where(st_intersects(col("geom"), lit(window))).count()
    assert(want > 0)
    assert(win.count() == want && dirWin.count() == want)
    assert(empty.count() == 0 && full.count() == 500)
  }

  test("driver-resolved schemas equal Spark's inferred schemas") {
    val base = Files.createTempDirectory("graft_store").toString
    // the nested map/struct/array frame: the footer schema must carry
    // every nested type exactly as Spark's own inference reads it
    val df = boxesDf(40)
      .withColumn("meta", struct(
        map(lit("k"), col("id").cast("string")).as("tags"),
        col("id").as("n")))
      .withColumn("hist", array(
        map(lit("a"), col("id")), map(lit("b"), col("id") * 2)))
    val cfg = graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20)
    val compact = base + "/c"
    val dirs = base + "/d"
    SpatialStore.write(df, "geom", compact, cfg)
    SpatialStore.writeDirs(df, "geom", dirs, cfg)
    val window = GeometryCodec.toWkb(GeometryCodec.box(10, 10, 30, 25))
    val internal = Seq(SpatialStore.RowIdCol, SpatialStore.RowId2Col, SpatialStore.TileCol)
    val compactRaw = spark.read.parquet(compact + "/data").schema
    val dirRaw = spark.read.parquet(dirs).schema
    def user(raw: org.apache.spark.sql.types.StructType) =
      org.apache.spark.sql.types.StructType(raw.filterNot(f => internal.contains(f.name)))
    assert(SpatialStore.read(spark, compact).schema == user(compactRaw))
    assert(SpatialStore.containmentRead(spark, compact, window).schema == user(compactRaw))
    assert(SpatialStore.containmentRead(spark, dirs, window).schema == user(dirRaw))
    // before the internal columns drop: the selective scans themselves
    def wanted(store: String) = SpatialStore.readMeta(spark, store).tiles
      .filter(_.mbb.intersects(graft.core.Mbb(10, 10, 30, 25))).map(_.tileId).toSeq
    assert(SpatialStore.selectTiles(spark, compact, wanted(compact)).schema == compactRaw)
    assert(SpatialStore.selectTiles(spark, dirs, wanted(dirs)).schema == dirRaw)
  }
}
