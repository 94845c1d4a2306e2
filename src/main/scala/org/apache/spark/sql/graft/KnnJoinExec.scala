package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.operators.SpatialJoin

/** Physical kNN join: for each left (probe) row, its k nearest right
  * (index) rows by geometry distance — the SQL plan for
  * `a JOIN b ON st_nearest(a.g, b.g, k[, d])`, the reference CLI's
  * `-p st_nearest` (/root/reference/src/resque/knn_2d.hpp:113-217) made
  * reachable from plain SQL, with the globally-exact semantics of
  * [[graft.operators.SpatialJoin.knnJoinExact]] rather than the
  * reference's tile-local approximation.
  *
  * Execution bridges the child plans' InternalRows into the DataFrame-level
  * kNN engine, then projects the joined relation back to
  * `left.output ++ right.output`. The bridge is one narrow row-widening map
  * per side — no extra shuffle or scan; every exchange in the resulting
  * plan is the engine's own. The engine picks one of three plans by side
  * size: a small right (index) side is broadcast and each left partition
  * searches it (no shuffle); else a small left (probe) side is broadcast
  * and each right partition searches for it, with one window top-k per
  * probe; else the tiled two-pass engine (tiling, density-planned ring
  * radii, WindowGroupLimit probe) runs.
  *
  * Distance ties at the k-boundary are broken deterministically by the
  * right row's values: atomic orderable columns compare directly (in output
  * order), binary columns through order-preserving hex; columns of complex
  * type don't participate (two right rows equal on all participating
  * columns are interchangeable only if they differ solely in complex
  * columns — document, don't guess). Exception: tile-local mode
  * (st_nearest2) ships the engine's arbitrary k-boundary tie choice — the
  * tie-break lanes are skipped there (see the inline note at the tie-lane
  * skip), matching the reference's own unordered tile-local emission.
  * Left rows with null/invalid geometry
  * match nothing (SQL null-predicate semantics); right rows with
  * null/invalid geometry are never neighbors.
  *
  * Tuning via the same runtime confs as SpatialJoinExec:
  * `graft.join.partitioner`, `graft.join.bucket`, `graft.join.sampleTarget`,
  * plus `graft.knn.broadcastThreshold` (the row cap a side must be within
  * to be broadcast — right side checked first, then left; 0 forces the
  * tiled engine).
  */
case class KnnJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression,
    k: Int, maxDistance: Double,
    extraCond: Option[Expression],
    tileLocal: Boolean = false) extends BinaryExecNode {
  // tile-local (st_nearest2) is the reference's k-only surface: a distance
  // bound would silently change which tile-local neighbors survive
  require(!tileLocal || maxDistance.isPosInfinity,
    "st_nearest2 (tile-local) takes no distance bound")

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val spark = session
    val conf = SQLConf.get
    val cfg = SpatialJoin.Config(
      partitioner = conf.getConfString("graft.join.partitioner", "fg"),
      bucket = conf.getConfString("graft.join.bucket", "0").toInt,
      sampleTarget = conf.getConfString("graft.join.sampleTarget", "100000").toInt,
      knnBroadcastThreshold =
        conf.getConfString("graft.knn.broadcastThreshold", "10000").toInt)

    val lAttrs = left.output; val rAttrs = right.output

    // ---- left: synthetic unique id + all columns + WKB geometry.
    // (partitionIndex << 36 | localSeq) is deterministic and collision-free
    // up to 2^36 rows per partition / 2^27 partitions — the semi/anti lane's
    // id scheme (SpatialJoinExec.doExecuteSemiAnti).
    val lNames = lAttrs.indices.map(i => s"__l$i")
    val lSchema = StructType(
      StructField("__lid", LongType, nullable = false) +:
        lAttrs.zipWithIndex.map { case (a, i) =>
          StructField(lNames(i), a.dataType, a.nullable) } :+
        StructField("__lg", BinaryType, nullable = true))
    val lgExpr = leftGeom
    val lRdd: RDD[InternalRow] = left.execute().mapPartitionsWithIndex { (pi, iter) =>
      val idAttr = AttributeReference("__lid", LongType, nullable = false)()
      val proj = UnsafeProjection.create(
        (idAttr +: lAttrs) :+ lgExpr, idAttr +: lAttrs)
      val idRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      var seq = 0L
      iter.map { row =>
        // fail loudly before seq bleeds into the partition-index bits and
        // silently merges two probes' neighbor lists
        require(seq < (1L << 36),
          s"kNN probe partition $pi exceeds 2^36 rows; repartition the left side")
        idRow.setLong(0, (pi.toLong << 36) | seq)
        seq += 1
        proj(joined(idRow, row)).copy()
      }
    }

    // ---- right: all columns + WKB geometry + tie-break lanes. Binary
    // columns get an order-preserving hex lane (unsigned-byte lexicographic
    // == hex-string lexicographic); atomic orderable columns tie-break on
    // themselves; complex-typed columns are skipped.
    val rNames = rAttrs.indices.map(i => s"__r$i")
    def atomicOrderable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    // tile-local mode ranks per owner tile with engine ties (the reference's
    // arbitrary order) — don't pay the per-row hex lanes it never reads
    val tie =
      if (tileLocal) Seq.empty[(String, Expression, DataType)]
      else rAttrs.zipWithIndex.flatMap { case (a, i) =>
        a.dataType match {
          case BinaryType => Some((s"__tb$i", Hex(a): Expression, StringType: DataType))
          case dt if atomicOrderable(dt) => Some((s"__r$i", null: Expression, dt))
          case _ => None
        }
      }
    val tieExtra = tie.filter(_._2 != null)
    val rSchema = StructType(
      rAttrs.zipWithIndex.map { case (a, i) =>
        StructField(rNames(i), a.dataType, a.nullable) } ++
        (StructField("__rg", BinaryType, nullable = true) +:
          tieExtra.map { case (n, _, dt) => StructField(n, dt, nullable = true) }))
    val rgExpr = rightGeom
    val tieExprs = tieExtra.map(_._2)
    val rRdd: RDD[InternalRow] = right.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create((rAttrs :+ rgExpr) ++ tieExprs, rAttrs)
      iter.map(row => proj(row).copy())
    }

    val ldf = spark.internalCreateDataFrame(lRdd, lSchema)
    val rdf = spark.internalCreateDataFrame(rRdd, rSchema)
    val tieBreak = tie.map(_._1)

    val joinedDf =
      if (tileLocal)
        // reference st_nearest2 semantics: owner-tile-local top-k, no
        // boundary re-join pass (and no tie-break lanes — the reference's
        // tie order is engine-arbitrary)
        SpatialJoin.knnJoin(ldf, "__lg", rdf, "__rg", k, cfg = cfg)
      else if (maxDistance.isPosInfinity)
        SpatialJoin.knnJoinExact(ldf, "__lg", "__lid", rdf, "__rg", k,
          tieBreak = tieBreak, cfg = cfg)
      else
        SpatialJoin.knnJoinBounded(ldf, "__lg", "__lid", rdf, "__rg", k,
          maxDistance = maxDistance, tieBreak = tieBreak, cfg = cfg)

    import org.apache.spark.sql.functions.col
    val outRdd = joinedDf
      .select((lNames ++ rNames).map(col): _*)
      .queryExecution.toRdd

    extraCond match {
      case None => outRdd
      case Some(c) =>
        val attrs = output
        outRdd.mapPartitionsWithIndex { (pi, iter) =>
          val pred = Predicate.create(c, attrs)
          pred.initialize(pi)
          iter.filter(pred.eval)
        }
    }
  }
}
