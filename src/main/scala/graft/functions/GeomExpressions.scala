package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.core.GeometryCodec

/** JTS-backed spatial Catalyst expressions.
  *
  * Geometry on the wire is WKB in a BinaryType column; each expression
  * deserializes, computes, and (for geometry results) reserializes. The
  * predicate set mirrors the reference's RESQUE join predicates
  * (/root/reference/src/resque/spjoin_2d.hpp:138-224) and the measure set
  * mirrors its lazily-computed pair stats (spjoin_2d.hpp:226-264).
  *
  * Every expression generates real code (no CodegenFallback): the generated
  * call is a static dispatch into [[GeomKernels]] (or a bound reference for
  * parameterized expressions), which keeps geometry construction, filters,
  * and pair measures inside whole-stage codegen — geometry construction runs
  * per input row of every spatial gate, and the measures run per joined
  * pair. Interpreted eval delegates to the identical kernel, so both paths
  * are bit-equal by construction.
  */
object GeomExpressions {
  val MbbType: StructType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))
}

/** Shared eval/codegen kernels. A top-level object gets Java static
  * forwarders, so generated code calls `graft.functions.GeomKernels.x(...)`
  * directly. Methods return null (boxed) where the expression is null for
  * non-null input (malformed WKB/WKT, topology errors). */
object GeomKernels {
  def wktToWkb(s: UTF8String): Array[Byte] = {
    val g = GeometryCodec.fromWkt(s.toString)
    if (g == null) null else GeometryCodec.toWkb(g)
  }

  def wkbToWkt(b: Array[Byte]): UTF8String = {
    val g = GeometryCodec.fromWkb(b)
    if (g == null) null else UTF8String.fromString(GeometryCodec.toWkt(g))
  }

  def pointWkb(x: Double, y: Double): Array[Byte] =
    GeometryCodec.toWkb(GeometryCodec.point(x, y))

  def boxWkb(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    GeometryCodec.toWkb(GeometryCodec.box(xmin, ymin, xmax, ymax))

  def segmentWkb(x1: Double, y1: Double, x2: Double, y2: Double): Array[Byte] =
    GeometryCodec.toWkb(GeometryCodec.segment(x1, y1, x2, y2))

  def envelope(b: Array[Byte]): InternalRow = {
    val g = GeometryCodec.fromWkb(b)
    if (g == null) null else {
      val e = g.getEnvelopeInternal
      // JTS encodes "no envelope" (empty geometry, or every coordinate
      // NaN — expandToInclude never fires on NaN comparisons) as the
      // inverted (0,0,-1,-1) box; surfacing that as data would give such
      // rows a phantom position near the origin. SQL null instead — every
      // join/store path already drops null envelopes as invalid geometry.
      // Non-finite bounds (NaN/±Inf coordinates in parseable WKB) are the
      // same class: a NaN/Inf bound would ride min/max tile planning into
      // every tile boundary. Checked HERE, in the kernel that already
      // holds the four doubles — a relational `.where(isnan...)` on the
      // envelope columns costs 2.2x on every join gate (measured r15:
      // filter pushdown substitutes the st_envelope alias into each of
      // the 12 conditions, re-parsing the WKB 12x per row).
      if (!usableEnvelope(e)) null
      else InternalRow(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
  }

  /** False for JTS's "no envelope" and for non-finite bounds: the
    * geometries every join, kNN and store path drops as invalid. */
  def usableEnvelope(e: Envelope): Boolean =
    !e.isNull &&
      java.lang.Double.isFinite(e.getMinX) && java.lang.Double.isFinite(e.getMinY) &&
      java.lang.Double.isFinite(e.getMaxX) && java.lang.Double.isFinite(e.getMaxY)

  def predicate(a: Array[Byte], b: Array[Byte], name: String): java.lang.Boolean = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null
    else java.lang.Boolean.valueOf(graft.core.GeomPredicates.eval(name, g1, g2, 0.0))
  }

  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): java.lang.Boolean = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null
    else java.lang.Boolean.valueOf(graft.core.GeomPredicates.dwithinPlanar(g1, g2, d))
  }

  def distance(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null else java.lang.Double.valueOf(g1.distance(g2))
  }

  def distanceSphere(a: Array[Byte], b: Array[Byte]): java.lang.Double = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null
    else {
      val c1 = g1.getCoordinate; val c2 = g2.getCoordinate
      java.lang.Double.valueOf(graft.core.Geo.haversineMeters(c1.x, c1.y, c2.x, c2.y))
    }
  }

  def area(b: Array[Byte]): java.lang.Double = {
    val g = GeometryCodec.fromWkb(b)
    if (g == null) null else java.lang.Double.valueOf(g.getArea)
  }

  def overlay(a: Array[Byte], b: Array[Byte], op: String): Array[Byte] = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null
    else {
      // invalid/self-intersecting inputs -> null, matching the codebase's
      // permissive malformed-input policy (GeometryCodec.fromWkt/fromWkb)
      val r: Geometry =
        try op match {
          case "union"        => g1.union(g2)
          case "intersection" => g1.intersection(g2)
          case "difference"   => g1.difference(g2)
          case other => throw new IllegalArgumentException(s"unknown overlay $other")
        } catch { case _: org.locationtech.jts.geom.TopologyException => null }
      if (r == null) null else GeometryCodec.toWkb(r)
    }
  }

  def buffer(a: Array[Byte], d: Double): Array[Byte] = {
    val g = GeometryCodec.fromWkb(a)
    if (g == null) null
    else try GeometryCodec.toWkb(g.buffer(d))
    catch { case _: org.locationtech.jts.geom.TopologyException => null }
  }

  def measure(a: Array[Byte], b: Array[Byte], name: String): java.lang.Double = {
    val g1 = GeometryCodec.fromWkb(a)
    val g2 = GeometryCodec.fromWkb(b)
    if (g1 == null || g2 == null) null
    else try {
      // axis-aligned rectangles: every measure is exact envelope arithmetic
      // (union = a + b - inter by inclusion-exclusion) — no JTS overlays
      val rect = g1.isRectangle && g2.isRectangle
      def rectInter: Double = {
        val ea = g1.getEnvelopeInternal; val eb = g2.getEnvelopeInternal
        val w = math.min(ea.getMaxX, eb.getMaxX) - math.max(ea.getMinX, eb.getMinX)
        val h = math.min(ea.getMaxY, eb.getMaxY) - math.max(ea.getMinY, eb.getMinY)
        if (w <= 0 || h <= 0) 0.0 else w * h
      }
      val v = name match {
        case "intersection_area" =>
          if (rect) rectInter else g1.intersection(g2).getArea
        case "union_area" =>
          if (rect) g1.getArea + g2.getArea - rectInter
          else g1.union(g2).getArea
        case "jaccard" =>
          val inter = if (rect) rectInter else g1.intersection(g2).getArea
          val uni = if (rect) g1.getArea + g2.getArea - inter
                    else g1.union(g2).getArea
          if (uni == 0) 0.0 else inter / uni
        case "dice" =>
          val inter = if (rect) rectInter else g1.intersection(g2).getArea
          val denom = g1.getArea + g2.getArea
          if (denom == 0) 0.0 else 2 * inter / denom
        case other => throw new IllegalArgumentException(s"unknown measure $other")
      }
      java.lang.Double.valueOf(v)
    } catch { case _: org.locationtech.jts.geom.TopologyException => null }
  }

  def npoints(b: Array[Byte]): java.lang.Integer = {
    val g = GeometryCodec.fromWkb(b)
    if (g == null) null else java.lang.Integer.valueOf(g.getNumPoints)
  }
}

/** Codegen helper: call a kernel returning a nullable reference type and
  * null-propagate into (ev.isNull, ev.value). `javaType` is the boxed or
  * reference Java type of the kernel result; `unbox` extracts the primitive
  * (empty for reference-typed results). */
private[functions] object GeomCodegen {
  def nullableCall(ctx: CodegenContext, ev: ExprCode,
                   javaType: String, call: String, unbox: String): String = {
    val r = ctx.freshName("r")
    s"""
       |$javaType $r = $call;
       |if ($r == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $r$unbox;
       |}
     """.stripMargin
  }
}

/** WKT string -> WKB geometry; malformed input -> null (the reference's
  * permissive mapper behavior, manipulate_2d.cpp:182-189). */
case class StGeomFromWkt(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeomKernels.wktToWkb(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "byte[]", s"graft.functions.GeomKernels.wktToWkb($c)", ""))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_geomfromwkt"
}

case class StAsText(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeomKernels.wkbToWkt(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "UTF8String", s"graft.functions.GeomKernels.wkbToWkt($c)", ""))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_astext"
}

case class StPoint(x: Expression, y: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.pointWkb(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeomKernels.pointWkb($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "st_point"
}

/** (xmin,ymin,xmax,ymax) -> axis-aligned rectangle polygon (the reference's
  * get_wkt_from_mbb, queryprocessor_aux.h:46-54, but emitting geometry). */
case class StMakeBox(cs: Seq[Expression]) extends QuaternaryExpression
    with ImplicitCastInputTypes {
  require(cs.size == 4, "st_makebox(xmin,ymin,xmax,ymax)")
  override def first: Expression = cs(0)
  override def second: Expression = cs(1)
  override def third: Expression = cs(2)
  override def fourth: Expression = cs(3)
  override def inputTypes: Seq[DataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomKernels.boxWkb(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeomKernels.boxWkb($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(Seq(f, s, t, q))
  override def prettyName: String = "st_makebox"
}

/** (x1,y1,x2,y2) -> two-point linestring segment. */
case class StMakeLine(cs: Seq[Expression]) extends QuaternaryExpression
    with ImplicitCastInputTypes {
  require(cs.size == 4, "st_makeline(x1,y1,x2,y2)")
  override def first: Expression = cs(0)
  override def second: Expression = cs(1)
  override def third: Expression = cs(2)
  override def fourth: Expression = cs(3)
  override def inputTypes: Seq[DataType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomKernels.segmentWkb(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeomKernels.segmentWkb($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(Seq(f, s, t, q))
  override def prettyName: String = "st_makeline"
}

/** geometry -> envelope struct (xmin,ymin,xmax,ymax) — the reference's MBB
  * extraction (manipulate_2d.cpp:117-135). */
case class StEnvelope(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = GeomExpressions.MbbType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeomKernels.envelope(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "InternalRow", s"graft.functions.GeomKernels.envelope($c)", ""))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_envelope"
}

/** Binary spatial predicates over WKB geometries, evaluated by the shared
  * refine kernel [[graft.core.GeomPredicates]] (envelope short-circuit on
  * contains/equals for parity with spjoin_2d.hpp:151-165, plus
  * rect/point envelope-arithmetic fast paths). The predicate name is a
  * fixed identifier from the registry, safe to inline as a Java literal. */
case class StPredicate(left: Expression, right: Expression, predicate: String)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.predicate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      predicate)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Boolean",
      s"""graft.functions.GeomKernels.predicate($a, $b, "$predicate")""",
      ".booleanValue()"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = s"st_$predicate"
}

/** st_dwithin: distance-within-d join predicate (spjoin_2d.hpp:167-205). */
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeomKernels.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, d) => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Boolean", s"graft.functions.GeomKernels.dwithin($a, $b, $d)",
      ".booleanValue()"))
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
  override def prettyName: String = "st_dwithin"
}

case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Double", s"graft.functions.GeomKernels.distance($a, $b)",
      ".doubleValue()"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "st_distance"
}

/** Haversine distance in meters between two point geometries, with the
  * reference's constants: earth radius 3958.75 mi, 1609.0 m/mi
  * (/root/reference/src/extensions/specialmeasures/geographical.h:3-23). */
case class StDistanceSphere(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.distanceSphere(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Double", s"graft.functions.GeomKernels.distanceSphere($a, $b)",
      ".doubleValue()"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "st_distancesphere"
}

case class StArea(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeomKernels.area(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Double", s"graft.functions.GeomKernels.area($c)",
      ".doubleValue()"))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_area"
}

/** Binary geometry->geometry ops: union / intersection / difference. */
case class StOverlay(left: Expression, right: Expression, op: String)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.overlay(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], op)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => GeomCodegen.nullableCall(ctx, ev,
      "byte[]", s"""graft.functions.GeomKernels.overlay($a, $b, "$op")""", ""))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = s"st_$op"
}

case class StBuffer(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, d: Any): Any =
    GeomKernels.buffer(a.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, d) => GeomCodegen.nullableCall(ctx, ev,
      "byte[]", s"graft.functions.GeomKernels.buffer($a, $d)", ""))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "st_buffer"
}

/** Pairwise overlap measures computed in one pass — the reference's pathology
  * metrics (/root/reference/src/extensions/specialmeasures/pathology_metrics.h:2-12):
  * jaccard = area(a∩b)/area(a∪b); dice = 2·area(a∩b)/(area(a)+area(b)). */
case class StOverlapMeasure(left: Expression, right: Expression, measure: String)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeomKernels.measure(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      measure)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Double",
      s"""graft.functions.GeomKernels.measure($a, $b, "$measure")""",
      ".doubleValue()"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = s"st_$measure"
}

/** Full port of the reference's coordinate discretization
  * (/root/reference/src/transform/discretize_cords.cpp:38-333): affine-map
  * every vertex from the old space into the new space and round UP to the
  * integer grid — `ceil((c - old_low) / old_span * new_span + new_low)`,
  * discretize_cords.cpp:268-273 — preserving ring structure (holes are kept
  * as separate rings on output, :296-308). With `skipComplex`, polygons
  * carrying holes are dropped entirely (the -k flag, :213-222); degenerate
  * inputs with fewer than 3 vertices are dropped (:233-236). Output is the
  * discretized geometry (integer-valued coordinates) as WKB; pair with
  * st_envelope/st_npoints for the reference's MBB + vertex-count fields.
  *
  * Codegen binds `this` as a reference object (the nine space parameters
  * live on the expression) and calls [[compute]] — still a plain virtual
  * call inside the generated loop, no InternalRow round-trip. */
case class StDiscretize(child: Expression,
                        oldLowX: Double, oldLowY: Double,
                        oldHighX: Double, oldHighY: Double,
                        newLowX: Double, newLowY: Double,
                        newHighX: Double, newHighY: Double,
                        skipComplex: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(oldHighX > oldLowX && oldHighY > oldLowY,
    s"st_discretize: old space must have positive extent, got " +
      s"[$oldLowX,$oldLowY,$oldHighX,$oldHighY] (zero span divides to NaN)")
  require(newHighX >= newLowX && newHighY >= newLowY,
    s"st_discretize: new space is inverted [$newLowX,$newLowY,$newHighX,$newHighY]")
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def compute(bytes: Array[Byte]): Array[Byte] = {
    val g = GeometryCodec.fromWkb(bytes)
    if (g == null || g.getNumPoints < 3) null
    else {
      def holes(geom: Geometry): Boolean = geom match {
        case p: org.locationtech.jts.geom.Polygon => p.getNumInteriorRing > 0
        case gc: org.locationtech.jts.geom.GeometryCollection =>
          (0 until gc.getNumGeometries).exists(i => holes(gc.getGeometryN(i)))
        case _ => false
      }
      if (skipComplex && holes(g)) null
      else {
        val osx = oldHighX - oldLowX; val osy = oldHighY - oldLowY
        val nsx = newHighX - newLowX; val nsy = newHighY - newLowY
        val out = g.copy()
        out.apply(new org.locationtech.jts.geom.CoordinateFilter {
          override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
            c.x = math.ceil((c.x - oldLowX) / osx * nsx + newLowX)
            c.y = math.ceil((c.y - oldLowY) / osy * nsy + newLowY)
          }
        })
        out.geometryChanged()
        GeometryCodec.toWkb(out)
      }
    }
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stDiscretize", this, classOf[StDiscretize].getName)
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "byte[]", s"$ref.compute($c)", ""))
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "st_discretize"
}

object StDiscretize {
  /** Shared SQL builder for both registries:
    * st_discretize(geom, oldminx,oldminy,oldmaxx,oldmaxy,
    *               newminx,newminy,newmaxx,newmaxy [, skipComplex]) —
    * space bounds must be literals (they parameterize the expression). */
  def fromSqlArgs(es: Seq[Expression]): Expression = {
    require(es.length == 9 || es.length == 10,
      s"st_discretize takes 9 or 10 arguments, got ${es.length}")
    def d(e: Expression): Double = {
      require(e.foldable,
        s"st_discretize space bounds must be literals, got: ${e.sql}")
      e.eval(null) match {
        case n: Number => n.doubleValue()
        case v => throw new IllegalArgumentException(
          s"st_discretize space bound is not numeric: ${e.sql} = $v")
      }
    }
    val skip = es.length > 9 && {
      require(es(9).foldable && es(9).dataType == BooleanType,
        s"st_discretize skipComplex flag must be a boolean literal, got: ${es(9).sql}")
      es(9).eval(null) == true
    }
    StDiscretize(es.head, d(es(1)), d(es(2)), d(es(3)), d(es(4)),
      d(es(5)), d(es(6)), d(es(7)), d(es(8)), skip)
  }
}

/** Vertex count of a geometry (the reference's num_vertices output field,
  * discretize_cords.cpp:226 — counts the closing vertex, as JTS does). */
case class StNumPoints(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeomKernels.npoints(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => GeomCodegen.nullableCall(ctx, ev,
      "java.lang.Integer", s"graft.functions.GeomKernels.npoints($c)",
      ".intValue()"))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "st_npoints"
}

/** Hilbert-curve value of a point on a 2^order x 2^order grid — the
  * reference's space-filling-curve sort key
  * (/root/reference/src/partitionalgo/hc/hc_2d.cpp:27-58), reimplemented with
  * the standard iterative d2xy/xy2d rotation algorithm. Inputs are expected
  * normalized to [0,1]. */
case class HilbertValue(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(xv: Any, yv: Any, ov: Any): Any =
    HilbertValue.hilbert(xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      ov.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, o) =>
      s"graft.functions.HilbertValue.hilbert($x, $y, $o)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
  override def prettyName: String = "hilbert"
}

object HilbertValue {
  /** Clamp-to-grid + xy2d, shared by eval and generated code. */
  def hilbert(xv: Double, yv: Double, order: Int): Long = {
    val n = 1L << order
    def clamp(v: Double): Long = {
      val c = (v * n).toLong
      if (c < 0) 0L else if (c >= n) n - 1 else c
    }
    xy2d(order, clamp(xv), clamp(yv))
  }

  /** Standard Hilbert curve xy -> d (iterative, public-domain algorithm). */
  def xy2d(order: Int, xIn: Long, yIn: Long): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = xIn; var y = yIn
    var s = (1L << order) / 2
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }
}

/** J13 kNN-join predicate marker — the SQL surface for the reference CLI's
  * `-p st_nearest` (/root/reference/src/resque/knn_2d.hpp:22-268,
  * resque_params_2d.hpp:480-486). `st_nearest(a.g, b.g, k[, maxDistance])`
  * in an inner-join condition means "b's row is among the k nearest right
  * rows to a's row" (distance strictly below maxDistance when given — the
  * reference's -d bound). It is NOT a row-at-a-time predicate: evaluating
  * it requires the whole right relation, so [[eval]] throws and
  * [[org.apache.spark.sql.graft.SpatialJoinStrategy]] must plan the
  * enclosing join as KnnJoinExec (which delegates to the exact global
  * [[graft.operators.SpatialJoin.knnJoinExact]] engine). k and maxDistance
  * parameterize the operator, so they must be literals. */
case class StNearest(left: Expression, right: Expression,
                     k: Int, maxDistance: Double)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(k > 0, s"st_nearest k must be positive, got $k")
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  private def unplanned = new UnsupportedOperationException(
    "st_nearest is a kNN-join operator, not a scalar predicate: it must " +
      "appear in an INNER JOIN condition between the probe and index " +
      "relations, with SpatialJoinStrategy installed " +
      "(spark.sql.extensions=graft.GraftExtensions)")
  override def eval(input: InternalRow): Any = throw unplanned
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw unplanned
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_nearest"
}

/** J14 tile-local kNN-join predicate marker — the SQL surface for the
  * reference CLI's `-p st_nearest2` (/root/reference/src/resque/
  * knn_2d.hpp:22-233, resque_params_2d.hpp:480-486): each probe row is
  * matched only within its owner tile, the reference's tile-local
  * approximation of kNN (cheaper than [[StNearest]]'s globally-exact
  * semantics — no boundary re-join pass — at the cost of missing
  * cross-tile neighbors). Same planning contract as StNearest: unevaluable
  * row-at-a-time, must sit in an INNER JOIN condition and be planned by
  * [[org.apache.spark.sql.graft.SpatialJoinStrategy]] onto
  * [[org.apache.spark.sql.graft.KnnJoinExec]] in tile-local mode
  * ([[graft.operators.SpatialJoin.knnJoin]]). */
case class StNearest2(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(k > 0, s"st_nearest2 k must be positive, got $k")
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  private def unplanned = new UnsupportedOperationException(
    "st_nearest2 is a kNN-join operator, not a scalar predicate: it must " +
      "appear in an INNER JOIN condition between the probe and index " +
      "relations, with SpatialJoinStrategy installed " +
      "(spark.sql.extensions=graft.GraftExtensions)")
  override def eval(input: InternalRow): Any = throw unplanned
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw unplanned
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_nearest2"
}

object StNearest2 {
  /** SQL builder: st_nearest2(leftGeom, rightGeom, k). k parameterizes the
    * join operator → literal only. */
  def fromSqlArgs(es: Seq[Expression]): Expression = {
    require(es.length == 3,
      s"st_nearest2 takes 3 arguments (leftGeom, rightGeom, k), got ${es.length}")
    StNearest2(es(0), es(1), graft.functions.sqlFoldInt(es(2), "st_nearest2 k"))
  }
}

object StNearest {
  /** SQL builder: st_nearest(leftGeom, rightGeom, k [, maxDistance]).
    * k / maxDistance parameterize the join operator → literals only. */
  def fromSqlArgs(es: Seq[Expression]): Expression = {
    require(es.length == 3 || es.length == 4,
      s"st_nearest takes 3 or 4 arguments, got ${es.length}")
    val k = graft.functions.sqlFoldInt(es(2), "st_nearest k")
    val d = if (es.length == 4) {
      require(es(3).foldable,
        s"st_nearest maxDistance must be a numeric literal, got: ${es(3).sql}")
      es(3).eval(null) match {
        case n: Number => n.doubleValue()
        case n: org.apache.spark.sql.types.Decimal => n.toDouble
        case v => throw new IllegalArgumentException(
          s"st_nearest maxDistance is not numeric: ${es(3).sql} = $v")
      }
    } else Double.PositiveInfinity
    require(!(d <= 0), s"st_nearest maxDistance must be positive, got $d")
    StNearest(es(0), es(1), k, d)
  }
}
