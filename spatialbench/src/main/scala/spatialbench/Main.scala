package spatialbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Runs one workload for a fixed time and prints its metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--launch-ms <epoch ms the JVM was launched>] [--tiny]
  * }}}
  *
  * Closed loop, one client: the ops of a pass run in sequence and passes
  * repeat until `--seconds` have elapsed. Every op's result is checked
  * against the reference. The last stdout line is
  * `{"correct", "attempted", "failed", "metrics"}`; the line before it is
  * the full record (sizes, samples, host facts, failed ops). The exit code
  * is non-zero when any op failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, launchMs: Long, tiny: Boolean)

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var tiny = false
    var i = 0
    while (i < a.length) {
      a(i) match {
        case "--tiny" => tiny = true; i += 1
        case k if k.startsWith("--") && i + 1 < a.length => m(k.drop(2)) = a(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      new File(need("work")).getAbsoluteFile,
      m.get("launch-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      tiny)
  }

  def session(work: File, cores: Int): SparkSession =
    graft.Sessions.localBuilder(cores.toString)
      .appName("spatialbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("graft.join.bucket", Workload.Bucket.toString)
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Workload(args.workload, args.seed, args.tiny) // fail fast on a bad name
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = Host.load1m()
    val spark = session(args.work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val startup = (System.currentTimeMillis() - args.launchMs) / 1e3
    val out = try new Runner(spark, args, startup, load0).run()
    finally spark.stop()
    out.lines.foreach(println)
    System.out.flush()
    if (!out.correct) sys.exit(1)
  }

  object PlanCheck extends AdaptiveSparkPlanHelper {
    def has(plan: SparkPlan, node: String): Boolean =
      find(plan)(_.getClass.getSimpleName == node).isDefined
  }
}

object Host {
  def load1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def xmx: String =
    ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).findLast(_.startsWith("-Xmx")).getOrElse("default")

  def heapUsedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

final case class RunOutput(correct: Boolean, record: Map[String, Any], lines: Seq[String])

/** One benchmark invocation over an existing session. */
final class Runner(spark: SparkSession, args: Main.Args, startupSeconds: Double, load0: Double) {
  private val sc = spark.sparkContext
  private val w = Workload(args.workload, args.seed, args.tiny)

  import Runner.{OpRun, Pass}

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val r = p * (s.length - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Runs one op: build, plan (asserting the SQL exec), finish and check. */
  private def runOp(o: Op, trace: Option[Trace], opId: Int): OpRun = {
    val t0 = now
    var plan = 0.0
    val err = try {
      val df = o.frame()
      if (o.kind != "write") {
        val p0 = now
        val planned = trace.fold(df.queryExecution.executedPlan)(
          _.span("sql.plan", opId)(_ => df.queryExecution.executedPlan))
        plan = secs(p0)
        o.expectExec.filterNot(Main.PlanCheck.has(planned, _)).foreach { e =>
          throw new IllegalStateException(
            s"plan assertion: expected $e, planned ${planned.treeString.linesIterator.take(6).mkString(" | ")}")
        }
      }
      o.finish(df).map(m => s"ResultMismatch: $m")
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}")
    }
    OpRun(o.name, o.kind, secs(t0), plan, err)
  }

  private var opCounter = 0

  private def pass(ops: Seq[Op], traced: Option[(Trace, OpListener, Layers)], passNo: Int): Pass = {
    traced match {
      case None =>
        val t0 = now
        val runs = ops.map(o => runOp(o, None, 0))
        val wall = secs(t0)
        Pass(traced = false, wall, runs, Host.heapUsedMb(), Map.empty)
      case Some((trace, listener, layers)) =>
        layers.newPass()
        val acc = new LayerAcc
        val opRuns = ops.zipWithIndex.map { case (o, i) =>
          opCounter += 1
          val opId = opCounter
          val group = s"p$passNo-o$i"
          sc.setJobGroup(group, o.name, interruptOnCancel = false)
          val (r, spanId, s0, s1) = try {
            trace.span(s"op.${o.name}", opId) { id =>
              val s0 = now; val r = runOp(o, Some(trace), opId); (r, id, s0, now)
            }
          } finally sc.clearJobGroup()
          (o, opId, group, r, spanId, s0, s1)
        }
        val wall = opRuns.map(x => (x._7 - x._6) / 1e9).sum
        BenchBus.drain(sc)
        val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
        opRuns.foreach { case (o, opId, group, r, spanId, s0, s1) =>
          val t = listener.totals(group, ms => ms * 1000000L - offset)
          val jobSpan = t.jobs.map { case (j, js, je) =>
            j -> trace.add("spark.job", opId, spanId, js, je) }.toMap
          t.stages.foreach { case (_, j, ss, se) =>
            trace.add("spark.stage", opId, jobSpan.getOrElse(j, spanId), ss, se) }
          val covered = Trace.unionLength(t.jobs.map { case (_, js, je) => (js max s0, je min s1) })
          acc.add("spark.jobs", t.jobs.size.toDouble)
          acc.add("spark.stages", t.stages.size.toDouble)
          acc.add("spark.driver_gap_s", ((s1 - s0) - covered) / 1e9)
          acc.add("spark.task_cpu_s", t.taskCpuS)
          acc.add("spark.gc_s", t.gcS)
          acc.add("spark.shuffle_write_mb", t.shuffleWriteMb)
          acc.add("spark.shuffle_read_mb", t.shuffleReadMb)
          acc.add("spark.fetch_wait_s", t.fetchWaitS)
          acc.add("spark.spill_mb", t.spillMb)
          acc.max("spark.straggler_ratio", t.stragglerRatio)
          acc.add("sql.plan_s", r.planSeconds)
          acc.add("sql.exec", if (o.expectExec.isDefined && r.error.isEmpty) 1.0 else 0.0)
          layers.probe(o, opId, r.seconds, t.recordsRead, acc)
        }
        Pass(traced = true, wall, opRuns.map(_._4), Host.heapUsedMb(), acc.result)
    }
  }

  def run(): RunOutput = {
    val inputs = new File(args.work, "inputs")
    // set-up: input generation to files, repeated so its median is steady
    val prep = (0 until 3).map { _ =>
      Workload.deleteRecursively(inputs)
      val t0 = now; w.prepare(spark, inputs); secs(t0)
    }
    val r0 = now
    w.reference()
    val referenceSeconds = secs(r0)
    val ops = w.ops(spark)
    // untimed warm-up: a pass over a small copy of the inputs takes the
    // first-run costs (class loading, code generation, first JIT compiles),
    // then a full pass brings the JIT to the stated input size
    val small = Workload(args.workload, args.seed, tiny = true)
    small.prepare(spark, new File(args.work, "inputs-small"))
    small.reference()
    val warm = Seq(pass(small.ops(spark), None, 0), pass(ops, None, 0))
    val setup = startupSeconds + median(prep) + warm.map(_.wall).sum

    val traceState = if (!args.trace) None else {
      val t = new Trace
      Some((t, new OpListener, new Layers(spark, t, Workload.Bucket, args.seed)))
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    val m0 = now
    var n = 1
    // another pass runs while it would end nearer the time budget than
    // stopping now; traced runs alternate plain and traced passes, the plain
    // ones giving the untraced wall time the overhead is measured against
    def more = passes.isEmpty || secs(m0) + passes.last.wall / 2 < args.seconds ||
      (args.trace && !(passes.exists(_.traced) && passes.exists(!_.traced)))
    while (more) {
      val withTrace = args.trace && n % 2 == 0
      val st = if (withTrace) traceState.map { s =>
        sc.addSparkListener(s._2); s } else None
      try passes += pass(ops, st, n)
      finally st.foreach(s => sc.removeSparkListener(s._2))
      n += 1
    }
    val measured = secs(m0)
    val load1 = Host.load1m()

    val plain = passes.filterNot(_.traced).toSeq
    val allRuns = warm.flatMap(_.ops) ++ passes.flatMap(_.ops)
    val failedOps = allRuns.filter(_.error.isDefined)
    val windows = plain.flatMap(_.ops.filter(_.kind == "window").map(_.seconds))
    val writes = plain.flatMap(_.ops.filter(_.kind == "write").map(_.seconds))
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setup, "s"),
      ("wall_s", median(plain.map(_.wall)), "s"),
      ("write_s", median(writes), "s"),
      ("window_p50_s", percentile(windows, 0.5), "s"),
      ("window_p90_s", percentile(windows, 0.9), "s"),
      ("heap_after_gc_mb", median(plain.map(_.heapMb)), "MB"))
    val tracedPasses = passes.filter(_.traced).toSeq
    val perLayer: Seq[(String, Double, String)] = traceState.toSeq.flatMap { _ =>
      val names = tracedPasses.flatMap(_.layers.keys).distinct.sorted
      names.map { k =>
        (k, median(tracedPasses.map(_.layers.getOrElse(k, 0.0))), Runner.unitOf(k))
      } :+ ("trace.overhead_s",
        median(tracedPasses.map(_.wall)) - median(plain.map(_.wall)), "s")
    }
    val attempted = allRuns.size
    val correct = failedOps.isEmpty

    val record = Map[String, Any](
      "workload" -> w.name, "seed" -> args.seed, "trace" -> args.trace,
      "seconds" -> args.seconds, "measured_s" -> measured, "sizes" -> w.sizes,
      "end_to_end" -> endToEnd.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "op_fail_ratio" -> failedOps.size.toDouble / attempted,
      "samples" -> Map("passes" -> plain.size, "traced_passes" -> tracedPasses.size,
        "windows" -> windows.size, "writes" -> writes.size, "ops_per_pass" -> ops.size,
        "prepare_reps" -> prep.size),
      "setup_parts_s" -> Map("startup" -> startupSeconds, "prepare_median" -> median(prep),
        "warmup_small_pass" -> warm(0).wall, "warmup_pass" -> warm(1).wall),
      "reference_s" -> referenceSeconds,
      "pass_walls_s" -> passes.map(p => Map("traced" -> p.traced, "wall" -> p.wall)),
      "op_median_s" -> plain.flatMap(_.ops).groupBy(_.name).view
        .mapValues(rs => median(rs.map(_.seconds))).toMap,
      "failed_ops" -> failedOps.map(r => Map("op" -> r.name, "error" -> r.error.get)),
      "per_layer" -> perLayer.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "self_time_by_layer_s" -> traceState.map(_._1.selfTimeByLayer).getOrElse(Map.empty),
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "load1m_start" -> load0, "load1m_end" -> load1,
        "loaded" -> (math.max(load0, load1) > Runtime.getRuntime.availableProcessors()),
        "xmx" -> Host.xmx, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "spark_version" -> spark.version,
        "free_disk_gb" -> args.work.getUsableSpace / 1e9))
    traceState.foreach { case (trace, _, _) =>
      trace.write(new File(args.work, s"traces/${w.name}-seed${args.seed}.jsonl"))
    }
    val recordLine = Json.render(Map("record" -> record))
    val recordsDir = new File(args.work, "records"); recordsDir.mkdirs()
    java.nio.file.Files.writeString(
      new File(recordsDir, s"${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json").toPath,
      recordLine + "\n")
    val metrics = (if (args.trace) perLayer.filterNot(m => Runner.RecordOnly(m._1)) else endToEnd)
      .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val last = Json.render(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failedOps.size, "metrics" -> metrics))
    RunOutput(correct, record, Seq(recordLine, last))
  }
}

object Runner {
  /** Layer metrics kept in the record but not reported as results: with
    * `local[n]` every shuffle block is local, so fetch wait reads 0. */
  val RecordOnly: Set[String] = Set("spark.fetch_wait_s")

  final case class OpRun(name: String, kind: String, seconds: Double, planSeconds: Double,
                         error: Option[String])
  /** One pass; a traced pass's `wall` is the sum of its op spans. */
  final case class Pass(traced: Boolean, wall: Double, ops: Seq[OpRun], heapMb: Double,
                        layers: Map[String, Double])

  def unitOf(metric: String): String =
    if (metric.endsWith("_ns")) "ns"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.contains("ratio") || metric.contains("_per_") ||
             metric.endsWith("replication") || metric.endsWith("max_over_mean")) "ratio"
    else "count"
}
