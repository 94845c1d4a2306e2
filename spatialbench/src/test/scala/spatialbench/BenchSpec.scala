package spatialbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("spatialbench-spec").toFile
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Main.session(work, 2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteRecursively(work)
  }

  /** Content digests of every data file under `dir`, by path with Spark's
    * random part-file names masked (the bytes, not the names, are the
    * inputs). */
  private def digests(dir: File): Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map { f =>
        val rel = dir.toPath.relativize(f.toPath).toString.replaceAll("part-.*", "part")
        val md = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
        rel -> md.map("%02x".format(_)).mkString
      }.sorted
  }

  private def prepared(name: String, seed: Long, tag: String): Seq[(String, String)] = {
    val dir = new File(work, s"gen-$tag")
    Workload.deleteRecursively(dir)
    Workload(name, seed, tiny = true).prepare(spark, dir)
    digests(dir)
  }

  for (name <- Workload.Names) {
    test(s"$name: the same seed gives byte-identical inputs, another seed different ones") {
      val a = prepared(name, 7, "a"); val b = prepared(name, 7, "b")
      assert(a.nonEmpty)
      assert(a == b)
      assert(prepared(name, 8, "c") != a)
    }
  }

  for (name <- Workload.Names; trace <- Seq(false, true)) {
    test(s"$name: a tiny pass checks out (trace=$trace)") {
      val args = Main.Args(name, 3, 0.01, trace, new File(work, s"run-$name"),
        System.currentTimeMillis(), tiny = true)
      val out = new Runner(spark, args, 0.0, Host.load1m()).run()
      assert(out.correct, out.lines.head)
      assert(out.record("op_fail_ratio") == 0.0)
      val metrics = out.lines.last
      if (trace) assert(metrics.contains("\"partition.partition_s\"") &&
        metrics.contains("\"trace.overhead_s\""), metrics)
      else assert(metrics.contains("\"window_p90_s\"") && metrics.contains("\"setup_s\""), metrics)
    }
  }
}
