package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seeded
  * random source and its scratch directory. `small` selects the smoke
  * size the benchmark's own tests run; `corrupt` perturbs one expected
  * answer, so a test can show the checks catch a wrong result. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: String, data: String, val small: Boolean, val cores: Int,
                val corrupt: Boolean) {
  /** Tables the analyst queries and the vector index read. */
  val sfDir: String = if (small) s"$data/sf0.001" else s"$data/sf0.01"
  /** The document corpus of the pipeline. */
  val docsDir: String = sfDir
  val rng = new scala.util.Random(seed)
  /** Latency of each completed closed-loop operation, seconds. */
  val opLat = mutable.ArrayBuffer.empty[Double]
  /** Named latency samples besides the operation itself, seconds. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, sec: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += sec
  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A closed-loop, single-client workload. Main calls [[warm]] once,
  * [[setup]] a few times (each builds a fresh fixture; the last one is
  * kept) and [[prepare]] once, then
  * [[step]] until the measured window ends, then [[finish]], and checks
  * correctness outside the window with [[check]]. */
trait Workload {
  /** JIT and codegen warm-up on throwaway data, run once before the first
    * set-up (counted in setup_s). */
  def warm(): Unit = ()
  /** Build a fresh fixture; the `last` one is the one the run uses. */
  def setup(rep: Int, last: Boolean): Unit
  /** Work on the kept fixture before the first timed operation (counted
    * in setup_s). */
  def prepare(): Unit = ()
  def step(): Unit
  /** Whether the last step completed a block of the workload's fixed mix.
    * The window closes only at a block end, so every run measures the
    * same mix of operations in a seeded order. */
  def blockDone: Boolean = true
  /** Work that closes the run (drills, final syncs); counted in the window. */
  def finish(): Unit = ()
  /** Correctness failures, one message each; empty when every check passed. */
  def check(): Seq[String]
  /** Workload-specific per-layer values (ratios, gauges, detail latencies). */
  def layers(): Map[String, Double] = Map.empty
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Benchmark JVM entry point. Writes one JSON result file; `run.py` adds
  * the out-of-process checks and prints the result line. */
object Main {
  /** Spans that are one DML statement's commit. */
  val DmlSpans: Set[String] = Set("warehouse.append", "warehouse.delete_by_keys",
    "warehouse.delete_by_keys_batch", "warehouse.upsert_by_keys")
  /** Fixture set-ups per run; setup_s takes their median. */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val work = kv("work")
    val out = kv("out")
    val small = kv.get("size").contains("smoke")
    val corrupt = kv.get("corrupt").contains("1")
    val data = kv("data")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, seed, work, data, small, cores, corrupt)
    val w: Workload = workload match {
      case "analyst_mix" => new AnalystMix(ctx)
      case "dml_replicated" => new DmlReplicated(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: warm-up once, then several fresh fixtures, median reported
    val tw = System.nanoTime(); w.warm(); val warmS = (System.nanoTime() - tw) / 1e9
    val repS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime(); w.setup(r, r == SetupReps - 1); (System.nanoTime() - t0) / 1e9
    }
    val tp = System.nanoTime(); w.prepare(); val prepS = (System.nanoTime() - tp) / 1e9
    val setupS = sessionS + warmS + Stats.median(repS) + prepS

    // the measured window: one client, closed loop
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    tracer.op = 1
    tracer.openWindow()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || !w.blockDone) {
      tracer.op += 1
      attempted += 1
      try w.step()
      catch { case e: Throwable =>
        failed += 1
        if (errors.size < 5) errors += s"step: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    tracer.op += 1
    try w.finish()
    catch { case e: Throwable =>
      failed += 1; errors += s"finish: ${e.getMessage}"; e.printStackTrace()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tracer.closeWindow()

    val checkFailures =
      try w.check()
      catch { case e: Throwable => e.printStackTrace(); Seq(s"check threw: ${e.getMessage}") }
    attempted += 1
    failed += checkFailures.size

    val layerVals = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      // window spans by layer call; set-up spans (op 0) under `setup.`
      val all = tracer.allSpans.filter(_.end >= 0)
      all.groupBy(s => (if (s.op == 0) "setup." else "") + s.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        layerVals(s"${name}_s") = ss.map(_.durNs).sum / 1e9
        layerVals(s"${name}_calls") = ss.size.toDouble
      }
      val spans = all.filter(_.op > 0)
      val dml = spans.filter(s => Main.DmlSpans(s.name))
      if (dml.nonEmpty) layerVals("warehouse.jobs_per_commit") = dml.map(_.jobs).sum.toDouble / dml.size
      layerVals ++= tracer.counterRollup
      layerVals ++= w.layers()
      val (jobs, tasks, taskS, shuffle, gcS) = tracer.windowTotals
      layerVals ++= Seq("spark.jobs" -> jobs.toDouble, "spark.tasks" -> tasks.toDouble,
        "spark.task_s" -> taskS, "spark.shuffle_bytes" -> shuffle.toDouble, "spark.gc_s" -> gcS,
        "spark.task_busy_frac" -> taskS / (wallS * cores))
      tracer.writeSpans(Paths.get(s"$work/spans.jsonl"))
    }

    // memory still held after the run: heap in use after a full GC. Spark
    // frees shuffle and broadcast blocks from a cleaner thread once their
    // owners are collected, so collect, let it run, and collect again.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val opLat = ctx.opLat.toSeq
    if (trace) layerVals ++= Seq("detail.op_p50_s" -> Stats.median(opLat),
      "detail.op_p90_s" -> Stats.quantile(opLat, 0.9), "detail.ops" -> opLat.size.toDouble)
    // every run measures whole blocks of one fixed mix of unlike
    // operations, so the geometric mean over the block is the steady
    // summary: a median of a few unlike operations jumps between them
    val e2e = Seq(
      "op_geomean_s" -> Stats.geomean(opLat),
      "ops_per_s" -> opLat.size / loopS,
      "setup_s" -> setupS,
      "live_heap_mb" -> liveHeapMb)

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def obj(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"attempted":$attempted,"failed":$failed,""" +
        s""""ops":${opLat.size},"wall_s":${num(wallS)},"session_s":${num(sessionS)},""" +
        s""""setup_reps_s":${repS.map(num).mkString("[", ",", "]")},"warm_s":${num(warmS)},""" +
        s""""prepare_s":${num(prepS)},""" +
        s""""errors":${(errors ++ checkFailures).map(str).mkString("[", ",", "]")},""" +
        s""""e2e":${obj(e2e)},"layers":${obj(layerVals.toSeq)}}"""
    Files.writeString(Paths.get(out), json + "\n")
    spark.stop()
  }
}
