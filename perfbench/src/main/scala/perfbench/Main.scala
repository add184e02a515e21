package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What one timed phase of a run recorded: named sample lists (latencies
  * in ms unless the name says otherwise) and named scalars. */
final class Phase {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Any]
  var ops = 0L
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
}

/** Operation accounting across the whole run: every attempted operation
  * and every one that threw or failed its output check. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }
}

/** The context a workload runs in. */
final class Ctx(val seed: Long, val dataDir: Path, val runDir: Path) {
  var spark: SparkSession = _
  var tracing: Tracing = _
  val outcome = new Outcome
  def cores: Int = Runtime.getRuntime.availableProcessors()
}

trait Workload {
  /** Generates this workload's in-process inputs from the seed. */
  def generate(ctx: Ctx): Unit
  /** Runs a fixed amount of the workload's own operations, enough that the
    * timed phase starts warm. */
  def warmup(ctx: Ctx): Unit
  /** Releases what `generate`/`warmup` started (servers, queries). */
  def teardown(ctx: Ctx): Unit
  /** The timed loop: runs operations until `deadlineNs`. */
  def run(ctx: Ctx, deadlineNs: Long, phase: Phase): Unit
  /** Runs after the timed phases, outside every timed window. */
  def finish(ctx: Ctx): Unit = ()
  /** Per-layer figures only this workload can read (connector, sink,
    * stream generator, TxTable), added to the traced phase's counters. */
  def layerCounters(ctx: Ctx, phase: Phase): Map[String, Double] = Map.empty
}

object Main {
  def session(runDir: Path, traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    var b = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
    if (traced)
      b = b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
        .config("spark.sql.streaming.checkpointFileManagerClass",
          classOf[CountingCheckpointFileManager].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  def workload(name: String): Workload = name match {
    case "fleet_etl" => new FleetEtl
    case "corpus_curation" => new CorpusCuration
    case "event_stream" => new EventStream
    case "lake_writes" => new LakeWrites
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("selftest")) { SelfTest.main(opts("selftest")); return }
    val wName = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val ctx = new Ctx(opts("seed").toLong, Paths.get(opts("data")).toAbsolutePath, runDir)
    val w = workload(wName)

    // Set-up: the session, the workload's input generation and a warm-up
    // long enough that the timed phase starts at steady state.
    val t0 = System.nanoTime()
    ctx.spark = session(runDir, traced)
    val t1 = System.nanoTime()
    w.generate(ctx)
    val t2 = System.nanoTime()
    w.warmup(ctx)
    val t3 = System.nanoTime()
    val setup = Map("session_ms" -> (t1 - t0) / 1e6, "input_gen_ms" -> (t2 - t1) / 1e6,
      "warmup_ms" -> (t3 - t2) / 1e6)
    // the warm-up's own operations are not the benchmark's
    ctx.outcome.attempted = 0; ctx.outcome.failed = 0; ctx.outcome.failures.clear()
    val timedStartMs = System.currentTimeMillis()

    val phases = mutable.LinkedHashMap.empty[String, Phase]
    def timed(label: String, secs: Double): Unit = {
      val p = new Phase
      phases(label) = p
      w.run(ctx, System.nanoTime() + (secs * 1e9).toLong, p)
    }
    var layers = Map.empty[String, Double]
    var kernels = Seq.empty[String]
    if (!traced) timed("untraced", seconds)
    else {
      // the traced run times half its window untraced and half traced, so
      // it can report the tracing overhead on the same JVM and inputs
      timed("untraced", seconds / 2)
      ctx.tracing = new Tracing(ctx.spark)
      ctx.tracing.drain()
      Counters.reset()
      Tracer.enabled = true
      val t0 = System.nanoTime()
      timed("traced", seconds / 2)
      val wallNs = System.nanoTime() - t0
      Tracer.enabled = false
      ctx.tracing.drain()
      Tracer.attach("spark.job", ctx.tracing.exec.jobIntervals.toArray(Array.empty[(Long, Long)]).toSeq)
      layers = Layers.summarize(ctx, phases("traced"), wallNs) ++ w.layerCounters(ctx, phases("traced"))
      kernels = ctx.tracing.catalyst.kernelsSeen.keys.toSeq.sorted
      ctx.tracing.stop()
      Layers.writeSpans(runDir.resolve("spans.jsonl"))
    }
    w.finish(ctx)
    w.teardown(ctx)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> wName,
      "provenance" -> Map(
        "java" -> System.getProperty("java.version"),
        "spark" -> ctx.spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "cores" -> ctx.cores),
      "setup" -> setup,
      "timed_start_ms" -> timedStartMs,
      "phases" -> phases.map { case (k, p) =>
        k -> Map("ops" -> p.ops, "samples" -> p.samples.map { case (n, v) => n -> v.toSeq }.toMap,
          "scalars" -> p.scalars.toMap) }.toMap,
      "attempted" -> ctx.outcome.attempted,
      "failed" -> ctx.outcome.failed,
      "failures" -> ctx.outcome.failures.toSeq,
      "layers" -> layers,
      "kernels_seen" -> kernels,
      "counters" -> Counters.snapshot,
      "peak_rss_mb" -> vmHwmMb())
    ctx.spark.stop()
    Json.write(Paths.get(opts("out")), out)
  }
}

/** Minimal JSON writer over Scala maps, sequences and scalars. */
object Json {
  private val mapper = new ObjectMapper()
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o => o.toString
  }
  def render(v: Any): String = mapper.writeValueAsString(toJava(v))
  def write(p: Path, v: Any): Unit = Files.writeString(p, render(v))
}
