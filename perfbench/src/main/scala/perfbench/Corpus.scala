package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** `corpus_curation`: passes over a fixed list of read-only LLM-data gates
  * in a seed-shuffled order, each gate timed as `fn(spark, dir).count()`.
  * The operation is one pass. Every pass reads a fresh directory of hard
  * links to the generated inputs, so memos keyed by directory never serve
  * a timed pass. */
final class CorpusCuration extends Workload {
  /** One gate per native-kernel family: MinHash and SimHash dedup, blocked
    * Jaccard, RAG slot hashing, language id (char trigrams) and product
    * quantization (squared L2). */
  val Gates: Seq[String] = Seq(
    "d09_minhash_md5", "d10_jaccard_blocked", "d11_simhash_md5",
    "t24_rag_retrieval", "t31_langid_ngram", "v14_pq_adc")

  /** The native kernels the gates reach, by expression class, timed per
    * input row in the traced run through their public Column builders. */
  private def kernelProbes(s: SparkSession): Seq[(String, String, Column)] = {
    val text = col("text")
    val vec = col("v")
    Seq(
      ("Md5TokenSlotHashes", "documents", Md5TokenSlotHashes(s, text, 16)),
      ("SlotHistogram", "documents", SlotHistogram(s, Md5TokenSlotHashes(s, text, 16), 16)),
      ("CharTrigrams", "documents", CharTrigrams(s, text)),
      ("SquaredL2", "embeddings", SquaredL2(s, vec, vec)))
  }

  private val queries = graft.SparkEntry.queries
  private var pass = 0
  private var warmPassMs = 1.0
  private val calls = mutable.LinkedHashMap.empty[String, Long]
  private val frameBuildMs = mutable.ArrayBuffer.empty[Double]

  /** A fresh directory of hard links to the generated tables. */
  private def freshDir(ctx: Ctx, label: String): Path = {
    val d = ctx.runDir.resolve(s"corpus-$label")
    Files.createDirectories(d)
    val tables = Files.list(ctx.dataDir)
    try tables.forEach { f =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.createLink(d.resolve(f.getFileName), f)
    } finally tables.close()
    d
  }

  def generate(ctx: Ctx): Unit = ()

  /** One pass on a fresh directory, writing each gate's output for the
    * DuckDB check instead of counting it. */
  def warmup(ctx: Ctx): Unit = {
    pass += 1
    val d = freshDir(ctx, s"warm$pass").toString
    val out = ctx.runDir.resolve("check")
    val t0 = System.nanoTime()
    Gates.foreach { g =>
      try queries(g)(ctx.spark, d).write.parquet(out.resolve(g).toString)
      catch { case e: Exception => ctx.outcome.fail(s"$g warm-up: $e") }
    }
    warmPassMs = (System.nanoTime() - t0) / 1e6
    graft.ops.DedupOps.unpersistCaches()
  }

  def teardown(ctx: Ctx): Unit = graft.ops.DedupOps.unpersistCaches()

  /** Whole passes only, so every run times the same gate mix: as many as
    * the warm-up pass says fit in the window, and at least two. */
  def run(ctx: Ctx, deadlineNs: Long, phase: Phase): Unit = {
    val passes = math.max(2L, math.round((deadlineNs - System.nanoTime()) / 1e6 / warmPassMs))
    (1L to passes).foreach { _ =>
      pass += 1
      val d = freshDir(ctx, s"pass$pass").toString
      val order = new scala.util.Random(ctx.seed * 7919L + pass).shuffle(Gates)
      val t0 = System.nanoTime()
      order.foreach { g =>
        ctx.outcome.attempted += 1
        calls(g) = calls.getOrElse(g, 0L) + 1
        val g0 = System.nanoTime()
        try {
          Tracer.op(s"gate.$g") { queries(g)(ctx.spark, d).count() }
          val ms = (System.nanoTime() - g0) / 1e6
          phase.add("gate_ms", ms)
          phase.add(s"gate.$g", ms)
          phase.ops += 1
        } catch { case e: Exception => ctx.outcome.fail(s"$g: $e") }
      }
      phase.add("op_ms", (System.nanoTime() - t0) / 1e6)
      graft.ops.DedupOps.unpersistCaches()
      if (Tracer.enabled) {
        // frame builds on a directory no gate has read: what each gate's
        // first Tables call pays on a fresh path
        val probe = freshDir(ctx, s"frames$pass").toString
        val f0 = System.nanoTime()
        graft.Tables.all.foreach(t => graft.Tables(ctx.spark, probe, t))
        frameBuildMs += (System.nanoTime() - f0) / 1e6 / graft.Tables.all.size
      }
    }
    phase.scalars("gate_calls") = calls.toMap
  }

  /** The oracle SQL the DuckDB check runs over the same inputs. */
  override def finish(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Json.write(ctx.runDir.resolve("check").resolve("oracle_sql.json"),
      Gates.flatMap(g => oracle.get(g).map(g -> _)).toMap)
  }

  override def layerCounters(ctx: Ctx, phase: Phase): Map[String, Double] = {
    val s = ctx.spark
    val seen = ctx.tracing.catalyst.kernelsSeen.keySet
    val kernels = kernelProbes(s).collect { case (k, table, c) if seen(k) =>
      val t = graft.Tables(s, ctx.dataDir.toString, table)
      // the table repeated to ~100k rows, so per-row cost dominates
      val reps = ctx.spark.range(100000L / t.count() + 1).withColumnRenamed("id", "rep")
      val df: DataFrame = (
        if (table == "embeddings") t.select(VectorFunctions.toDouble(col("embedding")).as("v"))
        else t.select(col("text"))).crossJoin(reps).cache()
      val rows = df.count()
      def once(): Long = {
        val t0 = System.nanoTime()
        df.select(c.as("k")).agg(count(col("k"))).collect()
        System.nanoTime() - t0
      }
      once()
      val ns = Stats.median((1 to 3).map(_ => once().toDouble)) / rows
      df.unpersist()
      s"functions.$k.ns_per_row" -> ns
    }.toMap
    val gates = Gates.map(g => s"ops.$g.ms" -> Stats.median(phase.samples.getOrElse(s"gate.$g", Nil).toSeq)).toMap
    kernels ++ gates + ("tables.frame_build_ms" -> Stats.median(frameBuildMs.toSeq))
  }
}
