package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** `lake_writes`: cycles on an unpartitioned TxTable, one writer, reads on
  * the same thread. A cycle starts a fresh table from a base slice
  * (untimed), then makes k appends of seed-chosen `lineitem` slices, each
  * followed by a snapshot read to a checksum; then one time-travel read of
  * a pre-compaction version; then one compaction (a full rewrite into n
  * files, vacuumed in the same call) and a last snapshot read. The
  * workload's operation is one cycle: its latency is the sum of its timed
  * table operations. Every read is checked against the row count and
  * checksum its version committed. */
final class LakeWrites extends Workload {
  val Appends = 4
  val SliceRows = 15000
  val CompactFiles = 2
  val WarmupCycles = 2

  private var lineitem: DataFrame = _
  private var maxOrder = 0L
  private var cycle = 0
  private var rnd: scala.util.Random = _

  def generate(ctx: Ctx): Unit = {
    lineitem = graft.Tables(ctx.spark, ctx.dataDir.toString, "lineitem")
    maxOrder = lineitem.agg(max(col("l_orderkey"))).head().getLong(0)
    rnd = new scala.util.Random(ctx.seed)
  }

  /** The lines of a seed-chosen range of orders, about `SliceRows` rows
    * (the fixture has four lines per order on average). */
  private def slice(): DataFrame = {
    val orders = SliceRows / 4
    val from = (rnd.nextDouble() * (maxOrder - orders)).toLong
    lineitem.where(col("l_orderkey") >= from && col("l_orderkey") < from + orders)
  }

  /** Row count and order-free checksum of a frame. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** (path -> bytes) of every file under `root`. */
  private def files(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap

  /** The latest manifest's version and data files, read with plain
    * java.nio so the harness's own bookkeeping never reaches the counting
    * file system or the timed window. */
  private def latest(root: Path): (Long, Seq[Path]) = {
    val listing = Files.list(root.resolve("_tx"))
    val manifests = try listing.iterator().asScala
      .flatMap(p => ManifestName.findFirstMatchIn(p.getFileName.toString)
        .map(m => m.group(1).toLong -> p)).toSeq
    finally listing.close()
    val (v, manifest) = manifests.maxBy(_._1)
    (v, Files.readAllLines(manifest).asScala.filter(_.nonEmpty).map(root.resolve).toSeq)
  }
  private val ManifestName = "^manifest-v(\\d+)\\.txt$".r

  /** Runs the cycle's untimed set-up with the file-system counters held
    * where they were, so they count only the timed operations. */
  private def uncounted[T](body: => T): T = {
    val before = Counters.snapshot
    try body
    finally Counters.snapshot.foreach { case (k, v) =>
      if (k.startsWith("fs.") || k == "tx.commits") Counters.add(k, before.getOrElse(k, 0L) - v)
    }
  }

  // two cycles: the first timed compaction is otherwise still a cold one
  def warmup(ctx: Ctx): Unit = (1 to WarmupCycles).foreach(_ => oneCycle(ctx, null))
  def teardown(ctx: Ctx): Unit = ()

  private def oneCycle(ctx: Ctx, phase: Phase): Unit = {
    cycle += 1
    val root = ctx.runDir.resolve(s"lake-$cycle")
    val dir = root.toString
    val s = ctx.spark
    def rec(name: String, ms: Double): Unit = if (phase != null) phase.add(name, ms)
    var seen = files(root)
    var written = 0L
    var appended = 0L
    var peakSpace = 0.0
    // space and write accounting after a commit, outside the timed op
    def afterCommit(userBytes: Boolean): Unit = {
      val now = files(root)
      written += now.filter { case (p, b) => !seen.get(p).contains(b) }.values.sum
      val live = latest(root)._2
      val liveBytes = live.map(now).sum
      if (userBytes) appended += live.filterNot(seen.contains).map(now).sum
      if (liveBytes > 0) peakSpace = peakSpace max (now.values.sum.toDouble / liveBytes)
      seen = now
    }
    // committed (rows, checksum) per version, from the slices themselves
    val versions = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    var total = (0L, 0L)
    // the cycle's latency: the sum of its timed table operations
    var cycleMs = 0.0
    def timedOp[T](kind: String)(body: => T): Option[T] = {
      ctx.outcome.attempted += 1
      val t0 = System.nanoTime()
      try {
        val r = Tracer.op(s"lake.$kind")(body)
        val ms = (System.nanoTime() - t0) / 1e6
        rec(kind, ms)
        cycleMs += ms
        if (phase != null) phase.ops += 1
        Some(r)
      } catch { case e: Exception => ctx.outcome.fail(s"lake cycle $cycle $kind: $e"); None }
    }
    def verify(kind: String, got: Option[(Long, Long)], want: (Long, Long)): Unit =
      got.foreach(g => if (g != want) ctx.outcome.fail(s"lake cycle $cycle $kind: $g != $want"))

    // each slice is cached before its commit, so an append times the
    // commit and not a scan of the source file; the base slice and a fresh
    // table each cycle keep the cycle's work fixed
    uncounted {
      val base = slice().cache()
      total = checksum(base)
      TxTable.stageAndCommit(base, dir, append = false, vacuumNow = false)
      base.unpersist()
    }
    afterCommit(userBytes = true)
    versions(latest(root)._1) = total
    (1 to Appends).foreach { _ =>
      val sl = slice().cache()
      val c = checksum(sl) // the reference, computed before the commit
      timedOp("append") {
        Tracer.span("tx.stageAndCommit") {
          TxTable.stageAndCommit(sl, dir, append = true, vacuumNow = false)
        }
      }.foreach { _ =>
        total = (total._1 + c._1, total._2 + c._2)
        versions(latest(root)._1) = total
        afterCommit(userBytes = true)
      }
      sl.unpersist()
      verify("read", timedOp("read") {
        checksum(Tracer.span("tx.read")(TxTable.read(s, dir)))
      }, total)
    }
    val oldV = versions.keys.toSeq.apply(versions.size / 2)
    verify("time_travel", timedOp("time_travel") {
      checksum(Tracer.span("tx.read")(TxTable.readVersion(s, dir, oldV)))
    }, versions(oldV))
    // the compaction commits and vacuums in one call; its vacuum is the
    // part after the manifest is published (seen by the counting file
    // system in the traced run)
    val filesBefore = files(root).keySet
    timedOp("compact") {
      val done = Tracer.span("tx.stageAndCommit") {
        TxTable.stageAndCommit(TxTable.read(s, dir).repartition(CompactFiles), dir,
          append = false, vacuumNow = true)
        System.nanoTime()
      }
      if (Tracer.enabled)
        Tracer.attach("tx.vacuum", Seq(CountingFileSystem.lastManifestNs -> done))
    }
    afterCommit(userBytes = false)
    Counters.add("tx.files_deleted", filesBefore.count(p => !seen.contains(p)))
    verify("read", timedOp("read")(checksum(TxTable.read(s, dir))), total)
    Counters.max("tx.files_live", latest(root)._2.size)
    Counters.max("tx.manifest_bytes", files(root.resolve("_tx")).values.sum)
    rec("op_ms", cycleMs)
    if (phase != null && appended > 0) {
      phase.add("write_amplification", written.toDouble / appended)
      phase.add("space_amplification", peakSpace)
    }
    // the finished table is not the next cycle's
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  def run(ctx: Ctx, deadlineNs: Long, phase: Phase): Unit =
    while (System.nanoTime() < deadlineNs) oneCycle(ctx, phase)

  override def layerCounters(ctx: Ctx, phase: Phase): Map[String, Double] = {
    val ops = phase.ops.max(1).toDouble
    def spanMs(name: String): Double =
      Tracer.all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
    // stageAndCommit's own time outside the Spark jobs it runs
    val commitSpans = Tracer.all.filter(_.name == "tx.stageAndCommit")
    val jobs = Tracer.all.filter(_.name == "spark.job")
    val jobNs = commitSpans.map { c =>
      Stats.unionNs(jobs.map(j => (j.startNs max c.startNs, j.endNs min c.endNs))
        .filter { case (a, b) => b > a })
    }.sum
    val commitNs = commitSpans.map(c => c.endNs - c.startNs).sum
    Map(
      "tx.stage_write_ms" -> jobNs / 1e6 / ops,
      "tx.metadata_ms" -> (commitNs - jobNs) / 1e6 / ops,
      "tx.vacuum_ms" -> spanMs("tx.vacuum") / ops,
      "tx.read_resolve_ms" -> spanMs("tx.read") / ops,
      "tx.manifest_bytes" -> Counters.get("tx.manifest_bytes").toDouble,
      "tx.files_live" -> Counters.get("tx.files_live").toDouble,
      "tx.files_deleted" -> Counters.get("tx.files_deleted") / ops)
  }
}
