package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** One event in the fixture `events` schema, plus the time it was due. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                    value: Double, props: String, due_ns: Long)

/** Seeded event content. Users, event types, values and props follow the
  * fixture `events` table (FIXTURES.md): 15,000 users and the five event
  * types, both uniform, exponential values around 60 and `{"k": n}` props
  * with n < 100. Two properties the fixture lacks are the benchmark's
  * own choice: 5% of events are at-least-once redeliveries of one of the
  * last 256 ids, and event time runs up to 400 ms behind the due time,
  * inside the query's 1 s watermark. `next` is deterministic in
  * (seed, call order); only the wall-clock stamps depend on when it runs. */
final class EventGen(seed: Long) {
  private val RedeliverShare = 0.05
  private val MaxJitterMs = 400
  private val Users = 15000
  private val Types = Array("click", "purchase", "error", "signup", "view")
  private val r = new scala.util.Random(seed)
  private val recent = new Array[Ev](256)
  private var nextId = 0L

  /** The next event due at `dueNs` (with event time `epochMs - jitter`),
    * or a redelivery of a recent event. */
  def next(dueNs: Long, epochMs: Long): (Ev, Boolean) = {
    if (nextId > recent.length && r.nextDouble() < RedeliverShare)
      (recent(r.nextInt(recent.length)), true)
    else {
      val value = math.round((-60.0 * math.log(1.0 - r.nextDouble()) + 0.01) * 100) / 100.0
      val e = Ev(nextId, new Timestamp(epochMs - r.nextInt(MaxJitterMs)), r.nextInt(Users).toLong,
        Types(r.nextInt(Types.length)), value, s"""{"k": ${r.nextInt(100)}}""", dueNs)
      recent((nextId % recent.length).toInt) = e
      nextId += 1
      (e, false)
    }
  }
}

/** Open-loop schedule: event i of a segment at `rate` events/s starting at
  * `startNs` is due at `startNs + i / rate`, whatever the system does. */
object Schedule {
  def dueNs(startNs: Long, rate: Double, i: Long): Long = startNs + (i * 1e9 / rate).toLong
}

/** `event_stream`: one long-running query runs `EventStreams.dedupedEvents`
  * over an in-process source into a `foreachBatch` sink that records when
  * each event is emitted. A generator thread feeds events on an open-loop
  * schedule at a few fixed rates; latency is measured from each event's due
  * time, so queueing behind a slow batch counts. */
final class EventStream extends Workload {
  val Nominal = 2000.0
  val Rates: Seq[Double] = Seq(1000.0, Nominal, 16000.0, 64000.0, 256000.0)
  val Watermark = "1 second"
  val WarmupSeconds = 6.0
  val LatencyLimitMs = 1000.0

  private var query: StreamingQuery = _
  private var input: MemoryStream[Ev] = _
  private var gen: EventGen = _
  private var nQuery = 0
  // emission count and emission time per event id
  private val emitted = new mutable.ArrayBuffer[Int]()
  private val emitNs = new mutable.ArrayBuffer[Long]()
  private val dueOf = new mutable.ArrayBuffer[Long]()
  private var epoch0Ms = 0L
  private var clock0Ns = 0L

  def generate(ctx: Ctx): Unit = {
    gen = new EventGen(ctx.seed)
    emitted.clear(); emitNs.clear(); dueOf.clear()
    epoch0Ms = System.currentTimeMillis(); clock0Ns = System.nanoTime()
  }

  private def startQuery(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[Ev](ctx.cores) // one input partition per core
    nQuery += 1
    val deduped = graft.streaming.EventStreams.dedupedEvents(input.toDF(), Watermark)
    query = deduped.writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.select("event_id").collect()
        val now = System.nanoTime()
        emitted.synchronized {
          rows.foreach { r =>
            val id = r.getLong(0).toInt
            emitted(id) += 1
            if (emitNs(id) == 0L) emitNs(id) = now
          }
        }
        ()
      }
      .option("checkpointLocation", ctx.runDir.resolve(s"checkpoint-$nQuery").toString)
      .start()
  }

  /** Feeds events at `rate` for `seconds` on the open-loop schedule,
    * recording into `phase` (when given) how late the generator ran and
    * the backlog every 100 ms. */
  private def feed(rate: Double, seconds: Double, phase: Phase, label: String): Unit = {
    val start = System.nanoTime()
    val n = (rate * seconds).toLong
    var i = 0L
    var nextSample = start
    while (i < n) {
      val now = System.nanoTime()
      val batch = mutable.ArrayBuffer.empty[Ev]
      var latest = 0L
      while (i < n && Schedule.dueNs(start, rate, i) <= now) {
        val due = Schedule.dueNs(start, rate, i)
        val (e, redelivery) = gen.next(due, epoch0Ms + (due - clock0Ns) / 1000000L)
        if (!redelivery) emitted.synchronized {
          emitted += 0; emitNs += 0L; dueOf += due
        }
        batch += e
        latest = due
        i += 1
      }
      if (batch.nonEmpty) {
        input.addData(batch.toSeq)
        val late = System.nanoTime() - latest
        if (phase != null) phase.add(s"late_ms.$label", late / 1e6)
      }
      if (phase != null && now >= nextSample) {
        val backlog = emitted.synchronized { emitted.count(_ == 0) }
        phase.add(s"backlog_t.$label", (now - start) / 1e9)
        phase.add(s"backlog.$label", backlog)
        nextSample += 100000000L
      }
      val wait = if (i < n) Schedule.dueNs(start, rate, i) - System.nanoTime() else 0L
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
    }
  }

  def warmup(ctx: Ctx): Unit = {
    startQuery(ctx)
    // dedup state fills to its watermark-bounded steady size
    feed(Nominal, WarmupSeconds, null, "warmup")
  }

  def teardown(ctx: Ctx): Unit = if (query != null) {
    query.stop()
    query = null
  }

  def run(ctx: Ctx, deadlineNs: Long, phase: Phase): Unit = {
    val total = (deadlineNs - System.nanoTime()) / 1e9
    // the nominal rate gets half the window; the other rates share the
    // rest, in rising order, so a backlog left by a rate past the knee
    // comes after every sustained segment
    val others = (total / 2) / (Rates.size - 1)
    val plan = Rates.sorted.map(r => r -> (if (r == Nominal) total / 2 else others))
    val firstId = emitted.synchronized(emitted.size)
    val segments = plan.map { case (rate, secs) =>
      val from = emitted.synchronized(emitted.size)
      feed(rate, secs, phase, rate.toInt.toString)
      (rate, from, emitted.synchronized(emitted.size))
    }
    // drain (untimed): wait until every generated event is out or the
    // query has had ample time
    val lastId = emitted.synchronized(emitted.size)
    val drainUntil = System.nanoTime() + 20000000000L
    while (emitted.synchronized(emitted.view.slice(firstId, lastId).contains(0)) &&
      System.nanoTime() < drainUntil) Thread.sleep(20)
    emitted.synchronized {
      // each latency with its batch (the batch's emission time), so the
      // tail rule can count batches rather than events
      segments.foreach { case (rate, from, to) =>
        val key = if (rate == Nominal) Seq("op_ms", s"lat.${rate.toInt}") else Seq(s"lat.${rate.toInt}")
        (from until to).filter(emitNs(_) != 0L).foreach { id =>
          key.foreach { k =>
            phase.add(k, (emitNs(id) - dueOf(id)) / 1e6)
            phase.add(s"$k.batch", emitNs(id).toDouble)
          }
        }
      }
      (firstId until lastId).foreach { id =>
        ctx.outcome.attempted += 1
        if (emitted(id) != 1) ctx.outcome.fail(s"event $id emitted ${emitted(id)} times")
      }
    }
    phase.ops = math.max(1L, Counters.get("stream.batches"))
    phase.scalars("rates") = Rates
    phase.scalars("latency_limit_ms") = LatencyLimitMs
  }

  override def layerCounters(ctx: Ctx, phase: Phase): Map[String, Double] = {
    val backlog = phase.samples.collect { case (k, v) if k.startsWith("backlog.") => v }.flatten
    val late = phase.samples.collect { case (k, v) if k.startsWith("late_ms.") => v }.flatten
    Map(
      "stream.backlog_events" -> (if (backlog.isEmpty) 0.0 else backlog.sum / backlog.size),
      "stream.generator_late_ms" -> (if (late.isEmpty) 0.0 else late.sum / late.size))
  }
}
