package perfbench

import java.net.InetSocketAddress
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.lit

import graft.geotab.{GeotabPipeline, GeotabSynth}
import graft.sources.geotab._
import graft.streaming.FeatureCollectionHttpSink

/** A seeded Geotab fleet: a device registry, a user list (drivers and
  * non-drivers) and, per scheduled run, a DeviceStatusInfo snapshot in the
  * API's wire shape. The snapshot carries stale rows, string / object /
  * unknown-id / absent driver variants, blank and missing names and
  * plates, rows for devices the registry does not know, and names outside
  * the run's prefix filter. */
final class FleetGen(seed: Long, val nDevices: Int, val nUsers: Int) {
  val prefix = "Unit"
  val freshnessSeconds = 3600L
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val base = LocalDateTime.of(2026, 1, 1, 0, 0, 0)

  private def rng(stream: Long) = new scala.util.Random(seed * 1000003L + stream)

  val users: Seq[Map[String, Any]] = {
    val r = rng(1)
    (0 until nUsers).map { j =>
      Map[String, Any]("id" -> s"u-$j", "name" -> s"driver$j", "comment" -> s"c$j",
        "phoneNumber" -> s"555-$j", "firstName" -> s"F$j", "lastName" -> s"L$j",
        "designation" -> s"D${j % 3}", "isDriver" -> (r.nextDouble() < 0.9))
    }
  }

  /** (id, name or null) per device; names drive the prefix filter. */
  val devices: Seq[Map[String, Any]] = {
    val r = rng(2)
    (0 until nDevices).map { i =>
      def pick(nullShare: Double, blankShare: Double, v: String): Any = {
        val x = r.nextDouble()
        if (x < nullShare) null else if (x < nullShare + blankShare) "" else v
      }
      val kind = r.nextDouble()
      val name: Any =
        if (kind < 0.06) null else if (kind < 0.12) ""
        else if (kind < 0.85) s"Unit $i" else s"Trailer $i"
      Map[String, Any]("id" -> s"dev-$i", "vehicleIdentificationNumber" -> s"VIN$seed-$i",
        "licenseState" -> pick(0.1, 0.1, s"S${i % 50}"),
        "licensePlate" -> pick(0.05, 0.1, s"P$i"), "name" -> name)
    }
  }

  def now(run: Int): LocalDateTime = base.plusMinutes(run.toLong)

  /** Run `run`'s telemetry snapshot and the feature ids the reference
    * pipeline must emit for it: fresh, prefix-matched, inner-joined. */
  def snapshot(run: Int): (Seq[String], Set[String]) = {
    val r = rng(100 + run)
    val t = now(run)
    val rows = Seq.newBuilder[String]
    val expected = Set.newBuilder[String]
    def row(devId: String, ageS: Long): String = {
      val d = r.nextDouble()
      val driver =
        if (d < 0.4) s""","driver":{"id":"u-${r.nextInt(nUsers)}"}"""
        else if (d < 0.5) s""","driver":{"id":"u-x${r.nextInt(1000)}"}"""
        else if (d < 0.8) ""","driver":"UnknownDriverId""""
        else ""
      f"""{"bearing":${r.nextInt(360)}.0,"latitude":${r.nextDouble() * 160 - 80}%.5f,""" +
        f""""longitude":${r.nextDouble() * 340 - 170}%.5f,"speed":${r.nextInt(130)}.5,""" +
        s""""dateTime":"${t.minusSeconds(ageS).format(iso)}","device":{"id":"$devId"}""" +
        s"""$driver,"groups":[{"id":"g${r.nextInt(8)}"}]}"""
    }
    devices.foreach { dev =>
      if (r.nextDouble() < 0.95) {
        val fresh = r.nextDouble() < 0.8
        // ages stay clear of the freshness boundary by whole minutes
        val age = if (fresh) r.nextInt(3500).toLong else 3700L + r.nextInt(30000)
        val id = dev("id").toString
        rows += row(id, age)
        val name = Option(dev("name")).map(_.toString).filter(_.nonEmpty).getOrElse("No Name")
        if (fresh && name.startsWith(prefix)) expected += s"geotab-$id"
      }
    }
    (0 until nDevices / 50).foreach(k => rows += row(s"dev-unknown-$k", r.nextInt(3500).toLong))
    (rows.result(), expected.result())
  }
}

/** The API server's side of the connector layer: times the fixture client
  * the RPC facade serves from. */
final class ServerSideClient(inner: GeotabClient) extends GeotabClient {
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally Counters.add("connector.server_ns", System.nanoTime() - t0)
  }
  def authenticate(d: String, u: String, p: String): GeotabCredentials = timed(inner.authenticate(d, u, p))
  def validateSession(c: GeotabCredentials): Boolean = timed(inner.validateSession(c))
  def get(t: String, s: Map[String, String], c: GeotabCredentials): Seq[String] = timed(inner.get(t, s, c))
  def dataVersion: Long = inner.dataVersion
}

/** The client's side of the connector layer: the production HTTP client
  * with every call counted and timed, registered under the facade's URL so
  * the connector resolves it in place of the plain one. */
final class TimingClient(inner: GeotabClient) extends GeotabClient {
  private def timed[T](body: => T): T = Tracer.span("connector.rpc") {
    val t0 = System.nanoTime()
    Counters.add("connector.rpc_calls", 1)
    try body
    catch { case e: GeotabTransientException => Counters.add("connector.transient", 1); throw e }
    finally Counters.add("connector.rpc_ns", System.nanoTime() - t0)
  }
  def authenticate(d: String, u: String, p: String): GeotabCredentials = timed(inner.authenticate(d, u, p))
  def validateSession(c: GeotabCredentials): Boolean = timed(inner.validateSession(c))
  def get(t: String, s: Map[String, String], c: GeotabCredentials): Seq[String] = timed {
    val rows = inner.get(t, s, c)
    Counters.add("connector.response_bytes", rows.iterator.map(_.length.toLong + 1).sum)
    rows
  }
  def dataVersion: Long = inner.dataVersion
}

/** Stands in for CloudTAK: acknowledges every POST and keeps its body and
  * `X-Graft-Batch` tag for the output check. */
final class Receiver {
  val posts = new ConcurrentLinkedQueue[(String, Array[Byte])]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
  server.createContext("/", (x: HttpExchange) => Tracer.span("sink.post") {
    val t0 = System.nanoTime()
    try {
      val body = x.getRequestBody.readAllBytes()
      posts.add((String.valueOf(x.getRequestHeaders.getFirst("X-Graft-Batch")), body))
      Counters.add("sink.posts", 1)
      Counters.add("sink.bytes", body.length)
      x.sendResponseHeaders(200, -1)
    } finally {
      x.close()
      Counters.add("sink.post_ns", System.nanoTime() - t0)
    }
  })
  server.start()
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def stop(): Unit = {
    server.stop(0)
    server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
  }
}

/** `fleet_etl`: the reference's scheduled job. Each operation reads the
  * registry, users and the live snapshot through the `geotab` connector
  * over HTTP, runs the feature pipeline and submits the FeatureCollections
  * to the receiver; it ends when every POST is acknowledged. */
final class FleetEtl extends Workload {
  val Devices = 15000
  val Users = 1500
  val Buckets = 4
  val WarmupRuns = 9
  private var gen: FleetGen = _
  private var fixture: InMemoryGeotabClient = _
  private var facade: GeotabRpcFacade = _
  private var receiver: Receiver = _
  private var run = 0
  private val mapper = new ObjectMapper()

  def generate(ctx: Ctx): Unit = {
    gen = new FleetGen(ctx.seed, Devices, Users)
    fixture = new InMemoryGeotabClient(gen.users, gen.devices, Nil)
    facade = new GeotabRpcFacade(new ServerSideClient(fixture))
    facade.start()
    receiver = new Receiver
  }

  def warmup(ctx: Ctx): Unit = (1 to WarmupRuns).foreach(_ => oneRun(ctx, null))

  def teardown(ctx: Ctx): Unit = if (facade != null) {
    facade.stop(); receiver.stop()
    GeotabClients.unregister(facade.url)
    facade = null
  }

  private def read(ctx: Ctx, entity: String) =
    ctx.spark.read.format("geotab").option("entity", entity).option("client", facade.url)
      .option("database", "fleetdb").option("user", "svc").option("password", "pw").load()

  /** Ids received for a run, one body per distinct batch tag; fails the
    * run unless they are exactly the expected set, each once. */
  private def check(ctx: Ctx, expected: Set[String]): Unit = {
    val byTag = receiver.posts.asScala.toSeq.groupBy(_._1)
    Counters.add("sink.redeliveries", byTag.values.map(_.size - 1).sum)
    val ids = byTag.values.toSeq.flatMap { ps =>
      mapper.readTree(ps.head._2).path("features").elements().asScala.map(_.path("id").asText)
    }
    Counters.add("pipeline.collections", byTag.size)
    Counters.add("pipeline.features", ids.size)
    if (ids.size != ids.toSet.size) ctx.outcome.fail(s"fleet run $run: duplicate feature ids")
    else if (ids.toSet != expected)
      ctx.outcome.fail(s"fleet run $run: ${ids.size} ids received, ${expected.size} expected")
  }

  private def oneRun(ctx: Ctx, phase: Phase): Unit = {
    run += 1
    val (rows, expected) = gen.snapshot(run)
    fixture.setDeviceInfo(rows) // the fleet moves between scheduled runs
    receiver.posts.clear()
    val cfg = GeotabPipeline.Config(prefix = gen.prefix, now = lit(gen.now(run)),
      freshness = s"INTERVAL ${gen.freshnessSeconds} SECONDS")
    val sink = new FeatureCollectionHttpSink(receiver.url, Buckets)
    ctx.outcome.attempted += 1
    val t0 = System.nanoTime()
    try {
      Tracer.op("fleet.run") {
        val info = GeotabSynth.normalizeInfo(read(ctx, "deviceInfo"))
        val flat = GeotabPipeline.featuresFlat(GeotabSynth.connectorDevices(ctx.spark, facade.url),
          info, GeotabSynth.connectorDrivers(ctx.spark, facade.url), cfg)
        Tracer.span("sink.submit") { sink.submit(flat, run) }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (phase != null) { phase.add("op_ms", ms); phase.ops += 1 }
      check(ctx, expected)
    } catch {
      case e: Exception => ctx.outcome.fail(s"fleet run $run: $e")
    }
  }

  def run(ctx: Ctx, deadlineNs: Long, phase: Phase): Unit = {
    if (Tracer.enabled) {
      // the traced half resolves the facade URL to a timing client
      GeotabClients.register(facade.url, new TimingClient(new HttpGeotabClient(facade.url)))
      Counters.add("connector.logins0", -GeotabSessionCache.logins.get)
      Counters.add("connector.requests0", -facade.requests.get)
    }
    while (System.nanoTime() < deadlineNs) oneRun(ctx, phase)
    if (Tracer.enabled) {
      Counters.add("connector.logins0", GeotabSessionCache.logins.get)
      Counters.add("connector.requests0", facade.requests.get)
    }
  }

  override def layerCounters(ctx: Ctx, phase: Phase): Map[String, Double] = {
    val ops = phase.ops.max(1).toDouble
    def per(c: String, scale: Double = 1.0) = Counters.get(c) / scale / ops
    // the pipeline's own time: each run's wall time minus the parts of it
    // spent in connector calls and in the receiver's handler
    val kids = Tracer.all.filter(s => s.name == "connector.rpc" || s.name == "sink.post")
      .groupBy(_.parent)
    val pipelineNs = Tracer.roots.map { r =>
      r.endNs - r.startNs - Stats.unionNs(kids.getOrElse(r.id, Nil)
        .map(k => (k.startNs max r.startNs, k.endNs min r.endNs)).filter { case (a, b) => b > a })
    }
    Map(
      "connector.rpc_calls" -> per("connector.rpc_calls"),
      "connector.rpc_ms" -> per("connector.rpc_ns", 1e6),
      "connector.server_ms" -> per("connector.server_ns", 1e6),
      "connector.response_bytes" -> per("connector.response_bytes"),
      "connector.logins" -> per("connector.logins0"),
      "connector.retries" ->
        (Counters.get("connector.requests0") - Counters.get("connector.rpc_calls")
          + Counters.get("connector.transient")).max(0L) / ops,
      "pipeline.features" -> per("pipeline.features"),
      "pipeline.collections" -> per("pipeline.collections"),
      "pipeline.ms" -> (if (pipelineNs.isEmpty) 0.0 else pipelineNs.sum / 1e6 / pipelineNs.size),
      "sink.posts" -> per("sink.posts"),
      "sink.post_ms" -> per("sink.post_ns", 1e6),
      "sink.bytes" -> per("sink.bytes"),
      "sink.redeliveries" -> per("sink.redeliveries"))
  }
}
