package perfbench

/** Digests of the in-process generators for the benchmark's own tests:
  * prints one JSON object mapping "<generator>/<seed>/<try>" to a digest
  * of what the generator produced. */
object SelfTest {
  private def digest(xs: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(what: String): Unit = {
    val out = for (seed <- Seq(1L, 1L, 2L).zipWithIndex) yield {
      val (s, i) = seed
      val fleet = new FleetGen(s, 2000, 200)
      val (rows, expected) = fleet.snapshot(1)
      val fleetD = digest(fleet.devices.iterator.map(_.toString) ++ rows.iterator ++
        expected.toSeq.sorted.iterator)
      val ev = new EventGen(s)
      val evD = digest(Iterator.tabulate(5000) { k =>
        val (e, redelivery) = ev.next(k * 1000L, 1700000000000L + k)
        s"$e/$redelivery"
      })
      Seq(s"fleet/$s/$i" -> fleetD, s"events/$s/$i" -> evD,
        s"fleet_expected/$s/$i" -> expected.size.toString,
        s"fleet_rows/$s/$i" -> rows.size.toString)
    }
    // the open-loop schedule: event i at rate r is due i / r after the start
    val schedule = Seq(0L, 1L, 1999L, 2000L, 10000L)
      .map(i => s"schedule/2000/$i" -> Schedule.dueNs(1000L, 2000.0, i).toString)
    println(Json.render((out.flatten ++ schedule).toMap))
  }
}
