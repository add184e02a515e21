package graft.ops

import java.nio.file.{Files, Paths, StandardOpenOption}

/** The OTHER process of the cross-JVM TxTable race
  * ([[CrossJvmTxRaceSpec]]): a real second JVM with its own
  * SparkSession/Hadoop FileSystem contending on the same table root —
  * the scenario the in-process `synchronized` in [[TxTable.commit]]
  * cannot serialize, exercised for real instead of being simulated by a
  * same-process fake.
  *
  * Protocol (file handshake, no sockets): write `_contender_ready` once
  * the session is up; then loop — when `_go_<k>` appears, run ONE
  * [[TxTable.commit]] of the table's current file listing and write the
  * resulting version into `_done_<k>`; exit on `_stop`. The parent spec
  * fires the trigger from inside a commit's read-version→claim window
  * (the [[TxTable.interleave]] hook), so the parent's commit
  * DETERMINISTICALLY loses the race to this process and must detect it.
  */
object TxContender {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = graft.GraftSession.builder("local[2]", 2)
      .appName("tx-contender")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def touch(name: String, content: String = ""): Unit =
      Files.write(Paths.get(root, name), content.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    def exists(name: String): Boolean = Files.exists(Paths.get(root, name))
    touch("_contender_ready")
    var k = 1
    val deadline = System.currentTimeMillis() + 120000L
    while (System.currentTimeMillis() < deadline) {
      if (exists(s"_go_$k")) {
        val v = TxTable.commit(spark, root, TxTable.listDataFiles(spark, root))
        touch(s"_done_$k", v.toString)
        k += 1
      } else if (exists("_stop")) {
        spark.stop()
        sys.exit(0)
      } else Thread.sleep(25)
    }
    sys.exit(1) // deadline without _stop: parent died — fail loudly
  }
}
