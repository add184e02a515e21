package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache holds the engine's working set: a second pass
  * over the native-kernel gates, on a fresh directory of the same inputs,
  * compiles no class the first pass compiled. Under Spark's default
  * 100-entry cache the first pass's ~170 classes evict each other and the
  * second pass compiles over 100 of them again. Both passes read fresh
  * directories, so memos keyed by directory (trained models, fixture
  * stats) take the same code paths in each.
  *
  * The bound is a twentieth of the first pass, not zero: after d09, d10
  * compiles 2-4 new classes on some later passes even with a warm cache
  * (plan variants an earlier pass did not meet), which no cache size
  * removes. */
class CodegenCacheSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val src = Paths.get("/root/testdata/sf0.001")
  private val gates = Seq("d09_minhash_md5", "d10_jaccard_blocked",
    "d11_simhash_md5", "t24_rag_retrieval", "t31_langid_ngram", "v14_pq_adc")
  private val scratch = Files.createTempDirectory("graft_codegen_cache")

  override def afterAll(): Unit =
    try ops.ExportOps.deleteRecursively(scratch.toFile)
    finally super.afterAll()

  /** A fresh directory of hard links to the fixture tables. */
  private def freshDir(label: String): String = {
    val d = Files.createDirectories(scratch.resolve(label))
    val tables = Files.list(src)
    try tables.forEach(f => Files.createLink(d.resolve(f.getFileName), f))
    finally tables.close()
    d.toString
  }

  /** Classes Janino compiles during one pass over `gates`. */
  private def passCompiles(label: String): Long = {
    val dir = freshDir(label)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    gates.foreach(g => SparkEntry.queries(g)(spark, dir).count())
    ops.DedupOps.unpersistCaches()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("session conf carries the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second pass over the kernel gates compiles no class again") {
    val first = passCompiles("pass1")
    val second = passCompiles("pass2")
    assert(second <= first / 20, s"second pass compiled $second (first pass: $first)")
  }
}
