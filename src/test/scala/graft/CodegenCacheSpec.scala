package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache is sized to graft's inventory by the
  * extension, so a query run again in the same session compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"
  private val key = "spark.sql.codegen.cache.maxEntries"

  /** The six read queries of the benchmark's `query_mix` workload. */
  private val queryMix = Seq("q_tpch_q3", "q_lang_id", "q_sim_topk", "q_sessionize",
    "q_link_predict", "q_spatial_join")

  private def field(o: AnyRef, name: String): AnyRef = {
    val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null)
      .flatMap(_.getDeclaredFields).find(_.getName == name)
      .getOrElse(throw new NoSuchFieldException(s"${o.getClass.getName}.$name"))
    f.setAccessible(true)
    f.get(o)
  }

  /** Calls a no-argument method, private or not, of `o`'s class. */
  private def call(o: AnyRef, name: String): AnyRef = {
    val m = o.getClass.getDeclaredMethod(name)
    m.setAccessible(true)
    m.invoke(o)
  }

  /** `CodeGenerator`'s class cache (Spark's `NonFateSharingLoadingCache`
    * over a Guava `LoadingCache`), built once per JVM at its first use. */
  private def codegenCache: AnyRef = call(CodeGenerator, "cache")

  /** The maximum size the cache was built with (Guava's `maxWeight`). */
  private def capacity: Long =
    field(field(call(codegenCache, "loadingCache"), "localCache"), "maxWeight")
      .asInstanceOf[Long]

  private def cachedClasses: Long =
    codegenCache.getClass.getMethod("size").invoke(codegenCache).asInstanceOf[Long]

  test("the codegen cache default fills a missing key and keeps a user value") {
    assert(Bridge.withCodegenCacheDefault(new SparkConf(false)).get(key) ==
      Bridge.CodegenCacheEntries.toString)
    assert(Bridge.withCodegenCacheDefault(new SparkConf(false).set(key, "250")).get(key) == "250")
  }

  test("a session built through the extension carries the inventory-sized cache") {
    assert(spark.conf.get(key) == Bridge.CodegenCacheEntries.toString)
  }

  test("a third pass of the query_mix queries compiles no generated class") {
    val configured = spark.conf.get(key).toLong
    // The cache took its size from whichever session first used codegen in
    // this JVM; if that session lacked the extension, say so instead of
    // blaming the steady state below.
    assert(capacity == configured,
      s"CodeGenerator's cache was built with $capacity entries, not this session's $configured: " +
        "the JVM's first codegen ran under a session built without graft.GraftSparkExtensions")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def pass(): Long = {
      val c0 = compiles.getCount
      queryMix.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
      compiles.getCount - c0
    }
    val perPass = Seq.fill(3)(pass())
    assert(cachedClasses > 0, "the passes generated no code: nothing was checked")
    assert(perPass(2) == 0,
      s"classes compiled per pass: ${perPass.mkString(", ")} (cache of $capacity entries)")
  }
}
