package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.StaticSQLConf

/** Narrow bridge to `private[sql]` and `private[spark]` Spark internals:
  * Column <-> Expression conversion, plan and subquery wrapping, temp
  * directories, Spark's named errors and the active context's conf. Lives
  * under `org.apache.spark.sql` for access, exactly like other Spark extension
  * libraries do; everything else in graft uses only this object. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an (already-analyzed) logical plan as a DataFrame — the hook a
    * planner strategy needs to REWRITE a matched logical subtree with the
    * DataFrame API (compose operators, re-analyze) and hand the result
    * back via `planLater`. Same `Dataset.ofRows` Spark's own internals
    * use; attributes keep their exprIds, so the rewritten subtree slots
    * into the surrounding plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit by
    * Spark's shutdown hook (`Utils.createTempDir`). */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getAbsolutePath

  /** Entries of Spark's generated-class cache on a graft context. Spark's
    * default, 100, is split by Guava into 4 LRU segments of 25, and one
    * pass of the benchmark's six small read queries already generates 120
    * classes, so every pass recompiled a large share of them. The cache
    * is keyed on (class loader, code); one pass over all 258 read queries
    * at sf0.001 fills about 3,100 entries, which 4096 (4 segments of
    * 1,024) holds. */
  val CodegenCacheEntries: Int = 4096

  /** Sets `spark.sql.codegen.cache.maxEntries` to [[CodegenCacheEntries]]
    * on `conf` unless the key is already set; a user value wins. */
  def withCodegenCacheDefault(conf: SparkConf): SparkConf =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)

  /** [[withCodegenCacheDefault]] on the active SparkContext's conf. Called
    * while `SparkSession.Builder` applies `spark.sql.extensions`: the context
    * is up, and the session's shared state has not yet copied its conf, so
    * the session's SQLConf carries the size. Limits, both Spark's:
    * `CodeGenerator` reads the size once per JVM, at its first use, so a
    * JVM whose first codegen ran under a session without the extension
    * keeps the size that session had; and on a cluster each executor
    * sizes its own cache from its own conf. */
  def sizeCodegenCache(): Unit = SparkContext.getActive.foreach(sc => withCodegenCacheDefault(sc.conf))

  /** A 1-row/1-column DataFrame as a scalar-subquery expression — the form
    * expressions like BloomFilterMightContain require for their build-side
    * input (a constant or scalar subquery, per Spark's own
    * InjectRuntimeFilter). The subquery executes once as its own stage and
    * its result is shipped to every task like a broadcast variable. */
  def scalarSubquery(df: org.apache.spark.sql.Dataset[_]): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.queryExecution.analyzed))

  /** Spark's own wrong-argument-count analysis error, so SQL-text misuse of
    * a graft function fails like misuse of a builtin (named function, clear
    * expected/actual counts) instead of an IndexOutOfBoundsException. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected), actual)

  /** Variadic form for functions accepting several arities (e.g.
    * `bloom_filter_agg(k)`, `(k, items)`, `(k, items, bits)`). */
  def wrongNumArgs(name: String, expected: Seq[Int], actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, expected, actual)
}
