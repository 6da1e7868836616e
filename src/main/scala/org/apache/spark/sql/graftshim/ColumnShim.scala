package org.apache.spark.sql.graftshim

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.StaticSQLConf

/** Bridge to the private[sql] Column↔Expression converters — the one
  * sanctioned way to lift a custom Catalyst Expression into the public
  * Column API in Spark 4 (Column no longer exposes a public
  * Expression constructor).
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the private[sql] state-store registry. A terminated
  * streaming query's providers stay loaded until the (default 60 s)
  * maintenance pass notices they're inactive; a harness draining many
  * short streaming queries through one session wants them unloaded
  * eagerly so later queries don't pay maintenance for earlier ones.
  */
object StateStoreShim {
  def unloadAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}

/** Bridge to the private[spark] live SparkConf of the active context.
  * Spark sizes its JVM-wide generated-class cache once, from the static
  * conf `spark.sql.codegen.cache.maxEntries`, when CodeGenerator is first
  * used. A session extension runs inside `getOrCreate` after the
  * SparkContext exists but before the new session's SharedState copies
  * its conf, so a default set here reaches that first use. A value the
  * user set explicitly is left alone.
  */
object CodegenCacheShim {
  def sizeIfUnset(entries: Int): Unit =
    SparkContext.getActive.foreach(sc => sizeIfUnset(sc.conf, entries))

  def sizeIfUnset(conf: SparkConf, entries: Int): Unit =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, entries.toString)
}

/** Bridge to the private[sql] artifact manager: whether the session
  * added jars of its own, the classes session artifact isolation keeps
  * behind a per-session executor class loader.
  */
object ArtifactShim {
  def hasSessionJars(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].artifactManager.getAddedJars.nonEmpty
}
