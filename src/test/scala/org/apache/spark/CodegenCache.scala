package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Empties the JVM-wide cache of generated classes, so a spec can count the
  * distinct classes a workload needs. The cache is private to
  * `CodeGenerator`, hence the reflection; its type is Spark-internal, hence
  * this package. */
object CodegenCache {
  def clear(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
      .invalidateAll()
  }
}
