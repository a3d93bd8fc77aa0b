package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the generated classes Janino compiles while a block runs: the
  * delta of Spark's JVM-wide compile-time histogram, which records one
  * sample per compile and none for a codegen cache hit. The counter is
  * not tagged by thread, so the count includes any compile another
  * thread starts meanwhile (suites run one at a time in the forked test
  * JVM). Pins that a plan's classes stay cached, the cost
  * [[GraftSession.CodegenCacheEntries]] sizes for. */
object CompileCount {

  /** Run `body` and return its result with the number of compiles. */
  def apply[T](body: => T): (T, Long) = {
    def count = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = count
    val out = body
    (out, count - before)
  }
}
