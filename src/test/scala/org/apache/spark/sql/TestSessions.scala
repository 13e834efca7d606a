package org.apache.spark.sql

/** Test access to the `private[sql]` session clone — the copy a streaming
  * query runs its micro-batches on. */
object TestSessions {
  def cloneOf(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
