package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._

/** Counts SQL executions finished between construction and [[count]].
  * The listener bus is asynchronous and delivers events in order, so
  * both ends run a sentinel execution and wait until it is delivered:
  * what finished before construction is delivered before the first
  * sentinel and never counted. */
final class SqlExecutions(spark: SparkSession) extends QueryExecutionListener {
  private val seen = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var sentinelsSeen = 0
  private val sentinelRows = 7919L
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    if (qe.analyzed.toString.contains(s"Range (0, $sentinelRows"))
      sentinelsSeen += 1
    else if (sentinelsSeen == 1) seen.incrementAndGet()
  override def onFailure(f: String, qe: QueryExecution,
                         e: Exception): Unit =
    if (sentinelsSeen == 1) seen.incrementAndGet()
  spark.listenerManager.register(this)
  sentinel(1)

  /** Run a sentinel and wait until the `n`-th one is delivered. */
  private def sentinel(n: Int): Unit = {
    spark.range(sentinelRows).count()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sentinelsSeen < n && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (sentinelsSeen < n) spark.listenerManager.unregister(this)
    assert(sentinelsSeen >= n, "sentinel SQL execution never delivered")
  }

  def count(): Int = {
    sentinel(2)
    spark.listenerManager.unregister(this)
    seen.get()
  }
}
