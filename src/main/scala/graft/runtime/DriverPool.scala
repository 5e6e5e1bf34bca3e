package graft.runtime

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutorService, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution

/** A driver-side thread pool that lives for one call: `width` daemon
  * threads, shut down and joined before [[DriverPool.apply]] returns, so
  * no work submitted to it outlives the call. Each submission carries
  * the submitting thread's thread-locals as they are at submit time
  * (active session, job group, local properties), so its jobs are
  * attributed to the caller in listeners and the Spark UI. Used by
  * [[ModelRegistry.run]] (materializations) and [[Tables]] (ingest
  * compaction).
  */
final class DriverPool private (spark: SparkSession, pool: ExecutorService) {
  private val session = ClassicConversions.castToImpl(spark)

  def submit[T](body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(session, pool)(body)
}

object DriverPool {
  def apply[T](spark: SparkSession, width: Int, name: String)(body: DriverPool => T): T = {
    val workers = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(width, (r: Runnable) => {
      val t = new Thread(r, s"$name-${workers.size}")
      t.setDaemon(true)
      workers.add(t)
      t
    })
    try body(new DriverPool(spark, pool))
    finally {
      pool.shutdown()
      workers.forEach(_.join())
    }
  }
}
