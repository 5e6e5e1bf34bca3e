package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, from the listener bus. */
object JobCount {
  private val Marker = "job-count-marker"

  /** Start/end time and job group of every job, from the listener bus. */
  final class Log extends SparkListener {
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    /** group -> (start, end) of each of its jobs. */
    def byGroup: Map[String, Seq[(Long, Long)]] =
      starts.asScala.toSeq.map { case (id, (g, s)) => g -> (s, ends.get(id)) }
        .groupBy(_._1).map { case (g, js) => g -> js.map(_._2) }
  }

  /** Runs `body`, then returns its result, the wall-clock millis at which
    * it returned, and the end time of each job it launched
    * (`Long.MaxValue` while it runs). The bus
    * delivers events in order, so once a marker job run after `body` is
    * seen ended, every job of `body` has been reported. */
  def apply[T](spark: SparkSession)(body: => T): (T, Long, Map[Int, Long]) = {
    val sc = spark.sparkContext
    val log = new Log
    sc.addSparkListener(log)
    try {
      val out = body
      val returned = System.currentTimeMillis()
      sc.setJobGroup(Marker, Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def markerEnded = log.starts.asScala.exists { case (id, (g, _)) => g == Marker && log.ends.containsKey(id) }
      while (!markerEnded) {
        assert(System.nanoTime() < deadline, "listener bus did not deliver the marker job")
        Thread.sleep(10)
      }
      // a job still running ends, for the caller, after `body` returned
      def end(id: Int): Long = if (log.ends.containsKey(id)) log.ends.get(id) else Long.MaxValue
      val jobs = log.starts.asScala.collect { case (id, (g, _)) if g != Marker => id -> end(id) }.toMap
      (out, returned, jobs)
    } finally sc.removeSparkListener(log)
  }
}
