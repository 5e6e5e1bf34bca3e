package graft.runtime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The one session factory of the graft engine: every entry point
  * (through [[graft.Fleet]]) and every spec builds its session here.
  *
  * This is the configuration the DuckDB oracle checks: Spark's
  * defaults (ANSI mode and AQE included), UTC session time, the native
  * vector expressions, and an explicit shuffle width. The reference's
  * BigQuery `SAFE_*` calls are mapped to explicit `try_*` functions,
  * so no query needs ANSI mode turned off.
  */
object GraftSession {

  /** Build (or reuse) a SparkSession with graft defaults applied. */
  def get(master: Option[String] = None, shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      // native vec_dot/vec_cosine expressions (SimilarityOps falls
      // back to the composable form when absent, but library sessions
      // should get the codegen path)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // keep catalog/warehouse artifacts out of the repo working dir
      .config(
        "spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"
      )
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped as TIMESTAMP(NANOS), which Spark
      // reads only as raw longs under this flag (Tables.normalizeEventTs
      // converts them). Set here, never while a query runs: a conf set
      // inside a builder races with concurrent planning.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.foreach(b.master)
    // A fresh SparkContext: the JVM-global state-store registry still
    // holds the providers of streams that ran under a stopped one, and
    // its maintenance task would fail (and log a stack trace) unloading
    // each against the new context's coordinator. Unload them first.
    if (SparkSession.getDefaultSession.forall(_.sparkContext.isStopped)) StateStore.stop()
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The fleet's bounded global-window sites (WindowOps.scala header;
    // boundedness spec-gated in GlobalWindowSpecs) each emit an
    // identical WindowExec single-partition WARN, thousands of lines
    // that bury real warnings. Likewise `Loop.release` unpersists a
    // loop round's local checkpoint on purpose, and Spark warns once
    // per released round that its lineage is gone. Silence those two
    // categories only.
    try Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd.MapPartitionsRDD")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(_, org.apache.logging.log4j.Level.ERROR))
    catch { case scala.util.control.NonFatal(_) => () }
    spark
  }

  private val streamSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session `spark`'s Structured Streaming queries run in: one
    * `newSession()` per parent (same SparkContext, shared cache, the
    * parent's builder options), with its own conf so the stream's state
    * partition count never touches the caller's session.
    *
    * Every stateful stream here keeps KEY-BOUNDED state (grouped totals
    * by flag×status, 7-day windows, CMS d×w cells, interval-bounded join
    * buffers), and the per-batch cost of an HDFS-backed state store is
    * load/commit PER PARTITION PER STATEFUL OPERATOR (~80 ms each): at 32
    * shuffle partitions the interval join paid 2.6-2.8 s per batch for
    * 40 k state rows. 8 state partitions are sized to these streams' key
    * cardinality, the per-stream knob a real deployment tunes (SCALE.md
    * §6 #1); the count does not affect emitted rows. One session per
    * parent, not per stream: a session's streaming query manager stays
    * registered on the context's listener bus for the context's life. */
  def streaming(spark: SparkSession): SparkSession = streamSessions.synchronized {
    var ss = streamSessions.get(spark)
    if (ss == null) {
      ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      streamSessions.put(spark, ss)
    }
    ss
  }
}
