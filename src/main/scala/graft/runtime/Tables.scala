package graft.runtime

import java.io.File
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet corpus (TESTDATA.md), and
  * the one place under `src/main` that reads a corpus file.
  *
  * All reads are `spark.read.parquet` scans, so Catalyst gets full
  * predicate pushdown + column pruning into the vectorized parquet
  * scan. On a real cluster the same API reads a partitioned lake
  * layout unchanged.
  *
  * Ingest contract:
  *  - Schema memo. Every read passes a schema, so no read launches
  *    Spark's schema-inference (footer-reading) job. The schema is the
  *    one this session's reader would infer, inferred once from the
  *    file's footer on the driver and memoized per (session, file path,
  *    mtime, size, the session's parquet conf): a rewritten file is
  *    re-inferred, and no session gets a schema inferred under another
  *    session's conf or an earlier one (say, one that reads nanosecond
  *    timestamps as longs). Entries of sessions whose SparkContext has
  *    stopped are dropped whenever the memo is next touched. A
  *    compacted copy is read with its source's schema. A directory in
  *    a file's place (a Spark-written dataset, as specs write fixtures)
  *    is keyed by every file under it and inferred by Spark's own job.
  *  - One compaction pass. The first touch of any oversized fact table
  *    (`lineitem`, `orders`, `events`) compacts every oversized fact
  *    table of the corpus: one write per table, all at once on a
  *    [[DriverPool]] as wide as the number of tables left to compact,
  *    created and joined inside the call, so no compaction job is still
  *    running when it returns.
  *  - Split. Each table is hash-split on its leading key (`l_orderkey`,
  *    `o_orderkey`, `event_id`) into [[Tables.CompactFiles]] files:
  *    deterministic, and with no local sort (a round-robin split sorts
  *    every row to stay deterministic on retry).
  *  - Layout safety: results do not depend on the split. Verified at
  *    sf0.1: `graft.Verify` over the round-robin and over the hash-split
  *    copies gives identical results for all 319 queries
  *    (`tools/result_diff.py`; its 171M-row `q_housing_inventory_population`
  *    by an order-independent row-hash checksum), and every consumer's
  *    result hash-matches a DuckDB oracle that reads the ORIGINAL file.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def file(name: String): File = new File(s"$dir/$name.parquet")
  private def t(name: String): DataFrame = Tables.read(spark, file(name), file(name))

  /** This session's schema of the corpus file `name` (memoized). */
  def schema(name: String): StructType = Tables.schemaOf(spark, file(name))

  /** A fact table, from its compacted copy when it is oversized. */
  private def fact(name: String): DataFrame = {
    Tables.compactFacts(spark, dir)
    Tables.copyOf(file(name)).fold(t(name))(Tables.read(spark, file(name), _))
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = fact("orders")
  def lineitem: DataFrame   = fact("lineitem")
  /** events.parquet has shipped with two timestamp layouts across
    * corpus drops; normalize either (see [[Tables.normalizeEventTs]]).
    * The nanos layout lands as a plain LONG column in the compacted
    * copy, the NTZ layout as TIMESTAMP_NTZ, the types the source's
    * schema has, so the copy read with it dispatches the same way. */
  def events: DataFrame     = Tables.normalizeEventTs(fact("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType}

  /** Compact only sources big enough for layout to matter (below
    * ~1.5 MB a single decode task is already sub-100 ms and the
    * rewrite would cost more than it saves — everything at sf≤0.01
    * skips; at sf0.1 orders/lineitem/events all clear the floor). */
  private val CompactMinBytes = 3L * 512 * 1024
  private[graft] val CompactFiles = 16

  /** The fact tables and the leading key each is split on. */
  private val Facts = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "events" -> "event_id")

  /** A file's path, mtime and size; for a directory (a dataset Spark
    * wrote, as specs write fixtures), those of every file under it. */
  private final case class FileKey(
      session: SparkSession, path: String, files: Seq[(String, Long, Long)], conf: Map[String, String])

  private def stamps(f: File): Seq[(String, Long, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(stamps)
    else Seq((f.getName, f.lastModified(), f.length()))

  private val schemas = new ConcurrentHashMap[FileKey, StructType]()

  /** `src`'s schema as `spark`'s reader infers it, inferred on the first
    * read per key. Two threads may both infer a new key; they get the
    * same schema. */
  private def schemaOf(spark: SparkSession, src: File): StructType = {
    schemas.keySet.removeIf(_.session.sparkContext.isStopped)
    val key = FileKey(spark, src.getCanonicalPath, stamps(src), spark.conf.getAll.filter(_._1.contains("parquet")))
    Option(schemas.get(key)).getOrElse {
      val s = infer(spark, src)
      schemas.putIfAbsent(key, s)
      s
    }
  }

  /** Spark's parquet schema inference for one file, on the driver: the
    * footer converted as the inference job's task converts it (the Spark
    * schema the writer stored, else the parquet types under the
    * session's conf), then made all-nullable by resolving a reader with
    * it, as Spark does with an inferred schema. The inference job reads
    * the same footer in a task; one small file needs no job. A directory
    * is left to Spark's own inference (summary files, partition columns). */
  private def infer(spark: SparkSession, src: File): StructType =
    if (src.isDirectory) spark.read.parquet(src.getPath).schema
    else {
      val state = ClassicConversions.castToImpl(spark).sessionState
      val path = new Path(src.toURI)
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, state.newHadoopConf()), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(path, meta), new ParquetToSparkSchemaConverter(state.conf))
      spark.read.schema(schema).parquet(src.getPath).schema
    }

  /** The one corpus reader: `at` (the file `src` itself or its compacted
    * copy) read with `src`'s memoized schema. */
  private def read(spark: SparkSession, src: File, at: File): DataFrame =
    spark.read.schema(schemaOf(spark, src)).parquet(at.getPath)

  /** Ingest compaction for the fact tables. The corpus ships each
    * table as ONE parquet file with ONE row group — and a row group is
    * the parquet unit of scan parallelism, so every lineitem pass
    * decodes 600k rows in a single task no matter how many cores the
    * session has (measured 0.85 s vs 0.45 s per aggregate pass at
    * sf0.1). Standard lake maintenance answer: re-layout once on first
    * touch into a multi-file scratch copy and read that — the same
    * compaction pass any warehouse runs after a bulky single-writer
    * ingest. Keyed by source (mtime, size) so a regenerated corpus
    * drop recompacts; small sources (every table at sf≤0.01) skip it
    * entirely. At 100 TB this step is moot — the lake writer itself
    * would emit properly sized files/row groups (or bucketed tables;
    * see ScaleSpecs' bucketing gates) — but a reader must not inherit a
    * bad layout it can fix once. */
  private def copyOf(src: File): Option[File] =
    if (!src.isFile || src.length < CompactMinBytes) None
    else {
      val key = java.lang.Long.toHexString(src.lastModified() ^ src.length() * 1315423911L)
      Some(new File(compactRoot, s"${src.getName.stripSuffix(".parquet")}-$key"))
    }

  /** Compacts every oversized fact table of `dir` that has no copy yet,
    * all at once; returns when every copy is in place. */
  private def compactFacts(spark: SparkSession, dir: String): Unit = {
    def left = for {
      (name, key) <- Facts
      src = new File(s"$dir/$name.parquet")
      dst <- copyOf(src) if !dst.isDirectory
    } yield (name, src, key, dst)
    if (left.nonEmpty) synchronized {
      val todo = left
      if (todo.nonEmpty) DriverPool(spark, todo.size, "tables-compact") { pool =>
        val writes = todo.map { case (name, src, key, dst) => pool.submit(compact(spark, name, src, key, dst)) }
        try CompletableFuture.allOf(writes: _*).join()
        catch { case e: CompletionException => throw e.getCause }
      }
    }
  }

  /** Writes the copy to a temp dir, then renames it into place, so
    * concurrent processes race safely. */
  private def compact(spark: SparkSession, name: String, src: File, key: String, dst: File): Unit = {
    val tmp = new File(dst.getParentFile, s".${dst.getName}.tmp-${ProcessHandle.current.pid}")
    read(spark, src, src)
      .repartition(CompactFiles, col(key))
      .write.mode("overwrite").parquet(tmp.getPath)
    if (!tmp.renameTo(dst)) deleteRecursively(tmp) // lost a cross-process race: winner's copy is identical
    else pruneStale(name, dst.getName) // superseded corpus drops + crashed writers
  }

  @volatile private var compactRoot: File =
    new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-compact")

  /** Runs `body` with compacted copies kept under `root` (specs use a
    * private one). */
  private[graft] def withCompactRoot[T](root: File)(body: => T): T = {
    val saved = compactRoot
    compactRoot = root
    try body finally compactRoot = saved
  }

  private def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Scratch hygiene, run after a successful compaction (ADVICE r6):
    * the driver regenerates testdata between rounds, so every corpus
    * drop minted a new (mtime, size) key and the old copies — plus
    * any `.tmp-<pid>` debris from crashed writers — accumulated
    * unboundedly. Deletes this table's dirs under any OTHER key, and
    * its tmp dirs older than an hour (a live concurrent writer's tmp
    * is younger; the rename-loser already removes its own). */
  private def pruneStale(name: String, keep: String): Unit = {
    val siblings = compactRoot.listFiles()
    if (siblings == null) return
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    siblings.foreach { f =>
      val n = f.getName
      val superseded = n.startsWith(s"$name-") && n != keep
      val crashedTmp = n.startsWith(s".$name-") && n.contains(".tmp-") &&
        f.lastModified() < cutoff
      if (superseded || crashedTmp) deleteRecursively(f)
    }
  }

  /** events.parquet has carried TIMESTAMP(NANOS) — which Spark's
    * reader rejects unless read as raw nanos longs (the legacy flag
    * [[GraftSession.get]] sets) — and, in newer corpus
    * drops, TIMESTAMP(MICROS, isAdjustedToUTC=false) which Spark
    * reads natively as TIMESTAMP_NTZ. Dispatch on the landed type and
    * normalize both to a session-TZ microsecond timestamp (identical
    * wall-clock — all sessions run UTC), so every downstream consumer
    * sees one `ts` contract regardless of which drop it reads. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
    case _                => df
  }
}
