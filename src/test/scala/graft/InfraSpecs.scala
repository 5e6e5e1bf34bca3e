package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.MultimodalOps
import graft.runtime.{GraftSession, SqlGuard}
import graft.streaming.StreamingIngest

/** Specs for the session factory, the SQL guard, streaming ingest,
  * and multimodal batch plumbing — the surfaces without a DuckDB oracle.
  */
class InfraSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  test("GraftSession.get: Spark's ANSI default, UTC, vec_* resolvable, the requested width") {
    assert(spark.conf.get(SQLConf.ANSI_ENABLED.key) == SQLConf.ANSI_ENABLED.defaultValueString)
    assert(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "4")
    assert(spark.sql("SELECT vec_cosine(array(1F, 0F), array(2F, 0F))").head().getDouble(0) == 1.0)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(org.apache.logging.log4j.LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel ==
      org.apache.logging.log4j.Level.ERROR, "Loop.release's released-checkpoint WARN is not silenced")
  }

  test("no file under src/ but GraftSession.scala builds a session") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val walk = Files.walk(Paths.get("src"))
    val copies = try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "GraftSession.scala" &&
        builder.findFirstIn(Files.readString(p)).isDefined).toList
      finally walk.close()
    assert(copies.isEmpty, s"sessions built outside GraftSession.get: ${copies.mkString(", ")}")
  }

  private lazy val mainSources = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
    finally walk.close()
  }

  test("under src/main only runtime/Loop.scala checkpoints, and nothing names LoopWidth") {
    val sources = mainSources
    val loop = Paths.get("graft", "runtime", "Loop.scala")
    val checkpoints = sources.filter(p => !p.endsWith(loop) &&
      Files.readString(p).contains(".localCheckpoint("))
    assert(checkpoints.isEmpty, s"loop scaffolds outside Loop: ${checkpoints.mkString(", ")}")
    val stale = sources.filter(p => Files.readString(p).contains("LoopWidth"))
    assert(stale.isEmpty, s"references to LoopWidth: ${stale.mkString(", ")}")
  }

  test("under src/main only Fleet exits or reads the fleet env, only GraftSession names nanosAsLong, no PlanDump") {
    def outside(owner: String, pattern: String): List[java.nio.file.Path] =
      mainSources.filter(p => p.getFileName.toString != owner &&
        pattern.r.findFirstIn(Files.readString(p)).isDefined)
    assert(outside("Fleet.scala", """sys\.exit\(""").isEmpty, "exits outside Fleet")
    assert(outside("Fleet.scala", "\"SPARK_GRAFT_(CPUS|SF_DIR)\"").isEmpty, "fleet env read outside Fleet")
    assert(outside("GraftSession.scala", "nanosAsLong").isEmpty, "nanosAsLong set outside the session factory")
    assert(outside("", "PlanDump").isEmpty, "PlanDump is folded into PlanCost --plans")
  }

  test("under src/main only models/PriceBars.scala knows how a price series is made") {
    val owner = Paths.get("graft", "models", "PriceBars.scala")
    val patterns = Seq(
      "the Spark line key" -> java.util.regex.Pattern.quote(
        """col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")"""),
      "the SQL line key" -> java.util.regex.Pattern.quote("md5(CAST(l_orderkey AS VARCHAR)"),
      "an open/close pick" -> """(?i)\b(min|max)_by\(\s*(col\(")?l_extendedprice""")
    for ((what, pattern) <- patterns) {
      val copies = mainSources.filter(p => !p.endsWith(owner) &&
        pattern.r.findFirstIn(Files.readString(p)).isDefined)
      assert(copies.isEmpty, s"$what outside PriceBars: ${copies.mkString(", ")}")
    }
  }

  test("under src/main only GraftSession and Loop set session conf") {
    val owners = Seq("GraftSession.scala", "Loop.scala").map(Paths.get("graft", "runtime", _))
    val setters = mainSources.filter(p => !owners.exists(p.endsWith) &&
      Files.readString(p).contains(".conf.set("))
    assert(setters.isEmpty, s"session conf set outside the factory and the loop scope: ${setters.mkString(", ")}")
  }

  test("under src/main only runtime/Tables.scala reads the corpus with read.parquet") {
    // registry targets, the streaming sink and GenScale's scale-up source stay allowed
    val allowed = Seq(Paths.get("graft", "runtime", "Tables.scala"), Paths.get("graft", "runtime", "ModelRegistry.scala"),
      Paths.get("graft", "streaming", "StreamingIngest.scala"), Paths.get("graft", "GenScale.scala"))
    val chain = """(\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*"""
    val reader = s"""\\.read$chain\\s*\\.\\s*parquet\\(|format\\(\\s*"parquet"\\s*\\)""".r
    val readers = mainSources.filter(p => !allowed.exists(p.endsWith) &&
      reader.findFirstIn(Files.readString(p)).isDefined)
    assert(readers.isEmpty, s"parquet reads outside Tables: ${readers.mkString(", ")}")
  }

  test("streams run in their own width-8 session and leave the caller's conf alone") {
    val ss = GraftSession.streaming(spark)
    assert(ss ne spark)
    assert(GraftSession.streaming(spark) eq ss, "one stream session per parent")
    assert(ss.sparkContext eq spark.sparkContext)
    assert(ss.sharedState eq spark.sharedState, "the stream session shares the cache")
    assert(ss.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "8")
    assert(ss.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
    val rows = SparkEntry.queries("q_stream_dedup_keys")(spark, "/root/testdata/sf0.001").count()
    assert(rows > 0)
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "4", "the caller's width must not change")
  }

  test("SqlGuard allows SELECT and CTE queries") {
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("guard_t")
    assert(SqlGuard.readOnly(spark, "SELECT count(*) AS n FROM guard_t").as[Long].head() == 2L)
    assert(
      SqlGuard.readOnly(spark, "WITH c AS (SELECT id FROM guard_t WHERE id > 1) SELECT * FROM c")
        .count() == 1L
    )
  }

  test("SqlGuard rejects mutating statements before execution") {
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("guard_t2")
    val bad = Seq(
      "DROP TABLE guard_t2",
      "CREATE TABLE t AS SELECT 1",
      "INSERT INTO guard_t2 VALUES (9, 'z')",
      "TRUNCATE TABLE guard_t2"
    )
    bad.foreach { sql =>
      intercept[SqlGuard.NonSelectStatementException](SqlGuard.readOnly(spark, sql))
    }
  }

  test("streaming windowed counts (AvailableNow) match the batch plan") {
    val dir = Files.createTempDirectory("graft_stream_src").toString
    val events = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0),
      ("2024-01-01 01:40:00", "click", 4.0)
    ).toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
    events.write.mode("overwrite").parquet(dir)

    val stream  = StreamingIngest.parquetStream(spark, dir, events.schema)
    val windowed = StreamingIngest.windowedCounts(stream, "ts", "event_type", "1 hour", "2 hours")
    val q = windowed.writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val got = spark.table("win_counts")
      .select(col("window_start").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)]
      .collect()
      .toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 3.0),
      ("2024-01-01 01:00:00", "click", 1L, 4.0)
    ))
  }

  test("streaming mergeIngest is idempotent under redelivery") {
    val src    = Files.createTempDirectory("graft_merge_src").toString
    val target = Files.createTempDirectory("graft_merge_tgt").toString + "/tbl"
    val cp1    = Files.createTempDirectory("graft_merge_cp1").toString
    val cp2    = Files.createTempDirectory("graft_merge_cp2").toString

    val batch1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver")
    batch1.write.mode("overwrite").parquet(src)
    StreamingIngest
      .mergeIngest(StreamingIngest.parquetStream(spark, src, batch1.schema), Seq("id"), "ver", target, cp1)
      .start()
      .awaitTermination(60000)
    assert(spark.read.parquet(target).count() == 2)

    // redeliver id=2 with a newer version + a new id, fresh checkpoint
    Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "ver")
      .write.mode("overwrite").parquet(src)
    StreamingIngest
      .mergeIngest(StreamingIngest.parquetStream(spark, src, batch1.schema), Seq("id"), "ver", target, cp2)
      .start()
      .awaitTermination(60000)
    val rows = spark.read.parquet(target).as[(Long, String, Long)].collect().toSet
    assert(rows == Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)))
  }

  test("flatMapGroupsWithState maintains running per-key totals across batches") {
    val src = Files.createTempDirectory("graft_state_src").toString
    val b1 = Seq(("u1", 1.0), ("u1", 2.0), ("u2", 5.0)).toDF("k", "v")
    b1.write.mode("overwrite").parquet(src)
    val stream = StreamingIngest.parquetStream(spark, src, b1.schema)
    val stateful = StreamingIngest.statefulRunningTotals(stream, "k", "v")
    val q = stateful.writeStream
      .format("memory").queryName("state_totals").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("state_totals").as[(String, Long, Double)].collect().toSet
    assert(got == Set(("u1", 2L, 3.0), ("u2", 1L, 5.0)))
  }

  test("multimodal batchedFeaturize emits deterministic stub features") {
    val docs  = Seq((1L, "abcd", "s1"), (2L, "", "s2")).toDF("doc_id", "text", "source")
    val media = MultimodalOps.fromText(docs, "doc_id", "text", "source")
    val out = MultimodalOps
      .batchedFeaturize(media, embDim = 4)
      .select(col("media_id"), col("stub_embedding"), col("stub_brightness"))
      .as[(Long, Seq[Float], Double)]
      .collect()
      .sortBy(_._1)
    assert(out(0)._2 == Seq('a'.toInt / 255.0f, 'b'.toInt / 255.0f, 'c'.toInt / 255.0f, 'd'.toInt / 255.0f))
    assert(math.abs(out(0)._3 - ('a'.toInt + 'b' + 'c' + 'd') / 4.0 / 255.0) < 1e-12)
    assert(out(1)._2 == Seq(0.0f, 0.0f, 0.0f, 0.0f) && out(1)._3 == 0.0)
  }

  test("overwritePartitions replaces only the touched partitions, idempotently") {
    import graft.operators.SinkOps
    val dir = Files.createTempDirectory("graft-po").toString
    val base = Seq(
      ("2024-01", 1L, "a"), ("2024-01", 2L, "b"),
      ("2024-02", 3L, "c"), ("2024-03", 4L, "d")
    ).toDF("month", "id", "v")
    SinkOps.overwritePartitions(base, dir, Seq("month"))
    // batch touching only 2024-02: one changed row, one new row
    val batch = Seq(("2024-02", 3L, "C2"), ("2024-02", 9L, "x")).toDF("month", "id", "v")
    SinkOps.overwritePartitions(batch, dir, Seq("month"))
    def snapshot() = spark.read.parquet(dir)
      .select("month", "id", "v").as[(String, Long, String)].collect().toSet
    val expected = Set(
      ("2024-01", 1L, "a"), ("2024-01", 2L, "b"),
      ("2024-02", 3L, "C2"), ("2024-02", 9L, "x"),
      ("2024-03", 4L, "d"))
    assert(snapshot() == expected)
    // re-running the same batch must not duplicate or drop anything
    SinkOps.overwritePartitions(batch, dir, Seq("month"))
    assert(snapshot() == expected)
    // session conf restored (back to the static default)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("static"))
  }

  test("repartitionByRange + sortWithinPartitions yields disjoint per-file key ranges") {
    // The 1-D write-layout half of parquet min/max file pruning (the
    // multi-dim half is LayoutOps' z-order): range-partitioned sorted
    // files have non-overlapping key ranges, so a point/range
    // predicate prunes to the files whose [min,max] intersect it —
    // at 100 TB the difference between touching every file's footer
    // and reading 1/N of them. RangePartitioner sends equal keys to
    // one partition, so ranges are disjoint (boundary keys never
    // straddle files).
    val li = runtime.Tables(spark, "/root/testdata/sf0.001").lineitem
      .select(col("l_shipdate").cast("date").as("d"), col("l_extendedprice"))
    val out = Files.createTempDirectory("graft_range_layout").toString
    li.repartitionByRange(6, col("d")).sortWithinPartitions("d")
      .write.mode("overwrite").parquet(out)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .orderBy(col("lo"))
      .collect()
    assert(perFile.length >= 4, s"expected several range files, got ${perFile.length}")
    perFile.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDate(2).compareTo(b.getDate(1)) < 0,
          s"file ranges overlap: ${a.getDate(2)} vs ${b.getDate(1)}")
      case _ => ()
    }
    // and the layout round-trips the data intact
    assert(spark.read.parquet(out).count() == li.count())
  }

  test("decodeWavPcm16 round-trips synthesized PCM exactly and rejects non-WAV bytes") {
    val sr = 8000
    val samples = Array.tabulate(800)(i => (math.sin(2 * math.Pi * i * 440 / sr) * 16000).toShort)
    val f = MultimodalOps.decodeWavPcm16(MultimodalOps.synthesizeWavPcm16(samples, sr)).get
    assert(f.sampleRate == sr && f.channels == 1 && f.bitsPerSample == 16)
    assert(f.nSamples == 800 && f.durationMs == 100)
    assert(f.peakAbs == samples.map(s => math.abs(s.toLong)).max)
    assert(f.sumSquares == samples.map(s => s.toLong * s).sum)
    val zcRef = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    assert(f.zeroCrossings == zcRef)
    assert(MultimodalOps.decodeWavPcm16("definitely not a wav".getBytes).isEmpty)
    // stereo/8-bit content must fall through to the stub, not misparse
    val stereoHdr = MultimodalOps.synthesizeWavPcm16(samples.take(4), sr).clone()
    stereoHdr(22) = 2 // channels = 2
    assert(MultimodalOps.decodeWavPcm16(stereoHdr).isEmpty)
  }

  test("decodeBmp24 parses a hand-built padded bitmap exactly") {
    // 3x2, 24bpp: rowLen = 12 (3 pad bytes per row), bottom-up, BGR
    val w = 3; val h = 2; val rowLen = 12
    val buf = java.nio.ByteBuffer.allocate(54 + rowLen * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowLen * h)
      .putInt(0).putInt(54)                     // reserved, pixel offset
      .putInt(40).putInt(w).putInt(h)           // BITMAPINFOHEADER
      .putShort(1).putShort(24).putInt(0)       // planes, bpp, BI_RGB
      .putInt(rowLen * h).putInt(0).putInt(0).putInt(0).putInt(0)
    // bottom row first: pixels (r,g,b) = (10,20,30),(40,50,60),(70,80,90)
    // top row: (1,2,3),(4,5,6),(7,8,9); stored BGR + 3 pad bytes
    val bottom = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90))
    val top    = Seq((1, 2, 3), (4, 5, 6), (7, 8, 9))
    for (row <- Seq(bottom, top)) {
      row.foreach { case (r, g, b) =>
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      buf.put(Array[Byte](0, 0, 0))
    }
    val f = MultimodalOps.decodeBmp24(buf.array()).get
    assert(f.width == 3 && f.height == 2 && f.bitsPerPixel == 24)
    assert(f.sumR == (bottom ++ top).map(_._1).sum)
    assert(f.sumG == (bottom ++ top).map(_._2).sum)
    assert(f.sumB == (bottom ++ top).map(_._3).sum)
    assert(MultimodalOps.decodeBmp24(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("observe() collects data-quality metrics in the same pass as the action") {
    // Single-pass DQ accounting: Observation metrics ride the query's
    // own execution (no second scan of the fact table) — the
    // at-scale form of "count the nulls while writing" that the dq_*
    // models do as separate queries when run ad hoc.
    val obs = new org.apache.spark.sql.Observation("dq")
    val li = runtime.Tables(spark, "/root/testdata/sf0.001").lineitem
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("n_nonpositive"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("n_null_dates"))
    val n = li.count()
    val m = obs.get
    assert(m("n_rows") == n, "observed row count must equal the action's")
    assert(m("n_nonpositive") == 0L && m("n_null_dates") == 0L,
      "clean corpus must observe zero violations")
  }
}
