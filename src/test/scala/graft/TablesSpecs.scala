package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.runtime.{GraftSession, Tables}

/** Specs for the corpus reader's ingest contract over the sf0.1 corpus,
  * whose three fact tables clear the compaction floor: one concurrent
  * compaction pass, a split that keeps every row, and a schema memo that
  * spares repeated reads their inference job without serving a stale or
  * foreign schema. Compacted copies go to a private root.
  */
class TablesSpecs extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)

  private val sf = "/root/testdata/sf0.1"
  private val facts = Seq("lineitem", "orders", "events")
  private lazy val root = Files.createTempDirectory("graft-compact-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    deleteTree(root)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Runs `body` against an empty private compaction root. */
  private def fresh[T](body: => T): T = {
    Option(root.listFiles()).foreach(_.foreach(deleteTree))
    Tables.withCompactRoot(root)(body)
  }

  private def copies: Seq[File] = Option(root.listFiles()).toSeq.flatten.sortBy(_.getName)

  private def copyOf(name: String): File = {
    val c = copies.filter(_.getName.startsWith(s"$name-"))
    assert(c.size == 1, s"$name: copies ${c.map(_.getName)}")
    c.head
  }

  private def parts(d: File): Seq[File] = d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  /** Row count and an order-independent sum of every row's 64-bit hash over all columns. */
  private def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  test("one touch compacts every fact table into 16 files, and no compaction job outlives the call") {
    fresh {
      val (_, returned, jobs) = JobCount(spark)(Tables(spark, sf).orders)
      assert(copies.map(_.getName.takeWhile(_ != '-')) == facts.sorted, copies.map(_.getName))
      facts.foreach { name =>
        val d = copyOf(name)
        assert(new File(d, "_SUCCESS").isFile, s"$name: copy incomplete")
        assert(parts(d).size == Tables.CompactFiles, s"$name: ${parts(d).map(_.getName)}")
      }
      assert(jobs.nonEmpty)
      val late = jobs.filter(_._2 > returned)
      assert(late.isEmpty, s"jobs still running after the call returned at $returned: $late")
    }
  }

  test("each compacted table holds exactly its source's rows") {
    fresh {
      Tables(spark, sf).lineitem
      facts.foreach { name =>
        val src = spark.read.parquet(s"$sf/$name.parquet")
        val copy = spark.read.parquet(copyOf(name).getPath)
        assert(copy.schema == src.schema, name)
        assert(checksum(copy) == checksum(src), name)
      }
    }
  }

  test("a second read of a table in one session launches no Spark job") {
    fresh {
      Tables(spark, sf).lineitem
      Tables(spark, sf).customer
      for (read <- Seq[Tables => DataFrame](_.lineitem, _.orders, _.events, _.customer)) {
        val (df, _, jobs) = JobCount(spark)(read(Tables(spark, sf)))
        assert(jobs.isEmpty, s"${df.columns.head}: jobs $jobs")
      }
      assert(Tables(spark, sf).lineitem.schema == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    }
  }

  test("a rewritten file is re-inferred, and a session's parquet conf is part of the key") {
    val dir = Files.createTempDirectory("graft-tables-spec").toFile
    try {
      val region = new File(dir, "region.parquet")
      Files.copy(new File(s"$sf/region.parquet").toPath, region.toPath)
      val before = Tables(spark, dir.getPath).region.columns.toSeq
      assert(JobCount(spark)(Tables(spark, dir.getPath).region)._3.isEmpty)
      // the same path, now a file with one more column (a new size and mtime)
      val out = new File(dir, "rewrite")
      spark.read.parquet(region.getPath).withColumn("r_extra", lit(1)).coalesce(1).write.parquet(out.getPath)
      Files.copy(parts(out).head.toPath, region.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(region.setLastModified(region.lastModified() + 5000))
      assert(Tables(spark, dir.getPath).region.columns.toSeq == before :+ "r_extra")

      // a directory in a file's place is re-inferred when a file under it changes
      val nation = new File(dir, "nation.parquet").getPath
      spark.read.parquet(s"$sf/nation.parquet").write.parquet(nation)
      val cols = Tables(spark, dir.getPath).nation.columns.toSeq
      spark.read.parquet(s"$sf/nation.parquet").withColumn("n_extra", lit(1)).write.mode("overwrite").parquet(nation)
      assert(Tables(spark, dir.getPath).nation.columns.toSeq == cols :+ "n_extra")

      // a session that infers another type for the same file gets its own schema
      val other = spark.newSession()
      assert(Tables(spark, sf).schema("orders")("o_orderdate").dataType == TimestampNTZType)
      other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      assert(Tables(other, sf).schema("orders") == other.read.parquet(s"$sf/orders.parquet").schema)
      assert(Tables(other, sf).schema("orders")("o_orderdate").dataType == TimestampType)
      other.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
      assert(Tables(other, sf).schema("orders")("o_orderdate").dataType == TimestampNTZType)
    } finally deleteTree(dir)
  }

  test("the memo holds Spark's own inferred schema of every corpus file, inferred without a job") {
    val confs = Seq(Map.empty[String, String], Map(
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false", "spark.sql.parquet.binaryAsString" -> "true"))
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); conf <- confs) {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val dir = s"/root/testdata/$scale"
      for (f <- new File(dir).listFiles().toSeq if f.getName.endsWith(".parquet")) {
        val name = f.getName.stripSuffix(".parquet")
        val (got, _, jobs) = JobCount(spark)(Tables(s, dir).schema(name))
        assert(jobs.isEmpty, s"$scale/$name under $conf: jobs $jobs")
        assert(got == s.read.parquet(f.getPath).schema, s"$scale/$name under $conf")
      }
    }
  }

  test("two threads touching different fact tables leave one copy each and no temp dir") {
    fresh {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq[Tables => DataFrame](_.lineitem, _.events).map { read =>
        new Thread(() => try read(Tables(spark, sf)) catch { case e: Throwable => errors.add(e) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, errors)
      assert(copies.map(_.getName.takeWhile(_ != '-')) == facts.sorted, copies.map(_.getName))
      assert(!copies.exists(_.getName.contains(".tmp-")), copies.map(_.getName))
      facts.foreach(name => assert(parts(copyOf(name)).size == Tables.CompactFiles, name))
    }
  }
}
