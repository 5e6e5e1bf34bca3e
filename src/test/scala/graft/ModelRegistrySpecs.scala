package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.scalatest.BeforeAndAfterAll

import graft.queries.{Registry, SharedMarts}
import graft.runtime.{GraftSession, Materialized, ModelRegistry}
import graft.runtime.ModelRegistry.{Materialization, ModelDef}

object ModelRegistrySpecs {
  /** Identity that takes `ms` per row, so a model's write job lasts long
    * enough to observe overlap. */
  def slow(ms: Long): UserDefinedFunction = udf { (x: Long) => Thread.sleep(ms); x }

  /** The job group of the task computing the row. */
  val jobGroup: UserDefinedFunction =
    udf(() => TaskContext.get().getLocalProperty("spark.jobGroup.id")).asNondeterministic()

}

/** Specs for the dbt-style model DAG executor (SURVEY §3.1): one
  * build per model, topological order, per-tier materialization,
  * incremental MERGE semantics across runs, and the thread contract
  * (independent models materialize concurrently under the job group of
  * their build; a failure stops the run cleanly).
  */
class ModelRegistrySpecs extends AnyFunSuite with BeforeAndAfterAll with Eventually {
  import ModelRegistrySpecs._

  lazy val spark: SparkSession = GraftSession.get(Some("local[2]"), 4)
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def wh(): String =
    Files.createTempDirectory("graft-wh").toFile.getAbsolutePath

  test("diamond DAG: topological order, each model built exactly once") {
    val builds = new AtomicInteger(0)
    val reg = new ModelRegistry()
      .register(ModelDef("mr_fanin", Seq("mr_left", "mr_right"), Materialization.Table,
        deps => deps("mr_left").join(deps("mr_right"), "k")))
      .register(ModelDef("mr_left", Seq("mr_src"), Materialization.View,
        deps => deps("mr_src").select(col("k"), (col("v") * 2).as("l"))))
      .register(ModelDef("mr_src", Nil, Materialization.View, { _ =>
        builds.incrementAndGet()
        Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v")
      }))
      .register(ModelDef("mr_right", Seq("mr_src"), Materialization.View,
        deps => deps("mr_src").select(col("k"), (col("v") + 1).as("r"))))

    val res = reg.run(spark, wh())
    // source first, fan-in last, one build of the shared source
    assert(res.order.head == "mr_src" && res.order.last == "mr_fanin")
    assert(builds.get() == 1)
    val out = res.frames("mr_fanin").orderBy("k").collect()
    assert(out.length == 3 && out.head.getAs[Int]("l") == 20 && out.head.getAs[Int]("r") == 11)
    spark.catalog.clearCache()
  }

  test("Table tier: downstream reads the parquet materialization, not the pipeline") {
    val dir = wh()
    val reg = new ModelRegistry()
      .register(ModelDef("mr_base", Nil, Materialization.Table,
        _ => Seq((1, "a"), (2, "b")).toDF("id", "s")))
      .register(ModelDef("mr_child", Seq("mr_base"), Materialization.View,
        deps => deps("mr_base").filter(col("id") > 1)))
    val res = reg.run(spark, dir)
    // the dependency frame is a file scan of warehouse/<name>
    val scanned = res.frames("mr_child").queryExecution.sparkPlan.toString
    assert(scanned.contains("mr_base"), s"child should scan the materialized table, got:\n$scanned")
    assert(new java.io.File(s"$dir/mr_base").isDirectory)
    assert(res.frames("mr_child").count() == 1)
    spark.catalog.clearCache()
  }

  test("Incremental tier: first run full-writes, second run MERGE-upserts by key") {
    val dir = wh()
    def regFor(rows: Seq[(Int, String, Int)]) = new ModelRegistry()
      .register(ModelDef("mr_inc", Nil,
        Materialization.Incremental(Seq("id"), Seq(col("ver").desc)),
        _ => rows.toDF("id", "s", "ver")))
    regFor(Seq((1, "a", 1), (2, "b", 1))).run(spark, dir)
    // second batch: update id=2 (higher ver wins), insert id=3, and a
    // same-key duplicate that precedence must collapse to ver=3
    regFor(Seq((2, "b2", 2), (3, "c", 1), (3, "c3", 3))).run(spark, dir)
    val out = spark.read.parquet(s"$dir/mr_inc")
      .orderBy("id").as[(Int, String, Int)].collect().toSeq
    assert(out == Seq((1, "a", 1), (2, "b2", 2), (3, "c3", 3)))
    assert(!new java.io.File(s"$dir/mr_inc__staging").exists(), "scratch dir must be cleaned")
  }

  test("Table and Incremental tiers read their output back with its schema: no inference job") {
    val input = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
      .withColumn("d", col("x").cast("decimal(18,4)"))
    val (_, _, direct) = JobCount(spark)(input.write.parquet(s"${wh()}/direct"))
    for (tier <- Seq(Materialization.Table, Materialization.Incremental(Seq("id"), Seq(col("x"))))) {
      val dir = wh()
      val reg = new ModelRegistry().register(ModelDef("mr_rb", Nil, tier, _ => input))
      val (res, _, jobs) = JobCount(spark)(reg.run(spark, dir))
      // the Incremental tier's first run writes twice: the staging copy, then the swap
      val writes = if (tier == Materialization.Table) 1 else 2
      assert(jobs.size == writes * direct.size, s"$tier: ${jobs.size} jobs, a direct write takes ${direct.size}")
      assert(res.frames("mr_rb").schema == spark.read.parquet(s"$dir/mr_rb").schema, tier)
      assert(rows(res.frames("mr_rb")) == rows(input), tier)
    }
  }

  test("real model DAG: cross-asset branches through the registry match the direct fan-in") {
    // The production shape the registry exists for: shared stagings as
    // views, the five int_cross_asset branches as tables, divergences
    // reading materialized branches — results must equal the direct
    // (inline re-derivation) call bit-for-bit.
    val sf = "/root/testdata/sf0.001"
    import graft.queries.{CrossAssetQueries => CA, CrossAssetQueries2 => CA2}
    val dir = wh()
    val reg = new ModelRegistry()
      .register(ModelDef("int_credit", Nil, Materialization.Table,
        _ => CA2.creditSignals(spark, sf, None)))
      .register(ModelDef("int_breadth", Nil, Materialization.Table,
        _ => CA.breadthSignals(spark, sf, None)))
      .register(ModelDef("divergences_lite", Seq("int_credit", "int_breadth"),
        Materialization.Table, deps =>
          deps("int_credit").select("date", "spy_close", "hy_spread")
            .join(deps("int_breadth").select(col("date").as("b_date"), col("iwm_spy_ratio")),
              col("date") === col("b_date"), "left")
            .drop("b_date")))
    val res = reg.run(spark, dir)
    val direct = CA2.creditSignals(spark, sf, None).select("date", "spy_close", "hy_spread")
      .join(CA.breadthSignals(spark, sf, None)
        .select(col("date").as("b_date"), col("iwm_spy_ratio")),
        col("date") === col("b_date"), "left")
      .drop("b_date")
    val a = res.frames("divergences_lite").orderBy("date").collect().toSeq
    val b = direct.orderBy("date").collect().toSeq
    assert(a == b && a.nonEmpty)
    spark.catalog.clearCache()
  }

  test("DAG-mode consumers equal the isolated queries bit-for-bit (bench dag lane, VERDICT r7 #1)") {
    // Driven by the declarations, so a mart or consumer declared later
    // is covered too: each materialized mart equals its inline build,
    // and each consumer over the materialized marts returns exactly
    // the rows its (inline re-derivation) registry QueryDef returns.
    val sf = "/root/testdata/sf0.001"
    val reg = SharedMarts.registry(spark, sf)
    val frames = reg.run(spark, wh()).frames
    assert(frames.keySet == reg.names.toSet)
    reg.names.foreach { name =>
      val a = rows(frames(name))
      assert(a.nonEmpty, s"$name: empty mart")
      assert(a == rows(SharedMarts.inline(spark, sf)(name)), s"$name: mart differs from its inline build")
      spark.catalog.clearCache()
    }
    SharedMarts.consumers(spark, sf).foreach { c =>
      val a = rows(SharedMarts.read(c, frames))
      assert(a.nonEmpty, s"${c.name}: empty DAG-lane result")
      assert(a == rows(Registry.byName(c.name).query(spark, sf)),
        s"${c.name}: DAG-lane result differs from the registry query")
      spark.catalog.clearCache()
    }
  }

  test("q_model_dag_mart: incremental run replaces batch-1 customer rows with batch-2") {
    val sf = "/root/testdata/sf0.001"
    val mart = graft.queries.ModelDagQueries.defs.head.query(spark, sf)
      .select("custkey", "last_order_date").collect()
      .map(r => r.getLong(0) -> r.getDate(1)).toMap
    // every customer appears once (MERGE key = custkey)
    assert(mart.nonEmpty)
    // a customer with orders in BOTH batches must carry the batch-2
    // (post-cutoff) aggregate — replacement, not append
    val cutoff = java.sql.Date.valueOf("1995-07-01")
    val both = spark.read.parquet(s"$sf/orders.parquet")
      // fct inner-joins lineitem, so an order with no items never
      // reaches the mart — scope the fixture set the same way
      .join(spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
      .groupBy("o_custkey")
      .agg(max(when(col("od") < to_date(lit("1995-07-01")), 1).otherwise(0)).as("b1"),
        max(when(col("od") >= to_date(lit("1995-07-01")), 1).otherwise(0)).as("b2"))
      .filter(col("b1") === 1 && col("b2") === 1)
      .select("o_custkey").collect().map(_.getLong(0))
    assert(both.nonEmpty, "fixture needs customers spanning both batches")
    both.foreach { k =>
      assert(!mart(k).before(cutoff), s"custkey $k kept a batch-1 row after the merge")
    }
    spark.catalog.clearCache()
  }

  test("cycle and unknown-dep detection") {
    val cyc = new ModelRegistry()
      .register(ModelDef("mr_a", Seq("mr_b"), Materialization.View, d => d("mr_b")))
      .register(ModelDef("mr_b", Seq("mr_a"), Materialization.View, d => d("mr_a")))
    val e = intercept[IllegalArgumentException](cyc.topoOrder)
    assert(e.getMessage.contains("cycle") && e.getMessage.contains("mr_a"))

    val dangling = new ModelRegistry()
      .register(ModelDef("mr_x", Seq("mr_missing"), Materialization.View, d => d("mr_missing")))
    assert(intercept[IllegalArgumentException](dangling.topoOrder)
      .getMessage.contains("mr_missing"))

    assert(intercept[IllegalArgumentException] {
      new ModelRegistry()
        .register(ModelDef("mr_dup", Nil, Materialization.View, _ => spark.range(1).toDF()))
        .register(ModelDef("mr_dup", Nil, Materialization.View, _ => spark.range(1).toDF()))
    }.getMessage.contains("duplicate"))
  }

  /** Two slow independent Table models and their fan-in; each build
    * sets its own job group and each model records, per row, the job
    * group its write ran under. */
  private def overlapDefs(): Seq[ModelDef] = {
    def tagged(name: String)(df: => DataFrame): DataFrame = {
      spark.sparkContext.setJobGroup(s"mr/$name", name)
      df.withColumn(s"grp_$name", jobGroup())
    }
    def src(name: String): ModelDef = ModelDef(name, Nil, Materialization.Table, _ =>
      tagged(name)(spark.range(0, 4, 1, 1).select(slow(150)(col("id")).as("k"))))
    Seq(src("mr_par_a"), src("mr_par_b"),
      ModelDef("mr_par_join", Seq("mr_par_a", "mr_par_b"), Materialization.Table, d =>
        tagged("mr_par_join")(d("mr_par_a").join(d("mr_par_b"), "k"))))
  }

  private def registryOf(defs: Seq[ModelDef]): ModelRegistry =
    defs.foldLeft(new ModelRegistry())(_.register(_))

  /** Runs `body` with a job log attached; returns both once every job
    * the body started has been reported ended. */
  private def logged[T](body: => T): (T, JobCount.Log) = {
    val log = new JobCount.Log
    spark.sparkContext.addSparkListener(log)
    try {
      val out = body
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(log.starts.keySet.asScala == log.ends.keySet.asScala)
      }
      (out, log)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      spark.sparkContext.clearJobGroup()
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq.map(_.toString).sorted

  test("independent models materialize concurrently; dependents wait for their parents") {
    val defs = overlapDefs()
    val (res, log) = logged(registryOf(defs).run(spark, wh()))
    val jobs = log.byGroup
    val (a, b, join) = (jobs("mr/mr_par_a"), jobs("mr/mr_par_b"), jobs("mr/mr_par_join"))
    assert(a.exists { case (s1, e1) => b.exists { case (s2, e2) => s1 < e2 && s2 < e1 } },
      s"no job of mr_par_a overlaps one of mr_par_b: $a vs $b")
    assert(join.map(_._1).min >= (a ++ b).map(_._2).max,
      s"mr_par_join started before its parents finished: $join vs ${a ++ b}")
    assert(res.order.toSet == defs.map(_.name).toSet && res.order.last == "mr_par_join")
    // a sequential run: each build evaluated in turn over its deps' rows
    val seq = scala.collection.mutable.Map.empty[String, DataFrame]
    defs.foreach { m =>
      val df = m.build(m.deps.map(d => d -> seq(d)).toMap)
      seq(m.name) = spark.createDataFrame(df.collectAsList(), df.schema)
    }
    spark.sparkContext.clearJobGroup()
    defs.foreach(m => assert(rows(res.frames(m.name)) == rows(seq(m.name)), m.name))
    spark.catalog.clearCache()
  }

  test("each model's materialization jobs carry the job group set when it was built") {
    val defs = overlapDefs()
    val (res, log) = logged(registryOf(defs).run(spark, wh()))
    val groups = defs.map(m => s"mr/${m.name}").toSet
    assert(log.byGroup.keySet == groups, s"jobs outside the models' groups: ${log.byGroup.keySet}")
    defs.foreach { m =>
      val seen = res.frames(m.name).select(s"grp_${m.name}").distinct().collect().map(_.getString(0))
      assert(seen.toSeq == Seq(s"mr/${m.name}"), s"${m.name} was written under $seen")
    }
    spark.catalog.clearCache()
  }

  test("a failing model: its own exception, dependents never built, siblings awaited, no debris") {
    val tiers = Seq(Materialization.Table, Materialization.Incremental(Seq("k"), Seq(col("k"))))
    tiers.foreach { tier =>
      val dir = wh()
      val depBuilt = new AtomicBoolean(false)
      val reg = new ModelRegistry()
        .register(ModelDef("mr_bad", Nil, tier, _ => spark.range(0, 4, 1, 1).select(col("id").as("k"),
          when(col("id") === 3, raise_error(lit("boom at row 3"))).otherwise(col("id")).as("v"))))
        .register(ModelDef("mr_ok", Nil, Materialization.Table, _ =>
          spark.range(0, 4, 1, 1).select(slow(150)(col("id")).as("k"))))
        .register(ModelDef("mr_after", Seq("mr_bad", "mr_ok"), Materialization.Table, d => {
          depBuilt.set(true)
          d("mr_bad").join(d("mr_ok"), "k")
        }))
      // the model's own exception, not a future's wrapper, naming the model
      val e = intercept[RuntimeException](reg.run(spark, dir))
      assert(e.isInstanceOf[SparkThrowable] &&
        e.asInstanceOf[SparkThrowable].getCondition == "USER_RAISED_EXCEPTION", e)
      assert(e.getMessage.contains("boom at row 3"), e.getMessage)
      val note = e.getSuppressed.collect { case f: ModelRegistry.ModelFailure => f }.toSeq
      assert(note.map(n => (n.model, n.phase)) == Seq(("mr_bad", "materialization")), note)
      assert(note.head.getMessage.contains("mr_bad"))
      assert(!depBuilt.get(), s"$tier: a dependent of the failed model was built")
      // the in-flight sibling's write completed before run returned
      assert(new java.io.File(s"$dir/mr_ok/_SUCCESS").isFile, s"$tier: sibling write not awaited")
      assert(new java.io.File(dir).list().forall(n => !n.startsWith(".") && !n.endsWith("__staging")),
        s"$tier: staging debris left")
      val live = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("model-registry-"))
      assert(live.isEmpty, s"$tier: pool threads outlived run: $live")
    }
    // a build that throws: the same instance comes back, phase "build"
    val boom = new IllegalStateException("no input")
    val e = intercept[IllegalStateException](new ModelRegistry()
      .register(ModelDef("mr_nobuild", Nil, Materialization.View, _ => throw boom))
      .register(ModelDef("mr_nobuild_dep", Seq("mr_nobuild"), Materialization.View, d => d("mr_nobuild")))
      .run(spark, wh()))
    assert(e eq boom)
    assert(e.getSuppressed.toSeq.collect { case f: ModelRegistry.ModelFailure => (f.model, f.phase) } ==
      Seq(("mr_nobuild", "build")))
  }

  test("Materialized drops entries of stopped sessions") {
    // last in the suite: it stops the suite's session
    val old = spark
    Materialized(old, "mr_memo_dir", "mr_memo")(old.range(3).toDF())
    assert(Materialized.sessions.exists(_ eq old))
    old.stop()
    val fresh = GraftSession.get(Some("local[2]"), 4)
    try {
      assert((fresh ne old) && !fresh.sparkContext.isStopped)
      Materialized(fresh, "mr_memo_dir", "mr_memo")(fresh.range(3).toDF())
      assert(!Materialized.sessions.exists(_ eq old), "memo still holds the stopped session")
      assert(Materialized.sessions.exists(_ eq fresh))
    } finally fresh.stop()
  }
}
