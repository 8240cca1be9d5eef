package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions function injection + empty-input robustness. */
class SessionSpec extends AnyFunSuite {

  // extensions only apply at session BUILD time — getOrCreate would
  // silently reuse the suite-shared session, so stop it first (suites
  // run sequentially; later suites rebuild via their own getOrCreate).
  // Stop the default session too: a SparkContext left running would be
  // reused, and the builder's creation-time SparkConf entries (artifact
  // isolation) would never apply.
  private lazy val gspark = {
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    GraftSession.builder(cores = 2).appName("graft-ext-test").getOrCreate()
  }

  test("extension-injected SQL functions resolve") {
    val r = gspark.sql(
      """SELECT
        |  cosine_sim(CAST(array(1.0,0.0) AS ARRAY<DOUBLE>),
        |             CAST(array(0.0,1.0) AS ARRAY<DOUBLE>)) AS c,
        |  dot_product(CAST(array(1.0,2.0) AS ARRAY<DOUBLE>),
        |              CAST(array(3.0,4.0) AS ARRAY<DOUBLE>)) AS d,
        |  simhash64(array(CAST(0 AS LONG))) AS sh,
        |  minhash64(array('a b c d e')) AS mh,
        |  jaccard_sets(array('a','b'), array('b','c')) AS js,
        |  rolling_min_hash('abcdefghij', 4) AS rmh""".stripMargin)
      .collect().head
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getLong(2) === 0L) // all bits vote -1 except none set
    assert(r.getSeq[Long](3).length === 64)
    assert(math.abs(r.getDouble(4) - 1.0 / 3) < 1e-12)
    assert(r.getLong(5) >= 0L)
    // empty shingle array → SQL NULL (nullable expression over a
    // non-nullable CreateArray child — codegen must not choke)
    val n = gspark.sql(
      "SELECT minhash64(CAST(array() AS ARRAY<STRING>)) AS mh").collect().head
    assert(n.isNullAt(0))
    // bigint literal k resolves too
    assert(gspark.sql("SELECT rolling_min_hash('abcdefgh', CAST(4 AS BIGINT))")
      .collect().head.getLong(0) >= 0L)
  }

  test("typed Aggregator registers as a SQL UDAF (vec_avg)") {
    // the remaining UDF-surface tier: a typed Aggregator exposed to SQL
    // users via functions.udaf — same fixed-width buffer per group as
    // the Dataset API path, callable from plain GROUP BY SQL
    gspark.udf.register("vec_avg",
      org.apache.spark.sql.functions.udaf(graft.functions.VectorAvgAggregator))
    val r = gspark.sql(
      """SELECT g, vec_avg(v) AS c FROM VALUES
        |  (0, CAST(array(1.0, 3.0) AS ARRAY<DOUBLE>)),
        |  (0, CAST(array(3.0, 5.0) AS ARRAY<DOUBLE>)),
        |  (1, CAST(array(10.0, 0.0) AS ARRAY<DOUBLE>))
        |  AS t(g, v) GROUP BY g ORDER BY g""".stripMargin)
      .collect()
    assert(r(0).getSeq[Double](1) === Seq(2.0, 4.0), r.mkString(";"))
    assert(r(1).getSeq[Double](1) === Seq(10.0, 0.0))
  }

  test("shingle_explode UDTF works from SQL LATERAL VIEW and matches builtins") {
    import gspark.implicits._
    Seq((1L, "a b c d"), (2L, "x y"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").createOrReplaceTempView("shex_docs")
    val got = gspark.sql(
      """SELECT doc_id, pos, shingle FROM shex_docs
        |LATERAL VIEW shingle_explode(text, 3) t AS pos, shingle
        |ORDER BY doc_id, pos""".stripMargin)
      .as[(Long, Int, String)].collect().toSeq
    // doc 1: two 3-shingles; doc 2 (< 3 tokens) and doc 3 (NULL): none
    assert(got === Seq((1L, 0, "a b c"), (1L, 1, "b c d")))
    // equivalence with the builtin composition on real data
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(gspark, "/root/testdata/sf0.001")
    val viaGen = {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      docs.select(col("doc_id"),
        column(graft.functions.ShingleExplode(expression(col("text")), 4))
          .as(Seq("pos", "shingle")))
    }
    val viaBuiltin = docs.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.shinglesStrict(
          graft.functions.TextFunctions.tokens(col("text")), 4))
          .as(Seq("pos", "shingle")))
    assert(viaGen.as[(Long, Int, String)].collect().sorted.toSeq ===
      viaBuiltin.as[(Long, Int, String)].collect().sorted.toSeq)
  }

  test("withActive restores a no-active-session thread to clean — a " +
      "pinned clone's conf never leaks past the block") {
    import org.apache.spark.sql.SparkSession
    val clone = Sessions.pinned(gspark, "spark.sql.cbo.enabled" -> "true")
    val t = new Thread(() => {
      // the active session is an inheritable thread-local — clear the
      // inherited one to model a genuinely fresh worker thread
      SparkSession.clearActiveSession()
      assert(SparkSession.getActiveSession.isEmpty)
      Sessions.withActive(clone) {
        assert(SparkSession.getActiveSession.contains(clone))
      }
      // the thread had NO active session before; it must have none after
      assert(SparkSession.getActiveSession.isEmpty,
        "pinned clone leaked as the thread-active session")
    })
    var err: Option[Throwable] = None
    t.setUncaughtExceptionHandler((_, e) => err = Some(e))
    t.start(); t.join()
    err.foreach(throw _)
    // and with a previous session it restores that one
    Sessions.withActive(clone)(())
    // (the suite thread keeps whatever it had — no assertion flake)
  }

  test("pinned clones share the codegen cache: a repeat scoped query " +
      "compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // with artifact isolation on, every clone gets its own executor
    // class loader and the (loader, code)-keyed codegen cache misses
    assert(gspark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    def scopedAgg(): Array[org.apache.spark.sql.Row] =
      Sessions.pinned(gspark, "spark.sql.shuffle.partitions" -> "3")
        .range(0, 1000, 1, 2)
        .selectExpr("id % 7 AS g", "id * 3 AS v")
        .groupBy("g").agg(org.apache.spark.sql.functions.sum("v"))
        .collect()
    val first = scopedAgg()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = scopedAgg()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles === 0L,
      "the second pinned clone recompiled the same aggregate")
    assert(second.sortBy(_.getLong(0)).toSeq ===
      first.sortBy(_.getLong(0)).toSeq)
  }

  test("runToMemory watchdog: flags a stream that consumes rows but " +
      "emits none, stays quiet when rows are emitted") {
    import org.apache.spark.sql.functions.col
    val dir = Scratch.dir("graft_watchdog_").getPath
    gspark.range(0, 50, 1, 2).write.mode("overwrite").parquet(dir)
    def streamed = gspark.readStream.schema("id BIGINT").parquet(dir)
    def run(name: String, df: org.apache.spark.sql.DataFrame)
        : (Long, String) = {
      val err = new java.io.ByteArrayOutputStream
      val n = Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        graft.streaming.StreamingOps.runToMemory(gspark, df, name,
          mode = "append").count()
      }
      (n, err.toString("UTF-8"))
    }
    // a predicate parquet row-group stats cannot prune, so the rows
    // are really read (numInputRows 50) and then all dropped
    val (dropped, droppedErr) =
      run("graft_wd_none", streamed.filter(col("id") % 7 === 100))
    assert(dropped === 0L)
    assert(droppedErr.contains("[stream-watchdog] graft_wd_none consumed 50"),
      droppedErr)
    val (kept, keptErr) = run("graft_wd_some", streamed)
    assert(kept === 50L)
    assert(!keptErr.contains("[stream-watchdog]"), keptErr)
  }

  test("pipeline operators tolerate empty inputs") {
    import gspark.implicits._
    val empty = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("cc", "exchangedate", "rate")
    assert(graft.pipeline.CurrencyPipeline.forecast(empty).count() === 0)
    assert(graft.pipeline.CurrencyPipeline
      .reportPerCurrency(empty, java.sql.Date.valueOf("2025-01-01"))
      .count() === 0)
    val emptyStamped = empty
      .withColumn("ingest_ts",
        org.apache.spark.sql.functions.current_timestamp())
    // merge of empty + empty stays empty; merge of x + empty = x
    assert(graft.pipeline.CurrencyPipeline
      .merge(emptyStamped, emptyStamped).count() === 0)
  }
}
