package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CurrencyPipeline
import graft.sources.GdxSource

/** What a workload's code sees of the run. `span` times one of the
  * benchmark's own calls into a layer: always into the op's `parts`,
  * and into the trace when the op is traced. */
final class Ctx(val spark: SparkSession, val dataDir: String, val seed: Long,
                val tracer: Option[Tracer]) {
  private[perfbench] var parts = Map.empty[String, Double]
  private[perfbench] var traced = false
  private[perfbench] var opId = 0L

  def span[T](name: String, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val id = tracer.filter(_ => traced).map(_.nextId()).getOrElse(0L)
    if (id != 0) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Clock.nowMs
    try body finally {
      val t1 = Clock.nowMs
      parts = parts.updated(name, parts.getOrElse(name, 0.0) + (t1 - t0) / 1000)
      if (id != 0) {
        tracer.get.span(Span(id, opId, opId, name, layer, t0, t1))
        sc.setLocalProperty(Tracer.SpanKey, opId.toString)
      }
    }
  }

  def drain(df: DataFrame): Unit =
    span("drain", "operators")(df.write.format("noop").mode("overwrite").save())
}

/** One timed operation. `name` groups repeats of the same work (a query
  * name, or an ETL step); the body runs on the harness thread, then
  * `after`, untimed. */
final case class Op(name: String, body: Ctx => Unit, after: Ctx => Unit = _ => ())

/** A verdict of the output check. A failed counted check fails every
  * timed op whose name it covers; an uncounted one only reports. */
final case class Check(name: String, ok: Boolean, covers: Seq[String],
                       detail: String, counted: Boolean = true)

trait Workload {
  /** Untimed: generate inputs, load base state. */
  def setup(ctx: Ctx): Unit
  /** Untimed warm pass, including any check that needs a cold run. */
  def warm(ctx: Ctx): Seq[Check]
  /** Ops of timed pass `p` (from 1), in the order they run; `last`
    * marks the last one. */
  def pass(ctx: Ctx, p: Int, last: Boolean): Seq[Op]
  /** Timed passes in a run of [[Workload.NominalSeconds]] seconds. */
  def timedPasses: Int
  /** Untimed checks after the timed phase. */
  def finish(ctx: Ctx): Seq[Check] = Nil
  /** State of the layers that no per-op sum shows. */
  def gauges: Map[String, Double] = Map.empty
}

object Workload {
  /** The `--seconds` at which a run makes each workload's
    * [[Workload.timedPasses]]; other values scale the count. */
  val NominalSeconds = 20.0

  val OlapQueries: Seq[String] = (1 to 22).map(i => s"tpch_q$i") ++ Seq(
    "agg_percentiles", "a23_spearman", "a8_sketches", "a5_approx_distinct",
    "a9_stats_moments", "w11_ewma", "c15_mv_rewrite", "c23_mv_kll_rewrite",
    "o2_topk_sort", "o6_topk_per_key", "w2_rolling_avg7", "w17_rolling_median",
    "join_asof")
  val LlmQueries: Seq[String] = Seq("t_repetition", "t_strip_dup_spans",
    "dedup_dup_spans", "dedup_span_8gram", "dedup_simhash", "dedup_minhash_lsh",
    "dedup_pipeline", "dedup_keep_best", "sim_lsh_ann", "sim_lsh_ann_bucketed",
    "sim_ivf_ann_bucketed", "sim_pq_ann", "sim_topk", "t_bm25", "t_tokens_bpe",
    "t_tfidf_top", "t_gopher_rules", "t_curate_e2e", "graph_components",
    "mm_phash_dedup")
  /** Seven of the twenty `stream_*` queries (all over `events`), one per streaming
    * mechanism: stateful window aggregation, session windows, watermark
    * dedup, a stream-stream join, transformWithState, and the GDX sink
    * and upsert paths. All twenty cost about 28 s a pass at local[4],
    * more than a run can spend and still leave the benchmark's runs
    * inside their time budget. */
  val StreamQueries: Seq[String] = Seq("stream_tumbling_daily",
    "stream_session_window", "stream_dedup_late", "stream_join_interval",
    "stream_tws_totals", "stream_gdx_upsert", "stream_gdx_sink")

  def apply(name: String, pins: Pins): Workload = name match {
    case "olap_drain" => new QueryWorkload(name, OlapQueries, pins, timedPasses = 2)
    case "llm_curate" => new QueryWorkload(name, LlmQueries, pins, timedPasses = 2)
    // 28 ops a run, so the 11th slowest (op_tail_s) lies above the median
    case "stream_micro" =>
      new QueryWorkload(name, StreamQueries, pins, timedPasses = 4, Set("events"))
    case "etl_gdx" => new EtlWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Output fingerprints pinned per workload and query, or a recorder of
  * fresh ones when the run is taking pins. */
final class Pins(file: Option[File], val recording: Boolean) {
  private val tree = file.filter(_.isFile).map(f =>
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
  val taken = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]

  /** Checks (or records) one query's result; returns the check. */
  def check(workload: String, query: String, rows: Array[Row]): Check = {
    val (n, sha) = (rows.length.toLong, Fingerprint.of(rows))
    if (recording) {
      taken(query) = (n, sha)
      return Check(query, ok = true, Seq(query), s"recorded rows=$n sha=$sha")
    }
    tree.map(_.path(workload).path(query)).filterNot(_.isMissingNode) match {
      case None => Check(query, ok = false, Seq(query), "no pinned fingerprint")
      case Some(p) =>
        val wantRows = p.path("rows").asLong(-1)
        val wantSha = Option(p.path("sha").textValue)
        val ok = wantRows == n && wantSha.forall(_ == sha)
        Check(query, ok, Seq(query),
          if (ok) s"rows=$n" else s"rows=$n sha=$sha, pinned rows=$wantRows sha=${wantSha.getOrElse("-")}")
    }
  }
}

/** Read-only query workloads: each timed pass runs every query once, in
  * an order drawn from the run seed; each op builds the query's frame
  * through `SparkEntry.queries` and drains it to the `noop` sink. */
final class QueryWorkload(name: String, queries: Seq[String], pins: Pins,
    val timedPasses: Int, tables: String => Boolean = _ => true) extends Workload {
  private val fns = graft.SparkEntry.queries

  def setup(ctx: Ctx): Unit = Star.write(ctx.spark, ctx.dataDir, tables)

  def warm(ctx: Ctx): Seq[Check] = queries.map { q =>
    try pins.check(name, q, fns(q)(ctx.spark, ctx.dataDir).collect())
    catch {
      case scala.util.control.NonFatal(t) => Check(q, ok = false, Seq(q), Main.describe(t))
    }
  }

  def pass(ctx: Ctx, p: Int, last: Boolean): Seq[Op] =
    new scala.util.Random(ctx.seed * 7919 + p).shuffle(queries).map { q =>
      Op(q, c => c.drain(c.span("build", "operators")(fns(q)(c.spark, c.dataDir))))
    }
}

/** The paper's daily pipeline on a GDX table. Setup lands a multi-year
  * history and base-loads it; each simulated day then lands a file of
  * the day's rates plus restatements, upserts it with MERGE, and drains
  * the report and the forecast. Once per pass (a cycle of [[Days]]
  * days) come an UPDATE correction, a DELETE, a time-travel read, an
  * OPTIMIZE and a VACUUM, each on a day drawn from the seed. The
  * plain-Scala model in [[Nbu]] follows every committed write. */
final class EtlWorkload extends Workload {
  import EtlWorkload._
  val timedPasses = 2
  private var gen: Nbu = _
  private var model: Nbu.Model = Map.empty
  private var tableDir: String = _
  private var day = 0
  private val snapshots = scala.collection.mutable.LinkedHashMap.empty[Long, Nbu.Model]
  private var travelled: Option[Long] = None

  private def date(n: Int): LocalDate = gen.baseEnd.plusDays(n.toLong)

  /** The landed rows of `path` as the MERGE source: the NBU source,
    * `CurrencyPipeline.transform` keeping every currency, and the id. */
  private def transformed(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.format("graft.sources.NbuRawSource").option("path", path).load()
    val index = typedLit(gen.index)
    CurrencyPipeline.transform(raw, keep = Nbu.Codes)
      .select((expr("unix_date(exchangedate)").cast("long") * 1000 +
          element_at(index, col("cc")).cast("long")).as("id"),
        col("cc"), col("txt"), col("rate"), col("exchangedate"), col("rate_per_100"))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    gen = new Nbu(ctx.seed)
    val base = new File(ctx.dataDir, "landing/base")
    gen.baseMonths.zipWithIndex.foreach { case (rows, i) =>
      Nbu.writeFile(new File(base, f"month-$i%03d.json"), gen.landingBytes(rows))
    }
    tableDir = new File(ctx.dataDir, "gdx/rates").getPath
    spark.sql(s"""CREATE TABLE $Table (id BIGINT, cc STRING, txt STRING,
      rate DOUBLE, exchangedate DATE, rate_per_100 DOUBLE)
      USING graft.sources.GdxSource OPTIONS (path '$tableDir')""")
    transformed(spark, base.getPath).createOrReplaceTempView("base_landing")
    spark.sql(s"INSERT INTO $Table SELECT * FROM base_landing")
    model = gen.baseModel
  }

  /** One untimed cycle, then the probes of known engine defects. */
  def warm(ctx: Ctx): Seq[Check] = {
    ops(ctx, 0).foreach(_.body(ctx))
    Seq(naturalKeyProbe(ctx.spark, ctx.dataDir), betweenProbe(ctx.spark, ctx.dataDir))
  }

  /** The file and byte gauges are read, untimed, right after the run's
    * last MERGE, so they show what the writes left before any later
    * OPTIMIZE or VACUUM tidies it. */
  def pass(ctx: Ctx, p: Int, last: Boolean): Seq[Op] = {
    val o = ops(ctx, p)
    if (!last) o else {
      val i = o.lastIndexWhere(_.name == "merge")
      o.updated(i, o(i).copy(after = _ => writeGauges = tableGauges()))
    }
  }

  /** A pass: [[Days]] days, each landing, merging and reporting; the
    * correction, the delete, the time-travel read, OPTIMIZE and VACUUM
    * each once, on a day drawn from the seed. */
  private def ops(ctx: Ctx, p: Int): Seq[Op] = {
    val r = new scala.util.Random(ctx.seed * 104729 + p)
    val at = Seq("update", "delete", "time_travel", "optimize", "vacuum")
      .map(_ -> r.nextInt(Days)).toMap
    def step(name: String) = Op(name, stepBody(name, r.nextLong()))
    (0 until Days).flatMap { k =>
      def extra(name: String): Seq[Op] = if (at(name) == k) Seq(step(name)) else Nil
      Seq(Op("ingest", ingest), Op("merge", merge)) ++ extra("update") ++
        extra("delete") ++ Seq(Op("report", report), Op("forecast", forecast)) ++
        extra("time_travel") ++ extra("optimize") ++ extra("vacuum")
    }
  }

  private def ingest(c: Ctx): Unit = c.span("ingest", "pipeline") {
    day += 1
    val rows = gen.landing(day)
    val file = new File(c.dataDir, f"landing/daily/day-$day%05d.json")
    Nbu.writeFile(file, gen.landingBytes(rows))
    val staged = transformed(c.spark, file.getPath).collect()
    c.spark.createDataFrame(java.util.Arrays.asList(staged: _*), RatesSchema)
      .createOrReplaceTempView("incoming")
    pending = rows
  }
  private var pending: Seq[(Int, LocalDate, String)] = Nil

  private def merge(c: Ctx): Unit = c.span("statement", "sources.gdx") {
    val v = c.spark.sql(s"""MERGE INTO $Table t USING incoming s
      ON t.cc = s.cc AND t.exchangedate = s.exchangedate
      WHEN MATCHED THEN UPDATE SET rate = s.rate, rate_per_100 = s.rate_per_100, txt = s.txt
      WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
    model = gen.upsert(model, pending)
    snapshots(v) = model
    while (snapshots.size > 8) snapshots.remove(snapshots.head._1)
  }

  private def report(c: Ctx): Unit = c.drain(c.span("build", "pipeline")(
    CurrencyPipeline.reportPerCurrency(c.spark.table(Table), java.sql.Date.valueOf(date(day)))))

  private def forecast(c: Ctx): Unit =
    c.drain(c.span("build", "pipeline")(CurrencyPipeline.forecast(c.spark.table(Table))))

  private def stepBody(step: String, draw: Long): Ctx => Unit = c => {
    val r = new java.util.SplittableRandom(draw)
    step match {
      case "update" => c.span("statement", "sources.gdx") {
        // a week of one currency restated by a factor
        val (i, from) = (r.nextInt(Nbu.Codes.size), date(day).minusDays(7L + r.nextInt(300)))
        val to = from.plusDays(6)
        val f = 1 + (r.nextInt(200) - 100) / 10000.0
        c.spark.sql(s"""UPDATE $Table SET rate = rate * ${f}D,
          rate_per_100 = rate * ${f}D * 100
          WHERE cc = '${gen.cc(i)}' AND exchangedate >= DATE'$from'
          AND exchangedate <= DATE'$to'""")
          .collect()
        model = model.map {
          case (k @ (cc, d), v) if cc == gen.cc(i) && !d.isBefore(from) && !d.isAfter(to) =>
            k -> v.copy(rate = v.rate * f)
          case kv => kv
        }
      }
      case "delete" => c.span("statement", "sources.gdx") {
        val (i, from) = (r.nextInt(Nbu.Codes.size), date(day).minusDays(7L + r.nextInt(300)))
        val to = from.plusDays(2)
        c.spark.sql(s"""DELETE FROM $Table WHERE cc = '${gen.cc(i)}'
          AND exchangedate >= DATE'$from' AND exchangedate <= DATE'$to'""").collect()
        model = model.filterNot { case ((cc, d), _) =>
          cc == gen.cc(i) && !d.isBefore(from) && !d.isAfter(to)
        }
      }
      case "optimize" => c.span("statement", "sources.gdx") {
        c.spark.sql(s"OPTIMIZE $Table").collect()
      }
      case "vacuum" => c.span("statement", "sources.gdx") {
        c.spark.sql(s"VACUUM $Table RETAIN $RetainVersions VERSIONS").collect()
      }
      case "time_travel" =>
        // the version the previous day's MERGE committed
        val v = snapshots.keys.toSeq.takeRight(2).head
        travelled = Some(v)
        c.drain(c.span("build", "sources.gdx")(
          c.spark.sql(s"SELECT * FROM $Table VERSION AS OF $v")))
    }
  }

  private def rowsOf(df: DataFrame): Nbu.Model = {
    val rows = df.collect()
    val m = rows.iterator.map { r =>
      val rate = r.getAs[Double]("rate")
      require(r.getAs[Double]("rate_per_100") == rate * 100,
        s"rate_per_100 out of step with rate in $r")
      (r.getAs[String]("cc"), r.getAs[java.sql.Date]("exchangedate").toLocalDate) ->
        Rate(r.getAs[Long]("id"), r.getAs[String]("txt"), rate)
    }.toMap
    require(m.size == rows.length, s"${rows.length - m.size} duplicate (cc, exchangedate) keys")
    m
  }

  private def compare(name: String, covers: Seq[String], got: => Nbu.Model,
                      want: Nbu.Model): Check =
    try {
      val g = got
      val missing = want.keySet -- g.keySet
      val extra = g.keySet -- want.keySet
      val wrong = want.keySet.intersect(g.keySet).filter(k => g(k) != want(k))
      val ok = missing.isEmpty && extra.isEmpty && wrong.isEmpty
      Check(name, ok, covers, s"rows=${g.size} want=${want.size} missing=${missing.size} " +
        s"extra=${extra.size} wrong=${wrong.size}" +
        wrong.headOption.map(k => s" e.g. $k got ${g(k)} want ${want(k)}").getOrElse(""))
    } catch {
      case scala.util.control.NonFatal(t) => Check(name, ok = false, covers, Main.describe(t))
    }

  private def modelFrame(spark: SparkSession, m: Nbu.Model): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(m.toSeq.map { case ((cc, d), v) =>
      Row(v.id, cc, v.txt, v.rate, java.sql.Date.valueOf(d), v.ratePer100)
    }: _*), RatesSchema)

  override def finish(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val asOf = java.sql.Date.valueOf(date(day))
    val reportCheck = try {
      val got = Fingerprint.of(CurrencyPipeline.reportPerCurrency(spark.table(Table), asOf).collect())
      val want = Fingerprint.of(CurrencyPipeline.reportPerCurrency(modelFrame(spark, model), asOf)
        .collect())
      Check("last_report", got == want, Seq("report"), s"sha=$got want=$want")
    } catch {
      case scala.util.control.NonFatal(t) => Check("last_report", ok = false, Seq("report"),
        Main.describe(t))
    }
    Seq(compare("final_table", Seq("ingest", "merge", "update", "delete", "optimize", "vacuum"),
        rowsOf(spark.table(Table)), model),
      reportCheck) ++
      travelled.map(v => compare("time_travel_read", Seq("time_travel"),
        rowsOf(spark.sql(s"SELECT * FROM $Table VERSION AS OF $v")),
        snapshots.getOrElse(v, Map.empty))).toSeq
  }

  private var writeGauges = Map.empty[String, Double]
  override def gauges: Map[String, Double] = writeGauges

  private def tableGauges(): Map[String, Double] = {
    val files = Option(new File(tableDir)).toSeq.flatMap(walk)
    val bytes = files.map(_.length).sum.toDouble
    val yearAgo = java.sql.Date.valueOf(date(day).minusDays(365))
    val (planned, total) = GdxSource.plannedFiles(tableDir,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("exchangedate", yearAgo)))
    Map(
      "sources.gdx.files_live" -> total.toDouble,
      "sources.gdx.files_planned_frac" -> (if (total == 0) 0.0 else planned.toDouble / total),
      "sources.gdx.files_on_disk" -> files.size.toDouble,
      "sources.gdx.versions" -> GdxSource.listVersions(tableDir, GdxSource.driverConf()).size.toDouble,
      "sources.gdx.table_mb" -> bytes / 1e6,
      "sources.gdx.stored_bytes_per_user_byte" -> bytes / gen.userBytes(model))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** MERGE keyed on a natural key into a table whose first column is
    * that key (`cc STRING`), as a user porting the reference DDL
    * without the surrogate id would write it. Reported, not counted:
    * it fails at the time this benchmark was written (the MERGE prune
    * key is the first column, and its min/max are cast to BIGINT). */
  private def naturalKeyProbe(spark: SparkSession, dataDir: String): Check = {
    val dir = new File(dataDir, "gdx/natural_key").getPath
    try {
      spark.sql(s"""CREATE TABLE nk_rates (cc STRING, exchangedate DATE, rate DOUBLE)
        USING graft.sources.GdxSource OPTIONS (path '$dir')""")
      spark.sql("""INSERT INTO nk_rates VALUES ('USD', DATE'2024-01-02', 41.1D),
        ('EUR', DATE'2024-01-02', 45.2D)""")
      spark.sql("""CREATE OR REPLACE TEMP VIEW nk_src AS SELECT * FROM VALUES
        ('USD', DATE'2024-01-02', 41.3D), ('PLN', DATE'2024-01-02', 10.4D)
        AS s(cc, exchangedate, rate)""")
      spark.sql("""MERGE INTO nk_rates t USING nk_src s
        ON t.cc = s.cc AND t.exchangedate = s.exchangedate
        WHEN MATCHED THEN UPDATE SET rate = s.rate WHEN NOT MATCHED THEN INSERT *""").collect()
      val got = spark.sql("SELECT cc, rate FROM nk_rates ORDER BY cc").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSeq
      val want = Seq("EUR" -> 45.2, "PLN" -> 10.4, "USD" -> 41.3)
      Check("natural_key_merge", got == want, Nil, s"rows=$got", counted = false)
    } catch {
      case scala.util.control.NonFatal(t) =>
        Check("natural_key_merge", ok = false, Nil, Main.describe(t), counted = false)
    }
  }

  /** The timed UPDATE and DELETE bound dates with `>=` and `<=`; this
    * probe runs the `BETWEEN` form of the same UPDATE, which fails at
    * the time this benchmark was written (UNRESOLVED_COLUMN on the
    * qualified column). Reported, not counted. */
  private def betweenProbe(spark: SparkSession, dataDir: String): Check = {
    val dir = new File(dataDir, "gdx/between").getPath
    try {
      spark.sql(s"""CREATE TABLE bt_rates (id BIGINT, cc STRING, exchangedate DATE,
        rate DOUBLE) USING graft.sources.GdxSource OPTIONS (path '$dir')""")
      spark.sql("""INSERT INTO bt_rates VALUES (1, 'USD', DATE'2024-01-02', 41.1D),
        (2, 'USD', DATE'2024-01-05', 41.4D)""")
      spark.sql("""UPDATE bt_rates SET rate = rate * 2 WHERE cc = 'USD'
        AND exchangedate BETWEEN DATE'2024-01-01' AND DATE'2024-01-03'""").collect()
      val got = spark.sql("SELECT id, rate FROM bt_rates ORDER BY id").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val want = Seq(1L -> 82.2, 2L -> 41.4)
      Check("update_between", got == want, Nil, s"rows=$got", counted = false)
    } catch {
      case scala.util.control.NonFatal(t) =>
        Check("update_between", ok = false, Nil, Main.describe(t), counted = false)
    }
  }
}

object EtlWorkload {
  val Table = "rates"
  /** Simulated days per pass: chosen so that two passes fit the run
    * time, not taken from any cadence the reference pipeline has (it
    * runs no table maintenance). */
  val Days = 3
  val RetainVersions = 12
  val RatesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, cc STRING, txt STRING, rate DOUBLE, exchangedate DATE, rate_per_100 DOUBLE")
}
