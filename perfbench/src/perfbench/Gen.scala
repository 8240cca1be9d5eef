package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Seeded input generators. Everything here is a pure function of its
  * seed: the same seed gives the same rows and the same landing bytes.
  *
  * `Star` writes the ten parquet tables the query modules read (the
  * shapes of the engine's testdata star schema, `FIXTURES.md` §B) at a
  * fixed seed, so the pinned output fingerprints stay valid whatever the
  * run seed. `Nbu` produces the `etl_gdx` landing files, restatements
  * and corrections from the run seed, plus the plain-Scala model of the
  * table they should leave behind. */
object Star {
  val Seed = 42L

  /** Row counts: the testdata's sf0.01 (lineitem 60k rows). */
  private object size {
    val customers = 1500
    val suppliers = 100
    val parts = 2000
    val orders = 15000
    val lineitems = 60000
    val events = 10000
    val users = 150
    val documents = 500
    val embeddings = 500
  }

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("cold", "blue", "new", "small", "hot", "large", "old", "red")
  private val nouns = Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "signup", "error", "view", "purchase")
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "filter", "group", "vector", "big")
  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  /** All ten tables as (name, schema, rows), in a fixed order. */
  def tables(): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(Seed)
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val region = (0 until 5).map(i => Row(i, regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until size.customers).map(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
      segments(r.nextInt(segments.size))))
    val supplier = (0 until size.suppliers).map(i => Row(i.toLong,
      f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
    val part = (0 until size.parts).map(i => Row(i.toLong,
      adjectives(r.nextInt(8)) + " " + nouns(r.nextInt(8)),
      s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(6)), 1 + r.nextInt(50),
      math.round((900 + (i % 1000) * 0.1) * 100) / 100.0))
    val (o0, o1) = (LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1))
    val orders = (0 until size.orders).map(i => Row(i.toLong,
      r.nextLong(size.customers.toLong), Seq("F", "O", "P")(r.nextInt(3)),
      money(r, 1000, 500000), day(r, o0, o1), priorities(r.nextInt(5))))
    val (s0, s1) = (LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4))
    val lineitem = (0 until size.lineitems).map(_ => Row(
      r.nextLong(size.orders.toLong), r.nextLong(size.parts.toLong),
      r.nextLong(size.suppliers.toLong), 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
      day(r, s0, s1)))
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapMicros = 30L * 86400 * 1000000 / size.events
    var tsMicros = 0L
    val events = (0 until size.events).map { i =>
      tsMicros += r.nextLong(2 * meanGapMicros)
      val v = math.max(0.01, math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0)
      Row(i.toLong, e0.plusNanos(tsMicros * 1000), r.nextLong(size.users.toLong),
        eventTypes(r.nextInt(5)), v, s"""{"k": ${r.nextInt(100)}}""")
    }
    // about 1% exact duplicates and 10% sharing one boilerplate span, so
    // the dedup and span-stripping operators have something to find
    val boiler = Seq.fill(14)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val texts = new Array[String](size.documents)
    val documents = (0 until size.documents).map { i =>
      val text =
        if (i > 10 && r.nextInt(100) == 0) texts(r.nextInt(i))
        else {
          val words = Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size)))
          if (r.nextInt(10) == 0) (words.take(5) :+ boiler).mkString(" ") + " " +
            words.drop(5).mkString(" ")
          else words.mkString(" ")
        }
      texts(i) = text
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val embeddings = (0 until size.embeddings).map { i =>
      val v = Array.fill(64)(gaussian(r))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }
    Seq(
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType), embeddings))
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Writes every table as the single file `<dir>/<name>.parquet`, the
    * testdata layout: the streaming queries read `dir` itself with a
    * file-name glob, so a table must not be a directory of part files.
    * Every table's rows are generated either way, so writing a subset
    * leaves the rows of the tables written unchanged. */
  def write(spark: SparkSession, dir: String, only: String => Boolean = _ => true): Unit =
    tables().filter(t => only(t._1)).foreach { case (name, schema, rows) =>
      val staging = new java.io.File(dir, s".$name.staging")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(staging.getPath)
      val part = staging.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(dir, s"$name.parquet").toPath)
      staging.listFiles().foreach(_.delete())
      staging.delete()
    }

  /** Writes the tables to `args(0)`, so the engine's DuckDB oracle check
    * can run on exactly the data the benchmark queries. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(2).getOrCreate()
    try write(spark, args(0)) finally spark.stop()
  }

  /** SHA-256 over a canonical rendering of every generated row. */
  def digest(): String =
    Fingerprint.sha(tables().iterator.flatMap { case (n, _, rows) =>
      Iterator.single(n) ++ rows.iterator.map(Fingerprint.render)
    })
}

/** One live row of the `rates` table, keyed by (cc, exchangedate). */
final case class Rate(id: Long, txt: String, rate: Double) {
  def ratePer100: Double = rate * 100
}

/** The `etl_gdx` inputs for one seed. The landing files follow the NBU
  * payload (a pretty-printed JSON array of `r030, txt, rate, cc,
  * exchangedate`); rates carry four decimals, as NBU publishes them. */
final class Nbu(seed: Long) {
  import Nbu._
  val firstDay: LocalDate = LocalDate.of(2021, 1, 4)
  val baseEnd: LocalDate = firstDay.plusDays(BaseDays - 1L)
  private val root = new SplittableRandom(seed)
  private val start = Codes.indices.map(i => 0.5 + 60 * root.nextDouble()).toArray

  /** Rate of currency `i` on `d`, rounded to NBU's four decimals. A
    * bounded random walk keyed on (seed, i, day) so any day is
    * computable without generating the ones before it. */
  def rate(i: Int, d: LocalDate): String = {
    val r = new SplittableRandom(seed * 1000003L + i * 7919L + d.toEpochDay)
    val drift = math.sin((d.toEpochDay + i * 31) / 45.0) * 0.08
    fmt4(start(i) * (1 + drift + (r.nextDouble() - 0.5) * 0.01))
  }

  /** The restated rows landed with simulated day `n` (1-based): earlier
    * days' keys with corrected rates, at most one per key. */
  def restatements(n: Int): Seq[(Int, LocalDate, String)] = {
    val r = new SplittableRandom(seed * 31 + n)
    val day = baseEnd.plusDays(n.toLong)
    val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
    while (keys.size < RestatementsPerDay)
      keys += ((r.nextInt(Codes.size), 1L + r.nextInt(60)))
    keys.toSeq.map { case (i, back) =>
      (i, day.minusDays(back), fmt4(start(i) * (0.9 + 0.2 * r.nextDouble())))
    }
  }

  /** Rows landed on simulated day `n`: that day's fixing for every
    * currency, then the restatements. */
  def landing(n: Int): Seq[(Int, LocalDate, String)] = {
    val day = baseEnd.plusDays(n.toLong)
    Codes.indices.map(i => (i, day, rate(i, day))) ++ restatements(n)
  }

  /** The base history, one landing file per month. */
  def baseMonths: Seq[Seq[(Int, LocalDate, String)]] =
    (0 until BaseDays).map(k => firstDay.plusDays(k.toLong))
      .groupBy(d => (d.getYear, d.getMonthValue)).toSeq.sortBy(_._1).map {
        case (_, days) => days.sortBy(_.toEpochDay)
          .flatMap(d => Codes.indices.map(i => (i, d, rate(i, d))))
      }

  def txt(i: Int): String = s"${Codes(i)} hryvnia rate"
  def cc(i: Int): String = Codes(i)
  def id(i: Int, d: LocalDate): Long = d.toEpochDay * 1000 + i
  def index: Map[String, Int] = Codes.zipWithIndex.toMap

  /** One landing row in NBU's JSON shape. */
  def json(i: Int, d: LocalDate, rate: String): String =
    s"""{"r030": ${R030Base + i}, "txt": "${txt(i)}", "rate": $rate, """ +
      s""""cc": "${Codes(i)}", "exchangedate": "${d.format(Ddmmyyyy)}"}"""

  def landingBytes(rows: Seq[(Int, LocalDate, String)]): Array[Byte] =
    rows.map(t => "  " + json(t._1, t._2, t._3))
      .mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)

  /** Applies landed rows to the model in landing order: last write wins
    * on (cc, exchangedate), and a matched row keeps its id. */
  def upsert(model: Model, rows: Seq[(Int, LocalDate, String)]): Model =
    rows.foldLeft(model) { case (m, (i, d, rate)) =>
      val key = (Codes(i), d)
      val prev = m.get(key)
      m.updated(key, Rate(prev.map(_.id).getOrElse(id(i, d)), txt(i), rate.toDouble))
    }

  def baseModel: Model = baseMonths.foldLeft(Map.empty: Model)(upsert)

  /** Bytes of `model`'s live rows rendered as landing JSON objects. */
  def userBytes(model: Model): Long = model.iterator.map { case ((c, d), r) =>
    json(index(c), d, fmt4(r.rate)).getBytes(UTF_8).length.toLong + 1
  }.sum
}

object Nbu {
  type Model = Map[(String, LocalDate), Rate]
  /** Two years of history before the first simulated day. */
  val BaseDays = 730
  /** Earlier days' rates restated in each day's landing file. */
  val RestatementsPerDay = 66
  val R030Base = 100
  val Ddmmyyyy: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy")
  /** ISO 4217 codes of the 66 currencies the NBU publishes daily. */
  val Codes: Seq[String] = Seq("AUD", "AZN", "BDT", "BGN", "BRL", "CAD", "CHF",
    "CLP", "CNY", "CZK", "DKK", "DZD", "EGP", "EUR", "GBP", "GEL", "HKD", "HUF",
    "IDR", "ILS", "INR", "IQD", "JPY", "KRW", "KZT", "LBP", "MDL", "MXN", "MYR",
    "NOK", "NZD", "PHP", "PKR", "PLN", "RON", "RSD", "SAR", "SEK", "SGD", "THB",
    "TND", "TRY", "TWD", "AED", "USD", "UZS", "VND", "XAG", "XAU", "XDR", "XPD",
    "XPT", "ZAR", "AMD", "ARS", "BYN", "ISK", "KGS", "LKR", "MAD", "MNT", "NGN",
    "OMR", "QAR", "TJS", "TMT")

  def fmt4(v: Double): String =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP)
      .toPlainString

  def writeFile(path: java.io.File, bytes: Array[Byte]): Unit = {
    path.getParentFile.mkdirs()
    java.nio.file.Files.write(path.toPath, bytes)
  }
}

/** Prints, per seed given, a digest of the `etl_gdx` landing bytes (the
  * base history and the first simulated days) and of the star tables'
  * rows. The self-tests run it twice to show the generators reproduce
  * their output byte for byte. */
object GenDigest {
  def main(args: Array[String]): Unit = args.foreach { s =>
    val g = new Nbu(s.toLong)
    val files = g.baseMonths.iterator.map(g.landingBytes) ++
      (1 to 20).iterator.map(n => g.landingBytes(g.landing(n)))
    println(s"$s ${Fingerprint.sha(files.map(new String(_, UTF_8)))} ${Star.digest()}")
  }
}
