package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of (seed,
  * table, row index), so the same seed yields the same rows under any
  * partitioning, and a different seed yields different rows.
  */
object Gen {
  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: String, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(salt.hashCode.toLong) + id))

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private val DayMicros = 86400L * 1000000L
  private val Epoch1995 = 788918400L * 1000000L // 1995-01-01T00:00Z
  private val Epoch2024 = 1704067200L * 1000000L // 2024-01-01T00:00Z

  // ----- sf0.1-shaped TPC-H star schema plus `events` ---------------

  final case class Scale(sf: Double) {
    val customers: Long = (150000 * sf).toLong
    val suppliers: Long = (10000 * sf).toLong
    val parts: Long = (200000 * sf).toLong
    val orders: Long = (1500000 * sf).toLong
    val events: Long = (1000000 * sf).toLong
  }

  private val segments = Array("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
  private val adjectives = Array("large", "hot", "blue", "old", "cold", "green", "small", "red")
  private val nouns = Array("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
  private val eventTypes = Array("signup", "click", "error", "view", "purchase")

  private def frame(s: SparkSession, n: Long, parts: Int, schema: StructType)(
      row: Long => Row): DataFrame =
    s.createDataFrame(s.sparkContext.range(0L, n, 1L, parts).map(row), schema)

  private def orderDate(seed: Long, o: Long): Long =
    Epoch1995 + rng(seed, "orders", o).nextLong(2404L) * DayMicros

  /** The ten-table star schema at scale factor `sc.sf`. Dates are
    * epoch-microsecond longs converted to timestamps at the end.
    */
  def tables(s: SparkSession, seed: Long, sc: Scale): Seq[(String, DataFrame)] = {
    def ts(df: DataFrame, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(col(c))))
    val region = frame(s, 5, 1, StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))) { i =>
      Row(i.toInt, IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt))
    }
    val nation = frame(s, 25, 1, StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))) { i =>
      Row(i.toInt, s"NATION_$i", (i % 5).toInt)
    }
    val customer = frame(s, sc.customers, 1, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))) { i =>
      val r = rng(seed, "customer", i)
      Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        segments(r.nextInt(segments.length)))
    }
    val supplier = frame(s, sc.suppliers, 1, StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))) { i =>
      val r = rng(seed, "supplier", i)
      Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    val part = frame(s, sc.parts, 1, StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))) { i =>
      val r = rng(seed, "part", i)
      Row(i, adjectives(r.nextInt(adjectives.length)) + " " + nouns(r.nextInt(nouns.length)),
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }
    val orders = ts(frame(s, sc.orders, 2, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", LongType), StructField("o_orderpriority", StringType)))) { o =>
      val r = rng(seed, "orders", o)
      val date = Epoch1995 + r.nextLong(2404L) * DayMicros // same draw as orderDate
      Row(o, r.nextLong(sc.customers), IndexedSeq("O", "P", "F")(r.nextInt(3)),
        money(r, 1000.0, 500000.0), date, priorities(r.nextInt(priorities.length)))
    }, "o_orderdate")
    val lineSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", LongType)))
    val parts = sc.parts
    val supps = sc.suppliers
    val lineitem = ts(s.createDataFrame(
      s.sparkContext.range(0L, sc.orders, 1L, 4).flatMap { o =>
        val r = rng(seed, "lineitem", o)
        val od = orderDate(seed, o)
        (1 to 1 + r.nextInt(7)).map { ln =>
          val qty = (1 + r.nextInt(50)).toDouble
          val pk = r.nextLong(parts)
          Row(o, pk, r.nextLong(supps), ln, qty,
            math.round(qty * (900.0 + (pk % 1000) / 10.0) * 100) / 100.0,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            IndexedSeq("A", "N", "R")(r.nextInt(3)), IndexedSeq("O", "F")(r.nextInt(2)),
            od + (1 + r.nextInt(95)) * DayMicros)
        }
      }, lineSchema), "l_shipdate")
    val events = ts(frame(s, sc.events, 2, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))) { i =>
      val r = rng(seed, "events", i)
      Row(i, Epoch2024 + r.nextLong(30L * DayMicros), r.nextLong(1500L),
        eventTypes(r.nextInt(eventTypes.length)), money(r, 0.0, 560.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }, "ts")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  // ----- OHLCV minute bars, the reference ingestion DAG's shape ------

  final case class Bar(ticker: String, tsMicros: Long, open: Double, high: Double,
      low: Double, close: Double, volume: Long)

  val barSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("ts", LongType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType)))

  val Tickers = 24
  private val Minutes = 390 // 09:30-16:00

  /** Trading day `day`'s bars. Ticker t trades in a minute with
    * probability ~ 1/(1+t)^0.6, so volume is skewed towards the first
    * tickers.
    */
  def dayStart(day: Int): Long = Epoch2024 + day.toLong * DayMicros

  def dayBars(seed: Long, day: Int): Seq[Bar] = {
    val bell = dayStart(day) + (9L * 60 + 30) * 60 * 1000000L
    (0 until Tickers).flatMap { t =>
      val r = rng(seed, "bars", day.toLong * 1000 + t)
      val p = math.max(0.05, 1.0 / math.pow(1.0 + t, 0.6))
      var px = 20.0 + 10.0 * t
      (0 until Minutes).flatMap { m =>
        val open = px
        px = math.max(1.0, px * (1.0 + (r.nextDouble() - 0.5) * 0.004))
        val hi = math.max(open, px) * (1.0 + r.nextDouble() * 0.001)
        val lo = math.min(open, px) * (1.0 - r.nextDouble() * 0.001)
        val vol = (r.nextDouble() * 10000 / (1 + t)).toLong + 1
        if (r.nextDouble() < p)
          Some(Bar(f"T$t%02d", bell + m * 60L * 1000000L, round2(open), round2(hi),
            round2(lo), round2(px), vol))
        else None
      }
    }
  }

  /** Restated bars for `day`: a seeded tenth of its bars with a
    * corrected close and volume (the late-correction feed).
    */
  def corrections(seed: Long, day: Int, bars: Seq[Bar]): Seq[Bar] = {
    val r = rng(seed, "restate", day.toLong)
    bars.filter(_ => r.nextInt(10) == 0).map(b =>
      b.copy(close = round2(b.close * 1.01), volume = b.volume + 1 + r.nextInt(100)))
  }

  def round2(d: Double): Double = math.round(d * 100) / 100.0

  def barsFrame(s: SparkSession, bars: Seq[Bar]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(bars.map(b => Row(b.ticker, b.tsMicros, b.open, b.high, b.low,
      b.close, b.volume)).asJava, barSchema)
      .withColumn("ts", timestamp_micros(col("ts")))
  }

  // ----- LLM-data corpus: embeddings and documents ------------------

  val Dims = 64

  /** Vector `i` of a corpus of `n`: the first `n - planted` are points
    * around 16 seeded cluster centres; each planted row copies a
    * seeded earlier row with tiny noise, so its source is its 1-NN.
    * Returns (vec_id, embedding, source id or -1).
    */
  def vector(seed: Long, n: Long, planted: Long, i: Long): (Long, Array[Float], Long) = {
    def centre(c: Int): Array[Double] = {
      val r = rng(seed, "centre", c.toLong)
      Array.fill(Dims)(r.nextDouble() * 2 - 1)
    }
    def base(j: Long): Array[Double] = {
      val r = rng(seed, "vec", j)
      val c = centre((j % 16).toInt) // equal clusters: the work per seed stays the same
      Array.tabulate(Dims)(k => c(k) + gauss(r) * 0.45)
    }
    val nBase = n - planted
    val (v, src) =
      if (i < nBase) (base(i), -1L)
      else {
        val r = rng(seed, "dupvec", i)
        val src = r.nextLong(nBase)
        (base(src).map(x => x + gauss(r) * 0.01), src)
      }
    val norm = math.sqrt(v.map(x => x * x).sum)
    (i, v.map(x => (x / norm).toFloat), src)
  }

  private def gauss(r: SplittableRandom): Double = { // Box-Muller
    val u = math.max(1e-12, r.nextDouble())
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private val syllables = Array("ka", "to", "ri", "mo", "lu", "pe", "sa", "ne", "di", "vo",
    "ga", "fi", "zu", "be", "lo", "ta", "mi", "ro", "ke", "nu")

  /** Word `w` of a 8000-word pseudo vocabulary. */
  private def word(w: Int): String = {
    val b = new StringBuilder
    var x = w
    do { b.append(syllables(x % syllables.length)); x /= syllables.length } while (x > 0)
    b.toString
  }

  /** Document `i`: 80 seeded words; a planted row copies a seeded
    * earlier document with one word replaced. Returns (doc_id, text,
    * source id or -1).
    */
  def document(seed: Long, n: Long, planted: Long, i: Long): (Long, String, Long) = {
    def base(j: Long): Array[String] = {
      val r = rng(seed, "doc", j)
      Array.fill(80)(word(r.nextInt(8000)))
    }
    val nBase = n - planted
    if (i < nBase) (i, base(i).mkString(" "), -1L)
    else {
      val r = rng(seed, "dupdoc", i)
      val src = r.nextLong(nBase)
      val w = base(src)
      w(r.nextInt(w.length)) = word(r.nextInt(8000))
      (i, w.mkString(" "), src)
    }
  }

  def embeddingsFrame(s: SparkSession, seed: Long, n: Long, planted: Long): DataFrame =
    s.createDataFrame(s.sparkContext.range(0L, n, 1L, 4).map { i =>
      val (id, v, _) = vector(seed, n, planted, i)
      Row(id, v.toSeq)
    }, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))

  def documentsFrame(s: SparkSession, seed: Long, n: Long, planted: Long): DataFrame =
    s.createDataFrame(s.sparkContext.range(0L, n, 1L, 4).map { i =>
      val (id, t, _) = document(seed, n, planted, i)
      Row(id, t)
    }, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  // ----- digests for the seed-determinism check ---------------------

  /** SHA-256 over a frame's rows in key order, each row rendered as
    * JSON: equal digests mean byte-identical generated rows.
    */
  def digest(df: DataFrame, key: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    df.select(col(key), to_json(struct(df.columns.map(col): _*)).as("j"))
      .orderBy(key).toLocalIterator().forEachRemaining { r =>
        md.update(r.getString(1).getBytes("UTF-8")); md.update('\n'.toByte)
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def digestLines(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
