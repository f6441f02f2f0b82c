package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generator of the ten TPC-H-ish tables the roster entries read
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`, one parquet directory `<name>.parquet` each).
  *
  * Schemas and value domains match the tables the roster was written
  * against: timestamps without time zone, 64-dim unit float
  * embeddings with 10 labels, documents as word bags over a 30-word
  * vocabulary in five languages with a 5% share of near-duplicates
  * (an earlier document plus one token). The tables are a fixed
  * function of [[DataSeed]]: the expected row counts and fingerprints
  * in `expected/roster.json` hold for every benchmark seed, which only
  * reorders the ops.
  *
  * The tables are written through the program's own parquet sink,
  * `Sinks.writeParquet`, and the raw size of every value is summed on
  * the way, the denominator of `stored_bytes_per_input_byte`.
  */
object TestTables {

  val DataSeed = 42L

  /** Row counts per table at scale 1 (the smallest roster size). */
  final case class Scale(customers: Int = 150, suppliers: Int = 10,
      parts: Int = 200, orders: Int = 1500, linesPerOrder: Int = 4,
      events: Int = 1000, documents: Int = 500, embeddings: Int = 500)

  private val words = Array("scan", "column", "window", "order", "sort",
    "part", "agg", "value", "line", "key", "join", "merge", "group", "query",
    "a", "vector", "hash", "slow", "stream", "filter", "fast", "the", "batch",
    "spark", "table", "small", "data", "big", "customer", "row")
  private val langs = Array("en", "en", "fr", "es", "zh", "de")
  private val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
    "FURNITURE", "BUILDING")
  private val ptypes = Array("ECONOMY", "LARGE", "STANDARD", "MEDIUM",
    "SMALL", "PROMO")
  private val adjectives = Array("cold", "small", "large", "blue", "old",
    "new", "red", "green")
  private val nouns = Array("widget", "bolt", "rod", "anvil", "ring",
    "gear", "pipe", "valve")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("signup", "click", "error", "purchase", "view")

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** Raw bytes of one value: 8 per long/double/timestamp, 4 per int or
    * float, the UTF-8 length of a string. */
  private def rawBytes(v: Any): Long = v match {
    case null => 0L
    case s: String => s.getBytes("UTF-8").length.toLong
    case _: Int | _: Float => 4L
    case a: Array[Float] => 4L * a.length
    case s: Seq[_] => s.map(rawBytes).sum
    case _ => 8L
  }

  /** Writes the tables under `dir`; returns the raw byte count of every
    * value written. */
  def write(spark: SparkSession, dir: String, sc: Scale = Scale()): Long = {
    val rnd = new SplittableRandom(DataSeed)
    var raw = 0L
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      raw += rows.iterator.map(_.toSeq.map(rawBytes).sum).sum
      graft.sources.Sinks.writeParquet(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
        s"$name.parquet", dir)
    }
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[A](a: Array[A]): A = a(rnd.nextInt(a.length))
    def day(fromYear: Int, spanDays: Int): LocalDateTime =
      LocalDateTime.of(fromYear, 1, 1, 0, 0).plusDays(rnd.nextInt(spanDays).toLong)

    put("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    put("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    put("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), money(-999, 9999), pick(segments))))
    put("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), money(-999, 9999))))
    val partPrice = (0 until sc.parts).map(i => 900.0 + (i % 200) / 10.0)
    put("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(ptypes), 1 + rnd.nextInt(50),
        partPrice(i))))
    val orderDates = (0 until sc.orders).map(_ => day(1995, 2400))
    put("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until sc.orders).map(i => Row(i.toLong, rnd.nextInt(sc.customers).toLong,
        pick(Array("F", "O", "P")), money(1000, 500000), orderDates(i),
        pick(priorities))))
    val lines = for {
      o <- 0 until sc.orders
      ln <- 1 to 1 + rnd.nextInt(2 * sc.linesPerOrder - 1)
    } yield {
      val p = rnd.nextInt(sc.parts)
      val q = (1 + rnd.nextInt(50)).toDouble
      Row(o.toLong, p.toLong, rnd.nextInt(sc.suppliers).toLong, ln, q,
        math.round(q * partPrice(p) * 100) / 100.0, rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("O", "F")),
        orderDates(o).plusDays(1L + rnd.nextInt(120)))
    }
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)
    val users = math.max(15, sc.events / 70)
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until sc.events).map { i =>
        ts = ts.plusNanos((rnd.nextInt(2400000) * 1000L).toLong)
        Row(i.toLong, ts, rnd.nextInt(users).toLong, pick(eventTypes),
          money(0, 330), s"""{"k": ${rnd.nextInt(100)}}""")
      })
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until sc.documents).map { i =>
        val t =
          if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
          else Seq.fill(8 + rnd.nextInt(80))(pick(words)).mkString(" ")
        texts += t
        Row(i.toLong, t, pick(langs), s"src${i % 20}", t.length.toLong)
      })
    put("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until sc.embeddings).map { i =>
        val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
      })
    raw
  }
}
