package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's input corpus: the ten tables the engine's queries read
  * (the TPC-H-ish star schema plus `events`, `documents` and `embeddings`),
  * generated here so the benchmark needs no data outside its own checkout.
  *
  * The corpus is a pure function of [[CorpusSeed]], never of the workload
  * seed: the workload seed picks lookup ids and model/gate orders over this
  * one corpus, so the output fingerprints in `fingerprints.tsv` hold for
  * every seed. Values come from one `java.util.Random` in a fixed call
  * order, money is rounded to cents, and every table is written as a single
  * parquet file, so two generations are byte-for-byte the same data.
  *
  * Shapes follow the engine's test data at its smallest scale: 15 event
  * users, 30 days of events with `ts` stored as epoch nanoseconds (the
  * engine's loader converts long nanos to `TIMESTAMP_NTZ`), documents drawn
  * from a 30-word vocabulary with planted near-duplicates (a copy of an
  * earlier document with one word swapped and " dup" appended), and 64-d
  * embeddings in 10 loose label clusters.
  */
object Corpus {
  val CorpusSeed = 20261017L

  val Users = 15
  val Events = 1000
  val Documents = 500
  val Embeddings = 500
  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Orders = 1500
  val LineItems = 6000

  private val vocab = Seq("scan", "column", "window", "order", "sort", "part", "agg",
    "value", "line", "key", "join", "merge", "group", "query", "a", "vector", "hash",
    "slow", "stream", "filter", "fast", "the", "batch", "spark", "table", "small",
    "data", "big", "customer", "row")

  private def cents(x: Double): Double = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new java.util.Random(CorpusSeed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-999 + r.nextDouble() * 10999), pick(segments))))

    save("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999 + r.nextDouble() * 10999))))

    val adjectives = Seq("cold", "small", "large", "red", "blue", "heavy", "light", "old")
    val nouns = Seq("widget", "bolt", "gear", "valve", "spring", "panel")
    val types = Seq("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL")
    save("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(types), 1 + r.nextInt(50), cents(900 + i * 0.1))))

    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val statuses = Seq("F", "O", "P")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until Orders).map(_ => day0.plusDays(r.nextInt(2400).toLong))
    save("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong, pick(statuses),
        cents(1000 + r.nextDouble() * 400000), orderDates(i), pick(priorities))))

    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType))),
      (0 until LineItems).map { i =>
        val o = r.nextInt(Orders)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, 1 + i % 7, qty,
          cents(qty * (900 + r.nextDouble() * 200)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(Seq("R", "A", "N")), pick(Seq("O", "F")), orderDates(o).plusDays(1L + r.nextInt(120)))
      })

    // events: ts ascends with event_id across 30 days, stored as epoch nanos
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000000L
    val step = 30L * 86400L * 1000000000L / Events
    val eventTypes = Seq("click", "signup", "error", "view", "purchase")
    save("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      (0 until Events).map { i =>
        val ts = t0 + i * step + (r.nextDouble() * step).toLong / 1000L * 1000L
        Row(i.toLong, ts, r.nextInt(Users).toLong, pick(eventTypes), cents(r.nextDouble() * 200),
          s"""{"k": ${r.nextInt(100)}}""")
      })

    val langs = Seq("en", "en", "de", "fr", "es", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      texts += (if (i >= 20 && r.nextInt(100) < 6) {
        val words = texts(r.nextInt(i)).split(' ')
        words(r.nextInt(words.length)) = pick(vocab)
        words.mkString(" ") + " dup"
      } else Seq.fill(8 + r.nextInt(72))(pick(vocab)).mkString(" "))
    }
    save("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${r.nextInt(20)}", t.length.toLong)
      })

    val dim = 64
    val centroids = Seq.fill(10)(Array.fill(dim)(r.nextGaussian()))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)), StructField("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => 0.8 * c + r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
