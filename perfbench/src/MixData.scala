package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten tables the query registry reads (`graft.Tables.all`), generated
  * with the column names, types and value domains of the repo's synthetic
  * test tables. `sf` scales row counts as the test tables do (sf 0.01 =
  * 60,000 lineitem rows). The data is a pure function of (`seed`, `sf`).
  */
object MixData {
  private def ts(s: String): Long = Timestamp.valueOf(s).getTime

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val r = new scala.util.Random(seed)
    def n(base: Int): Int = math.max(1, (base * sf).toInt)
    def money(lo: Double, hi: Double): Double = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def at(lo: Long, hi: Long): Timestamp = new Timestamp(lo + (r.nextDouble() * (hi - lo)).toLong / 86400000L * 86400000L)

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (f, t) => StructField(f, t) })

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.zipWithIndex.map { case (name, i) => Row(i, name) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))

    val nSupp = n(10000)
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))

    val nPart = n(200000)
    val colors = Seq("red", "blue", "green", "black", "white", "small", "large", "shiny")
    val nouns = Seq("bolt", "nut", "ring", "widget", "gear", "valve", "spring", "screw")
    val retail = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0)
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(colors)} ${pick(nouns)}",
        s"Brand#${1 + r.nextInt(25)}",
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
        1 + r.nextInt(50), retail(i))))

    val nOrd = n(1500000)
    val (d0, d1) = (ts("1995-01-01 00:00:00"), ts("2001-08-01 00:00:00"))
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(Seq("O", "F", "P")),
        money(1000, 500000), at(d0, d1),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))

    val (s0, s1) = (ts("1995-01-02 00:00:00"), ts("2001-11-04 00:00:00"))
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until n(6000000)).map { _ =>
        val part = r.nextInt(nPart)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(nOrd).toLong, part.toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7),
          qty, math.round(qty * retail(part) * (0.5 + r.nextDouble()) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("O", "F")), at(s0, s1))
      })

    val nEv = n(1000000)
    val e0 = ts("2024-01-01 00:00:00")
    val month = 30L * 86400000L
    val users = math.max(10, n(15000))
    save("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map(i => (i, e0 + (r.nextDouble() * month).toLong)).sortBy(_._2).map {
        case (i, t) => Row(i.toLong, new Timestamp(t), r.nextInt(users).toLong,
          pick(Seq("view", "click", "signup", "purchase", "error")),
          math.round(math.max(0.01, -math.log(1 - r.nextDouble()) * 40) * 100) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      })

    val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
      "order", "data", "column", "join", "small", "big", "customer", "query", "group",
      "filter", "stream", "vector")
    val nDoc = n(50000)
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until nDoc).map { i =>
        val text = Seq.fill(8 + r.nextInt(85))(pick(vocab)).mkString(" ")
        val lang = if (r.nextDouble() < 0.44) "en" else pick(Seq("zh", "de", "fr", "es"))
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      })

    val dim = 64
    val centers = (0 until 10).map(_ => Array.fill(dim)(r.nextGaussian()))
    save("embeddings", st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until n(50000)).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + r.nextGaussian() * 1.5)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
