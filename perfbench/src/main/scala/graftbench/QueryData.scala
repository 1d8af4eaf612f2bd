package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic tables for the query block, in the schema the queries
  * read (`SparkEntry.queries`): a TPC-H-like star (region, nation, customer,
  * supplier, part, orders, lineitem), an event stream whose click events
  * carry the link graph, documents with planted exact and near duplicates,
  * and embeddings. The content is fixed (`DataSeed`), so the query outputs
  * can be pinned; the benchmark's seed only orders the queries.
  */
object QueryData {
  val DataSeed = 20240101L

  // table sizes (about the repository's sf0.01 test data)
  private val Customers = 750
  private val Suppliers = 100
  private val Parts = 1000
  private val Orders = 7500
  private val Lineitems = 30000
  private val Events = 10000
  private val Users = 500
  private val Docs = 500
  private val Vectors = 500

  private val Words = Array("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "stream", "filter", "group", "vector", "de",
    "la", "el", "und", "der", "le", "los", "die", "et", "y")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val EventTypes = Array("click", "view", "error", "signup", "purchase")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val DayMs = 86400000L
  private val Ts1992 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
  private val Ts2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new java.util.Random(DataSeed)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(Regions.indices.map(i => (i, Regions(i))).toDF("r_regionkey", "r_name"),
      "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    save((0 until Customers).map(i => (i.toLong, f"Customer#$i%09d",
        r.nextInt(25), money(r, -999, 9999), Segments(r.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer")
    save((0 until Suppliers).map(i => (i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), money(r, -999, 9999)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    val colors = Array("red", "blue", "green", "small", "large")
    val things = Array("widget", "bolt", "ring", "gear", "pipe")
    val types = Array("ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE")
    save((0 until Parts).map(i => (i.toLong,
        s"${colors(r.nextInt(5))} ${things(r.nextInt(5))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(5)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "part")
    save((0 until Orders).map(i => (i.toLong, r.nextInt(Customers).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(r, 1000, 500000),
        new Timestamp(Ts1992 + r.nextInt(365 * 8) * DayMs),
        Priorities(r.nextInt(5))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")
    save((0 until Lineitems).map(_ => (r.nextInt(Orders).toLong,
        r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 100000),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        new Timestamp(Ts1992 + r.nextInt(365 * 9) * DayMs)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")

    // events: a skewed user population over 30 days; click values carry the
    // link target (floor(value) mod users) the graph queries derive
    val spanMs = 30 * DayMs
    save((0 until Events).map { i =>
        val u = (Users * math.pow(r.nextDouble(), 1.5)).toLong
        (i.toLong, new Timestamp(Ts2024 + i * (spanMs / Events) + r.nextInt(60000)),
          u, EventTypes(r.nextInt(5)), r.nextInt(100000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")

    // documents: every 10th is a near duplicate (two words swapped out) of
    // an earlier one and every 25th an exact duplicate, so the dedup
    // operators find pairs
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) {
      texts(i) =
        if (i >= 25 && i % 25 == 0) texts(i - 25)
        else if (i >= 10 && i % 10 == 5) {
          val w = texts(i - 10).split(" ")
          w(r.nextInt(w.length)) = Words(r.nextInt(Words.length))
          w(r.nextInt(w.length)) = Words(r.nextInt(Words.length))
          w.mkString(" ")
        } else Array.fill(20 + r.nextInt(60))(Words(r.nextInt(Words.length)))
          .mkString(" ")
    }
    save(texts.indices.map(i => (i.toLong, texts(i), Langs(r.nextInt(Langs.length)),
        s"src${i % 20}", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    save((0 until Vectors).map(i => (i.toLong,
        Array.fill(64)((r.nextGaussian() * 0.125).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
