package olapbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

/** Seeded synthetic inputs, written as parquet into the run directory.
  *
  * The sales star has the schema of the TPC-H-ish tables the `sales` cube
  * ([[graft.tpch.TpchModel]]) is modelled on; the side tables (`documents`,
  * `embeddings`, `events`) have the schema the catalog's iterative operators
  * read. Every value is a hash of (seed, salt, row id), so one seed always
  * gives the same bytes and nothing is read from outside the run directory.
  */
object Data {

  /** Row counts of one generated data set. */
  final case class Scale(orders: Long, customers: Long, suppliers: Long,
      parts: Long, documents: Long, embeddings: Long, events: Long)

  /** Lineitem has 1 to 7 lines per order, 4 on average. */
  val Sales: Scale = Scale(orders = 2500, customers = 500, suppliers = 50,
    parts = 1000, documents = 0, embeddings = 0, events = 0)

  val Batch: Scale = Scale(orders = 15000, customers = 1500, suppliers = 100,
    parts = 2000, documents = 600, embeddings = 400, events = 20000)

  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("red", "blue", "small", "large", "green", "steel")
  private val Nouns = Seq("widget", "bolt", "ring", "gear", "valve", "spring")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Uniform draw in [0, n) from (seed, salt, id). */
  private def draw(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def pick(values: Seq[String], seed: Long, salt: Int, id: Column): Column =
    element_at(array(values.map(lit): _*), (draw(seed, salt, id, values.size) + 1).cast("int"))

  private def cents(seed: Long, salt: Int, id: Column, lo: Double, hi: Double): Column =
    (lit(lo) + draw(seed, salt, id, math.round((hi - lo) * 100) + 1) / 100.0)

  private def orderDate(seed: Long, orderKey: Column): Column =
    timestamp_seconds(lit(788918400L) + draw(seed, 11, orderKey, 2404) * 86400L)

  /** Writes the sales star, and the side tables when `scale` has them, into
    * `dir`; the tables are written concurrently. */
  def write(spark: SparkSession, seed: Long, scale: Scale, dir: String): Unit = {
    val tables = sales(spark, seed, scale) ++
      (if (scale.documents > 0) side(spark, seed, scale) else Nil)
    tables.par.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  private def sales(spark: SparkSession, seed: Long, scale: Scale): Seq[(String, DataFrame)] = {
    val id = col("id")
    val lines = spark.range(scale.orders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (draw(seed, 16, id, 7) + 1).cast("int"))).as("l_linenumber"))
    val lineId = col("l_orderkey") * 8 + col("l_linenumber")
    val quantity = (draw(seed, 18, lineId, 50) + 1).cast("double")
    Seq(
      "region" -> (spark.range(Regions.size).select(id.cast("int").as("r_regionkey"),
        element_at(array(Regions.map(lit): _*), (id + 1).cast("int")).as("r_name")).coalesce(1)),
      "nation" -> (spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
        .coalesce(1)),
      "customer" -> (spark.range(scale.customers).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        draw(seed, 1, id, 25).cast("int").as("c_nationkey"),
        cents(seed, 2, id, -999.99, 9999.99).as("c_acctbal"),
        pick(Segments, seed, 3, id).as("c_mktsegment")).coalesce(1)),
      "supplier" -> (spark.range(scale.suppliers).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        draw(seed, 4, id, 25).cast("int").as("s_nationkey"),
        cents(seed, 5, id, -999.99, 9999.99).as("s_acctbal")).coalesce(1)),
      "part" -> (spark.range(scale.parts).select(id.as("p_partkey"),
        concat_ws(" ", pick(Adjectives, seed, 6, id), pick(Nouns, seed, 7, id)).as("p_name"),
        concat(lit("Brand#"), draw(seed, 8, id, 25) + 1).as("p_brand"),
        pick(PartTypes, seed, 9, id).as("p_type"),
        (draw(seed, 10, id, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")).coalesce(1)),
      "orders" -> (spark.range(scale.orders).select(id.as("o_orderkey"),
        draw(seed, 12, id, scale.customers).as("o_custkey"),
        pick(Seq("F", "O", "P"), seed, 13, id).as("o_orderstatus"),
        cents(seed, 14, id, 1000.0, 500000.0).as("o_totalprice"),
        orderDate(seed, id).as("o_orderdate"),
        pick(Priorities, seed, 15, id).as("o_orderpriority")).coalesce(2)),
      "lineitem" -> (lines.select(col("l_orderkey"),
        draw(seed, 17, lineId, scale.parts).as("l_partkey"),
        draw(seed, 19, lineId, scale.suppliers).as("l_suppkey"),
        col("l_linenumber"),
        quantity.as("l_quantity"),
        round(quantity * (lit(900.0) + draw(seed, 20, lineId, 200000) / 100.0), 2)
          .as("l_extendedprice"),
        (draw(seed, 21, lineId, 11) / 100.0).as("l_discount"),
        (draw(seed, 22, lineId, 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), seed, 23, lineId).as("l_returnflag"),
        pick(Seq("F", "O"), seed, 24, lineId).as("l_linestatus"),
        (orderDate(seed, col("l_orderkey")) +
          make_interval(lit(0), lit(0), lit(0), (draw(seed, 25, lineId, 121) + 1).cast("int")))
          .as("l_shipdate")).coalesce(4)))
  }

  /** The side tables the catalog's iterative operators read. */
  private def side(spark: SparkSession, seed: Long, scale: Scale): Seq[(String, DataFrame)] = {
    val id = col("id")
    val vocab = array(Words.map(lit): _*)
    def words(docId: Column): Column = array_join(transform(
      sequence(lit(1), (draw(seed, 30, docId, 60) + 8).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(seed), lit(31), docId, i),
        lit(Words.size.toLong)) + 1).cast("int"))), " ")
    // every 20th document repeats its predecessor plus one token, so the
    // near-duplicate operators have clusters to find
    val text = when(id % 20 === 19, concat(words(id - 1), lit(" dup"))).otherwise(words(id))
    val label = draw(seed, 34, id, 10).cast("int")
    Seq(
      "documents" -> (spark.range(scale.documents).select(id.as("doc_id"), text.as("text"),
        pick(Seq("de", "en", "es", "fr", "zh"), seed, 32, id).as("lang"),
        concat(lit("src"), draw(seed, 33, id, 20)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")).coalesce(1)),
      "embeddings" -> (spark.range(scale.embeddings).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(lit(seed), lit(35), id, j), lit(20001L)) - 10000) / 100000.0 +
            when(j % 10 === label, 0.2).otherwise(0.0)).cast("float")).as("embedding"),
        label.as("label")).coalesce(1)),
      "events" -> (spark.range(scale.events).select(id.as("event_id"),
        timestamp_seconds(lit(1704067200L) + id * 259 + draw(seed, 36, id, 200)).as("ts"),
        draw(seed, 37, id, 150).as("user_id"),
        pick(EventTypes, seed, 38, id).as("event_type"),
        cents(seed, 39, id, 0.01, 490.0).as("value"),
        format_string("{\"k\": %d}", draw(seed, 40, id, 100)).as("props")).coalesce(1)))
  }
}
