package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a hash of (seed, row id,
  * column tag), so the same seed gives the same bytes on any machine.
  * The shapes follow the TPC-H / corpus fixtures the engine's own
  * queries use: orders, lineitem, documents, embeddings. Money columns
  * are DECIMAL so sums are exact and results compare bit for bit.
  * Row counts are smaller than the sf0.1 fixtures; the per-row
  * statistics of documents and embeddings are those measured on the
  * fixtures (see the README's input table). */
object Data {
  val Orders = 24000
  val LinesPerOrder = 4
  val Customers = 2400
  val Docs = 1200
  val PipelineDocs = 700
  val Embeddings = 1000
  /** Embedding width of the fixture (FLOAT[64]), which the engine's own
    * vector queries also use. */
  val Dim = 64
  val Queries = 16
  /** Order dates span the fixture's range, 1995-01-01 .. 2001-08-01. */
  val Epoch = "1995-01-01"
  val Days = 2405
  val FirstYear = 1995
  val LastYear = 2001

  /** The fixture's 30 words, each about 1/30 of all tokens. */
  val vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  /** The token a near duplicate appends; it occurs nowhere else. */
  val DupToken = "dup"
  /** Tokens per document: uniform in [MinTokens, MaxTokens]. */
  val MinTokens = 10
  val MaxTokens = 100
  /** About one document in NearDupEvery is an earlier one with DupToken
    * appended; one in ExactDupEvery is an exact copy of an earlier one. */
  val NearDupEvery = 20
  val ExactDupEvery = 625

  private def h(seed: Long, id: Column, tag: Int): Column = xxhash64(lit(seed), id, lit(tag))
  private def ri(seed: Long, id: Column, tag: Int, n: Long): Column = pmod(h(seed, id, tag), lit(n))
  private def pick(xs: Seq[String], i: Column): Column = element_at(array(xs.map(lit): _*), i.cast("int") + 1)

  private def orderDate(seed: Long, orderIdx: Column): Column =
    date_add(lit(Epoch).cast("date"), ri(seed, orderIdx, 4, Days).cast("int"))

  /** Orders with keys from+1 .. from+n. */
  def orders(spark: SparkSession, seed: Long, from: Long = 0L, n: Long = Orders): DataFrame = {
    val id = col("id")
    spark.range(from, from + n, 1, 2).select(
      (id + 1).as("o_orderkey"),
      (ri(seed, id, 1, Customers) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), ri(seed, id, 2, 3)).as("o_orderstatus"),
      ((ri(seed, id, 3, 49900000L) + 100000L) / 100).cast("decimal(12,2)").as("o_totalprice"),
      orderDate(seed, id).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), ri(seed, id, 5, 5))
        .as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val ord = floor(id / LinesPerOrder).cast("long")
    spark.range(0, Orders.toLong * LinesPerOrder, 1, 2).select(
      (ord + 1).as("l_orderkey"),
      (pmod(id, lit(LinesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (ri(seed, id, 6, 50) + 1).as("l_quantity"),
      ((ri(seed, id, 7, 9000000L) + 90000L) / 100).cast("decimal(12,2)").as("l_extendedprice"),
      (ri(seed, id, 8, 11) / 100).cast("decimal(4,2)").as("l_discount"),
      (ri(seed, id, 9, 9) / 100).cast("decimal(4,2)").as("l_tax"),
      pick(Seq("A", "N", "R"), ri(seed, id, 10, 3)).as("l_returnflag"),
      pick(Seq("F", "O"), ri(seed, id, 11, 2)).as("l_linestatus"),
      date_add(orderDate(seed, ord), (ri(seed, id, 12, 121) + 1).cast("int")).as("l_shipdate"))
  }

  private def word(seed: Long, id: Column, pos: Column): Column =
    element_at(typedLit(vocab), (pmod(xxhash64(lit(seed), id, pos, lit(13)), lit(vocab.size.toLong)) + 1).cast("int"))

  /** The original tokens of document `src`. */
  private def tokens(seed: Long, src: Column): Column =
    transform(sequence(lit(1), (ri(seed, src, 14, MaxTokens - MinTokens + 1) + MinTokens).cast("int")),
      i => word(seed, src, i))

  /** Documents 0 .. n-1. A planted copy takes the tokens of a seeded
    * earlier document; a near copy then appends DupToken. */
  def documents(spark: SparkSession, seed: Long, n: Int = Docs): DataFrame = {
    val id = col("id")
    val near = id > 0 && ri(seed, id, 18, NearDupEvery) === 0
    val exact = id > 0 && ri(seed, id, 23, ExactDupEvery) === 0
    val src = when(near || exact, pmod(h(seed, id, 17), greatest(id, lit(1L)))).otherwise(id)
    val toks = tokens(seed, src)
    val text = when(near, concat(toks, array(lit(DupToken)))).otherwise(toks)
    spark.range(0, n, 1, 2).select(
      id.as("doc_id"),
      array_join(text, " ").as("text"),
      pick(Seq("en", "en", "en", "zh", "es", "fr", "de"), ri(seed, id, 15, 7)).as("lang"),
      concat(lit("src"), ri(seed, id, 16, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors of Dim near-Gaussian components (each a sum of three
    * uniforms), one per `src` id: like the fixture's, whose components
    * have mean 0 and standard deviation 1/sqrt(Dim). */
  private def unitVectors(seed: Long, df: DataFrame): DataFrame = {
    val raw = transform(sequence(lit(0), lit(Dim - 1)), i =>
      Seq(19, 25, 26).map(t => pmod(xxhash64(lit(seed), col("src"), i, lit(t)), lit(1000000L)) / 1e6)
        .reduce(_ + _) - 1.5)
    df.withColumn("raw", raw)
      .withColumn("unit", transform(col("raw"),
        x => x / sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y)))).drop("raw")
  }

  def embeddings(spark: SparkSession, seed: Long): DataFrame =
    unitVectors(seed, spark.range(0, Embeddings, 1, 2).withColumn("src", col("id"))).select(
      col("id").as("vec_id"),
      transform(col("unit"), x => x.cast("float")).as("embedding"),
      ri(seed, col("id"), 20, 10).cast("int").as("label"))

  /** Noisy copies of seeded corpus vectors: the ANN query set. The noise
    * is uniform in ±0.02 per component, about a tenth of a component's
    * spread. */
  def queryVectors(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val noise = transform(sequence(lit(0), lit(Dim - 1)), i =>
      (pmod(xxhash64(lit(seed), id, i, lit(21)), lit(2001L)) - 1000L) / 50000.0)
    unitVectors(seed, spark.range(0, Queries, 1, 1).withColumn("src", ri(seed, id, 22, Embeddings)))
      .select(
        (id + 5000000L).as("vec_id"),
        zip_with(col("unit"), noise, (x, e) => (x + e).cast("float")).as("embedding"),
        lit(-1).as("label"))
  }

  /** A run's input by name: a plain Spark DataFrame over the generator. */
  def input(spark: SparkSession, seed: Long, name: String): DataFrame = name match {
    case "orders" => orders(spark, seed)
    case "lineitem" => lineitem(spark, seed)
    case "documents" => documents(spark, seed)
    case "pdocs" => documents(spark, seed + 7, PipelineDocs)
    case "embeddings" => embeddings(spark, seed)
    case "queries" => queryVectors(spark, seed)
  }
}
