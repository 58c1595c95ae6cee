package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input synthesis. Every column is a pure function of
  * (seed, row id), computed with xxhash64 inside Spark, so the same seed
  * gives byte-identical tables on any core count and a different seed gives
  * different ones. The tables follow the testdata schemas the examples and
  * the reference's pipeline shapes are written against (TPC-H-like
  * lineitem/orders/customer, plus documents and embeddings). */
object Inputs {

  /** Words for synthetic documents: content words plus stopwords, so the
    * Gopher-style quality rules (stopword and alpha-fraction gates) pass on
    * most documents and the word-3-gram shingles of two unrelated documents
    * barely overlap (60^3 possible grams). */
  val Vocab: Seq[String] = Seq(
    "the", "a", "and", "of", "to", "in", "is", "that", "for", "with",
    "spark", "data", "query", "table", "row", "column", "filter", "join",
    "merge", "sort", "hash", "window", "stream", "batch", "value", "key",
    "order", "customer", "line", "part", "group", "agg", "scan", "vector",
    "fast", "slow", "big", "small", "plan", "stage", "task", "shuffle",
    "cache", "index", "record", "field", "schema", "parquet", "writer",
    "reader", "engine", "cluster", "driver", "memory", "disk", "network",
    "format", "commit", "offset", "state")

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  private def pick(seed: Long, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, k), lit(xs.size.toLong)) + 1).cast("int"))
  private def uniform(seed: Long, k: Int, n: Long): Column = pmod(h(seed, k), lit(n))

  /** Row counts of the tables generated for one scale: lineitem carries
    * `lineitem` rows before planting, orders a quarter of that, customer a
    * fortieth (the TPC-H ratios). */
  final case class TableSizes(lineitem: Long, documents: Long, embeddings: Long, events: Long) {
    def orders: Long = math.max(lineitem / 4, 1)
    def customer: Long = math.max(lineitem / 40, 1)
  }

  /** Planted fractions, recorded in every report. */
  val LineitemNullFrac = 0.01   // l_shipdate NULL (quarantined by the gate)
  val LineitemDupFrac = 0.01    // whole-row duplicates (quarantined by the gate)
  val DocExactDupFrac = 0.05    // text copied verbatim from an earlier document
  val DocNearDupFrac = 0.05     // earlier document's text plus one appended word

  def lineitem(seed: Long, n: Long)(implicit spark: SparkSession): DataFrame = {
    val base = spark.range(n).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      uniform(seed, 1, 20000).as("l_partkey"),
      uniform(seed, 2, 1000).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (uniform(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      round((uniform(seed, 3, 50) + 1) * (lit(900.0) + uniform(seed, 4, 100000) / 100.0), 2)
        .as("l_extendedprice"),
      (uniform(seed, 5, 11) / 100.0).as("l_discount"),
      (uniform(seed, 6, 9) / 100.0).as("l_tax"),
      pick(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 8, Seq("F", "O")).as("l_linestatus"),
      when(uniform(seed, 9, 1000) < (LineitemNullFrac * 1000).toLong, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(lit(788918400L) + uniform(seed, 10, 2500) * 86400L))
        .as("l_shipdate"),
      (uniform(seed, 11, 1000) < (LineitemDupFrac * 1000).toLong).as("__dup"))
    base.unionByName(base.filter(col("__dup"))).drop("__dup")
  }

  def orders(seed: Long, n: Long, customers: Long)(implicit spark: SparkSession): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      uniform(seed, 21, customers).as("o_custkey"),
      pick(seed, 22, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + uniform(seed, 23, 40000000L) / 100.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + uniform(seed, 24, 2400) * 86400L).as("o_orderdate"),
      pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  def customer(seed: Long, n: Long)(implicit spark: SparkSession): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      uniform(seed, 31, 25).cast("int").as("c_nationkey"),
      round(uniform(seed, 32, 1100000) / 100.0 - 1000.0, 2).as("c_acctbal"),
      pick(seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))

  /** Documents of 20-89 words. A planted exact duplicate takes the text of
    * an earlier document verbatim; a planted near duplicate takes it and
    * appends one word (word-3-gram Jaccard about 0.97). Copies are only
    * taken from ids divisible by 16, which are never planted, so there
    * are no copy chains. */
  def documents(seed: Long, n: Long)(implicit spark: SparkSession): DataFrame = {
    val exactCut = (DocExactDupFrac * 1000).toLong
    val nearCut = exactCut + (DocNearDupFrac * 1000).toLong
    val plant = uniform(seed, 41, 1000)
    val anchor = pmod(col("id"), lit(16L)) === 0L
    val kind = when(anchor, lit("orig"))
      .when(plant < exactCut, lit("exact"))
      .when(plant < nearCut, lit("near"))
      .otherwise(lit("orig"))
    val source = greatest(lit(0L), (col("id") / 16).cast("long") * 16 - uniform(seed, 42, 4) * 16)
    val texted = spark.range(n).select(col("id"), kind.as("dup_kind"))
      .withColumn("text_id", when(col("dup_kind") === "orig", col("id")).otherwise(source))
    val nWords = (pmod(xxhash64(lit(seed), col("text_id"), lit(43)), lit(70L)) + 20).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), col("text_id"), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val extra = element_at(array(Vocab.map(lit): _*),
      (pmod(xxhash64(lit(seed), col("id"), lit(44)), lit(Vocab.size.toLong)) + 1).cast("int"))
    val text0 = array_join(words, " ")
    val text = when(col("dup_kind") === "near", concat(text0, lit(" "), extra)).otherwise(text0)
    texted.select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(seed, 45, Seq("en", "en", "en", "zh", "de", "es", "fr")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** 64-dim float embeddings in 16 label clusters (centroid + small noise),
    * so k-means, PQ and ANN have structure to find. */
  def embeddings(seed: Long, n: Long)(implicit spark: SparkSession): DataFrame = {
    val dims = 64
    val label = uniform(seed, 51, 16)
    val vec = transform(sequence(lit(0), lit(dims - 1)), d => {
      val centroid = pmod(xxhash64(lit(seed), label, d), lit(2000L)) / 1000.0 - 1.0
      val noise = pmod(xxhash64(lit(seed), col("id"), d, lit(52)), lit(2000L)) / 20000.0 - 0.05
      (centroid + noise).cast("float")
    })
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"), label.cast("int").as("label"))
  }

  def table(name: String, seed: Long, sizes: TableSizes)(implicit spark: SparkSession): DataFrame =
    name match {
      case "lineitem" => lineitem(seed, sizes.lineitem)
      case "orders" => orders(seed, sizes.orders, sizes.customer)
      case "customer" => customer(seed, sizes.customer)
      case "documents" => documents(seed, sizes.documents)
      case "embeddings" => embeddings(seed, sizes.embeddings)
      case "events" => events(seed, sizes.events)
    }

  /** Events with second-resolution timestamps over 30 days, so hourly
    * windows close behind a 2-hour watermark. */
  def events(seed: Long, n: Long)(implicit spark: SparkSession): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + uniform(seed, 61, 30L * 86400)).as("ts"),
      uniform(seed, 62, 100).as("user_id"),
      pick(seed, 63, Seq("view", "click", "buy")).as("event_type"),
      round(uniform(seed, 64, 100000) / 100.0, 2).as("value"))

  /** Writes `tables` under `dir` as parquet, 4 files each, so scans get
    * task parallelism. */
  def writeTables(seed: Long, sizes: TableSizes, tables: Seq[String], dir: String)
                 (implicit spark: SparkSession): Unit =
    tables.foreach { name =>
      table(name, seed, sizes).coalesce(4).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** Order-independent digests of several frames in one Spark job: per
    * frame, the row count and the sum of a 64-bit hash of every row's
    * columns in sorted column order. Columns in `exclude` are left out. */
  def digests(frames: Seq[(String, DataFrame)], exclude: Set[String] = Set.empty)
      : Map[String, (Long, String)] = {
    val hashed = frames.map { case (name, df) =>
      val cols = df.columns.filterNot(exclude.contains).sorted
      df.select(lit(name).as("frame"),
        xxhash64(cols.map(c => col(s"`$c`")): _*).as("h"))
    }.reduce(_ unionByName _)
    val got = hashed.groupBy("frame").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2).toString)).toMap
    frames.map { case (name, _) => name -> got.getOrElse(name, (0L, "0")) }.toMap
  }

  def digest(df: DataFrame, exclude: Set[String] = Set.empty): (Long, String) =
    digests(Seq("frame" -> df), exclude)("frame")
}
