package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the ten Parquet tables the batch operators read
  * (`SparkEntry.queries` take a directory of them) with the schemas and
  * value shapes of the engine's test fixtures: a TPC-H-like star schema,
  * an event stream, a text corpus with duplicates and near-duplicates,
  * and 64-dim labelled embeddings.
  *
  * Every value is a hash of its row id and a fixed salt, so the tables
  * are the same on every run and any partitioning, and the operators'
  * result hashes can be recorded once. `scale` multiplies every row
  * count; 0.1 gives the 600k line items of an sf0.1 fixture.
  */
object Fixtures {
  private val Salt = 42L
  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "group", "stream", "filter",
    "vector")

  /** Deterministic uniform draw in [0, m) from the row id and a salt. */
  private def draw(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(Salt), lit(salt)), lit(m))

  private def unit(id: Column, salt: Int): Column =
    draw(id, salt, 1000000L).cast("double") / 1e6

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(id, salt, values.size.toLong) + 1).cast("int"))

  def rowCounts(scale: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.max(150L, (150000 * scale).toLong),
    "supplier" -> math.max(10L, (10000 * scale).toLong),
    "part" -> math.max(200L, (200000 * scale).toLong),
    "orders" -> math.max(1500L, (1500000 * scale).toLong),
    "lineitem" -> math.max(6000L, (6000000 * scale).toLong),
    "events" -> math.max(1000L, (1000000 * scale).toLong),
    "documents" -> math.max(500L, (50000 * scale).toLong),
    "embeddings" -> math.max(500L, (20000 * scale).toLong))

  /** Write the tables to `dir` unless an earlier run already did. The
    * tables are written beside it and renamed into place, so a killed
    * run never leaves a partial set.
    */
  def ensure(spark: SparkSession, dir: String, scale: Double): Unit = {
    val target = new java.io.File(dir)
    if (!target.isDirectory) {
      val tmp = new java.io.File(s"$dir.tmp-${System.nanoTime()}")
      tables(spark, scale).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"${tmp.getPath}/$name.parquet")
      }
      if (!tmp.renameTo(target) && !target.isDirectory)
        throw new java.io.IOException(s"could not move fixtures into $dir")
    }
  }

  def tables(spark: SparkSession, scale: Double): Seq[(String, DataFrame)] = {
    val n = rowCounts(scale)
    def ids(t: String): DataFrame = spark.range(0, n(t), 1, 4).toDF()
    val id = col("id")
    val money = (c: Column) => round(c, 2)
    val day0 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    def daysAfter(base: Column, days: Column): Column =
      timestamp_seconds(unix_timestamp(base) + days * 86400L)

    val region = ids("region").select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = ids("nation").select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = ids("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(id, 1, 25).cast("int").as("c_nationkey"),
      money(unit(id, 2) * 10999 - 999).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = ids("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(id, 1, 25).cast("int").as("s_nationkey"),
      money(unit(id, 2) * 10999 - 999).as("s_acctbal"))
    val part = ids("part").select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 1, Seq("blue", "red", "hot", "cold", "new", "old", "small", "large")),
        pick(id, 2, Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget"))).as("p_name"),
      concat(lit("Brand#"), draw(id, 3, 25) + 1).as("p_brand"),
      pick(id, 4, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")).as("p_type"),
      (draw(id, 5, 50) + 1).cast("int").as("p_size"),
      money(lit(900.0) + (id % 1000) * 0.1).as("p_retailprice"))
    val orders = ids("orders").select(id.as("o_orderkey"),
      draw(id, 1, n("customer")).as("o_custkey"),
      pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(unit(id, 3) * 499000 + 1000).as("o_totalprice"),
      daysAfter(day0, draw(id, 4, 2404)).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = ids("lineitem").select(
      draw(id, 1, n("orders")).as("l_orderkey"),
      draw(id, 2, n("part")).as("l_partkey"),
      draw(id, 3, n("supplier")).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (draw(id, 4, 50) + 1).cast("double").as("l_quantity"),
      money(unit(id, 5) * 99000 + 900).as("l_extendedprice"),
      (draw(id, 6, 11).cast("double") / 100).as("l_discount"),
      (draw(id, 7, 9).cast("double") / 100).as("l_tax"),
      pick(id, 8, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 9, Seq("F", "O")).as("l_linestatus"),
      daysAfter(day0, draw(id, 10, 2499) + 1).as("l_shipdate"))
    val nEvents = n("events")
    val events = ids("events").select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (id * (30L * 86400L * 1000000L / nEvents)) + draw(id, 1, 1000000L)).as("ts"),
      draw(id, 2, math.max(100L, nEvents / 66)).as("user_id"),
      pick(id, 3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      money(unit(id, 4) * unit(id, 5) * 560).as("value"),
      format_string("{\"k\": %d}", draw(id, 6, 100)).as("props"))
    // Texts: 20-100 words from a 30-word vocabulary. Every 50th document
    // repeats its predecessor word for word, and every 50th (offset 25)
    // repeats it with its last word changed: exact and near duplicates.
    val docBase = when(id % 50 === 1 || id % 50 === 26, id - 1).otherwise(id)
    val nWords = draw(docBase, 1, 81) + 20
    val words = transform(sequence(lit(1L), nWords), i =>
      when(id % 50 === 26 && i === nWords, lit("changed"))
        .otherwise(element_at(array(Vocab.map(lit): _*),
          (draw(docBase * 1000 + i, 2, Vocab.size.toLong) + 1).cast("int"))))
    val documents = ids("documents")
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        pick(id, 3, Seq("en", "en", "en", "en", "zh", "es", "fr", "de", "en", "zh")).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-dim embeddings around 10 label centers; every 40th vector is a
    // small perturbation of its predecessor (embedding near-duplicates).
    val embBase = when(id % 40 === 1, id - 1).otherwise(id)
    val noise = (i: Column, salt: Int) => unit(embBase * 64 + i, salt) - 0.5
    val embeddings = ids("embeddings").select(id.as("vec_id"),
      transform(sequence(lit(0L), lit(63L)), i =>
        (noise(i, 1) * 0.5 + (unit(draw(embBase, 9, 10) * 64 + i, 2) - 0.5) * 0.3 +
          when(id % 40 === 1, (unit(id * 64 + i, 3) - 0.5) * 0.01).otherwise(0.0))
          .cast("float")).as("embedding"),
      draw(embBase, 9, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
