package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the query workloads' input tables: the ten
  * tables of the engine's query surface (a TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`), one parquet directory each,
  * with the schemas the engine's `Tables` loaders read.
  *
  * Every value is a pure function of (seed, table, column, row id)
  * through `xxhash64`, so the same seed and scale give the same tables
  * on any layout. Row counts follow the scale factor `sf`:
  * lineitem ~ 6M·sf, orders 1.5M·sf, customer 150k·sf, part 200k·sf,
  * supplier 10k·sf, events 1M·sf, documents 50k·sf, embeddings 20k·sf.
  */
object Inputs {
  /** Bumped whenever the generated content changes, so a cached copy
    * made by an older generator is never reused.
    */
  val Version = 2

  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def key(seed: Long, sf: Double): String = s"tables-v$Version-seed$seed-sf$sf"

  /** Generate the tables into `<cache>/<key>` unless a complete copy is
    * already there; returns the directory.
    */
  def ensure(spark: SparkSession, cache: String, seed: Long, sf: Double): String = {
    val dest = Paths.get(cache, key(seed, sf))
    if (!Files.exists(dest.resolve("_DONE"))) {
      Files.createDirectories(dest.getParent)
      val stage = Files.createTempDirectory(dest.getParent, "stage-")
      write(spark, stage.toString, seed, sf)
      Files.writeString(stage.resolve("_DONE"), key(seed, sf))
      deleteTree(dest)
      Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
    }
    dest.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally walk.close()
    }

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nUsers = n(15000)
    // `n` rows with a long `id` column, in four fixed partitions
    def rows(count: Long): DataFrame = spark.range(0L, count, 1L, 4).toDF("id")
    val Seq(g1, g2, g3, g4, g5, g6, g7, g8) = (1 to 8).map(new Gen(seed, _))
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    import spark.implicits._
    save("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      .coalesce(1))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1))

    save("customer", rows(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      g1.int(1, 0, 24).as("c_nationkey"),
      g1.money(2, -999.99, 9999.99).as("c_acctbal"),
      g1.pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment")))

    save("supplier", rows(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      g2.int(1, 0, 24).as("s_nationkey"),
      g2.money(2, -999.99, 9999.99).as("s_acctbal")))

    save("part", rows(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        g3.pick(1, "small", "red", "blue", "hot", "cold", "big", "old", "new"),
        g3.pick(2, "ring", "widget", "bolt", "gear", "nut", "pipe", "cog",
          "lamp")).as("p_name"),
      concat(lit("Brand#"), g3.int(3, 1, 25)).as("p_brand"),
      g3.pick(4, "ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
        "PROMO").as("p_type"),
      g3.int(5, 1, 50).as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 1)
        .as("p_retailprice")))

    save("orders", rows(nOrders).select(
      col("id").as("o_orderkey"),
      g4.long(1, 0, nCust - 1).as("o_custkey"),
      g4.pick(2, "F", "O", "P").as("o_orderstatus"),
      g4.money(3, 1000.0, 500000.0).as("o_totalprice"),
      g4.day(4, "1995-01-01", 2404).as("o_orderdate"),
      g4.pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority")))

    save("lineitem", rows(nOrders * 4).select(
      g5.long(1, 0, nOrders - 1).as("l_orderkey"),
      // 30% of line items pick one of a few hot parts, so co-purchase
      // pairs recur and the basket and graph operators find structure
      when(g5.unit(12) < 0.3, g5.long(13, 0, math.max(50L, nPart / 100) - 1))
        .otherwise(g5.long(2, 0, nPart - 1)).as("l_partkey"),
      g5.long(3, 0, nSupp - 1).as("l_suppkey"),
      g5.int(4, 1, 7).as("l_linenumber"),
      g5.int(5, 1, 50).cast("double").as("l_quantity"),
      g5.money(6, 900.0, 105000.0).as("l_extendedprice"),
      (g5.int(7, 0, 10) / 100.0).as("l_discount"),
      (g5.int(8, 0, 8) / 100.0).as("l_tax"),
      g5.pick(9, "A", "N", "R").as("l_returnflag"),
      g5.pick(10, "O", "F").as("l_linestatus"),
      g5.day(11, "1995-01-02", 2499).as("l_shipdate")))

    save("events", rows(n(1000000)).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (g6.unit(1) * lit(30L * 86400L * 1000000L)).cast("long")).as("ts"),
      g6.long(2, 0, nUsers - 1).as("user_id"),
      g6.pick(3, "view", "click", "purchase", "signup", "error")
        .as("event_type"),
      round(-log(lit(1.0) - g6.unit(4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), g6.int(5, 0, 99), lit("}")).as("props")))

    // ~5% of documents are near-duplicates of a recent document (its
    // text plus a trailing token), ~0.2% exact copies, and ~2% contain a
    // recent document (its text followed by 60% more words): the
    // structure the dedup and containment operators exist for
    val vocab = array(Seq("join", "hash", "row", "batch", "scan", "column",
      "customer", "filter", "small", "slow", "merge", "order", "vector",
      "line", "table", "data", "agg", "value", "key", "stream", "window",
      "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
      .map(lit): _*)
    def wordsOf(key: Column, n: Column, c: Int): Column =
      transform(sequence(lit(1), n), i =>
        element_at(vocab, (g7.hashOf(Seq(key, i), c, 30) + 1).cast("int")))
    val docs = rows(n(50000))
      .withColumn("u", g7.unit(1))
      .withColumn("derived", col("u") < 0.072 && col("id") > 0)
      .withColumn("src", when(col("derived"),
        greatest(lit(0L), col("id") - lit(1L) - g7.long(2, 0, 9)))
        .otherwise(col("id")))
      .withColumn("n", (g7.hashOf(Seq(col("src")), 3, 83) + 8).cast("int"))
      .withColumn("words", wordsOf(col("src"), col("n"), 4))
    save("documents", docs
      .withColumn("text",
        when(col("derived") && col("u") < 0.05,
          concat(array_join(col("words"), " "), lit(" dup")))
          .when(col("derived") && col("u") >= 0.052,
            array_join(concat(col("words"),
              wordsOf(col("id"), (col("n") * 0.6).cast("int"), 6)), " "))
          .otherwise(array_join(col("words"), " ")))
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(array(Seq("en", "en", "en", "zh", "es", "de", "fr")
          .map(lit): _*), (g7.hashOf(Seq(col("id")), 5, 7) + 1).cast("int"))
          .as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        length(col("text")).cast("long").as("n_chars")))

    // unit vectors in 64 dimensions (Box-Muller normals, normalized)
    val normals = transform(sequence(lit(0), lit(63)), i => {
      val u1 = (g8.hashOf(Seq(col("id"), i), 1, 1L << 30) + 1) / (1L << 30).toDouble
      val u2 = g8.hashOf(Seq(col("id"), i), 2, 1L << 30) / (1L << 30).toDouble
      sqrt(log(u1) * -2.0) * cos(u2 * 2.0 * math.Pi)
    })
    save("embeddings", rows(n(20000))
      .withColumn("v", normals)
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
        g8.int(3, 0, 9).as("label")))
  }

  /** Column generators of one table, keyed on (seed, table, column,
    * row id).
    */
  final class Gen(seed: Long, table: Int) {
    /** Uniform integer in `[0, m)` from the hash of `parts`. */
    def hashOf(parts: Seq[Column], column: Int, m: Long): Column =
      pmod(xxhash64((Seq(lit(seed), lit(table.toLong), lit(column.toLong))
        ++ parts): _*), lit(m))

    def unit(c: Int): Column =
      hashOf(Seq(col("id")), c, 1L << 40) / (1L << 40).toDouble
    def long(c: Int, lo: Long, hi: Long): Column =
      hashOf(Seq(col("id")), c, hi - lo + 1) + lit(lo)
    def int(c: Int, lo: Int, hi: Int): Column = long(c, lo, hi).cast("int")
    def money(c: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + unit(c) * (hi - lo), 2)
    def pick(c: Int, values: String*): Column =
      element_at(array(values.map(lit): _*), int(c, 1, values.size))
    def day(c: Int, from: String, days: Int): Column =
      date_add(to_date(lit(from)), int(c, 0, days - 1)).cast("timestamp")
  }
}
