package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded generator of the ten engine tables at sf0.1 row counts.
  *
  * Every value is a pure function of (seed, table, row id, column), built
  * from `xxhash64` over `spark.range`, so the same seed writes the same
  * parquet however Spark splits the work. Shapes follow the engine's test
  * tables: integer keys from 0, two-decimal doubles, dates as
  * isAdjustedToUTC=false micros (read back as TIMESTAMP by both Spark and
  * DuckDB), unit-norm 64-d float embeddings clustered by label, and
  * documents drawn from a small vocabulary with planted near-duplicates.
  */
object Data {
  /** The SQL and index workloads read one fixed data set, so the stored
    * DuckDB digests stay valid; their run seed only orders the ops. */
  val FixedSeed = 42L

  val rowCounts: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  private val vocab = Seq(
    "a", "the", "spark", "batch", "stream", "table", "row", "column", "key",
    "value", "hash", "sort", "join", "group", "agg", "filter", "scan", "query",
    "window", "merge", "data", "order", "customer", "part", "line", "vector",
    "fast", "slow", "big", "small")

  private def pick(options: Seq[String], idx: Column): Column =
    element_at(array(options.map(lit): _*), (idx + 1).cast("int"))

  private def dayTs(start: String, days: Column): Column =
    timestamp_micros(
      unix_micros(to_timestamp(lit(start))) + days.cast("long") * 86400000000L)
      .cast(TimestampNTZType)

  /** One table as a DataFrame, led by its row number `__row`. */
  def table(s: SparkSession, name: String, seed: Long): DataFrame = {
    val salt = name.hashCode.toLong
    val id = col("id")
    // Uniform integer in [0, m) for column tag `c` of row `id`.
    def u(c: Int, m: Long): Column =
      pmod(xxhash64(lit(seed), lit(salt), lit(c.toLong), id), lit(m))
    def cents(c: Int, lo: Long, hi: Long): Column = (u(c, hi - lo + 1) + lo) / 100.0
    val base = s.range(rowCounts(name))
    name match {
      case "region" =>
        base.select(id.as("__row"), id.cast("int").as("r_regionkey"),
          pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name"))
      case "nation" =>
        base.select(id.as("__row"), id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          (id % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        base.select(id.as("__row"), id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          u(1, 25).cast("int").as("c_nationkey"),
          cents(2, -99999, 999999).as("c_acctbal"),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), u(3, 5))
            .as("c_mktsegment"))
      case "supplier" =>
        base.select(id.as("__row"), id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          u(1, 25).cast("int").as("s_nationkey"),
          cents(2, -99999, 999999).as("s_acctbal"))
      case "part" =>
        val adj = Seq("large", "hot", "blue", "old", "cold", "red", "small", "new")
        val noun = Seq("ring", "bolt", "plate", "gear", "widget", "rod", "nut", "pipe")
        base.select(id.as("__row"), id.as("p_partkey"),
          concat_ws(" ", pick(adj, u(1, 8)), pick(noun, u(2, 8))).as("p_name"),
          concat(lit("Brand#"), (u(3, 25) + 1).cast("string")).as("p_brand"),
          pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), u(4, 6))
            .as("p_type"),
          (u(5, 50) + 1).cast("int").as("p_size"),
          ((id % 1000) + 9000) / 10.0 as "p_retailprice")
      case "orders" =>
        base.select(id.as("__row"), id.as("o_orderkey"),
          u(1, 15000).as("o_custkey"),
          pick(Seq("F", "O", "P"), u(2, 3)).as("o_orderstatus"),
          cents(3, 100191, 49999318).as("o_totalprice"),
          dayTs("1995-01-01", u(4, 2404)).as("o_orderdate"),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(5, 5))
            .as("o_orderpriority"))
      case "lineitem" =>
        base.select(id.as("__row"), u(1, 150000).as("l_orderkey"),
          u(2, 20000).as("l_partkey"),
          u(3, 1000).as("l_suppkey"),
          (u(4, 7) + 1).cast("int").as("l_linenumber"),
          (u(5, 50) + 1).cast("double").as("l_quantity"),
          cents(6, 90068, 10499991).as("l_extendedprice"),
          (u(7, 11) / 100.0).as("l_discount"),
          (u(8, 9) / 100.0).as("l_tax"),
          pick(Seq("A", "N", "R"), u(9, 3)).as("l_returnflag"),
          pick(Seq("F", "O"), u(10, 2)).as("l_linestatus"),
          dayTs("1995-01-02", u(11, 2498)).as("l_shipdate"))
      case "events" =>
        val t0 = unix_micros(to_timestamp(lit("2024-01-01 00:00:00")))
        base.select(id.as("__row"), id.as("event_id"),
          timestamp_micros(t0 + id * 25920000L + u(1, 25000000))
            .cast(TimestampNTZType).as("ts"),
          u(2, 1500).as("user_id"),
          pick(Seq("click", "error", "purchase", "signup", "view"), u(3, 5)).as("event_type"),
          (u(4, 56022) / 100.0).as("value"),
          concat(lit("{\"k\": "), u(5, 100).cast("string"), lit("}")).as("props"))
      case "documents" =>
        // Every 25th document (id ≡ 13) re-draws the previous document's
        // words with its first word replaced: a planted near-duplicate.
        val twin = id % 25 === 13
        val src = when(twin, id - 1).otherwise(id)
        def w(c: Int, m: Long, row: Column, pos: Column): Column =
          pmod(xxhash64(lit(seed), lit(salt), lit(c.toLong), row, pos), lit(m))
        val nWords = pmod(xxhash64(lit(seed), lit(salt), lit(1L), src), lit(92L)) + 8
        val vocabArr = array(vocab.map(lit): _*)
        val words = transform(sequence(lit(0L), nWords - 1), p =>
          element_at(vocabArr,
            (when(twin && p === 0, w(3, vocab.size, id, p))
              .otherwise(w(2, vocab.size, src, p)) + 1).cast("int")))
        base.select(id.as("__row"), id.as("doc_id"), array_join(words, " ").as("text"),
            when(u(4, 20) < 8, lit("en"))
              .otherwise(pick(Seq("de", "es", "fr", "zh"), u(5, 4))).as("lang"),
            concat(lit("src"), (id % 20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // Label centre plus noise, each coordinate a sum of three uniforms
        // (roughly normal), normalised to unit length in double, then
        // stored as float.
        def unif(row: Column, c: Long, d: Column): Column =
          pmod(xxhash64(lit(seed), lit(salt), lit(c), row, d), lit(1000000L)) / 1e6 - 0.5
        val label = u(1, 10)
        val raw = transform(sequence(lit(0L), lit(63L)), d =>
          (unif(label, 2, d) + unif(label, 3, d) + unif(label, 4, d)) +
            (unif(id, 5, d) + unif(id, 6, d) + unif(id, 7, d)) * 0.8)
        base.select(id.as("__row"), id.as("vec_id"), label.cast("int").as("label"), raw.as("raw"))
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
          .select(col("__row"), col("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
            col("label"))
    }
  }

  /** Writes `names` as single-file parquet tables `<dir>/<name>.parquet`,
    * rows in row-number order, generating the tables concurrently; returns
    * the bytes written per table. */
  def write(s: SparkSession, dir: String, names: Seq[String], seed: Long): Map[String, Long] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = names.map { n =>
        val out = s"$dir/$n.parquet"
        pool.submit(() => {
          table(s, n, seed).orderBy("__row").drop("__row").coalesce(1)
            .write.mode("overwrite").parquet(out)
          n -> Disk.treeBytes(java.nio.file.Paths.get(out))
        })
      }
      jobs.map(_.get()).toMap
    } finally pool.shutdown()
  }
}
