package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs.
  *
  * `tables` writes the ten tables the registry queries read (same
  * names, schemas and value domains as the engine's test fixtures),
  * one parquet file each. Every column is a pure function of the row
  * id and a fixed seed, so the files are identical on every run and
  * every core count — the stored expected query outputs depend on it.
  *
  * `etlSource` writes the CSV a job loads; its content follows
  * `--seed`, and it returns the exact row and bad-row counts. */
object DataGen {

  private val Seed = 42

  /** Murmur3 of (id, salt, fixed seed), as a non-negative value < m. */
  private def h(m: Int, salt: Int, id: Column = col("id")): Column =
    pmod(hash(id, lit(salt), lit(Seed)), lit(m))

  private def pick(values: Seq[String], salt: Int, id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), h(values.size, salt, id) + 1)

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort",
    "query", "fast", "the")

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
                         lineitem: Long, events: Long, documents: Long, embeddings: Long) {
    def describe(names: Set[String]): String =
      Seq("lineitem" -> lineitem, "orders" -> orders, "customer" -> customer, "part" -> part,
        "supplier" -> supplier, "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
        .filter(t => names(t._1)).map { case (t, n) => s"$t=$n" }.mkString(" ")
  }

  /** TPC-H-style row counts at scale factor `sf` (lineitem = 6M x sf). */
  def sizes(sf: Double): Sizes = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Sizes(n(150000), math.max(10L, n(10000)), n(200000), n(1500000), n(6000000),
      n(1000000), math.max(500L, n(50000)), math.max(500L, n(20000)))
  }

  /** Writes the named tables (of the ten) at scale factor `sf`. */
  def tables(spark: SparkSession, dir: String, sf: Double, names: Set[String]): Sizes = {
    val s = sizes(sf)
    def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    // one plain file per table, like the fixtures: the streaming
    // queries link `<name>.parquet` itself into their source dirs
    def save(name: String, df: => DataFrame): Unit = if (names(name)) {
      val tmp = new File(s"$dir/_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one parquet file for $name, found ${part.length}")
      val target = new File(s"$dir/$name.parquet")
      target.delete()
      require(part.head.renameTo(target), s"could not move ${part.head} to $target")
      graft.CacheDirs.deleteRecursively(tmp)
    }
    def money(lo: Double, cents: Int, salt: Int): Column =
      round(lit(lo) + h(cents, salt) / 100.0, 2)

    save("region", spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }).toDF("r_regionkey", "r_name"))
    save("nation", spark.createDataFrame((0 until 25).map(i => (i, s"NATION_$i", i % 5)))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", range(s.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(25, 1).as("c_nationkey"),
      money(-999.99, 1099999, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3).as("c_mktsegment")))
    save("supplier", range(s.supplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(25, 4).as("s_nationkey"),
      money(-999.99, 1099999, 5).as("s_acctbal")))
    save("part", range(s.part).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), 6),
        pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), 7)).as("p_name"),
      concat(lit("Brand#"), (h(25, 8) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9).as("p_type"),
      (h(50, 10) + 1).as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")))
    save("orders", range(s.orders).select(
      col("id").as("o_orderkey"),
      h(s.customer.toInt, 11).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      money(1000.0, 49900000, 13).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + h(2404, 14).cast("long") * 86400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15).as("o_orderpriority")))
    val qty = (h(50, 19) + 1).cast("double")
    save("lineitem", range(s.lineitem).select(
      h(s.orders.toInt, 16).cast("long").as("l_orderkey"),
      h(s.part.toInt, 17).cast("long").as("l_partkey"),
      h(s.supplier.toInt, 18).cast("long").as("l_suppkey"),
      (h(7, 20) + 1).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + h(1200, 21) + h(100, 22) / 100.0), 2).as("l_extendedprice"),
      (h(11, 23) / 100.0).as("l_discount"),
      (h(9, 24) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 25).as("l_returnflag"),
      pick(Seq("F", "O"), 26).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) + h(2499, 27).cast("long") * 86400).as("l_shipdate")))
    // events arrive in id order across 30 days, with per-row jitter
    val span = 30L * 86400L * 1000000L / s.events
    save("events", range(s.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * span + h(math.max(1L, span).toInt, 28))
        .as("ts"),
      h(math.max(15L, s.events / 66).toInt, 29).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 30).as("event_type"),
      money(0.01, 49000, 31).as("value"),
      format_string("{\"k\": %d}", h(100, 32)).as("props")))
    // documents 10 and 19 of every 20 are near-duplicates of their
    // predecessor (so fresh batches of doc_id % 10 = 0 have matches)
    val srcId = when(pmod(col("id"), lit(20)).isin(10, 19), col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), h(90, 33, srcId) + 10),
      i => element_at(array(vocab.map(lit): _*), pmod(hash(srcId, i, lit(Seed)), lit(vocab.size)) + 1))
    val text = concat_ws(" ", words, when(srcId =!= col("id"), lit("dup")))
    save("documents", range(s.documents).select(col("id").as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh", "en", "de", "es").map(lit): _*),
          h(10, 34, col("doc_id")) + 1).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    // unit vectors around one of ten label centroids
    val label = h(10, 35)
    val raw = transform(sequence(lit(0), lit(63)), d =>
      (pmod(hash(label, d, lit(7), lit(Seed)), lit(2001)) - 1000) / 1000.0 +
        (pmod(hash(col("id"), d, lit(8), lit(Seed)), lit(2001)) - 1000) / 2500.0)
    save("embeddings", range(s.embeddings).select(col("id").as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
    s
  }

  /** Exact truth about a generated ETL source file set. */
  final case class EtlTruth(rows: Long, keyStride: Long, badKeys: Set[Long]) {
    def bad: Long = badKeys.size.toLong
    def goodKeys: Iterator[Long] =
      Iterator.range(0L, rows).map(_ * keyStride).filterNot(badKeys)
  }

  val etlHeader: Seq[String] = Seq("order_id", "customer_id", "customer_name", "country",
    "amount", "quantity", "order_date", "status", "version")

  /** Writes `rows` CSV rows over `files` part files. About 1% of the
    * rows carry an unparseable `amount`; `keyStride`/`version` let a
    * second call produce an update batch over existing keys. */
  def etlSource(dir: String, seed: Long, rows: Long, files: Int,
                keyStride: Long = 1L, version: Int = 1, badEvery: Int = 100): EtlTruth = {
    new File(dir).mkdirs()
    val rnd = new java.util.SplittableRandom(seed * 1000003L + version)
    val countries = Array("US", "DE", "FR", "IN", "BR", "JP", "GB", "ES", "CN", "MX")
    val statuses = Array("NEW", "PAID", "SHIPPED", "RETURNED")
    val badAmounts = Array("n/a", "12..5", "", "1e", "--3")
    val bad = Set.newBuilder[Long]
    val perFile = (rows + files - 1) / files
    var id = 0L
    for (f <- 0 until files) {
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$f%05d.csv")), StandardCharsets.UTF_8), 1 << 16)
      try {
        w.write(etlHeader.mkString(",")); w.write('\n')
        var i = 0L
        while (i < perFile && id < rows) {
          val key = id * keyStride
          val isBad = rnd.nextInt(badEvery) == 0
          val amount =
            if (isBad) { bad += key; badAmounts(rnd.nextInt(badAmounts.length)) }
            else f"${rnd.nextInt(1000000) / 100.0}%.2f"
          val day = rnd.nextInt(2400)
          val date = java.time.LocalDate.of(2018, 1, 1).plusDays(day.toLong)
          w.write(s"$key,${rnd.nextInt(50000)},Customer ${key % 9973},${countries(rnd.nextInt(10))}," +
            s"$amount,${1 + rnd.nextInt(20)},$date,${statuses(rnd.nextInt(4))},$version\n")
          id += 1; i += 1
        }
      } finally w.close()
    }
    EtlTruth(rows, keyStride, bad.result())
  }
}
