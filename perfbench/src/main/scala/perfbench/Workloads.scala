package perfbench

import graft.job.JobRunner
import graft.model._
import graft.operators.ErrorPolicy
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What an operation reports besides its wall time. */
final case class OpOutput(sourceRows: Long = 0L, written: Long = 0L, rejected: Long = 0L)

/** One operation of a workload. A query operation is split into the
  * registry function (`build`, eager driver work), planning and a
  * noop write; an ETL operation is one `JobRunner.run` call. */
sealed trait Op { def name: String }

/** `build` calls the registry function on the workload's data;
  * `expectKey` names the data set in the stored expected outputs. */
final case class QueryOp(name: String, build: () => DataFrame, expectKey: String) extends Op

final case class JobOp(name: String, cfg: JobConfig, truth: Expect, readBack: SourceConfig)
    extends Op

/** Exact outcome a job must report: rows in, rows written, rows rejected. */
final case class Expect(sourceRows: Long, written: Long, rejected: Long)

trait Workload {
  /** Generates the inputs; returns a description of their sizes. */
  def generate(): String
  /** Per-run preparation after the inputs exist (e.g. creating a table). */
  def prepare(): Unit = ()
  /** Order of one pass. */
  def order(seed: Long): Seq[Op]
}

object Workloads {

  /** Registry rows per workload. Each list is a subset of the rows
    * the workload stands for, sized so one pass takes a few seconds:
    * README.md lists the rows left out and why. */
  val analytics: Seq[String] = Seq("q1_agg", "q3_topk_revenue", "q5_nation_revenue",
    "q8_market_share", "window_running", "topk_per_group_agg", "events_sessionize",
    "json_extract")

  val dedup: Seq[String] = Seq("dedup_prefix_pairs", "dedup_minhash_pairs",
    "dedup_simhash_pairs", "etl_ingest_dedup", "sim_ivf_topk", "decontaminate")

  /** Tables each query workload reads. */
  private val analyticsTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  private val dedupTables = Seq("documents", "embeddings")

  val names: Seq[String] = Seq("etl_jobs", "analytics_queries", "dedup_stream")

  /** `scale` multiplies every input size; 1.0 is the default benchmark size. */
  def apply(spark: SparkSession, name: String, work: String, seed: Long, scale: Double): Workload =
    name match {
      case "etl_jobs" => new EtlJobs(spark, work, seed, math.max(1000L, math.round(200000 * scale)))
      case "analytics_queries" =>
        new QueryWorkload(spark, name, analytics, analyticsTables, work, 0.02 * scale)
      case "dedup_stream" => new QueryWorkload(spark, name, dedup, dedupTables, work, 0.02 * scale)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }

  /** Noop sink: evaluates the full output without a real write. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count plus an order-insensitive hash of a query's output.
    * Floating-point values are hashed at 7 significant digits, so a
    * different summation order (another core count) gives the same
    * hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType))
      case ArrayType(et, _) if et == DoubleType || et == FloatType =>
        transform(c, x => format_string("%.6e", x.cast(DoubleType)))
      case _: StructType | _: MapType | _: ArrayType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}

/** Registry queries over generated TPC-H-style tables, noop sink. */
final class QueryWorkload(spark: SparkSession, name: String, queryNames: Seq[String],
                          tables: Seq[String], work: String, sf: Double) extends Workload {
  val dataDir = s"$work/data"
  private val registry = graft.SparkEntry.queries
  private val expectKey = f"$name@sf$sf%.4f"
  private val ops = queryNames.map { n =>
    val fn = registry.getOrElse(n, throw new IllegalStateException(s"query '$n' is not in the registry"))
    QueryOp(n, () => fn(spark, dataDir), expectKey)
  }
  def generate(): String =
    s"sf=$sf " + DataGen.tables(spark, dataDir, sf, tables.toSet).describe(tables.toSet)
  def order(seed: Long): Seq[Op] = new scala.util.Random(seed).shuffle(ops)
}

/** The paper's own path: config-driven jobs over a generated CSV. */
final class EtlJobs(spark: SparkSession, work: String, seed: Long, rows: Long) extends Workload {
  private val src = s"$work/etl/source"
  private val upd = s"$work/etl/updates"
  private val jdbcSrc = s"$work/etl/jdbc_source"
  private val out = s"$work/etl/out"
  private val jdbcRows = math.max(100L, rows / 10)
  private val jdbcUrl = s"jdbc:derby:$work/derby/benchdb;create=true"
  private val files = 8

  private var truth: Map[String, Expect] = Map.empty

  private def mappings: List[FieldMapping] = List(
    FieldMapping("order_id", "OrderId", "NUMBER", "LONG", isDestNullable = false),
    FieldMapping("customer_id", "CustomerId", "NUMBER", "INTEGER"),
    FieldMapping("customer_name", "CustomerName", "VARCHAR2", "STRING",
      transformationRule = Some("TRIM")),
    FieldMapping("country", "Country", "VARCHAR2", "STRING", transformationRule = Some("UPPERCASE")),
    FieldMapping("amount", "Amount", "NUMBER", "DECIMAL(12,2)", isDestNullable = false),
    FieldMapping("quantity", "Quantity", "NUMBER", "INTEGER"),
    FieldMapping("order_date", "OrderDate", "VARCHAR2", "DATE", formatPattern = Some("yyyy-MM-dd")),
    FieldMapping("status", "Status", "VARCHAR2", "STRING"),
    FieldMapping("version", "Version", "NUMBER", "LONG", isDestNullable = false))

  private def csvSource(path: String) = SourceConfig("CSV",
    ConnectionDetails(path = Some(path), includeHeader = Some(true), delimiter = Some(",")))
  private def logOnly = ErrorHandling("LOG_ONLY")
  private val jdbcConn = ConnectionDetails(jdbcUrl = Some(jdbcUrl), tableName = Some("BENCH_ORDERS"),
    createTableColumnTypes = Some("CustomerName VARCHAR(64), Country VARCHAR(8), Status VARCHAR(16)"))
  private val parquetDest = DestinationConfig("PARQUET",
    ConnectionDetails(path = Some(s"$out/orders_parquet")), batchSize = 10000)

  val loadParquet: JobConfig = JobConfig("load_parquet", source = csvSource(src),
    destination = Some(parquetDest), mappings = mappings,
    errorHandling = ErrorHandling("ROUTE_TO_FILE", Some(s"$out/orders_errors"), Long.MaxValue),
    steps = List("VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD", "NOTIFY_SUCCESS"))
  val mergeLatest: JobConfig = JobConfig("merge_keep_latest", source = csvSource(upd),
    destination = Some(parquetDest), mappings = mappings, errorHandling = logOnly,
    transformation = Transformation(parameters = Map("mergeStrategy" -> "KEEP_LATEST",
      "mergeKeys" -> "OrderId", "versionColumn" -> "Version")),
    steps = List("MERGE_STRATEGY"))
  val loadCsv: JobConfig = JobConfig("load_csv", source = csvSource(src),
    destination = Some(DestinationConfig("CSV", ConnectionDetails(filePath = Some(s"$out/orders_csv"),
      includeHeader = Some(true)), batchSize = 10000)),
    mappings = mappings, errorHandling = logOnly, steps = List("LOAD"))
  val loadJdbc: JobConfig = JobConfig("load_jdbc", source = csvSource(jdbcSrc),
    destination = Some(DestinationConfig("JDBC", jdbcConn, batchSize = 1000)),
    mappings = mappings, errorHandling = logOnly, steps = List("TRUNCATE_DESTINATION", "LOAD"))

  private def ops: Seq[Op] = Seq(
    JobOp("load_parquet", loadParquet, truth("load_parquet"),
      SourceConfig("PARQUET", parquetDest.connectionDetails)),
    JobOp("merge_keep_latest", mergeLatest, truth("merge_keep_latest"),
      SourceConfig("PARQUET", parquetDest.connectionDetails)),
    JobOp("load_csv", loadCsv, truth("load_csv"), csvSource(s"$out/orders_csv")),
    JobOp("load_jdbc", loadJdbc, truth("load_jdbc"), SourceConfig("JDBC", jdbcConn)))

  /** Jobs depend on each other's output, so the order is fixed. */
  def order(seed: Long): Seq[Op] = ops

  def generate(): String = {
    val main = DataGen.etlSource(src, seed, rows, files)
    val updates = DataGen.etlSource(upd, seed, rows / 10, files, keyStride = 10, version = 2)
    val jdbc = DataGen.etlSource(jdbcSrc, seed + 1, jdbcRows, files)
    val good = main.rows - main.bad
    // KEEP_LATEST: every good update key either replaces a loaded row
    // or adds back a key whose first load was rejected
    val merged = good + updates.goodKeys.count(main.badKeys)
    truth = Map(
      "load_parquet" -> Expect(main.rows, good, main.bad),
      "merge_keep_latest" -> Expect(updates.rows, merged, updates.bad),
      "load_csv" -> Expect(main.rows, good, main.bad),
      "load_jdbc" -> Expect(jdbc.rows, jdbc.rows - jdbc.bad, jdbc.bad))
    s"rows=$rows jdbc_rows=$jdbcRows update_rows=${updates.rows} bad_rows=${main.bad} files=$files"
  }

  /** TRUNCATE_DESTINATION needs the table to exist. Column names are
    * quoted as Spark's JDBC writer quotes them. */
  override def prepare(): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try conn.createStatement().execute("CREATE TABLE BENCH_ORDERS (\"OrderId\" BIGINT, " +
      "\"CustomerId\" INTEGER, \"CustomerName\" VARCHAR(64), \"Country\" VARCHAR(8), " +
      "\"Amount\" DECIMAL(12,2), \"Quantity\" INTEGER, \"OrderDate\" DATE, " +
      "\"Status\" VARCHAR(16), \"Version\" BIGINT)")
    finally conn.close()
  }

  /** The call ladder on one job's config. Each rung adds one layer to
    * the rung below: scan, mapping, error policy, sink write, whole
    * job. Returns (rung name, seconds) in that order. */
  def ladder(cfg: JobConfig): Seq[(String, Double)] = {
    def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def enforced() = ErrorPolicy.enforceObserved(JobRunner.buildDataFrame(spark, cfg),
      cfg.mappings, cfg.errorHandling).good
    val dest = cfg.destination.get
    val side = dest.`type` match {
      case "JDBC" => dest.copy(connectionDetails = dest.connectionDetails.copy(tableName = Some("BENCH_LADDER")),
        saveMode = "overwrite")
      case _ => dest.copy(connectionDetails = dest.connectionDetails.copy(
        path = Some(s"$out/ladder_${cfg.jobId}"), filePath = None))
    }
    Seq(
      "scan" -> time(Workloads.noop(Readers.forConfig(spark, cfg.source, cfg.mappings))),
      "mapped" -> time(Workloads.noop(JobRunner.buildDataFrame(spark, cfg))),
      "enforced" -> time(Workloads.noop(enforced())),
      "written" -> time(Writers.write(enforced(), side)),
      "job" -> time(JobRunner.run(spark, cfg, Quiet)))
  }
}

/** Job notifier that stays silent: the benchmark reads the JobResult. */
object Quiet extends JobRunner.Notifier {
  def notify(r: JobRunner.JobResult): Unit = ()
}
