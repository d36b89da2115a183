package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture loader: the driver's parquet star schema at
  * /root/testdata/<sf>/<table>.parquet (see TESTDATA.md / FIXTURES.md).
  *
  * Equivalent of the reference's base-table scan with projection/filter
  * pushdown (`/root/reference/src/execution/operator/scan/
  * physical_table_scan.cpp`) — Spark's parquet DataSource does the
  * pushdown; we keep scans declarative so Catalyst prunes columns and
  * row groups.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loaded-plan cache: `spark.read.parquet` pays a driver-side file
    * listing + footer/schema read every call (~30-50 ms), and SQL-based
    * queries register all ten fixtures — uncached that alone costs ~0.4 s
    * per query. DataFrames are immutable plans, so reuse per
    * (session, dir, table) is safe.
    *
    * Eviction is EXPLICIT, not weak-key: a cached DataFrame strongly
    * references its session (`df.sparkSession`), so a WeakHashMap keyed by
    * session would hold a value→key cycle and never collect anything. A
    * listener on the session's context clears its entries when the
    * application ends, so a long-lived JVM hosting successive contexts
    * does not accumulate dead sessions' plans.
    */
  private val cache = graft.functions.SessionScoped(
    () => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.get(spark)
    perSession.computeIfAbsent((dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") {
        // ts arrives either as TIMESTAMP(NANOS) read with nanosAsLong
        // (epoch-nanos LongType — older fixture generations) or as a
        // native µs timestamp (current generation). Normalize to µs
        // timestamp (integer DIV — ns epoch exceeds double's mantissa).
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(
                org.apache.spark.sql.functions.expr("ts DIV 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            // session TZ is pinned UTC, so NTZ -> LTZ preserves the
            // wall clock; downstream uses unix_micros/watermarks which
            // want the LTZ type
            df.withColumn("ts", org.apache.spark.sql.functions
              .col("ts").cast("timestamp"))
          case _ => df
        }
      } else df
    })
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Buffer pool: pin the fixture tables in the session's in-memory
    * columnar cache — the Spark analogue of the reference's buffer manager
    * (`/root/reference/src/storage/buffer_manager.cpp`) and of its own
    * benchmark protocol, which LOADS tables into native storage before
    * timing queries (BASELINE.md: sf1 "load + run";
    * `/root/reference/benchmark/tpch/sf1/tpch_sf1.benchmark.in`).
    *
    * Fact-sized tables are scattered across the default parallelism before
    * caching: the driver fixtures are single-row-group parquet files, and a
    * row group is Spark's split atom, so an uncached scan is ONE task no
    * matter the cores — decoded once into n-partition cached batches, every
    * downstream stage starts parallel. Dimension tables keep their single
    * partition (they broadcast anyway). The warmed plan REPLACES the
    * session's plan-cache entry, so every query path (DataFrame and SQL
    * view alike) picks it up without change.
    *
    * Row order is not preserved across the scatter, so order-SENSITIVE
    * operators over raw table order (positional join) should not be mixed
    * with a warmed session — Verify never warms.
    *
    * MEASURED at sf0.1 (10 MB single-row-group fixtures, local[32]): with
    * the scatter fanout tracking data size (8), warming cuts the bench
    * 6.54 → 5.29 s — the big wins are per-row compute kernels (minhash
    * signatures 0.60 → 0.19 s) that were single-task on the 1-row-group
    * file and now run parallel from cache. The same cache scattered 32
    * ways under the static AQE profile REGRESSED to 18.7 s: per-task
    * scheduling on near-empty cached partitions dwarfs what it
    * parallelizes, so fanout sizing is the load-then-query protocol's
    * load-bearing half.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    val perSession = cache.get(spark)
    // scatter to the session's shuffle fanout (data-sized; see
    // EngineSession.tuneForScale) — NOT raw core count: a 32-way cached
    // layout of a 10 MB table costs more task scheduling than it buys
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    names.foreach { n =>
      val base = load(spark, dir, n)
      val pooled =
        if (dims(n)) base.cache()
        else base.repartition(par).cache()
      pooled.count() // materialize now — load time is load time, not query time
      perSession.put((dir, n), pooled)
    }
  }

  // broadcast-side tables stay single-partition: scattering a ≤300 KB
  // table means every broadcast build collects N near-empty tasks
  private val dims = Set("region", "nation", "customer", "supplier", "part")

  /** Register every fixture as a temp view so spark.sql(...) can be used. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
