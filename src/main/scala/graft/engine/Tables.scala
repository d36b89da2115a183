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
    // not computeIfAbsent: it holds the key's hash-bin lock for the whole
    // read, so the concurrent loads of tables that share a bin would queue
    // behind each other; a rare duplicate read is cheaper
    Option(perSession.get((dir, name))).getOrElse {
      val df = read(spark, dir, name)
      Option(perSession.putIfAbsent((dir, name), df)).getOrElse(df)
    }
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
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
    * The ten load → cache → count jobs run CONCURRENTLY, one thread per
    * table (DuckDB likewise schedules independent pipelines side by side,
    * `src/parallel/executor.cpp`): each fact file is one row group, so
    * each scan is a single task, and run one after another they left all
    * but one core idle. MEASURED with perfbench `analytic` (sf0.1 pooled,
    * local[4] on 4 vCPU, 10 runs each): median `engine.warm_s` 5.29 s
    * serial → 3.79 s concurrent (second set-up, JVM warm: 3.74 → 2.44 s).
    * lineitem's load, one-task scan and scatter is now the critical path.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    val perSession = cache.get(spark)
    // scatter to the session's shuffle fanout (data-sized; see
    // EngineSession.tuneForScale) — NOT raw core count: a 32-way cached
    // layout of a 10 MB table costs more task scheduling than it buys
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    eachTable(spark, "warm", names) { n =>
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

  /** Register every fixture as a temp view so spark.sql(...) can be used.
    * The loads not cached yet (each a file listing plus a schema-inference
    * job) run concurrently; once all ten are cached this is ten cheap
    * view registrations.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val perSession = cache.get(spark)
    eachTable(spark, "load", names.filterNot(n => perSession.containsKey((dir, n))))(
      load(spark, dir, _))
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
  }

  /** Runs `job` for every table at once, one short-lived thread each
    * (named `graft-<verb>-<table>`, Spark job description
    * `graft <verb> <table>`), and returns after every thread has ended.
    * The first failure in table order is rethrown as itself.
    */
  private def eachTable(spark: SparkSession, verb: String, tables: Seq[String])(
      job: String => Unit): Unit = {
    val failures = new Array[Throwable](tables.size)
    val threads = tables.zipWithIndex.map { case (n, i) =>
      new Thread(() =>
        try {
          spark.sparkContext.setJobDescription(s"graft $verb $n")
          job(n)
        } catch { case t: Throwable => failures(i) = t },
        s"graft-$verb-$n")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.find(_ != null).foreach(t => throw t)
  }
}
