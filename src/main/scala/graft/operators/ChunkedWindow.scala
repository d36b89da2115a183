package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Global-order window aggregates without the single-task sort that
  * Spark's empty-PARTITION-BY `WindowExec` forces (everything moves to ONE
  * task — dead at 100× scale). The reference streams these
  * (`/root/reference/src/execution/operator/aggregate/
  * physical_streaming_window.cpp`); the distributed equivalent is
  * chunk-and-overlap for bounded ROWS frames ([[boundedFrame]]) and a
  * two-pass prefix scan for UNBOUNDED carry frames ([[unboundedCarry]]).
  *
  * Chunk ids are NOT taken from `spark_partition_id()` over a
  * `repartitionByRange`: every job re-executing that lineage re-runs the
  * range SAMPLING, and the sampled boundaries can drift between the
  * count/boundary job and the window job (observed ~200-row drift on a
  * 10k-row parquet scan), silently mis-assigning carry state. Instead the
  * chunk id is a pure EXPRESSION of the row: one deterministic
  * approxQuantile pass derives equi-depth cut points, and a binary search
  * over the literal cuts assigns `chunk = #cuts <= orderCol`. Every
  * re-execution of the plan then sees the identical row→chunk mapping, so
  * the cheap metadata jobs (per-chunk counts / boundary payloads) agree
  * with the window pass by construction. The order column must be numeric
  * and globally unique (both callers order by a key) — ties straddling a
  * chunk boundary would make frames ambiguous, exactly the nondeterminism
  * a global ROWS frame has anyway.
  */
object ChunkedWindow {

  /** Deterministic equi-depth chunk id for `orderCol`: (expr, chunkCount).
    * Cuts collapse under heavy duplication; the id count degrades
    * gracefully (1 chunk = the plain single-task shape, still exact).
    *
    * The id is a CASE tree that binary-searches the sorted cuts (depth
    * log2 of the cut count; a NULL key lands in chunk 0), not a
    * higher-order function over a cut array: Catalyst canonicalizes a
    * lambda's variables to small expression ids and checks an inferred
    * constraint's references on that canonical form, so when the order
    * column's own id was one of them, the `_chunk` join key's constraint
    * lost the column and landed as a filter on the carry side, which has
    * no such column (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in a task).
    */
  private def chunkExpr(df: DataFrame, orderCol: String, n: Int): (Column, Int) = {
    val cuts = Banding.cuts(df, orderCol, n, 0.001)
    val key = col(orderCol).cast("double")
    // #cuts <= key, known to lie in [lo, hi]
    def count(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(key >= cuts(mid), count(mid + 1, hi)).otherwise(count(lo, mid))
      }
    (count(0, cuts.length), cuts.length + 1)
  }

  /** Append the window columns produced by `build` (from a WindowSpec whose
    * frame is `ROWS BETWEEN before PRECEDING AND after FOLLOWING` over the
    * global `orderCol` order) to `df`, computed chunk-parallel:
    *
    *  1. assign each row its deterministic chunk id (contiguous slices of
    *     the global order, all chunks in parallel);
    *  2. merge undersized chunks: per-chunk counts (one cheap metadata job)
    *     feed a driver-side greedy merge so every chunk holds at least
    *     max(before, after) rows — the exactness precondition for step 3
    *     (a chunk smaller than the frame could not donate enough boundary
    *     rows, silently truncating neighbors' frames);
    *  3. duplicate each chunk's last `before` rows into the NEXT chunk and
    *     first `after` rows into the PREVIOUS chunk as ghosts — every real
    *     row's ±(before, after) ROWS frame is then fully present inside its
    *     own chunk;
    *  4. run the ordinary per-chunk window and drop the ghosts.
    *
    * Shuffle cost: one hash exchange of rows + ghosts (the quantile pass is
    * scan-only) — versus ALL rows through one task.
    */
  def boundedFrame(
      df: DataFrame, orderCol: String, before: Int, after: Int,
      chunks: Int = 0)(build: WindowSpec => Seq[Column]): DataFrame = {
    val n =
      if (chunks > 0) chunks
      else math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val (cid, nChunks) = chunkExpr(df, orderCol, n)
    val banded = df.withColumn("_band", cid)

    // driver-side greedy merge of adjacent chunks until every chunk
    // carries at least max(before, after, 1) rows
    val need = math.max(math.max(before, after), 1)
    val counts = banded.groupBy("_band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val chunkOf = new Array[Int](nChunks)
    var chunkId = 0
    var inChunk = 0L
    for (b <- 0 until nChunks) {
      chunkOf(b) = chunkId
      inChunk += counts.getOrElse(b, 0L)
      if (inChunk >= need && b < nChunks - 1) { chunkId += 1; inChunk = 0L }
    }
    // a trailing underfull chunk folds back into its predecessor
    if (inChunk > 0 && inChunk < need && chunkId > 0) {
      for (b <- 0 until nChunks) if (chunkOf(b) == chunkId) chunkOf(b) = chunkId - 1
    }

    val chunked = banded.withColumn("_chunk",
      element_at(typedLit(chunkOf.toSeq), col("_band") + 1))
    val wIn = Window.partitionBy("_chunk").orderBy(orderCol)
    val sized = chunked
      .withColumn("_rn", row_number().over(wIn))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy("_chunk")))
    val real = sized.withColumn("_ghost", lit(false))
    val tailGhosts = sized.filter(col("_rn") > col("_cnt") - before)
      .withColumn("_chunk", col("_chunk") + 1)
      .withColumn("_ghost", lit(true))
    val headGhosts = sized.filter(col("_rn") <= after)
      .withColumn("_chunk", col("_chunk") - 1)
      .withColumn("_ghost", lit(true))
    val all = real.unionByName(tailGhosts).unionByName(headGhosts)
    val w = Window.partitionBy("_chunk").orderBy(orderCol)
      .rowsBetween(-before, after)
    all.select(df.columns.map(col) ++ (col("_ghost") +: build(w)): _*)
      .filter(!col("_ghost"))
      .drop("_ghost")
  }

  /** UNBOUNDED-frame carry over a global ordering, chunk-parallel.
    *
    * Appends two columns to `df`:
    *   - `backName` = `last(payload, ignoreNulls) OVER (ORDER BY orderCol
    *     ROWS UNBOUNDED PRECEDING..CURRENT ROW)` — the running
    *     carry-forward of the most recent non-null payload;
    *   - `fwdName` = `first(payload, ignoreNulls) OVER (ORDER BY orderCol
    *     ROWS CURRENT ROW..UNBOUNDED FOLLOWING)` — the next non-null.
    *
    * Ghost duplication can't help here — the frame is the entire prefix /
    * suffix — so this is the classic two-pass prefix scan:
    *
    *  1. each chunk computes its LOCAL running carry in parallel;
    *  2. one tiny per-chunk boundary aggregate (the chunk's final running
    *     value — one row per chunk) is collected, prefix-combined on the
    *     driver (carry-in of chunk i = latest non-null boundary of chunks
    *     < i; symmetric suffix scan for the forward direction), and
    *     broadcast-joined back on the chunk id;
    *  3. each row's global carry = coalesce(local carry, chunk carry-in).
    *
    * Driver state is one payload per chunk (~parallelism rows), not data
    * rows. Carry a `struct(...)` payload to keep several columns
    * row-atomic.
    */
  def unboundedCarry(
      df: DataFrame, orderCol: String, payload: Column,
      backName: String, fwdName: String, chunks: Int = 0): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val n =
      if (chunks > 0) chunks
      else math.max(spark.sparkContext.defaultParallelism, 1)
    val (cid, nChunks) = chunkExpr(df, orderCol, n)
    val banded = df.withColumn("_chunk", cid).withColumn("_p", payload)
    val wBack = Window.partitionBy("_chunk").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy("_chunk").orderBy(orderCol)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val local = banded
      .withColumn("_lb", last(col("_p"), ignoreNulls = true).over(wBack))
      .withColumn("_lf", first(col("_p"), ignoreNulls = true).over(wFwd))

    // per-chunk boundaries: the running value at the chunk's last row and
    // the lookahead value at its first row — ONE row per chunk. The chunk
    // id is a pure expression of the row, so this metadata job sees the
    // exact row→chunk mapping the window pass will.
    val bounds = local.groupBy("_chunk").agg(
        max_by(col("_lb"), col(orderCol)).as("_endB"),
        min_by(col("_lf"), col(orderCol)).as("_startF"))
      .collect().map(r => r.getInt(0) -> ((r.get(1), r.get(2)))).toMap

    // driver prefix/suffix combine over ≤ nChunks boundary payloads
    val backIn = new Array[Any](nChunks)
    var run: Any = null
    for (c <- 0 until nChunks) {
      backIn(c) = run
      val b = bounds.get(c).map(_._1).orNull
      if (b != null) run = b
    }
    val fwdIn = new Array[Any](nChunks)
    run = null
    for (c <- (nChunks - 1) to 0 by -1) {
      fwdIn(c) = run
      val f = bounds.get(c).map(_._2).orNull
      if (f != null) run = f
    }
    val pType = local.schema("_p").dataType
    val carrySchema = StructType(Seq(
      StructField("_chunk", IntegerType, nullable = false),
      StructField("_backIn", pType, nullable = true),
      StructField("_fwdIn", pType, nullable = true)))
    val carryRows = (0 until nChunks).map(c =>
      org.apache.spark.sql.Row(c, backIn(c), fwdIn(c)))
    val carryDf = spark.createDataFrame(
      spark.sparkContext.parallelize(carryRows, 1), carrySchema)

    local.join(broadcast(carryDf), Seq("_chunk"), "left")
      .withColumn(backName, coalesce(col("_lb"), col("_backIn")))
      .withColumn(fwdName, coalesce(col("_lf"), col("_fwdIn")))
      .drop("_chunk", "_p", "_lb", "_lf", "_backIn", "_fwdIn")
  }

  /** Keyed EXCLUSIVE running sum (`sum(value) OVER (PARTITION BY keys
    * ORDER BY orderCol ROWS UNBOUNDED PRECEDING..1 PRECEDING)`, null → 0)
    * that stays parallel even when one key dominates the table — the
    * shape `Window.partitionBy(key)` cannot give: a real pretraining
    * corpus is ~90% one language, so the plain per-key window funnels 90%
    * of the data through ONE task. Shard-carry instead:
    *
    *  1. shard rows by deterministic equi-depth chunks of `orderCol`
    *     ([[chunkExpr]] — a pure expression, identical on every
    *     re-execution);
    *  2. each (key, chunk) computes its LOCAL exclusive running sum in
    *     parallel — the chunk id refines the key partitioning, so the
    *     dominant key now spreads across all chunks;
    *  3. per-(key, chunk) totals (one map-side-combined aggregate, ≤
    *     #keys × #chunks rows) get their own exclusive prefix sum over
    *     chunk order — a window over the TINY totals frame, so the
    *     single-task-per-key concern vanishes (≤ #chunks rows per key);
    *  4. broadcast the carry-in back on (keys, chunk): global running sum
    *     = local sum + chunk carry-in.
    *
    * No driver-side state at all (unlike [[unboundedCarry]]'s boundary
    * collect) — the prefix combine is itself a (tiny) window. Exact
    * integer arithmetic as long as `value` is integral.
    */
  def keyedRunningSum(
      df: DataFrame, keys: Seq[String], orderCol: String, value: Column,
      outName: String, chunks: Int = 0): DataFrame = {
    val n =
      if (chunks > 0) chunks
      else math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val (cid, _) = chunkExpr(df, orderCol, n)
    val banded = df.withColumn("_chunk", cid).withColumn("_v", value)
    val partCols = (keys :+ "_chunk").map(col)
    val wLocal = Window.partitionBy(partCols: _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = banded
      .withColumn("_ls", coalesce(sum(col("_v")).over(wLocal), lit(0L)))
    val wCarry = Window.partitionBy(keys.map(col): _*).orderBy("_chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = banded.groupBy(partCols: _*).agg(sum(col("_v")).as("_t"))
      .withColumn("_carryIn", coalesce(sum(col("_t")).over(wCarry), lit(0L)))
      .drop("_t")
    local.join(broadcast(carry), keys :+ "_chunk", "left")
      .withColumn(outName, col("_ls") + coalesce(col("_carryIn"), lit(0L)))
      .drop("_chunk", "_v", "_ls", "_carryIn")
  }
}
