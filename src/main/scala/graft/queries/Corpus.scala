package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Corpus-preparation operators for LLM training-data pipelines, beyond
  * the dedup/similarity/text-analysis families in Pipeline.scala:
  *
  *  - sliding-window document chunking (token windows with overlap —
  *    the pre-tokenization split step; generator expression, no UDF, so
  *    the explode stays in whole-stage codegen and scales row-local)
  *  - corpus vocabulary (token explode → count — the classic word-count
  *    shuffle, map-side combined)
  *  - per-label embedding centroids (posexplode over the vector column;
  *    fixed-point mantissa sums keep float accumulation order-independent
  *    → hash-identical across engines)
  *  - deterministic stratified sampling (exact N per stratum via a
  *    Knuth-hash ranking — reproducible across runs/engines, no RNG)
  *  - benchmark-contamination check (normalized-hash semi-join against a
  *    blocklist; the blocklist side broadcasts at any scale)
  *
  * All five are exact/deterministic, so each carries a full DuckDB oracle.
  */
object Corpus extends Pack {

  // ---- sliding-window chunking: width 16 tokens, stride 12 ---------------
  // chunk count = 1 + ceil((n-16)/12) for n>16 else 1, via integer math
  // (identical both engines; float ceil would invite ulp drift)
  built("q_text_chunk",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |  FROM documents WHERE doc_id < 50),
      |c AS (
      |  SELECT doc_id, unnest(generate_series(0,
      |    CASE WHEN len(toks) > 16
      |         THEN (len(toks) - 16 + 11) // 12 ELSE 0 END)) AS chunk_ix, toks
      |  FROM t)
      |SELECT doc_id, chunk_ix,
      |  array_to_string(list_slice(toks, chunk_ix*12 + 1, chunk_ix*12 + 16), ' ') AS chunk
      |FROM c ORDER BY doc_id, chunk_ix""") { (s, dir) =>
    Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n_extra",
        when(size(col("toks")) > 16,
          floor((size(col("toks")) - lit(16) + lit(11)) / lit(12)).cast("int"))
          .otherwise(lit(0)))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), col("n_extra"))).as(Seq("chunk_ix", "_i")))
      .select(col("doc_id"), col("chunk_ix").cast("bigint").as("chunk_ix"),
        array_join(slice(col("toks"), col("chunk_ix") * 12 + 1, lit(16)), " ").as("chunk"))
      .orderBy("doc_id", "chunk_ix")
  }

  // ---- corpus vocabulary: token counts, top 50 ---------------------------
  built("q_text_vocab",
    """SELECT tok, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents)
      |WHERE tok <> ''
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)
  }

  // ---- per-label embedding centroids (order-independent float sums) ------
  built("q_embed_centroid",
    """SELECT label, i AS pos,
      |  (CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT))
      |        AS DOUBLE) / count(*)) / 1000000.0 AS centroid
      |FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i)
      |GROUP BY label, i ORDER BY label, pos""") { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(((sum(round(col("x").cast("double") * 1000000).cast("bigint"))
        .cast("double") / count(lit(1))) / 1000000.0).as("centroid"))
      .orderBy("label", "pos")
      .withColumnRenamed("pos", "pos")
      .select(col("label"), col("pos").cast("bigint").as("pos"), col("centroid"))
  }

  // ---- stratified sampling: exact 5 docs per source, Knuth-hash rank -----
  // (deterministic "random": rank by (doc_id * 2654435761) mod 2^32 —
  // identical across engines and runs, unlike RNG-backed TABLESAMPLE)
  q("q_sample_stratified",
    """SELECT source, slot, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS slot
      |  FROM documents)
      |WHERE slot <= 5 ORDER BY source, slot""")

  // ---- contamination check: normalized-hash semi-join vs a blocklist -----
  // (blocklist = every 25th doc, standing in for a benchmark test set;
  // exact-normalized match is the first pass of decontamination — the
  // n-gram overlap pass is q_dedup_ngram_jaccard's machinery)
  built("q_contamination",
    """WITH block AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS h
      |  FROM documents WHERE doc_id % 25 = 0)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN block b ON md5(lower(trim(d.text))) = b.h
      |ORDER BY d.doc_id""") { (s, dir) =>
    val d = Tables.documents(s, dir)
    val block = broadcast(
      d.filter(col("doc_id") % 25 === 0)
        .select(md5(lower(trim(col("text")))).as("h")).distinct())
    d.select(col("doc_id"), col("source"), md5(lower(trim(col("text")))).as("dh"))
      .join(block, col("dh") === col("h"), "left_semi")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  // ---- int8 embedding quantization ---------------------------------------
  // Per-vector symmetric scalar quantization (the standard embedding-store
  // compression): scale = max|x|, q = round(127·x/scale). All ops are
  // per-row HOFs — floor(x+0.5) instead of round() because the engines'
  // round-half conventions differ on exact .5 doubles; integer q-sums are
  // exact. Row-local → scales to any corpus size with zero shuffles.
  q("q_embed_quantize",
    """SELECT vec_id, label, scale,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(list_min(q) AS INTEGER) AS q_min,
      |  CAST(list_max(q) AS INTEGER) AS q_max
      |FROM (
      |  SELECT vec_id, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
      |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
      |         THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding, x -> CAST(floor(
      |           CAST(x AS DOUBLE) * 127
      |             / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
      |           + 0.5) AS INTEGER)) END AS q
      |  FROM embeddings)
      |ORDER BY vec_id""")

  // ---- sequence packing: contiguous fill into context windows ------------
  // Docs concatenate per language in doc_id order; a doc lands in the bin
  // where its first token falls (exclusive running sum div window). The
  // deterministic streaming rule every training-data packer can reproduce,
  // and it distributes via ChunkedWindow.keyedRunningSum: rows shard into
  // doc_id chunks, each (lang, chunk) sums locally in parallel, and the
  // per-chunk totals prefix-combine through a window over the tiny totals
  // frame — so a 90%-one-language corpus still spreads across every task
  // (PlanSpec asserts >1 task on a single-language input). All arithmetic
  // is exact integers.
  built("q_pack_sequences",
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    len(string_split_regex(lower(text), '\s+')) AS n_tok,
      |    coalesce(sum(len(string_split_regex(lower(text), '\s+')))
      |      OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      |  FROM documents)
      |SELECT lang, CAST(start_tok // 4096 AS BIGINT) AS bin,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
      |  min(doc_id) AS first_doc
      |FROM t GROUP BY 1, 2 ORDER BY lang, bin""") { (s, dir) =>
    val nTok = graft.pipeline.TextAnalysis.tokenCount(col("text"))
    val toks = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), nTok.as("n_tok"))
    graft.operators.ChunkedWindow
      .keyedRunningSum(toks, Seq("lang"), "doc_id", col("n_tok"), "start_tok")
      .groupBy(col("lang"), floor(col("start_tok") / 4096).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("bigint").as("bin_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("lang", "bin")
  }
}
