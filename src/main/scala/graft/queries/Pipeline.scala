package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import Q._

/** LLM training-data pipeline operators (SURVEY §7 M4 + builder brief):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  * similarity search (brute-force + LSH), text analysis, multimodal
  * plumbing, sessionization, tumbling-window analytics.
  */
object Pipeline extends Pack {

  // exact dedup: one shuffle on the content hash
  built("q_dedup_exact",
    """SELECT md5(lower(trim(text))) AS content_hash,
      |  min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""") { (s, dir) =>
    Dedup.exactDuplicates(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("content_hash")
  }

  // mirrors Dedup.shingleBases/minhashFromBases: ONE md5 per shingle,
  // minhash family derived by XOR masks
  private val duckBases =
    """list_transform(
      |  list_transform(generate_series(1, greatest(length(text)-7, 1)),
      |                 i -> substring(text, i, 8)),
      |  s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))""".stripMargin
  private def duckMinhash(i: Int): String =
    s"list_min(list_transform(bases, b -> xor(b, ${graft.pipeline.Dedup.mask(i)})))"
  private def duckBand(b: Int): String =
    s"md5(concat_ws('-', ${(1 to 4).map(r => duckMinhash((b - 1) * 4 + r)).mkString(", ")}))"

  // MinHash signatures: 8 hashes → 2 bands of 4 (shingle k=8)
  built("q_dedup_minhash_sig",
    s"""WITH base AS (SELECT doc_id, $duckBases AS bases FROM documents)
       |SELECT doc_id, ${duckBand(1)} AS band_1, ${duckBand(2)} AS band_2
       |FROM base ORDER BY doc_id""") { (s, dir) =>
    Dedup.withBands(Tables.documents(s, dir).select("doc_id", "text"), "text", 2, 4)
      .select("doc_id", "band_1", "band_2")
      .orderBy("doc_id")
  }

  // LSH candidate pairs + exact shingle-Jaccard verification
  built("q_dedup_minhash_pairs",
    s"""WITH base AS (SELECT doc_id, $duckBases AS bases FROM documents),
       |sig AS (
       |  SELECT doc_id, ${duckBand(1)} AS band_1, ${duckBand(2)} AS band_2
       |  FROM base),
       |b1 AS (SELECT band_1 AS bucket FROM sig GROUP BY 1 HAVING count(*) <= 100),
       |b2 AS (SELECT band_2 AS bucket FROM sig GROUP BY 1 HAVING count(*) <= 100),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
       |  JOIN b1 ON b1.bucket = a.band_1
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM sig a JOIN sig b ON a.band_2 = b.band_2 AND a.doc_id < b.doc_id
       |  JOIN b2 ON b2.bucket = a.band_2),
       |txt AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, greatest(length(text)-7, 1)),
       |  i -> substring(text, i, 8))) AS sh FROM documents)
       |SELECT p.id_a, p.id_b,
       |  round(CAST(len(list_filter(ta.sh, x -> list_contains(tb.sh, x))) AS DOUBLE) /
       |        len(list_distinct(list_concat(ta.sh, tb.sh))), 6) AS jaccard
       |FROM pairs p JOIN txt ta ON ta.doc_id = p.id_a JOIN txt tb ON tb.doc_id = p.id_b
       |ORDER BY id_a, id_b""") { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", bands = 2, rowsPerBand = 4)
    val withTexts = pairs
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
    withTexts
      .select(col("id_a"), col("id_b"),
        round(Dedup.shingleJaccard("text_a", "text_b"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // word-level n-gram Jaccard between consecutive documents
  built("q_dedup_ngram_jaccard",
    """WITH t AS (SELECT doc_id,
      |  list_distinct(string_split_regex(lower(text), '\s+')) AS w FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_filter(a.w, x -> list_contains(b.w, x))) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.w, b.w))), 6) AS jac
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""") { (s, dir) =>
    val d = Tables.documents(s, dir)
    val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(Dedup.wordNgramJaccard("text_a", "text_b", 1), 6).as("jac"))
      .orderBy("id_a")
  }

  // SimHash near-dup sketch (custom codegen expression). The oracle
  // recomputes the exact bit-majority from first-16-hex-of-md5 token
  // hashes — rendered as hex strings on both sides so 64-bit signedness
  // never enters the comparison.
  built("q_dedup_simhash",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |h AS (
      |  SELECT doc_id, unnest(list_transform(toks,
      |    tok -> CAST(concat('0x', substr(md5(tok), 1, 16)) AS UBIGINT))) AS th
      |  FROM t),
      |votes AS (
      |  SELECT doc_id, j.i AS bit,
      |    sum(CASE WHEN (th >> j.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h, (SELECT unnest(generate_series(0, 63)) AS i) j
      |  GROUP BY doc_id, j.i),
      |sh AS (
      |  SELECT doc_id,
      |    bit_or(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << bit
      |           ELSE CAST(0 AS UBIGINT) END) AS s
      |  FROM votes GROUP BY doc_id)
      |SELECT doc_id, lpad(lower(to_hex(s)), 16, '0') AS sh_hex,
      |  CAST(bit_count(xor(s, lead(s) OVER (ORDER BY doc_id))) AS BIGINT)
      |    AS hamming_to_next
      |FROM sh ORDER BY doc_id""") { (s, dir) =>
    import graft.functions.TextHash
    val w = Window.orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), TextHash.simhash(TextAnalysis.tokens(col("text"))).as("sh"))
      .withColumn("hamming_to_next",
        bit_count(col("sh").bitwiseXOR(lead(col("sh"), 1).over(w))).cast("bigint"))
      .select(col("doc_id"), format_string("%016x", col("sh")).as("sh_hex"),
        col("hamming_to_next"))
      .orderBy("doc_id")
  }

  // embedding near-dup pairs via hyperplane LSH buckets (never all-pairs)
  // IVF coarse-quantizer ANN (scale path beside the LSH variant): rows-only
  // (cell boundaries are centroid-dependent), subset-consistency spec-tested
  qRowsOnly("q_sim_topk_ivf") { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), k = 10, dims = 64)
      .orderBy("query_id", "rk")
  }

  // oracle-exact: the hyperplane signs are a deterministic md5-parity
  // formula (VecHash.planeSign, pe = seed*10007 + p), so DuckDB can
  // rebuild the identical sign matrix in SQL; list_dot_product /
  // list_cosine_similarity accumulate in the same element order as the
  // codegen kernel, and cosines round to 5 places before the threshold
  built("q_dedup_embedding",
    """WITH pl AS (
      |  SELECT band, p, list_transform(generate_series(0, 63), d ->
      |    CASE WHEN CAST(concat('0x', substr(md5(
      |        'plane:' || CAST(CASE WHEN band = 0 THEN p ELSE band * 10007 + p END AS VARCHAR)
      |         || ':' || CAST(d AS VARCHAR)), 1, 8)) AS UBIGINT) % 2 = 0
      |      THEN 1.0 ELSE -1.0 END) AS sv
      |  FROM (SELECT unnest(generate_series(0, 2)) AS band),
      |       (SELECT unnest(generate_series(0, 5)) AS p)),
      |coded AS (
      |  SELECT e.vec_id AS id, pl.band,
      |    CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.sv) >= 0
      |             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e, pl GROUP BY 1, 2),
      |small AS (SELECT band, bucket FROM coded GROUP BY 1, 2 HAVING count(*) <= 200),
      |inb AS (SELECT c.id, c.band, c.bucket FROM coded c JOIN small USING (band, bucket)),
      |prs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM inb a JOIN inb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
      |SELECT p.id_a, p.id_b,
      |  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 5) AS cos_sim
      |FROM prs p
      |JOIN embeddings ea ON ea.vec_id = p.id_a
      |JOIN embeddings eb ON eb.vec_id = p.id_b
      |WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 5) >= 0.2
      |ORDER BY id_a, id_b""") { (s, dir) =>
    Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.2,
        dims = 64, planes = 6)
      .orderBy("id_a", "id_b")
  }

  // exact brute-force cosine top-k (queries broadcast; WindowGroupLimit)
  built("q_sim_topk",
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT query_id, corpus_id,
      |    round(list_cosine_similarity(cv, qv), 5) AS cos_sim
      |  FROM c CROSS JOIN q WHERE corpus_id <> query_id),
      |ranked AS (SELECT *, row_number() OVER (
      |  PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rk FROM scored)
      |SELECT query_id, corpus_id, cos_sim, rk FROM ranked WHERE rk <= 10
      |ORDER BY query_id, rk""") { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
      .orderBy("query_id", "rk")
  }

  // approximate top-k via hyperplane LSH + exact re-rank (recall<1 by
  // design, but DETERMINISTIC: the md5-parity sign matrix, the bucket
  // codes, the Hamming-1 multi-probe set, and the rounded-cosine re-rank
  // are all reproducible in SQL — same pattern as q_dedup_embedding)
  built("q_sim_topk_lsh",
    """WITH pl AS (
      |  SELECT p, list_transform(generate_series(0, 63), d ->
      |    CASE WHEN CAST(concat('0x', substr(md5(
      |        'plane:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8))
      |      AS UBIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS sv
      |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
      |coded AS (
      |  SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
      |    CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.sv) >= 0
      |             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e, pl GROUP BY 1, 2),
      |probes AS (
      |  SELECT id AS query_id, v AS qv,
      |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
      |            xor(bucket, 4), xor(bucket, 8)]) AS bucket
      |  FROM coded WHERE id < 5),
      |scored AS (
      |  SELECT p.query_id, c.id AS corpus_id,
      |    round(list_cosine_similarity(c.v, p.qv), 5) AS cos_sim
      |  FROM coded c JOIN probes p USING (bucket) WHERE c.id <> p.query_id),
      |ranked AS (SELECT *, row_number() OVER (
      |  PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rk FROM scored)
      |SELECT query_id, corpus_id, cos_sim, rk FROM ranked WHERE rk <= 10
      |ORDER BY query_id, rk""") { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    // tables = 1: this row pins the SQL-reproducible single-table
    // pipeline (seed-0 plane family, the oracle text above); the shipped
    // multi-table recall config is pinned by PipelineSpec's quality gate
    Similarity.lshTopK(e, e.filter(col("vec_id") < 5), k = 10, dims = 64,
        planes = 4, tables = 1)
      .orderBy("query_id", "rk")
  }

  private val duckToks = "string_split_regex(lower(text), '\\s+')"
  private def duckRatio(words: Seq[String]): String =
    s"""(CAST(len(list_filter($duckToks,
       |  t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t))) AS DOUBLE)
       |  / len($duckToks))""".stripMargin

  // heuristic language ID: stopword-ratio argmax
  built("q_text_langid", {
    val rs = Seq("en", "de", "es", "fr").map(l => l -> duckRatio(TextAnalysis.stopwords(l)))
    val best = s"greatest(${rs.map(_._2).mkString(", ")})"
    s"""SELECT doc_id, lang AS labeled_lang,
       |  CASE ${rs.map { case (l, r) => s"WHEN $r >= $best AND $best > 0 THEN '$l'" }
            .mkString(" ")}
       |  ELSE 'und' END AS predicted_lang,
       |  round(${rs.head._2}, 6) AS en_ratio
       |FROM documents ORDER BY doc_id"""
  }) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.languageId(col("text")).as("predicted_lang"),
        round(TextAnalysis.stopwordRatio(col("text"), TextAnalysis.stopwords("en")), 6)
          .as("en_ratio"))
      .orderBy("doc_id")
  }

  // quality scoring (C4/Gopher-style heuristics)
  built("q_text_quality", {
    val nTok = s"len($duckToks)"
    val punct =
      s"""(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         | / length(text))""".stripMargin
    s"""SELECT doc_id,
       |  CAST($nTok AS BIGINT) AS n_tokens,
       |  round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / $nTok, 6) AS avg_word_len,
       |  round($punct, 6) AS punct_ratio,
       |  round((least($nTok / 64.0, 1.0)
       |    + CAST(len(list_distinct($duckToks)) AS DOUBLE) / $nTok
       |    + (1.0 - least($punct * 5.0, 1.0))
       |    + least(${duckRatio(TextAnalysis.stopwords("en"))} * 5.0, 1.0)) / 4.0, 6) AS quality
       |FROM documents ORDER BY doc_id"""
  }) { (s, dir) =>
    // one-pass kernel (sql.graft.TextQualityStats) — semantics identical
    // to the TextAnalysis column formulation (oracle + PipelineSpec pin
    // them); the column tree re-regexed the text once per metric
    import org.apache.spark.sql.graft.{Bridge, TextQualityStats}
    val stats = Bridge.column(TextQualityStats(
      Bridge.expression(col("text")), TextAnalysis.stopwords("en")))
    Tables.documents(s, dir)
      .withColumn("_st", stats)
      .select(col("doc_id"),
        col("_st.n_tokens").as("n_tokens"),
        round(col("_st.avg_word_len"), 6).as("avg_word_len"),
        round(col("_st.punct_ratio"), 6).as("punct_ratio"),
        round(col("_st.quality"), 6).as("quality"))
      .orderBy("doc_id")
  }

  // END-TO-END training-data pipeline in ONE query: quality filter →
  // language gate → exact dedup (keeper = min doc_id per content hash) →
  // greedy 2048-token sequence packing. Each stage reuses the exact
  // operators the standalone queries pin (TextQualityStats kernel,
  // languageId, content-hash dedup, ChunkedWindow running sum), so the
  // oracle is the same closed-form composition in DuckDB. Topology: one
  // narrow scoring map, one dedup shuffle, one running-sum pass — three
  // stages at any corpus size, no driver loops.
  built("q_pipeline_e2e", {
    val rs = Seq("en", "de", "es", "fr").map(l => l -> duckRatio(TextAnalysis.stopwords(l)))
    val best = s"greatest(${rs.map(_._2).mkString(", ")})"
    val predLang = s"CASE ${rs.map { case (l, r) => s"WHEN $r >= $best AND $best > 0 THEN '$l'" }
        .mkString(" ")} ELSE 'und' END"
    val nTok = s"len($duckToks)"
    val punct =
      s"""(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         | / length(text))""".stripMargin
    val quality =
      s"""round((least($nTok / 64.0, 1.0)
         |  + CAST(len(list_distinct($duckToks)) AS DOUBLE) / $nTok
         |  + (1.0 - least($punct * 5.0, 1.0))
         |  + least(${duckRatio(TextAnalysis.stopwords("en"))} * 5.0, 1.0)) / 4.0, 6)""".stripMargin
    s"""WITH scored AS (
       |  SELECT doc_id, text, $predLang AS plang, $quality AS q,
       |    CAST($nTok AS BIGINT) AS n_tok
       |  FROM documents),
       |filt AS (SELECT * FROM scored WHERE q >= 0.5 AND plang = 'en'),
       |kept AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text)))
       |                               ORDER BY doc_id) AS rk FROM filt) WHERE rk = 1),
       |packed AS (
       |  SELECT doc_id, n_tok,
       |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
       |  FROM kept)
       |SELECT CAST(start_tok // 2048 AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       |  min(doc_id) AS first_doc
       |FROM packed GROUP BY 1 ORDER BY bin"""
  }) { (s, dir) =>
    import org.apache.spark.sql.graft.{Bridge, TextQualityStats}
    import org.apache.spark.sql.expressions.Window
    val stats = Bridge.column(TextQualityStats(
      Bridge.expression(col("text")), TextAnalysis.stopwords("en")))
    val scored = Tables.documents(s, dir)
      .withColumn("_st", stats)
      .select(col("doc_id"), col("text"),
        TextAnalysis.languageId(col("text")).as("plang"),
        round(col("_st.quality"), 6).as("q"),
        col("_st.n_tokens").as("n_tok"))
      .where(col("q") >= 0.5 && col("plang") === "en")
    val kept = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(lower(trim(col("text"))))).orderBy("doc_id")))
      .where(col("rk") === 1)
      .select(lit("en").as("plang"), col("doc_id"), col("n_tok"))
    graft.operators.ChunkedWindow
      .keyedRunningSum(kept, Seq("plang"), "doc_id", col("n_tok"), "start_tok")
      .groupBy(floor(col("start_tok") / 2048).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("bigint").as("bin_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("bin")
  }

  // token counting: whitespace + BPE-ish subword regex
  built("q_text_tokens",
    s"""SELECT doc_id,
       |  CAST(len($duckToks) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
       |FROM documents ORDER BY doc_id""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount("lower(text)").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  // order-insensitive document fingerprint
  built("q_text_fingerprint",
    s"""SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct($duckToks)), ' ')) AS fp
       |FROM documents ORDER BY doc_id""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  // duplicate clusters: connected components over the LSH pair graph
  // (alternating large-star/small-star, O(log n) rounds); the oracle
  // computes the same components by recursive transitive closure over
  // the identical pair set
  built("q_dedup_clusters",
    s"""WITH RECURSIVE base AS (SELECT doc_id, $duckBases AS bases FROM documents),
       |sig AS (
       |  SELECT doc_id, ${duckBand(1)} AS band_1, ${duckBand(2)} AS band_2
       |  FROM base),
       |b1 AS (SELECT band_1 AS bucket FROM sig GROUP BY 1 HAVING count(*) <= 100),
       |b2 AS (SELECT band_2 AS bucket FROM sig GROUP BY 1 HAVING count(*) <= 100),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.doc_id < b.doc_id
       |  JOIN b1 ON b1.bucket = a.band_1
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM sig a JOIN sig b ON a.band_2 = b.band_2 AND a.doc_id < b.doc_id
       |  JOIN b2 ON b2.bucket = a.band_2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |FROM reach GROUP BY src ORDER BY doc_id""") { (s, dir) =>
    val pairs = Dedup.lshCandidatePairs(
      Tables.documents(s, dir), "doc_id", "text", bands = 2, rowsPerBand = 4)
    Dedup.dupClusters(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id")
  }

  // span-level dedup: duplicated 8-token windows across documents (the
  // distributed suffix-array-dedup shape — Dedup.duplicatedSpans)
  built("q_dedup_span",
    s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
       |sh AS (
       |  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS span
       |  FROM toks, unnest(generate_series(1, greatest(len(ts) - 7, 1))) AS t(i))
       |SELECT span, count(*) AS n_occ,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM sh GROUP BY span HAVING count(DISTINCT doc_id) > 1
       |ORDER BY n_occ DESC, n_docs DESC, span LIMIT 50""") { (s, dir) =>
    Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 8, topN = 50)
  }

  // PII redaction over synthesized-in-engine emails/phones/IPs (the
  // fixture corpus carries none) — both engines build the identical
  // string, then apply the identical RE2-subset patterns
  built("q_text_redact",
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(
       |    concat('contact user', doc_id, '@mail.example.org call 415-',
       |           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
       |           lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0'),
       |           ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
       |           CAST((doc_id * 5) % 256 AS VARCHAR), ' re: ', substring(text, 1, 60)),
       |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
       |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g'),
       |    '${TextAnalysis.ipRe}', '<IP>', 'g') AS redacted
       |FROM documents ORDER BY doc_id""") { (s, dir) =>
    val base = concat(
      lit("contact user"), col("doc_id"), lit("@mail.example.org call 415-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
      ((col("doc_id") * 5) % 256).cast("string"), lit(" re: "),
      substring(col("text"), 1, 60))
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.redactPii(base).as("redacted"))
      .orderBy("doc_id")
  }

  // repetition signals (Gopher quality filters): duplicated-bigram
  // fraction + top-bigram share. Per-row quadratic in bigram count —
  // fine at document grain; row-local, zero shuffles at any corpus size.
  built("q_text_repetition",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(
      |      list_transform(generate_series(1, greatest(len(string_split_regex(lower(text), '\s+')) - 1, 0)),
      |        i -> string_split_regex(lower(text), '\s+')[i] || ' ' || string_split_regex(lower(text), '\s+')[i+1]),
      |      g -> contains(g, ' ')) AS gs
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(gs) AS BIGINT) AS n_bigrams,
      |  round(CASE WHEN len(gs) = 0 THEN 0.0
      |    ELSE CAST(list_max(list_transform(list_distinct(gs),
      |           g -> len(list_filter(gs, x -> x = g)))) AS DOUBLE) / len(gs) END, 6) AS top_share,
      |  round(CASE WHEN len(gs) = 0 THEN 0.0
      |    ELSE CAST(len(list_filter(gs,
      |           g -> len(list_filter(gs, x -> x = g)) > 1)) AS DOUBLE) / len(gs) END, 6) AS dup_frac
      |FROM t ORDER BY doc_id""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextAnalysis.bigrams(col("text"))).cast("bigint").as("n_bigrams"),
        round(TextAnalysis.topBigramShare(col("text")), 6).as("top_share"),
        round(TextAnalysis.dupBigramFraction(col("text")), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  // multimodal features: REAL JDK codec roundtrip (PNG via ImageIO, WAV
  // via the JDK's WAV writer and reader, resolved once per JVM rather than
  // by an `AudioSystem` provider scan per row) over deterministically
  // synthesized payloads — the oracle computes the decoded stats from the
  // closed-form pixel/sample pattern, so any decode defect breaks the
  // hash. Narrow map, no shuffle.
  built("q_multimodal_features",
    """WITH m AS (
      |  SELECT doc_id, doc_id % 2 = 0 AS is_img,
      |    CAST(doc_id % 13 + 4 AS BIGINT) AS w, CAST(doc_id % 11 + 4 AS BIGINT) AS h,
      |    CAST(doc_id % 400 + 100 AS BIGINT) AS ns
      |  FROM documents),
      |u AS (
      |  SELECT doc_id AS media_id, 'image' AS modality,
      |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |    CAST(NULL AS INT) AS sample_rate, w*h AS n_units,
      |    list_transform(generate_series(0, w*h - 1),
      |      p -> ((p % w)*7 + (p // w)*13 + doc_id) % 256) AS vals
      |  FROM m WHERE is_img
      |  UNION ALL
      |  SELECT doc_id AS media_id, 'audio' AS modality,
      |    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
      |    8000 AS sample_rate, ns AS n_units,
      |    list_transform(generate_series(0, ns - 1),
      |      i -> (doc_id*31 + i*17) % 2003 - 1001) AS vals
      |  FROM m WHERE NOT is_img)
      |SELECT media_id, modality, width, height, sample_rate, n_units,
      |  round(CAST(list_sum(vals) AS DOUBLE) / n_units, 6) AS mean_val,
      |  round(sqrt(CAST(list_sum(list_transform(vals, v -> v*v)) AS DOUBLE) / n_units
      |    - (CAST(list_sum(vals) AS DOUBLE) / n_units)
      |      * (CAST(list_sum(vals) AS DOUBLE) / n_units)), 6) AS std_val
      |FROM u ORDER BY media_id""") { (s, dir) =>
    Multimodal.extractFeatures(Multimodal.fromDocuments(Tables.documents(s, dir)))
      .select(col("media_id"), col("modality"), col("width"), col("height"),
        col("sample_rate"), col("n_units"),
        round(col("mean_val"), 6).as("mean_val"),
        round(col("std_val"), 6).as("std_val"))
      // terminal sort: graft.plans.SmallTopSort single-partitions it
      // (documents leaf ≪ gate), so the codec pipeline runs ONCE — the
      // r12 localCheckpoint that dodged the range-sampler's double codec
      // run (+1.1 s) is no longer needed and its materialization job +
      // block write are gone (measured A/B in OPTIMIZATION_r14.md)
      .orderBy("media_id")
  }

  // REAL resize: Graphics2D bilinear scale into an 8×8 box + PNG
  // re-encode; the reported dims come from decoding the re-encoded
  // payload, oracle = the closed-form ceil(dim·scale)
  q("q_multimodal_resize",
    """SELECT doc_id AS media_id,
      |  CAST(ceil((doc_id % 13 + 4) * least(1.0,
      |    least(8.0 / (doc_id % 13 + 4), 8.0 / (doc_id % 11 + 4)))) AS INT) AS width,
      |  CAST(ceil((doc_id % 11 + 4) * least(1.0,
      |    least(8.0 / (doc_id % 13 + 4), 8.0 / (doc_id % 11 + 4)))) AS INT) AS height
      |FROM documents WHERE doc_id % 2 = 0 ORDER BY media_id""")

  // frame sampling over a raw frame container (honest demux stub — the
  // JDK ships no video codec): declarative substring slicing + posexplode,
  // per-frame byte stats oracle'd against the closed-form byte pattern
  built("q_multimodal_frames",
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 13 + 4 AS BIGINT) * CAST(doc_id % 11 + 4 AS BIGINT) AS fb
      |  FROM documents),
      |fr AS (SELECT doc_id, fb, f FROM m, generate_series(0, 3) t(f)),
      |v AS (SELECT doc_id, fb, f,
      |  list_transform(generate_series(f*fb, (f+1)*fb - 1),
      |    j -> (doc_id*31 + j) % 256) AS vals FROM fr)
      |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no, fb AS frame_bytes,
      |  round(CAST(list_sum(vals) AS DOUBLE) / fb, 6) AS mean_byte,
      |  round(sqrt(CAST(list_sum(list_transform(vals, x -> x*x)) AS DOUBLE) / fb
      |    - (CAST(list_sum(vals) AS DOUBLE) / fb)
      |      * (CAST(list_sum(vals) AS DOUBLE) / fb)), 6) AS std_byte
      |FROM v ORDER BY media_id, frame_no""") { (s, dir) =>
    val media = Multimodal.videoFromDocuments(Tables.documents(s, dir), k = 4)
    Multimodal.frameStats(Multimodal.sampleFrames(media, k = 4))
      .select(col("media_id"), col("frame_no"), col("frame_bytes"),
        round(col("mean_byte"), 6).as("mean_byte"),
        round(col("std_byte"), 6).as("std_byte"))
      // SmallTopSort single-partitions the terminal sort — no sampling
      // double slicing run, checkpoint removed (see q_multimodal_features)
      .orderBy("media_id", "frame_no")
  }

  // sessionization: 30-min-gap sessions per user (exact epoch-µs arithmetic)
  built("q_sessionize",
    """WITH flags AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |             OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (SELECT user_id, event_id,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flags)
      |SELECT user_id, session_id, count(*) AS n_events
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      // project BEFORE the window: the sort/exchange must not carry the
      // wide props JSON column through the shuffle
      .select("user_id", "event_id", "ts")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  // tumbling-window analytics in batch form (SURVEY §2.10: the reference has
  // no event-time streaming; time_bucket ↔ window())
  q("q_stream_tumbling",
    s"""SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
       |  event_type, count(*) AS n, ${dsumSql("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")
}
