package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  test("approx_top_k retains true heavy hitters across partitioned merges") {
    import spark.implicits._
    // zipf-ish: key i appears ~1000/i times; heavy hitters 1..5 dominate
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"key_$i"))
    val df = spark.createDataset(scala.util.Random.shuffle(rows)).repartition(8).toDF("k")
    val topk = graft.functions.ApproxTopK.udafFor(5)
    val out = df.agg(topk($"k").as("top")).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    val keys = out.map(_.getString(0))
    // space-saving guarantee: every key with count > N/m must be present
    assert(Set("key_1", "key_2", "key_3").subsetOf(keys.toSet), s"got $keys")
    // counts overestimate by at most err, and key_1's exact count survives
    val k1 = out.find(_.getString(0) == "key_1").get
    assert(k1.getLong(1) >= 1000 && k1.getLong(1) <= 1000 + k1.getLong(2))
  }

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val docs = Seq((1L, "Hello World "), (2L, "hello world"), (3L, "unrelated text"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keeper") == 1L)
  }

  test("minhash signature expression is bit-identical to the SQL formulation") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "short"), (4L, "exactly8"), (5L, "unicode éèê çà test"))
      .toDF("doc_id", "text")
    val viaExpr = docs
      .select($"doc_id", graft.functions.TextHash.minhashSignature(col("text"), 8, 8).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val viaSql = docs
      .withColumn("_bases", Dedup.shingleBases("text", 8))
      .select($"doc_id",
        array((1 to 8).map(i => Dedup.minhashFromBases("_bases", i)): _*).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(viaExpr == viaSql)
  }

  test("minhash LSH finds a true near-duplicate pair") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = (1 to 12).map(i => s"completely unrelated document number $i with its own content")
    val docs = (Seq((1L, t1), (2L, t2)) ++ other.zipWithIndex.map {
      case (t, i) => (10L + i, t) }).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // jaccard verification of the found pair is high
    val j = docs.as("a").filter(col("a.doc_id") === 1)
      .crossJoin(docs.as("b").filter(col("b.doc_id") === 2))
      .select(Dedup.shingleJaccard("a.text", "b.text"))
      .collect().head.getDouble(0)
    assert(j > 0.6)
  }

  test("mega-buckets are dropped by the cap") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, "identical text shared by everyone here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", maxBucket = 10)
    assert(pairs.count() == 0) // one bucket of 30 > cap → dropped
  }

  test("embedding near-dup: banded LSH caps mega-buckets, still finds true pair") {
    import spark.implicits._
    // 20 identical vectors share one bucket in EVERY band (identical input
    // → identical code whatever the planes) — over the cap, so no O(n²)
    // pair explosion from them. The genuinely-near distinct pair lives in
    // a sparse bucket and must survive.
    val clones = (1L to 20L).map(i => (i, Array(1f, 0f, 0f, 0f)))
    val nearA = (100L, Array(0f, 1f, 0f, 0f))
    val nearB = (101L, Array(0f, 1f, 0.01f, 0f))
    val vecs = (clones ++ Seq(nearA, nearB)).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, threshold = 0.9, dims = 4, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("brute-force top-k: self-similar vector ranks first") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => i.toFloat)
    val near = base.clone(); near(0) += 0.01f
    val vecs = Seq((0L, base), (1L, near), (2L, Array.fill(8)(-1.0f)),
      (3L, Array.tabulate(8)(i => (7 - i).toFloat))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .collect()
    assert(top.head.getAs[Long]("corpus_id") == 1L) // the near-copy wins
    assert(top.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("LSH top-k returns a subset consistent with brute force scores") {
    val e = graft.engine.Tables.embeddings(spark, GraftTest.sf)
    val q = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(e, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val approx = Similarity.lshTopK(e, q, 10, dims = 64, planes = 4).collect()
    assert(approx.nonEmpty)
    // every approx score matches the exact score for that pair
    val exactScores = exact.map { case (a, b, s) => (a, b) -> s }.toMap
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(s => assert(math.abs(s - r.getDouble(2)) < 1e-9))
    }
  }

  test("IVF top-k: scores consistent with brute force, probes recover neighbors") {
    val e = graft.engine.Tables.embeddings(spark, GraftTest.sf)
    val q = e.filter(col("vec_id") < 3)
    val exactScores = Similarity.bruteForceTopK(e, q, 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val approx = Similarity.ivfTopK(e, q, 10, dims = 64, nCells = 8, nProbe = 3).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(s => assert(math.abs(s - r.getDouble(2)) < 1e-9))
    }
    // every corpus row lands in exactly one valid cell
    val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding", 8)
    val cells = Similarity.withIvfCell(e, "embedding", cents)
      .select("ivf_cell").collect().map(_.getInt(0))
    assert(cells.length == e.count() && cells.forall(c => c >= 0 && c < cents.length))
  }

  // ---- ANN quality gate: recall@10 vs brute-force cosine with the
  // SHIPPED parameters. Measured on the sf0.001 embeddings fixture
  // (50 query rows; near-isotropic — true top-10 at cosine ~0.3 over a
  // ~0 background, the hard case for ANN): multi-table LSH (4 planes ×
  // 6 tables, Hamming-1 probes) recall@10 = 0.98; IVF (16 cells,
  // 12 probes) recall@10 = 0.95. Asserted at >= 0.9 to leave room for
  // fixture regeneration. The r10 single-table defaults measured 0.10 /
  // 0.57 here — this gate exists to keep that from shipping again.
  private def recallAt10(approx: Array[(Long, Long)], exact: Array[(Long, Long)]): Double = {
    val a = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val e = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val per = e.map { case (q, ids) =>
      a.get(q).map(got => (got & ids).size.toDouble / ids.size).getOrElse(0.0)
    }
    per.sum / per.size
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
    df.select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("ANN quality: LSH recall@10 >= 0.9 vs brute force (shipped params)") {
    val e = graft.engine.Tables.embeddings(spark, GraftTest.sf)
    val q = e.filter(col("vec_id") < 50)
    val exact = pairs(Similarity.bruteForceTopK(e, q, 10))
    val approx = pairs(Similarity.lshTopK(e, q, 10, dims = 64))
    val r = recallAt10(approx, exact)
    info(f"LSH recall@10 = $r%.3f")
    assert(r >= 0.9, f"LSH recall@10 $r%.3f below 0.9")
  }

  test("ANN quality: IVF recall@10 >= 0.9 vs brute force (shipped params)") {
    val e = graft.engine.Tables.embeddings(spark, GraftTest.sf)
    val q = e.filter(col("vec_id") < 50)
    val exact = pairs(Similarity.bruteForceTopK(e, q, 10))
    val approx = pairs(Similarity.ivfTopK(e, q, 10, dims = 64))
    val r = recallAt10(approx, exact)
    info(f"IVF recall@10 = $r%.3f")
    assert(r >= 0.9, f"IVF recall@10 $r%.3f below 0.9")
  }

  test("language id picks the language with most stopwords") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog sat on a mat in the sun"),
      (2L, "der hund und die katze sind nicht mit dem ball"),
      (3L, "el perro y la casa de los gatos en un lugar"),
      (4L, "zzz qqq xxx www")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.languageId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en"); assert(out(2L) == "de")
    assert(out(3L) == "es"); assert(out(4L) == "und")
  }

  test("quality score is in [0,1] and penalizes junk") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far into the hills " * 4),
      (2L, "@@@ ### !!! $$$ %%% ^^^ &&&")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(v => v >= 0 && v <= 1))
    assert(out(1L) > out(2L))
  }

  test("multimodal: real PNG decode recovers the synthesized pixels") {
    import spark.implicits._
    val docs = Seq((6L, "x", "en", "src", 1L), (8L, "y", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.fromDocuments(docs))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    for (id <- Seq(6L, 8L)) {
      val (w, h) = (Multimodal.imgW(id), Multimodal.imgH(id))
      val vals = for (y <- 0 until h; x <- 0 until w) yield Multimodal.pix(id, x, y)
      val mean = vals.sum.toDouble / vals.size
      val std = math.sqrt(vals.map(v => v.toLong * v).sum.toDouble / vals.size - mean * mean)
      val f = feats(id)
      assert(f.getAs[String]("modality") == "image")
      assert(f.getAs[Int]("width") == w && f.getAs[Int]("height") == h)
      assert(f.getAs[Long]("n_units") == w.toLong * h)
      assert(f.getAs[Double]("mean_val") == mean)
      assert(f.getAs[Double]("std_val") == std)
    }
  }

  test("multimodal: real WAV decode recovers the PCM16 samples + rate") {
    import spark.implicits._
    val docs = Seq((7L, "x", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.extractFeatures(Multimodal.fromDocuments(docs)).collect().head
    val n = Multimodal.wavN(7L)
    val vals = (0 until n).map(i => Multimodal.pcm(7L, i))
    val mean = vals.sum.toDouble / n
    assert(f.getAs[String]("modality") == "audio")
    assert(f.getAs[Int]("sample_rate") == Multimodal.WavRate)
    assert(f.getAs[Long]("n_units") == n.toLong)
    assert(f.getAs[Double]("mean_val") == mean)
  }

  // the WAV bytes of audio docId as AudioSystem writes them
  private def systemWav(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val n = Multimodal.wavN(id)
    val data = (0 until n).flatMap { i =>
      val s = Multimodal.pcm(id, i); Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)
    }.toArray
    val fmt = new AudioFormat(Multimodal.WavRate.toFloat, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // (n, mean, std) of the closed-form values, summed as the decoder sums
  private def closedStats(vals: Seq[Int]): (Long, Double, Double) = {
    val n = vals.size.toLong
    val mean = vals.map(_.toLong).sum.toDouble / n
    (n, mean, math.sqrt(vals.map(v => v.toLong * v).sum.toDouble / n - mean * mean))
  }

  test("multimodal: the engine's WAV writer writes AudioSystem's bytes") {
    for (id <- Seq(1L, 7L, 99L, 399L, 1234L))
      assert(Multimodal.synthWav(id).sameElements(systemWav(id)), id)
  }

  test("multimodal: the resolved WAV reader decodes AudioSystem's WAV") {
    import javax.sound.sampled.AudioSystem
    for (id <- Seq(3L, 250L)) {
      val wav = systemWav(id)
      val ours = Multimodal.wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
      val theirs = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
      assert(ours.getFormat.matches(theirs.getFormat), ours.getFormat)
      assert(ours.getFormat.getSampleRate == Multimodal.WavRate)
      assert(ours.readAllBytes().sameElements(theirs.readAllBytes()), id)
    }
  }

  test("multimodal: a WAV the resolved reader rejects decodes through AudioSystem") {
    import java.nio.{ByteBuffer, ByteOrder}
    // the same PCM16 samples under a WAVE_FORMAT_EXTENSIBLE header
    val id = 11L
    val n = Multimodal.wavN(id)
    val b = ByteBuffer.allocate(68 + 2 * n).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(60 + 2 * n).put("WAVEfmt ".getBytes).putInt(40)
    b.putShort(0xfffe.toShort).putShort(1.toShort).putInt(Multimodal.WavRate)
    b.putInt(2 * Multimodal.WavRate).putShort(2.toShort).putShort(16.toShort)
    b.putShort(22.toShort).putShort(16.toShort).putInt(4)
    // KSDATAFORMAT_SUBTYPE_PCM
    b.putInt(1).putShort(0.toShort).putShort(0x10.toShort)
    b.put(Array(0x80, 0x00, 0x00, 0xaa, 0x00, 0x38, 0x9b, 0x71).map(_.toByte))
    b.put("data".getBytes).putInt(2 * n)
    (0 until n).foreach(i => b.putShort(Multimodal.pcm(id, i).toShort))
    val payload = b.array()
    intercept[javax.sound.sampled.UnsupportedAudioFileException](
      Multimodal.wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(payload)))
    val f = Multimodal.decodeWav(payload)
    val (cn, mean, std) = closedStats((0 until n).map(i => Multimodal.pcm(id, i)))
    assert(f.sample_rate.contains(Multimodal.WavRate))
    assert(f.n_units == cn && f.mean_val == mean && f.std_val == std)
  }

  test("multimodal: every decoded row matches its closed form across partitions") {
    val docs = spark.range(0, 240).toDF("doc_id").repartition(4)
    val media = Multimodal.fromDocuments(docs)
    assert(media.rdd.getNumPartitions >= 4)
    val rows = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.getAs[Long]("media_id")).sorted.toSeq == (0L until 240L))
    for (r <- rows) {
      val id = r.getAs[Long]("media_id")
      val (n, mean, std) =
        if (id % 2 == 0) {
          val (w, h) = (Multimodal.imgW(id), Multimodal.imgH(id))
          assert(r.getAs[String]("modality") == "image", id)
          assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h, id)
          closedStats(for (y <- 0 until h; x <- 0 until w) yield Multimodal.pix(id, x, y))
        } else {
          assert(r.getAs[String]("modality") == "audio", id)
          assert(r.getAs[Int]("sample_rate") == Multimodal.WavRate, id)
          closedStats((0 until Multimodal.wavN(id)).map(i => Multimodal.pcm(id, i)))
        }
      assert(r.getAs[Long]("n_units") == n, id)
      assert(r.getAs[Double]("mean_val") == mean, id)
      assert(r.getAs[Double]("std_val") == std, id)
    }
  }

  test("multimodal: real Graphics2D resize fits the box, dims from re-decode") {
    import spark.implicits._
    val docs = Seq((12L, "x", "en", "src", 1L), (2L, "y", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.resizeImages(Multimodal.fromDocuments(docs), 8, 8)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    for (id <- Seq(12L, 2L)) {
      val (w, h) = (Multimodal.imgW(id), Multimodal.imgH(id))
      val scale = math.min(1.0, math.min(8.0 / w, 8.0 / h))
      val r = out(id)
      assert(r.getAs[Int]("width") == math.ceil(w * scale).toInt)
      assert(r.getAs[Int]("height") == math.ceil(h * scale).toInt)
      assert(r.getAs[Int]("width") <= 8 && r.getAs[Int]("height") <= 8)
      assert(r.getAs[Long]("n_bytes") > 0)
    }
  }

  test("multimodal: frame slicing recovers per-frame byte stats") {
    import spark.implicits._
    val docs = Seq((5L, "x", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.videoFromDocuments(docs, k = 4)
    val rows = Multimodal.frameStats(Multimodal.sampleFrames(media, k = 4))
      .orderBy("frame_no").collect()
    val fb = Multimodal.imgW(5L) * Multimodal.imgH(5L)
    assert(rows.length == 4)
    for (f <- 0 until 4) {
      val vals = (f * fb until (f + 1) * fb).map(j => Multimodal.vByte(5L, j))
      val mean = vals.sum.toDouble / fb
      assert(rows(f).getAs[Long]("frame_bytes") == fb.toLong)
      assert(rows(f).getAs[Double]("mean_byte") == mean)
    }
  }

  test("repetition signals match a scala brute force") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val texts = Seq("a b a b a b", "x y z w", "q", "", "r r r r")
    val got = texts.toDF("text")
      .select(col("text"),
        graft.pipeline.TextAnalysis.topBigramShare(col("text")).as("top"),
        graft.pipeline.TextAnalysis.dupBigramFraction(col("text")).as("dup"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def ref(t: String): (Double, Double) = {
      val ts = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val gs = ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (gs.isEmpty) (0.0, 0.0)
      else {
        val counts = gs.groupBy(identity).map(_._2.size)
        (counts.max.toDouble / gs.size,
          gs.count(g => gs.count(_ == g) > 1).toDouble / gs.size)
      }
    }
    texts.foreach { t => assert(got(t) == ref(t), s"'$t': ${got(t)} vs ${ref(t)}") }
  }
}
