package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup (exact/MinHash/SimHash),
  * similarity search (brute force / LSH / IVF), text analysis, and the
  * multimodal plumbing. Approximate structures are validated against their
  * exact counterparts (recall), not golden outputs. */
class PipelineOpsSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = graft.core.Tables.documents(spark, TestSpark.sfDir).cache()
  private lazy val embs = graft.core.Tables.embeddings(spark, TestSpark.sfDir).cache()

  // --- corpus with exact and near duplicates
  private lazy val dupCorpus = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val near = base.replace("far", "very far") // one-token edit
    val other = "completely different content about spark engines and query plans here"
    Seq((1L, base), (2L, base), (3L, near), (4L, other))
      .toDF("doc_id", "text").cache()
  }

  test("exact dedup groups duplicates and keeps min id") {
    val groups = Dedup.exactGroups(dupCorpus, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // keeper = min doc_id
    assert(Dedup.dropExactDuplicates(dupCorpus, "doc_id", "text").count() == 3)
  }

  test("minhash LSH finds the near-duplicate pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDuplicates(dupCorpus, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash candidates achieve full recall vs exact jaccard >= 0.8 on documents") {
    // exact pairs at high jaccard (2-shingles)
    val p = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 2).as("sh"))
    val exact = p.as("l").join(p.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        Dedup.jaccard(col("l.sh"), col("r.sh")).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banding with 32 bands of 2 rows catches j>=0.8 pairs w.h.p.
    assert(exact.subsetOf(found), s"missed: ${exact -- found}")
  }

  test("simhash: near-identical docs within small hamming distance") {
    val sims = dupCorpus.select(col("doc_id"),
      graft.functions.SimHash.simhash64(Dedup.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L)) // identical text, identical simhash
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) <= 12) // near dup
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(4L)) > 12) // unrelated
  }

  test("simhash near-dup pairs equal exact bit_count(xor) pairs (pigeonhole recall)") {
    // the banding (maxHamming+1 chunks) guarantees full recall and the
    // verification filter guarantees precision, so candidates == exact
    for (h <- Seq(3, 16)) {
      val p = docs.select(col("doc_id"),
        graft.functions.SimHash.simhash64(Dedup.tokens(col("text"))).as("sh"))
      val exact = p.as("l").join(p.as("r"), col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id"), col("r.doc_id"),
          bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("d"))
        .filter(col("d") <= h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == exact, s"maxHamming=$h missed=${exact -- found} extra=${found -- exact}")
    }
  }

  test("simhash expression survives codegen and matches interpreted eval") {
    val viaExpr = dupCorpus
      .select(graft.functions.SimHash.simhash64(Dedup.tokens(col("text"))).as("sh"))
      .collect().map(_.getLong(0))
    // interpreted: same computation driver-side
    val local = dupCorpus.select("text").collect().map { r =>
      val tokens = r.getString(0).split("\\s+")
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString))
      graft.functions.SimHash.compute(arr)
    }
    assert(viaExpr.toSeq == local.toSeq)
  }

  test("brute-force cosine topk matches a local computation") {
    val vecs = embs.filter(col("vec_id") < 30)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = vecs.keys.toSeq.sorted.take(5).map { q =>
      q -> vecs.filter(_._1 != q).toSeq
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    }.toMap
    val got = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") < 30), embs.filter(col("vec_id") < 5),
      "vec_id", "embedding", 3)
      .orderBy("query_id", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }
    for ((q, exp) <- expected) assert(got(q) == exp, s"query $q")
  }

  test("LSH ANN recall@3 >= 0.7 vs brute force") {
    val queries = embs.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(embs, queries, "vec_id", "embedding",
      k = 3, dim = 64, bits = 48, bands = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("IVF ANN recall@3 >= 0.7 vs brute force") {
    val queries = embs.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val centroids = Similarity.trainCentroids(embs, "vec_id", "embedding", nlist = 8, iters = 3)
    val approx = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 3, centroids, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("IVF centroids are independent of partition layout") {
    val a = Similarity.trainCentroids(embs, "vec_id", "embedding", nlist = 8, iters = 3)
    val b = Similarity.trainCentroids(embs.repartition(7), "vec_id", "embedding",
      nlist = 8, iters = 3)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("embedding near-dup LSH finds injected duplicates with full recall") {
    // plant near-duplicates: vectors 1000+i are tiny perturbations of i
    val base = embs.filter(col("vec_id") < 20).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val planted = base.map { case (id, v) =>
      (id + 1000L, v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }.toSeq)
    }
    val all = base.map { case (id, v) => (id, v.toSeq) } ++ planted
    val df = all.toSeq.toDF("vec_id", "embedding")

    val exact = graft.operators.Similarity
      .exactNearDuplicates(df, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20, "every planted pair is a true near-dup")

    val approx = graft.operators.Similarity
      .embeddingNearDuplicates(df, "vec_id", "embedding", 0.99, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sign-LSH at cos ~1 has per-band agreement ~1: full recall expected
    assert(exact.subsetOf(approx), s"missed: ${exact -- approx}")
  }

  test("ngram langid recovers the language on a separable corpus") {
    val corpus = Seq(
      ("aa", "der die das und ein eine mit von zu auf"),
      ("aa", "und der mit das von die ein auf eine zu"),
      ("bb", "the and with from one two over under to at"),
      ("bb", "and the from with to one at over two under"))
      .toDF("lang", "text")
    val profiles = TextAnalysis.trainNgramProfiles(corpus, "lang", "text",
      n = 3, profileSize = 15)
    val preds = corpus.select(col("lang"),
      TextAnalysis.ngramLangId(col("text"), profiles).as("pred")).collect()
    assert(preds.forall(r => r.getString(0) == r.getString(1)))
  }

  test("rolling fingerprint is stable and collision-free on the corpus") {
    val fps = docs.select(TextAnalysis.rollingFingerprint(col("text"))).collect()
      .map(_.getLong(0))
    assert(fps.distinct.length == fps.length)
    // whitespace normalization: same fingerprint after double-spacing
    val pair = Seq(("a b c", 1), ("a  b   c", 2)).toDF("text", "i")
      .select(TextAnalysis.rollingFingerprint(col("text"))).collect().map(_.getLong(0))
    assert(pair(0) == pair(1))
  }

  test("multimodal: batched stub decode produces fixed-dim features, frame sampling splits payload") {
    import Multimodal._
    val media = Seq(
      MediaRecord(1L, "image", Array.tabulate(256)(_.toByte), 16, 16, 0, 0),
      MediaRecord(2L, "audio", Array.tabulate(1000)(i => (i % 128).toByte), 0, 0, 16000, 62),
      MediaRecord(3L, "image", Array.emptyByteArray, 0, 0, 0, 0)).toDS()

    val feats = extractFeatures(partitionByKind(media, 2), dim = 8).collect()
    assert(feats.length == 3)
    assert(feats.forall(_.features.length == 8))
    // deterministic: same payload -> same features
    val again = extractFeatures(media, dim = 8).collect()
      .map(f => f.mediaId -> f.features.toSeq).toMap
    assert(feats.forall(f => again(f.mediaId) == f.features.toSeq))

    val frames = sampleFrames(media, nFrames = 4)
    assert(frames.filter(col("media_id") === 1L).count() == 4)
    assert(frames.filter(col("media_id") === 3L).count() == 0)
  }
}
