package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.core.Fetch
import graft.ops.{Dedup, DedupIndex}

/** Incremental near-dup via the persisted band index: equivalence with the
  * one-shot operator, rolling appends, the params pin, the skew guard of
  * the pruned probe and empty batches.
  */
class DedupIndexSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ids < 100 = corpus, ids >= 100 = batch 1, ids >= 200 = batch 2
  private val corpusRows = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "machine learning systems require large curated corpora of text data",
    3L -> "partition pruning keeps distributed scans cheap at petabyte scale",
    4L -> "a completely different sentence about cooking pasta with fresh basil",
    5L -> "boilerplate footer text repeated across many pages of the site")
  private val batch1Rows = Seq(
    101L -> "the quick brown fox jumps over the lazy dog near the river bend", // near-dup of 1
    102L -> "machine learning systems require large curated corpora of text data", // exact dup of 2
    103L -> "an unrelated batch document mentioning sailing boats and calm seas")
  private val batch2Rows = Seq(
    201L -> "an unrelated batch document mentioning sailing boats and rough seas", // near-dup of 103
    202L -> "yet another novel document with no duplicate anywhere in the corpus")

  private def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  test("dedupBatch == one-shot minHashLsh restricted to batch-touching pairs") {
    val root = TestSpark.tmpDir("dedup_index_identity")
    DedupIndex.build(spark, df(corpusRows), root, numHashes = 64, bands = 32)
    val got = DedupIndex.dedupBatch(spark, root, df(batch1Rows), threshold = 0.5)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect().toSeq
    val full = Dedup.minHashLsh(df(corpusRows ++ batch1Rows),
        numHashes = 64, bands = 32, threshold = 0.5)
      .where(col("id_a") >= 100 || col("id_b") >= 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == full)
    assert(got.exists { case (a, b, j) => a == 2L && b == 102L && j == 1.0 },
      "exact duplicate of corpus doc 2 must surface at jaccard 1.0")
    assert(got.exists { case (a, b, _) => a == 1L && b == 101L },
      "near-duplicate of corpus doc 1 must surface")
    assert(got.forall { case (a, b, _) => a >= 100 || b >= 100 },
      "corpus-internal pairs must never be recomputed")
  }

  test("rolling ingest: append batch, next batch dedups against it too") {
    val root = TestSpark.tmpDir("dedup_index_rolling")
    DedupIndex.build(spark, df(corpusRows), root, numHashes = 64, bands = 32)
    DedupIndex.append(spark, df(batch1Rows), root)
    val got = DedupIndex.dedupBatch(spark, root, df(batch2Rows), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.exists { case (a, b, _) => a == 103L && b == 201L },
      "batch-2 near-dup of the APPENDED batch-1 doc must surface")
    assert(got.forall { case (a, b, _) => b >= 200 },
      "every pair must touch the new batch")
  }

  test("probe banding follows the PERSISTED params, not call-site defaults") {
    val root = TestSpark.tmpDir("dedup_index_params")
    // non-default banding: if dedupBatch re-banded with its own defaults
    // (64/16), probe bhashes would never match the stored buckets and the
    // exact duplicate below would be silently missed
    DedupIndex.build(spark, df(corpusRows), root,
      numHashes = 32, bands = 8, shingleSize = 2)
    assert(DedupIndex.params(spark, root) == DedupIndex.Params(32, 8, 2))
    val got = DedupIndex.dedupBatch(spark, root, df(batch1Rows), threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.exists { case (a, b, j) => a == 2L && b == 102L && j == 1.0 })
  }

  test("SimHash index: dedupBatchSimHash == one-shot simHashPairs on batch pairs") {
    val root = TestSpark.tmpDir("dedup_index_simhash")
    DedupIndex.buildSimHash(spark, df(corpusRows), root)
    DedupIndex.appendSimHash(spark, df(batch1Rows), root)
    val got = DedupIndex.dedupBatchSimHash(spark, root, df(batch2Rows))
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect().toSeq
    // the 4x16 chunk cover is exhaustive at hamming<=3: identity with the
    // one-shot operator restricted to batch-2-touching pairs
    val full = Dedup.simHashPairs(df(corpusRows ++ batch1Rows ++ batch2Rows))
      .where(col("id_a") >= 200 || col("id_b") >= 200)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect().toSeq
    assert(got == full)
    assert(got.forall { case (a, b, _) => a >= 200 || b >= 200 })
    // probing a MinHash root as SimHash fails loudly, not silently empty
    val mhRoot = TestSpark.tmpDir("dedup_index_kind_guard")
    DedupIndex.build(spark, df(corpusRows), mhRoot)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.dedupBatchSimHash(spark, mhRoot, df(batch1Rows))
    }
    assert(e.getMessage.contains("SimHash"))
  }

  test("SimHash index finds an exact and a near dup across the corpus") {
    val root = TestSpark.tmpDir("dedup_index_simhash_hits")
    DedupIndex.buildSimHash(spark, df(corpusRows), root)
    val got = DedupIndex.dedupBatchSimHash(spark, root, df(batch1Rows))
      .as[(Long, Long, Int)].collect().toSeq
    assert(got.exists { case (a, b, h) => a == 2L && b == 102L && h == 0 },
      s"exact dup must surface at hamming 0: $got")
  }

  test("embedding index: pinned params, rolling append, cosine verification") {
    val root = TestSpark.tmpDir("dedup_index_embedding")
    def vec(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian())
    }
    val corpus = (0 until 30).map(i => (i.toLong, vec(i)))
    // batch: one planted twin of corpus vec 3 (small additive nudge on
    // one component -> cosine just below 1) + novel vectors
    val twin = vec(3).clone(); twin(15) = twin(15) + 0.05
    val batch = Seq((100L, twin), (101L, vec(900)), (102L, vec(901)))
    // saturated tables so the probe is exhaustive at this scale
    DedupIndex.buildEmbedding(spark, corpus.toDF("vec_id", "embedding"), root,
      planes = 8, tables = 32)
    assert(DedupIndex.embParams(spark, root) == DedupIndex.EmbParams(8, 32))
    val got = DedupIndex.dedupBatchEmbedding(spark, root,
        batch.toDF("vec_id", "embedding"), threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((3L, 100L)),
      s"exactly the planted twin pair must surface: $got")
    assert(got.head._3 > 0.9 && got.head._3 < 1.0)
    // rolling: append the batch; a twin of an APPENDED vector surfaces
    DedupIndex.appendEmbedding(spark, batch.toDF("vec_id", "embedding"), root)
    val twin2 = vec(900).clone(); twin2(15) = twin2(15) + 0.05
    val got2 = DedupIndex.dedupBatchEmbedding(spark, root,
        Seq((200L, twin2)).toDF("vec_id", "embedding"), threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got2.map(p => (p._1, p._2)) == Seq((101L, 200L)), s"$got2")
  }

  test("skew guard counts store ∪ batch for the buckets the probe touches") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dedup_index_skew")
      val boiler = "identical boilerplate banner repeated on every mirror of the page"
      // each bucket of the boilerplate text holds 2 stored docs: under the
      // cap alone, over it once the batch's copy joins them
      DedupIndex.build(spark, df(corpusRows ++ Seq(6L -> boiler, 7L -> boiler)), root,
        numHashes = 64, bands = 32)
      val got = DedupIndex.dedupBatch(spark, root,
          df(batch1Rows.filterNot(_._1 == 102L) :+ (104L -> boiler)),
          threshold = 0.5, maxBucket = 2)
        .as[(Long, Long, Double)].collect().toSeq
      assert(!got.exists { case (a, b, _) => a == 104L || b == 104L },
        s"pairs of the over-populated buckets must be suppressed: $got")
      assert(got.exists { case (a, b, _) => a == 1L && b == 101L },
        s"a near-dup in an ordinary bucket must still surface: $got")
    }
  }

  test("MinHash index: an empty batch probes to nothing and appends nothing") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dedup_index_empty")
      DedupIndex.build(spark, df(corpusRows.take(2)), root)
      val empty = df(Nil)
      assert(DedupIndex.dedupBatch(spark, root, empty).count() == 0)
      DedupIndex.append(spark, empty, root)
      assert(Fetch.fetch(spark, s"$root/shingles").count() == 2)
      DedupIndex.append(spark, df(batch1Rows), root)
      assert(Fetch.fetch(spark, s"$root/shingles").count() == 5)
    }
  }

  test("SimHash index: appending an empty batch is a no-op") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dedup_index_simhash_empty")
      DedupIndex.buildSimHash(spark, df(corpusRows.take(2)), root)
      DedupIndex.appendSimHash(spark, df(Nil), root)
      assert(Fetch.fetch(spark, s"$root/simhash").count() == 2)
    }
  }

  test("embedding index: appending an empty batch is a no-op") {
    failAfter(120.seconds) {
      val root = TestSpark.tmpDir("dedup_index_embedding_empty")
      val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      DedupIndex.buildEmbedding(spark, vecs.toDF("vec_id", "embedding"), root,
        planes = 4, tables = 2)
      DedupIndex.appendEmbedding(spark,
        Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding"), root)
      assert(Fetch.fetch(spark, s"$root/vectors").count() == 2)
    }
  }
}
