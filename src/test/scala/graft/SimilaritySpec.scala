package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Similarity search: brute-force exactness and LSH recall. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Clustered corpus: 5 centers, 20 members each with small noise —
    * nearest neighbors of a member are its cluster mates.
    */
  private lazy val corpus = {
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    (0 until 100).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("brute-force top-k returns cluster mates, ranked deterministically") {
    val queries = corpus.where($"vec_id" < 5)
    val out = Similarity.bruteForceTopK(corpus, queries, 5)
    val rows = out.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(rows.length == 25)
    // every neighbor of query q is in q's cluster (same id mod 5)
    assert(rows.forall { case (q, n, _) => n % 5 == q % 5 })
    // ranks are 1..5 per query
    assert(rows.groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("ann_recall emits every query for all four methods above their floors") {
    // the driver pins rows>0; this pins the exact contract — 8 queries ×
    // 2 methods clear the 0.4 floor on the near-random sf corpus, and 8
    // queries × 2 methods clear the PRODUCTION ≥0.8 floor on the seeded
    // clustered frame embedded in the query
    val rows = SparkEntry.queries("ann_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    val byMethod = rows.groupBy(_.getAs[String]("method")).view.mapValues(_.length).toMap
    assert(byMethod == Map("ivf" -> 8, "lsh" -> 8,
      "ivf_clustered" -> 8, "lsh_clustered" -> 8, "pq_clustered" -> 8,
      "ivfpq_clustered" -> 8, "sq8_clustered" -> 8),
      s"every query must clear its recall floor: $byMethod")
    // the dump carries the QUANTIZED recall (r16 graduation)
    assert(rows.forall(_.getAs[Double]("recall_q") >= 0.4))
    assert(rows.filter(_.getAs[String]("method").endsWith("_clustered"))
      .forall(_.getAs[Double]("recall_q") >= 0.8))
  }

  test("recallVsBrute reports silent total misses as recall 0") {
    val brute = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L)).toDF("query_id", "neighbor_id") // query 2 vanished
    val got = Similarity.recallVsBrute(approx, brute)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.5, 2L -> 0.0))
  }

  test("recallVsBruteTagged counts a repeated approx pair once") {
    val brute = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val dup = Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val clean = Seq((1L, 10L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val got = Similarity.recallVsBruteTagged(Seq("dup" -> dup, "clean" -> clean), brute)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map(("dup", 1L) -> 0.5, ("dup", 2L) -> 1.0,
      ("clean", 1L) -> 0.5, ("clean", 2L) -> 1.0))
  }

  test("IVF top-k achieves high recall vs brute force on clustered data") {
    val queries = corpus.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, 5, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall below 0.8")
  }

  test("IVF recall holds on a corpus SORTED by cluster (sampling must not head-bias)") {
    // rows grouped cluster-by-cluster with a tiny fit sample: a
    // head-of-scan "sample" would train every centroid on cluster 0 only
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val sorted = (0 until 500).map { i =>
      val c = centers(i / 100) // cluster-contiguous layout
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding").repartition(1)
    val queries = sorted.where($"vec_id" % 100 < 2)
    val exact = Similarity.bruteForceTopK(sorted, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(sorted, queries, 5, nlist = 8, nprobe = 2,
      maxFitSample = 100)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall below 0.8 on sorted corpus")
  }

  test("a pre-fitted IVF index serves repeated queries without refit or corpus rescan") {
    // Index over a PUBLISHED (on-disk) corpus so file-input metrics see
    // every corpus read; fit once, persist the assignment, then each
    // query must not re-read the corpus files and must return the same
    // results as the one-shot path. (Cached-block reads also register in
    // input metrics, so the bound is "far below corpus size", not zero.)
    val root = "/tmp/graft_test/ivf_fitted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val big = (0 until 2000).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    big.write.mode("overwrite").parquet(root)
    val onDisk = spark.read.parquet(root)
    val index = Similarity.ivfFit(onDisk, nlist = 8)
    index.assigned.persist().count() // materialize the one corpus pass
    try {
      val queries = big.where($"vec_id" < 10)
      val (out1, read1) = IoMetrics.recordsReadDuring(spark) {
        Similarity.ivfQuery(index, queries, 5, nprobe = 2)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      }
      val (out2, read2) = IoMetrics.recordsReadDuring(spark) {
        Similarity.ivfQuery(index, queries, 5, nprobe = 8)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      }
      assert(read1 < 200 && read2 < 200,
        s"queries on a persisted index must not rescan the 2000-row corpus: read $read1/$read2")
      // nprobe = nlist probes every cell: recall 1.0 vs brute force
      val exact = Similarity.bruteForceTopK(onDisk, queries, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(out2 == exact, "full-probe IVF query must equal brute force")
      assert((exact & out1).size.toDouble / exact.size >= 0.8)
    } finally index.assigned.unpersist()
  }

  test("a saved IVF index reloads from disk and queries read only probed-cell partitions") {
    val idxRoot = "/tmp/graft_test/ivf_saved_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val big = (0 until 2000).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    Similarity.ivfFit(big, nlist = 8).save(idxRoot)
    // the loaded index takes NOTHING from the in-memory fit — centroids
    // come off the sidecar, the assignment off the cell-partitioned
    // dataset: exactly what a fresh session sees
    val loaded = Similarity.IvfIndex.load(spark, idxRoot)
    val queries = big.where($"vec_id" === 0L)
    val (out, read) = IoMetrics.recordsReadDuring(spark) {
      Similarity.ivfQuery(loaded, queries, 5, nprobe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    }
    // one query probing 2 of 8 cells: only those cells' partitions may be
    // read — a strict fraction of the 2000-row assignment
    assert(read <= 1200, s"query must read only probed-cell partitions: read $read of 2000")
    assert(out.nonEmpty && out.forall { case (_, n) => n % 5 == 0 },
      s"neighbors of query 0 must be cluster-0 members: $out")
    // probing every cell on the loaded index reproduces brute force exactly
    val exact = Similarity.bruteForceTopK(big, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfQuery(loaded, queries, 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full-probe query on a loaded index must equal brute force")
  }

  test("IvfIndex.append extends a persisted index batch-at-a-time, no refit") {
    val root = "/tmp/graft_test/ivf_append_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Similarity.ivfFit(corpus, nlist = 8).save(root)
    val loaded = Similarity.IvfIndex.load(spark, root)
    // the appended batch plants exact twins of vectors 0-4 under new ids
    val batch = corpus.where($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val appended = loaded.append(batch)
    assert(graft.core.Fetch.fetch(spark, root).count() == 105,
      "the persisted dataset must grow by the batch")
    // a full probe finds the planted twin at similarity 1.0
    val q0 = corpus.where($"vec_id" === 0L)
    def top(ix: Similarity.IvfIndex) =
      Similarity.ivfQuery(ix, q0, 5, nprobe = 8)
        .select("neighbor_id").as[Long].collect().toSet
    assert(top(appended).contains(1000L), "appended twin must be a top neighbor")
    // a FRESH load (what a later session sees) serves the appended rows too
    assert(top(Similarity.IvfIndex.load(spark, root)).contains(1000L))
    // re-saving a loaded index onto its own root would delete the data
    // backing the lazy assignment frame mid-write — must refuse up front
    val ex = intercept[IllegalArgumentException] {
      Similarity.IvfIndex.load(spark, root).save(root)
    }
    assert(ex.getMessage.contains("own root"))
    // and the refused save must not have touched the index
    assert(top(Similarity.IvfIndex.load(spark, root)).contains(1000L))
  }

  test("IVF works on stats-less plans (RDD-backed frame) — no silent empty fit") {
    // createDataFrame(rdd, schema) reports sizeInBytes = Long.MaxValue:
    // the stats-derived sample fraction collapses to ~0 and, without the
    // exact-count fallback, the quantizer fit zero centroids and every
    // query returned empty
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val rows = corpus.collect()
    val rddCorpus = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), schema)
    val queries = rddCorpus.where($"vec_id" < 10)
    val out = Similarity.ivfTopK(rddCorpus, queries, 5, nlist = 8, nprobe = 8)
    assert(out.count() == 50, "every query must get k neighbors")
  }

  test("LSH top-k achieves high recall vs brute force on clustered data") {
    val queries = corpus.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, 5, planes = 8, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8")
  }

  test("autoNprobe: half-probe base, +2·log10 decade boost, clamped to [2, nlist]") {
    // base: half the cells (rounded up), no boost below 10k rows
    assert(Similarity.autoNprobe(16, 100) == 8)
    assert(Similarity.autoNprobe(8, 100) == 4)
    assert(Similarity.autoNprobe(16, 9999) == 8)
    // boost = ceil(2·log10(rows/10k)): 200k → +3, 10M → +6
    assert(Similarity.autoNprobe(16, 200000) == 11)
    assert(Similarity.autoNprobe(16, 10000000) == 14)
    // clamps: never past nlist, never below 2
    assert(Similarity.autoNprobe(4, Long.MaxValue) == 4)
    assert(Similarity.autoNprobe(2, 1) == 2)
    assert(Similarity.autoNprobe(3, 0) == 2)
    // monotone in corpus size
    val probes = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
      .map(Similarity.autoNprobe(16, _))
    assert(probes == probes.sorted)
  }
}
