package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fetch, Publish}

/** Persisted MinHash-LSH corpus index for INCREMENTAL near-duplicate
  * detection — the rolling-ingest shape of [[Dedup.minHashLsh]]: a 100 TB
  * corpus is shingled/banded ONCE into a saved index, and each day's new
  * batch dedups against it by joining the batch's bands into the stored
  * buckets — O(batch + collisions) shuffle and compute per increment, the
  * corpus text is never re-read (cf. the reference's append-only publish
  * model, s3parq/publish_parq.py, which has no dedup at all).
  *
  * Layout under `root` (both stores are ordinary graft datasets, so every
  * fetch/listing/compaction tool works on them):
  *  - `bands/`   — (id, bhash, band) partitioned by band. A batch's docs
  *    hash into every band, so the layout prunes no probe; the probe is
  *    pruned by a semi-join of the stored bands to the (band, bhash)
  *    buckets the batch touches, before any shuffle of the store;
  *  - `shingles/` — (id, sh): each doc's distinct word n-grams, kept so
  *    candidate verification is exact n-gram Jaccard WITHOUT touching the
  *    corpus (grams are stored as strings for oracle-exactness; a
  *    space-tuned deployment could store 8-byte gram hashes and accept
  *    2⁻⁶⁴ collision noise);
  *  - `_dedup_index.json` — the (numHashes, bands, shingleSize) the index
  *    was built with; probes MUST band identically, so [[append]] and
  *    [[dedupBatch]] read them from here rather than trusting call-site
  *    arguments to stay in sync.
  *
  * Scale notes: the probe join ships only (id, band, bhash) scalars of
  * the touched buckets; stored shingle arrays are read back only for ids
  * in those buckets (the [[Dedup.minHashLsh]] discipline); over-populated
  * buckets (boilerplate collisions) are dropped by the same `maxBucket`
  * guard, counted over store ∪ batch so a bucket that crosses the cap
  * across increments still caps. [[append]] and [[dedupBatch]] shingle
  * and band a batch once per call: one action materialises both, and
  * every later branch and write reads that checkpoint.
  */
object DedupIndex {

  final case class Params(numHashes: Int, bands: Int, shingleSize: Int)

  private val ParamsName = "_dedup_index.json"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeParams(spark: SparkSession, root: String, p: Params): Unit = {
    val out = fs(spark, root).create(new Path(root, ParamsName), true)
    try out.write(
      s"""{"numHashes":${p.numHashes},"bands":${p.bands},"shingleSize":${p.shingleSize}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def params(spark: SparkSession, root: String): Params = {
    val f = fs(spark, root)
    val p = new Path(root, ParamsName)
    require(f.exists(p), s"$root is not a dedup index (no $ParamsName)")
    val in = f.open(p)
    val raw = try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
    def field(n: String): Int =
      s""""$n":(\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt)
        .getOrElse(sys.error(s"malformed $ParamsName: $raw"))
    Params(field("numHashes"), field("bands"), field("shingleSize"))
  }

  /** (id, sh) for a document frame under `p`. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       p: Params): DataFrame =
    // the shingle kernel declares containsNull=false, but parquet reads
    // arrays back element-nullable — publish the nullable form so the
    // store's recorded schema matches what fetch re-reads
    // shingle + banding is the CPU-heavy kernel: spread a narrow input
    // (identity at real scale, guide §2.5)
    Spread.forCompute(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("id"),
      Dedup.shingles(col(textCol), p.shingleSize)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = true)).as("sh"))

  /** The band hashes of an (id, sh) frame's `sh` under `p`. */
  private def bandHashes(p: Params): Column =
    graft.functions.SketchFunctions.minHashBands(col("sh"), p.numHashes, p.bands)

  /** (id, band, bhash): one row per element of the band-hash array `bh`. */
  private def bandRows(df: DataFrame, bh: Column): DataFrame =
    df.select(col("id"), posexplode(bh).as(Seq("band", "bhash")))

  /** `body` over `df` materialised once ([[Publish.materialised]]) and
    * its row count, observed by the same action.
    */
  private def materialised[T](df: DataFrame)(body: (DataFrame, Long) => T): T =
    Publish.materialised(df, Seq(count(lit(1)).as("rows"))) { (cp, observed) =>
      body(cp, observed("rows").asInstanceOf[Long])
    }

  /** `df` hinted for broadcast when its `rows` rows of about `rowBytes`
    * each fit under spark.sql.autoBroadcastJoinThreshold; otherwise the
    * join is left to the planner. `rows` is a count the materialising
    * action already made, so the decision costs no action.
    */
  private def broadcastIfSmall(df: DataFrame, rows: Long, rowBytes: Int): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit > 0 && rows * rowBytes <= limit) broadcast(df) else df
  }

  /** Build the index over the current corpus (overwrites any prior). */
  def build(spark: SparkSession, docs: DataFrame, root: String,
            idCol: String = "doc_id", textCol: String = "text",
            numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3): Unit = {
    val p = Params(numHashes, bands, shingleSize)
    val sh = shingled(docs, idCol, textCol, p)
    Publish.publish(spark, bandRows(sh, bandHashes(p)), s"$root/bands", Seq("band"))
    Publish.publish(spark, sh, s"$root/shingles", Nil)
    writeParams(spark, root, p)
  }

  /** Fold a (deduped) batch into the index — O(batch) work; an empty
    * batch is a no-op.
    */
  def append(spark: SparkSession, docs: DataFrame, root: String,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val p = params(spark, root)
    materialised(shingled(docs, idCol, textCol, p).withColumn("bh", bandHashes(p))) {
      (sh, n) =>
        if (n > 0) {
          Publish.publish(spark, bandRows(sh, col("bh")), s"$root/bands", Seq("band"),
            mode = "append")
          Publish.publish(spark, sh.drop("bh"), s"$root/shingles", Nil, mode = "append")
        }
    }
  }

  /** Near-duplicate pairs touching the new batch: batch-vs-corpus AND
    * batch-vs-batch, exact-Jaccard-verified, (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard ≥ threshold. Corpus-internal pairs are
    * never recomputed (they were the previous increments' output). The
    * batch's ids must be disjoint from the corpus's. Computed eagerly: the
    * result is a local checkpoint of the verified pairs, so the other
    * checkpoints the call makes are dropped before it returns.
    */
  def dedupBatch(spark: SparkSession, root: String, batch: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val p = params(spark, root)
    val keys = Seq("band", "bhash")
    materialised(shingled(batch, idCol, textCol, p).withColumn("bh", bandHashes(p))) {
      (sh, docs) =>
        val newBanded = bandRows(sh, col("bh"))
        // only the buckets the batch touches can pair with it: the stored
        // bands are pruned to those (an int + a long per key) before any
        // shuffle, and the pruned store ∪ the batch is the one probe side
        // both branches below read
        val probe = Fetch.fetch(spark, s"$root/bands")
          .select(col("id"), col("band"), col("bhash"))
          .join(broadcastIfSmall(newBanded.select(keys.map(col): _*), docs * p.bands, 12),
            keys, "left_semi")
          .unionByName(newBanded)
        materialised(probe) { (probeSide, _) =>
          // one bucket join: batch side × (store ∪ batch) side —
          // corpus-corpus pairs are structurally impossible, not filtered
          // after the fact. Skew guard over the COMBINED bucket population:
          // every bucket a pair can come from is touched, so its count
          // here is exact.
          val over = probeSide.groupBy(keys.map(col): _*).count()
            .where(col("count") > maxBucket).select(keys.map(col): _*)
          val a = newBanded.join(broadcast(over), keys, "left_anti")
            .select(col("band"), col("bhash"), col("id").as("raw_a"))
          val b = probeSide.join(broadcast(over), keys, "left_anti")
            .select(col("band"), col("bhash"), col("id").as("raw_b"))
          val candidates = a.join(b, keys)
            .where(col("raw_a") =!= col("raw_b"))
            .select(least(col("raw_a"), col("raw_b")).as("id_a"),
              greatest(col("raw_a"), col("raw_b")).as("id_b"))
            .dropDuplicates("id_a", "id_b")
          // verification shingles (corpus side from the store, batch side
          // from the checkpoint) are read back for candidate ids only;
          // small pair sets are broadcast to them instead of shuffling
          // shingle arrays. The verified pairs get a checkpoint of their
          // own, so this call's other checkpoints can be dropped.
          materialised(candidates) { (pairs, pairRows) =>
            val ids = pairs.select(col("id_a").as("id"))
              .union(pairs.select(col("id_b").as("id")))
            val lookup = Fetch.fetch(spark, s"$root/shingles").select(col("id"), col("sh"))
              .unionByName(sh.drop("bh"))
              .join(broadcastIfSmall(ids, 2 * pairRows, 8), Seq("id"), "left_semi")
            Dedup.jaccardVerify(
              broadcastIfSmall(pairs, pairRows, 16)
                .join(lookup.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
                .join(lookup.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b"),
              threshold).localCheckpoint()
          }
        }
    }
  }

  // ------------------------------------------------------- SimHash modality
  // Rolling ingest needs all three near-dup modalities incremental; the
  // SimHash store is the cheapest of the three — 16 bytes per corpus doc
  // (id + signature), chunks derived at probe time by a codegen projection
  // (a 4-way shift/mask is cheaper than storing 4× the rows).

  private val SimHashParamsName = "_dedup_index_simhash.json"

  private def writeMarker(spark: SparkSession, root: String, name: String,
                          json: String): Unit = {
    val out = fs(spark, root).create(new Path(root, name), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def requireMarker(spark: SparkSession, root: String, name: String,
                            kind: String): String = {
    val f = fs(spark, root)
    val p = new Path(root, name)
    require(f.exists(p), s"$root is not a $kind dedup index (no $name)")
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
  }

  /** (id, sim) under the caller's signature family. The SIGNATURE is the
    * one build/probe contract (chunking is fixed 4×16): pass the same
    * `sig` to build, append and probe — the default is the fast XXH64
    * family of [[Dedup.simHash64]]; the MD5 twin makes probes
    * oracle-checkable.
    */
  private def simHashed(docs: DataFrame, idCol: String, textCol: String,
                        sig: Option[Column]): DataFrame =
    // the per-token simhash is the CPU-heavy kernel: spread a narrow
    // input (identity at real scale, guide §2.5; docs stays unprojected —
    // a custom `sig` may reference any column)
    Spread.forCompute(docs, col(idCol)).select(col(idCol).as("id"),
      sig.getOrElse(Dedup.simHash64(split(col(textCol), " "))).as("sim"))

  /** Build the SimHash index over the current corpus. */
  def buildSimHash(spark: SparkSession, docs: DataFrame, root: String,
                   idCol: String = "doc_id", textCol: String = "text",
                   sig: Option[Column] = None): Unit = {
    Publish.publish(spark, simHashed(docs, idCol, textCol, sig),
      s"$root/simhash", Nil)
    writeMarker(spark, root, SimHashParamsName, """{"kind":"simhash"}""")
  }

  /** Fold a batch's signatures into the SimHash index — O(batch); an
    * empty batch is a no-op.
    */
  def appendSimHash(spark: SparkSession, docs: DataFrame, root: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    sig: Option[Column] = None): Unit = {
    requireMarker(spark, root, SimHashParamsName, "SimHash")
    materialised(simHashed(docs, idCol, textCol, sig)) { (sims, n) =>
      if (n > 0) Publish.publish(spark, sims, s"$root/simhash", Nil, mode = "append")
    }
  }

  /** SimHash near-dup pairs touching the batch: batch-vs-corpus and
    * batch-vs-batch at Hamming ≤ `maxHamming`, `(id_a, id_b, hamming)`
    * with id_a < id_b. The 4×16-bit chunk cover is EXHAUSTIVE for
    * Hamming ≤ 3 (pigeonhole — the [[Dedup.simHashPairs]] identity), so
    * under the default the output is exactly every qualifying pair, never
    * a recall approximation. Only (id, sim, chunk) scalars ride the
    * bucket join; corpus text is never read.
    */
  def dedupBatchSimHash(spark: SparkSession, root: String, batch: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxHamming: Int = 3, maxBucket: Int = 1000,
                        sig: Option[Column] = None): DataFrame = {
    requireMarker(spark, root, SimHashParamsName, "SimHash")
    require(maxHamming <= 3,
      s"the 4-chunk cover is only exhaustive to Hamming 3, got $maxHamming")
    val newSims = simHashed(batch, idCol, textCol, sig)
    val probeSide = Fetch.fetch(spark, s"$root/simhash")
      .select(col("id"), col("sim")).unionByName(newSims)
    def chunked(df: DataFrame) = df.select(col("id"), col("sim"),
      explode(transform(sequence(lit(0), lit(3)), j => struct(j.as("j"),
        call_function("shiftright", col("sim"), j * 16)
          .bitwiseAND(0xFFFFL).as("chunk")))).as("c"))
      .select(col("id"), col("sim"), col("c.j"), col("c.chunk"))
    val keys = Seq("j", "chunk")
    val over = chunked(probeSide).groupBy(keys.map(col): _*).count()
      .where(col("count") > maxBucket).select(keys.map(col): _*)
    val a = chunked(newSims).join(broadcast(over), keys, "left_anti")
      .select(col("j"), col("chunk"), col("id").as("raw_a"), col("sim").as("sim_a"))
    val b = chunked(probeSide).join(broadcast(over), keys, "left_anti")
      .select(col("j"), col("chunk"), col("id").as("raw_b"), col("sim").as("sim_b"))
    a.join(b, keys)
      .where(col("raw_a") =!= col("raw_b"))
      .select(least(col("raw_a"), col("raw_b")).as("id_a"),
        greatest(col("raw_a"), col("raw_b")).as("id_b"),
        // hamming is symmetric — unaffected by the id normalization
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ----------------------------------------------------- embedding modality

  final case class EmbParams(planes: Int, tables: Int)

  private val EmbParamsName = "_dedup_index_embedding.json"

  def embParams(spark: SparkSession, root: String): EmbParams = {
    val raw = requireMarker(spark, root, EmbParamsName, "embedding")
    def field(n: String): Int =
      s""""$n":(\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt)
        .getOrElse(sys.error(s"malformed $EmbParamsName: $raw"))
    EmbParams(field("planes"), field("tables"))
  }

  private def embBase(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    // hyperplane signatures + candidate cosines are the CPU-heavy
    // kernels: spread a narrow input (identity at real scale, guide §2.5)
    Spread.forCompute(embs.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", Similarity.l2Norm(col("v")))
      .where(col("norm") > 0)

  private def embSigs(base: DataFrame, p: EmbParams): DataFrame =
    base.select(col("id"),
      posexplode(Similarity.hyperplaneSigs(col("v"), p.planes, p.tables))
        .as(Seq("t", "sig")))

  /** Build the embedding index: `vecsigs/` (id, table, hyperplane sig —
    * the probe side, partitioned by table) + `vectors/` (id, vector, norm
    * — joined back only for surviving candidates). The hyperplane family
    * is a deterministic function of (table, plane, dim) indices, so
    * signatures reproduce across sessions; (planes, tables) are pinned in
    * the sidecar — probes read them from here, never from call sites.
    */
  def buildEmbedding(spark: SparkSession, embs: DataFrame, root: String,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     planes: Int = 12, tables: Int = 4): Unit = {
    val p = EmbParams(planes, tables)
    val base = embBase(embs, idCol, vecCol)
    Publish.publish(spark, embSigs(base, p), s"$root/vecsigs", Seq("t"))
    Publish.publish(spark, base, s"$root/vectors", Nil)
    writeMarker(spark, root, EmbParamsName,
      s"""{"kind":"embedding","planes":$planes,"tables":$tables}""")
  }

  /** Fold a batch's vectors + signatures into the index — O(batch); a
    * batch with no non-zero vector is a no-op.
    */
  def appendEmbedding(spark: SparkSession, embs: DataFrame, root: String,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val p = embParams(spark, root)
    materialised(embBase(embs, idCol, vecCol)) { (base, n) =>
      if (n > 0) {
        Publish.publish(spark, embSigs(base, p), s"$root/vecsigs", Seq("t"), mode = "append")
        Publish.publish(spark, base, s"$root/vectors", Nil, mode = "append")
      }
    }
  }

  /** Embedding near-dup pairs touching the batch: cosine ≥ threshold,
    * `(id_a, id_b, cosine)` with id_a < id_b. Candidates come from the
    * stored hyperplane buckets (scalar-only shuffle); vectors join back
    * for survivors only. Recall follows the pinned (planes, tables)
    * config — saturate tables for oracle-exact runs, the
    * [[Dedup.embeddingNearDup]] contract.
    */
  def dedupBatchEmbedding(spark: SparkSession, root: String, batch: DataFrame,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          threshold: Double = 0.95, maxBucket: Int = 2000): DataFrame = {
    val p = embParams(spark, root)
    val base = embBase(batch, idCol, vecCol)
    val probeSide = Fetch.fetch(spark, s"$root/vecsigs")
      .select(col("id"), col("t"), col("sig")).unionByName(embSigs(base, p))
    val keys = Seq("t", "sig")
    val over = probeSide.groupBy(keys.map(col): _*).count()
      .where(col("count") > maxBucket).select(keys.map(col): _*)
    val a = embSigs(base, p).join(broadcast(over), keys, "left_anti")
      .select(col("t"), col("sig"), col("id").as("raw_a"))
    val b = probeSide.join(broadcast(over), keys, "left_anti")
      .select(col("t"), col("sig"), col("id").as("raw_b"))
    val pairs = a.join(b, keys)
      .where(col("raw_a") =!= col("raw_b"))
      .select(least(col("raw_a"), col("raw_b")).as("id_a"),
        greatest(col("raw_a"), col("raw_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val lookup = Fetch.fetch(spark, s"$root/vectors")
      .select(col("id"), col("v"), col("norm")).unionByName(base)
    pairs
      .join(lookup.select(col("id").as("id_a"), col("v").as("v_a"),
        col("norm").as("n_a")), "id_a")
      .join(lookup.select(col("id").as("id_b"), col("v").as("v_b"),
        col("norm").as("n_b")), "id_b")
      .withColumn("cosine",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
