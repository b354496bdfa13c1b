package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k of a SMALL query set against
  *    the full corpus: the query side is broadcast, so the corpus is
  *    scanned once with zero shuffle of corpus rows; per-query top-k via a
  *    windowed rank over (query, -sim).
  *  - [[lshTopK]] — approximate: both sides are bucketed by random
  *    hyperplane signatures across several hash tables; candidates are
  *    generated within buckets only, then exact cosine ranks the union.
  *    The scale path when the query set itself is large.
  */
object Similarity {

  /** Σ aᵢ·bᵢ — native sequential loop ([[graft.functions.ArrayDotExpr]]),
    * accumulation order identical to a sequential SQL `aggregate`.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.SketchFunctions.arrayDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** One `planes`-bit signature per hash table (array indexed by table):
    * bit p = sign of ⟨v, plane⟩, hyperplanes derived deterministically so
    * every executor materializes them with no broadcast
    * ([[graft.functions.HyperplaneSigsExpr]]).
    */
  def hyperplaneSigs(v: Column, planes: Int, tables: Int): Column =
    graft.functions.SketchFunctions.hyperplaneSigs(v, planes, tables)

  /** Exact cosine top-k of each query vector against the corpus.
    * `queries` must be small (≲ thousands): it is broadcast and the corpus
    * streams past it — one corpus scan, no corpus shuffle, top-k via
    * window rank on the (tiny) candidate output.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // |corpus| × |queries| dot products are the CPU-heavy kernel: spread
    // a narrow corpus across the cluster first (identity at real scale,
    // guide §2.5). Queries broadcast either way.
    val c = Spread.forCompute(corpus.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val sims = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 4))
    topKPerQuery(sims, k)
  }

  private def ivfBase(df: DataFrame, idCol: String, vecCol: String,
                      id: String, v: String, n: String) =
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
      .withColumn(n, l2Norm(col(v)))
      .where(col(n) > 0)

  // Quantize and probe on L2-NORMALIZED vectors: Euclidean nearness on
  // the unit sphere is monotone in cosine, so cells agree with the final
  // cosine ranking regardless of raw magnitudes (standard IVF-for-cosine;
  // unnormalized k-means would cluster by magnitude and tank recall).
  private def unitized(v: String, n: String) = transform(col(v), x => x / col(n))

  /** A fitted IVF index: the (tiny, driver-held) coarse-quantizer
    * centroids plus the corpus with its cell assignment. Fit ONCE with
    * [[ivfFit]], then serve any number of [[ivfQuery]] calls — and
    * [[IvfIndex.save]]/[[IvfIndex.load]] carry the index ACROSS sessions:
    * the 100 TB assignment pass is paid once, and queries on a loaded
    * index read only their probed cells' partitions.
    */
  final class IvfIndex private[ops](private[ops] val centroids: Array[(Array[Double], Int)],
                                    val assigned: DataFrame,
                                    private[ops] val persistedRoot: Option[String] = None) {

    /** Assign a NEW batch of vectors to this index's (frozen) cells and
      * extend the index with them — one pass over the BATCH, never a
      * refit or corpus re-read, so a 100 TB index grows at the cost of
      * what's appended. A persisted index appends the assignment to its
      * cell-partitioned dataset on disk; an in-memory one unions it.
      * (Freezing the coarse quantizer is standard IVF practice — recall
      * degrades only if the data distribution drifts far from the fit
      * sample; refit with [[ivfFit]] when it does.)
      */
    def append(newVectors: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): IvfIndex = {
      val batch = Similarity.assignCells(
        ivfBase(newVectors, idCol, vecCol, "neighbor_id", "cv", "cn"), centroids)
      persistedRoot match {
        case Some(root) =>
          graft.core.Publish.publish(batch.sparkSession, batch, root, Seq("cell"),
            mode = "append")
          new IvfIndex(centroids,
            graft.core.Fetch.fetch(batch.sparkSession, root), persistedRoot)
        case None =>
          new IvfIndex(centroids, assigned.unionByName(batch), None)
      }
    }

    /** Persist the index at `root`: the assignment as a graft dataset
      * HIVE-PARTITIONED BY CELL (so a loaded index serves [[ivfQuery]]
      * through graft's own partition pruning — probed cells map to listed
      * directories, unprobed cells are never opened), the centroids as a
      * small underscore-hidden parquet sidecar (invisible to data
      * listings, like `_graft_stats`). Data first, sidecar last: a save
      * that dies mid-way leaves no centroids file and [[IvfIndex.load]]
      * fails loudly instead of serving a half-written index.
      */
    def save(root: String): Unit = {
      // re-saving a LOADED index onto its own root would self-destruct:
      // the overwrite publish deletes the directory backing the lazy
      // `assigned` frame before rewriting it
      require(!persistedRoot.contains(root),
        s"index is already persisted at $root; saving it onto its own root would " +
          s"delete the data backing the index mid-write. Save to a different root, " +
          s"or skip the save — append() already persists in place.")
      val spark = assigned.sparkSession
      graft.core.Publish.publish(spark, assigned, root, Seq("cell"))
      import spark.implicits._
      centroids.toSeq.map { case (vec, cell) => (cell, vec.toSeq) }
        .toDF("cell", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/${IvfIndex.CentroidsDir}")
    }
  }

  object IvfIndex {
    private[ops] val CentroidsDir = "_graft_ivf_centroids"

    /** Re-open a saved index. The centroid sidecar (≤ nlist small rows)
      * collects to the driver; the assignment stays a lazy frame — nothing
      * of the corpus is read until a query probes it, and then only the
      * probed cells' partitions are.
      */
    def load(spark: org.apache.spark.sql.SparkSession, root: String): IvfIndex = {
      val centroids = spark.read.parquet(s"$root/$CentroidsDir")
        .collect()
        .map(r => (r.getSeq[Double](r.fieldIndex("vec")).toArray, r.getInt(r.fieldIndex("cell"))))
        .sortBy(_._2)
      require(centroids.nonEmpty, s"no IVF centroids found at $root/$CentroidsDir")
      new IvfIndex(centroids, graft.core.Fetch.fetch(spark, root), Some(root))
    }
  }

  /** Catalyst-stats row estimate — no job, no scan. The sample fraction
    * only needs the order of magnitude; [[ivfFit]] biases it UP and
    * down-samples driver-side, so an off estimate costs a slightly larger
    * collected sample, never a biased or undersized one.
    */
  private[ops] def estimatedRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse(
      (stats.sizeInBytes / math.max(1, df.schema.defaultSize)).toLong)
  }

  /** Fit the IVF coarse quantizer and assign the corpus to cells.
    *
    * The quantizer fits on a BOUNDED sample (`maxFitSample` vectors,
    * driver-side Lloyd iterations over ≤ a few MB) — a quantizer fit over
    * the full corpus would iterate ~20 full passes over 100 TB and
    * dominate everything; standard IVF practice needs only O(nlist·256)
    * training points. The sample is UNBIASED: a bare limit() takes the
    * head of the scan, and a corpus sorted by source or label would put
    * every centroid in one region of the space (recall collapse). The
    * fraction derives from a free Catalyst-stats row estimate (no
    * counting pass), aimed 4× above target; the driver then shuffles the
    * collected (uniform) sample down to target size, so estimate error
    * moves collect volume, not statistics. Cell ASSIGNMENT of the corpus
    * is a single distributed pass with the centroid array riding the
    * closure — no join, no shuffle.
    */
  def ivfFit(corpus: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             nlist: Int = 16, seed: Long = 42L,
             maxFitSample: Int = 25000): IvfIndex = {
    val c = ivfBase(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val sample = sampleUnitVectors(c, (maxFitSample * 1.2).toLong,
      math.max(64, 4 * nlist), seed)
    val centroids = KMeansLite.fit(sample, nlist, maxIter = 20, seed).zipWithIndex
    new IvfIndex(centroids, assignCells(c, centroids))
  }

  /** Bounded, UNBIASED driver-side sample of an [[ivfBase]]-shaped frame's
    * unit-normalized vectors — the shared quantizer-training sample of the
    * IVF and PQ fits. A bare limit() would take the head of the scan, and
    * a corpus sorted by source or label would then put every centroid in
    * one region of the space (recall collapse); the fraction derives from
    * a free Catalyst-stats row estimate (no counting pass), aimed 4× above
    * target, and the driver shuffles the collected sample down to target
    * size so estimate error moves collect volume, not statistics.
    */
  private def sampleUnitVectors(c: DataFrame, target: Long,
                                minSample: Int, seed: Long): Array[Array[Double]] = {
    val estRows = math.max(1L, estimatedRows(c))
    val fraction = math.min(1.0, 4.0 * target.toDouble / estRows)
    val sampled = if (fraction >= 1.0) c else c.sample(withReplacement = false, fraction, seed)
    val nv = unitized("cv", "cn").as("nv")
    var collected: Array[Array[Double]] = sampled.select(nv)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    if (collected.length < minSample && fraction < 1.0) {
      // Stats-less plans (RDD-backed frames, some views) report
      // sizeInBytes = defaultSizeInBytes = Long.MaxValue, collapsing the
      // fraction to ~0 and the sample to nothing — which would quietly
      // fit ZERO centroids and return empty ANN results. Pay the exact
      // count() only on this degenerate path and resample correctly.
      val exact = math.max(1L, c.count())
      val f = math.min(1.0, 1.2 * target.toDouble / exact)
      collected =
        (if (f >= 1.0) c else c.sample(withReplacement = false, f, seed))
          .select(nv).collect().map(_.getSeq[Double](0).toArray)
    }
    // estimate came in low → collected overshot the target: down-sample
    // uniformly driver-side (seeded shuffle of an already-uniform sample
    // stays uniform)
    if (collected.length <= target) collected
    else {
      val rnd = new scala.util.Random(seed)
      rnd.shuffle(collected.toSeq).take(target.toInt).toArray
    }
  }

  /** The (vector, idx) centroid pairs as a dense position-indexed array —
    * the form the codegen kernels ([[graft.functions.AnnOps]]) scan. Cell
    * ids are contiguous by construction (fit assigns zipWithIndex; load
    * collects and sorts the full sidecar), so position == cell id.
    */
  private def centroidArray(centroids: Array[(Array[Double], Int)]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](centroids.map(_._2).max + 1)
    centroids.foreach { case (v, i) => out(i) = v }
    require(out.forall(_ != null), "IVF cell ids must be contiguous")
    out
  }

  /** Nearest-centroid cell assignment of an [[ivfBase]]-shaped frame: one
    * distributed pass, the (tiny) centroid array riding the codegen'd
    * [[graft.functions.NearestCellExpr]] — no join, no shuffle, no udf
    * boxing in the 100 TB assignment loop. Shared by [[ivfFit]] and
    * [[IvfIndex.append]].
    */
  private def assignCells(c: DataFrame,
                          centroids: Array[(Array[Double], Int)]): DataFrame =
    c.withColumn("cell", graft.functions.AnnFunctions.nearestCell(
      col("cv"), col("cn"), centroidArray(centroids)))

  /** AUTO probe count (`nprobe <= 0` in the IVF surfaces): half the cells,
    * plus ceil(2·log10(rows/10k)) more per decade of corpus size beyond 10k rows, clamped to
    * [2, nlist]. Recall-vs-probe is geometry-driven, but two effects scale
    * with SIZE: a bigger corpus packs the true top-k tighter (cell-boundary
    * neighbors matter more) and the bounded fit sample covers a smaller
    * fraction (cells drift from the true Voronoi) — measured at ×100
    * (STRESS_SCALE r13) the fixed half-probe config's minimum recall sat
    * exactly on the 0.80 floor; the decade boost buys headroom exactly at
    * the scales that need it. Corpus size comes from the free Catalyst
    * row estimate — no counting job.
    */
  def autoNprobe(nlist: Int, corpusRows: Long): Int = {
    val base = (nlist + 1) / 2
    val boost = math.ceil(math.max(0.0,
      math.log10(math.max(corpusRows, 1L).toDouble / 10000.0)) * 2).toInt
    math.min(nlist, math.max(2, base + boost))
  }

  /** IVF-style ANN against a fitted index: each query probes only its
    * `nprobe` nearest cells (`<= 0` = [[autoNprobe]]) and ranks that
    * union by exact cosine — per-query work is proportional to the probed
    * fraction (nprobe/nlist of the corpus) instead of the whole corpus,
    * and a persisted `index.assigned` makes repeated queries refit- and
    * rescan-free.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               nprobe: Int = 0): DataFrame = {
    val centroids = index.centroids
    val np =
      if (nprobe > 0) nprobe
      else autoNprobe(centroids.length, math.max(1L, estimatedRows(index.assigned)))
    // Each query's nprobe nearest cells, ranked by distance to the (tiny,
    // driver-held) centroid set — centroids ride the codegen'd
    // [[graft.functions.ProbeCellsExpr]], no join, no udf boxing.
    val q = ivfBase(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("cell", explode(graft.functions.AnnFunctions.probeCells(
        col("qv"), col("qn"), centroidArray(centroids), np)))

    // A persisted index is cell-partitioned on disk: resolve the probed
    // cell set (≤ nlist values — one cheap pass over the query side) and
    // fetch ONLY those partitions. Unprobed cells' files are never listed,
    // let alone read. The in-memory path keeps the zero-extra-job join.
    val assigned = index.persistedRoot match {
      case Some(root) =>
        val probed = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
        graft.core.Fetch.fetch(index.assigned.sparkSession, root,
          Seq(graft.core.ColFilter("cell", "==", probed)))
      case None => index.assigned
    }
    // one cell per corpus vector + distinct probed cells per query ⇒ a
    // (query, neighbor) pair matches at most once: no dedup shuffle needed
    val cands = assigned.join(q, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 4))
    topKPerQuery(cands, k)
  }

  /** One-shot fit + query (the original surface; fit cost amortizes over
    * nothing — prefer [[ivfFit]]/[[ivfQuery]] for repeated queries).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nlist: Int = 16, nprobe: Int = 0, seed: Long = 42L,
              maxFitSample: Int = 25000): DataFrame =
    ivfQuery(ivfFit(corpus, idCol, vecCol, nlist, seed, maxFitSample),
      queries, k, idCol, vecCol, nprobe)

  /** Per-label embedding centroids in exploded form (label, dim, mean):
    * posexplode → hash aggregate on (label, dim) with map-side partial
    * sums — one shuffle of (label, dim, partial) triples regardless of
    * corpus size. Means rounded to 4 decimals (summation-order tolerance).
    */
  def centroids(embs: DataFrame, labelCol: String = "label",
                vecCol: String = "embedding"): DataFrame =
    embs.select(col(labelCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(round(avg("x"), 4).as("m"))

  /** Partial-aggregated per-query top-k ([[graft.functions.TopKPairs]]):
    * each map task ships at most k candidates per query, so the rank
    * shuffle is O(k·tasks), not O(candidates) — a window row_number here
    * would shuffle and sort every similarity row.
    */
  private def topKPerQuery(sims: DataFrame, k: Int): DataFrame =
    sims.groupBy("query_id")
      .agg(graft.functions.TopKPairs.topK(col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("sim"), (col("pos") + 1).as("rank"))

  /** Per-query recall of an ANN result against the brute-force ground
    * truth: |approx ∩ exact| / |exact| per query_id — the quality gate a
    * production ANN deployment monitors continuously. Queries the approx
    * side missed ENTIRELY (no candidates survived bucketing) still appear,
    * with recall 0 — a silent-miss must not vanish from the report. Both
    * inputs are (query_id, neighbor_id, …) top-k frames; the join is on
    * id scalars only.
    */
  def recallVsBrute(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    e.groupBy("query_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("n"), 4).as("recall"))
  }

  /** [[recallVsBrute]] of SEVERAL method-tagged ANN results against ONE
    * shared ground truth, as one plan: the exact (brute-force) subtree is
    * referenced ONCE — fanned across methods by a broadcast cross join
    * with the (tiny) method list — instead of being copied into every
    * method's recall branch. A 7-method recall report was recomputing the
    * corpus-scanning brute-force leg up to 14× inside one query (each
    * per-method recallVsBrute references the exact frame twice, and Spark
    * does not share identical subtrees); this shape computes it once per
    * corpus. Per-(method, query) output rows are IDENTICAL to running
    * recallVsBrute per method: a left join against the distinct approx
    * pairs counts hits (a miss contributes a null, so silent-miss queries
    * still appear with recall 0), and the rounding matches.
    */
  def recallVsBruteTagged(approxByMethod: Seq[(String, DataFrame)],
                          exact: DataFrame): DataFrame = {
    require(approxByMethod.nonEmpty, "need at least one tagged ANN result")
    val spark = exact.sparkSession
    import spark.implicits._
    val methods = approxByMethod.map(_._1).toDF("method")
    val a = approxByMethod.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionAll(_))
      // a repeated approx pair is ONE hit: without this it would duplicate
      // its exact row in the left join and inflate both n and hits
      .dropDuplicates("method", "query_id", "neighbor_id")
      .withColumn("__hit", lit(1))
    exact.select(col("query_id"), col("neighbor_id"))
      .crossJoin(broadcast(methods))
      .join(a, Seq("method", "query_id", "neighbor_id"), "left")
      .groupBy("method", "query_id")
      .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
      .select(col("method"), col("query_id"),
        round(col("hits").cast("double") / col("n"), 4).as("recall"))
  }

  // -------------------------------------------------------- product quantization

  /** A fitted product-quantization model: vectors are unit-normalized and
    * split into `m` contiguous subspaces (`splits` holds the boundaries);
    * `codebooks(s)(j)` is codeword `j` of subspace `s`. A vector encodes
    * to `m` small codeword indices — with the default ksub=256 that is
    * m BYTES per vector instead of 4·dim float bytes (64-dim float ⇒ 32×
    * compression), which is what lets an ANN scan over a 100 TB embedding
    * corpus read ~3 TB of codes instead.
    */
  // ---- scalar quantization (SQ8) ----

  /** Per-dimension affine int8 quantizer: `code_i = round((x_i - min_i) /
    * step_i) - 128`, `step_i = (max_i - min_i)/255`. One byte per
    * dimension — 8× less scan/shuffle bandwidth than the float64 arrays
    * (4× vs float32), the FAISS `SQ8` storage tier: where PQ (#128)
    * trades recall for 32× compression, SQ8 keeps near-exact ordering at
    * a milder ratio, so an exact re-rank over a small candidate multiple
    * recovers brute-force answers on realistic corpora.
    */
  final case class SqModel private[ops] (mins: Array[Double], steps: Array[Double]) {
    def dims: Int = mins.length
  }

  /** Fit per-dimension ranges in ONE aggregation pass (posexplode →
    * per-position min/max — a dims-sized shuffle, not a corpus one).
    * Zero-width dimensions quantize to a constant (step 1, code 0).
    */
  def sqFit(corpus: DataFrame, vecCol: String = "embedding"): SqModel = {
    val ranges = corpus.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("pos").collect()
    require(ranges.nonEmpty, "sqFit needs a non-empty corpus")
    require(ranges.length == ranges.last.getInt(0) + 1,
      "sqFit needs fixed-dimensionality vectors")
    val mins = ranges.map(_.getDouble(1))
    val steps = ranges.map(r => {
      val w = (r.getDouble(2) - r.getDouble(1)) / 255.0
      if (w > 0) w else 1.0
    })
    SqModel(mins, steps)
  }

  /** Encode the corpus: `(neighbor_id, code array<byte>, cn exact-norm)`.
    * The norm is computed ONCE here at full precision (it is one double a
    * row — keeping it exact costs nothing and removes the norm's
    * quantization error from every score).
    */
  def sqEncode(model: SqModel, corpus: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val minsC = lit(model.mins)
    val stepsC = lit(model.steps)
    val v = col(vecCol).cast("array<double>")
    corpus.select(col(idCol).as("neighbor_id"),
      transform(v, (x, i) =>
        least(greatest(round((x - element_at(minsC, i + 1)) /
          element_at(stepsC, i + 1)), lit(0.0)), lit(255.0))
          .cast("int").minus(128).cast("byte")).as("code"),
      l2Norm(v).as("cn"))
  }

  /** SQ8 ANN: approximate cosine from dequantized codes (a codegen
    * projection — the win is the 8× smaller scan, not fewer FLOPs), then
    * the shared exact re-rank over the top `k·refineFactor` candidates'
    * original vectors ([[refineExact]] — broadcast candidates, corpus
    * never shuffles). `refineFactor` ≥ corpus/k degenerates to exact
    * brute force — the saturated config the DuckDB oracle replays.
    */
  def sqQuery(model: SqModel, encoded: DataFrame, corpus: DataFrame,
              queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val minsC = lit(model.mins)
    val stepsC = lit(model.steps)
    val q = ivfBase(queries, idCol, vecCol, "query_id", "qv", "qn")
    // the dequantized dot factors into per-QUERY terms + ONE native
    // array dot against the raw codes:
    //   Σ (minᵢ + (cᵢ+128)·stepᵢ)·qᵢ = [Σ minᵢqᵢ + 128·Σ stepᵢqᵢ] + Σ cᵢ·(stepᵢqᵢ)
    // lutstep/qbase are computed ONCE per query on the broadcast side;
    // each corpus row then pays one array<byte>→double widening + one
    // tight arrayDot loop — measured 5× over the per-element
    // element_at(lit) formulation this replaces (22.3 s → see bench)
    val q2 = q
      .withColumn("lutstep", transform(col("qv"), (x, i) =>
        x * element_at(stepsC, i + 1)))
      .withColumn("qbase",
        dot(col("qv"), minsC) + lit(128.0) * aggregate(
          col("lutstep"), lit(0.0), (acc, x) => acc + x))
    val scored = encoded.crossJoin(broadcast(q2))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        (col("qbase") + dot(col("code").cast("array<double>"), col("lutstep"))) /
          (col("cn") * col("qn")))
      .select("query_id", "neighbor_id", "sim")
    refineExact(scored, corpus, queries, k, refineFactor, idCol, vecCol)
  }

  /** Fit + encode + query in one call (persistable pieces: callers keep
    * [[sqFit]]'s model and [[sqEncode]]'s frame for incremental use).
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             refineFactor: Int = 4): DataFrame = {
    val model = sqFit(corpus, vecCol)
    sqQuery(model, sqEncode(model, corpus, idCol, vecCol), corpus, queries, k,
      idCol, vecCol, refineFactor)
  }

  // ---- product quantization ----

  final case class PqModel private[ops] (splits: Array[Int],
                                         codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    /** LUT stride — the widest codebook (they differ only when the fit
      * sample was smaller than ksub). */
    def width: Int = codebooks.map(_.length).max
  }

  /** Fit PQ codebooks on a bounded unbiased sample (the same
    * sample-bounded discipline as [[ivfFit]]: per-subspace Lloyd
    * iterations run driver-side over ≤ a few MB, never as ~20 distributed
    * passes over the corpus). Subspaces split the dims as evenly as
    * possible; `m` is clamped to the dimensionality.
    */
  def pqFit(corpus: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding",
            m: Int = 8, ksub: Int = 256, seed: Long = 42L,
            maxFitSample: Int = 25000): PqModel = {
    require(m >= 1, "m (number of subspaces) must be >= 1")
    require(ksub >= 1 && ksub <= 65536, "ksub must be in [1, 65536]")
    val c = ivfBase(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val sample = sampleUnitVectors(c, (maxFitSample * 1.2).toLong,
      math.max(64, 2 * ksub), seed)
    require(sample.nonEmpty, "cannot fit PQ on an empty corpus")
    val dim = sample(0).length
    val mm = math.min(m, dim)
    val base = dim / mm
    val rem = dim % mm
    val splits = new Array[Int](mm + 1)
    var i = 0
    while (i < mm) { splits(i + 1) = splits(i) + base + (if (i < rem) 1 else 0); i += 1 }
    // The mm subspace fits are independent — run them on the driver's
    // cores in parallel (each is a seeded deterministic Lloyd run, so
    // parallelism cannot change the result). At default sizes this is the
    // dominant cost of pqFit; sequential fits measured ~mm× slower.
    import scala.collection.parallel.CollectionConverters._
    val codebooks = (0 until mm).par.map { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, splits(s), splits(s + 1)))
      KMeansLite.fit(sub, ksub, maxIter = 20, seed + s)
    }.toArray
    PqModel(splits, codebooks)
  }

  /** Nearest-codeword encoder over a raw `(cv, cn)` pair — shared by the
    * flat and IVF-composed PQ paths. The codebooks ride the codegen'd
    * [[graft.functions.PqEncodeExpr]]: the 100 TB encode pass is a
    * whole-stage-codegen loop, not a udf boxing every vector.
    */
  private def pqEncodeCol(model: PqModel, cv: Column, cn: Column): Column =
    graft.functions.AnnFunctions.pqEncode(cv, cn, model.splits, model.codebooks)

  /** ADC lookup table for one unit-normalized query vector (driver-side:
    * the query batch is collected anyway — it is the broadcast-small side
    * by design, exactly like [[bruteForceTopK]]'s broadcast).
    */
  private def lutOf(model: PqModel, qv: Array[Double]): Array[Double] = {
    val splits = model.splits
    val books = model.codebooks
    val width = model.width
    val lut = new Array[Double](books.length * width)
    var s = 0
    while (s < books.length) {
      val book = books(s); val lo = splits(s)
      var j = 0
      while (j < book.length) {
        val ctr = book(j); var d = 0.0; var i = 0
        while (i < ctr.length) { d += qv(lo + i) * ctr(i); i += 1 }
        lut(s * width + j) = d
        j += 1
      }
      s += 1
    }
    lut
  }

  /** Collected query batch for ADC scoring: ids (any type), normalized
    * vectors, and the per-query LUTs, plus the tiny `(qpos → query_id)`
    * frame the scored positions join back to.
    */
  private def collectQueryLuts(model: PqModel, q: DataFrame)
      : (Array[Array[Double]], Array[Array[Double]], DataFrame) = {
    val spark = q.sparkSession
    val qRows = q.select(col("query_id"), unitized("qv", "qn").as("nq")).collect()
    val nqs = qRows.map(_.getSeq[Double](1).toArray)
    val luts = nqs.map(lutOf(model, _))
    val qidField = q.schema("query_id")
    val posSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qpos", org.apache.spark.sql.types.IntegerType,
        nullable = false), qidField))
    val posRows = qRows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i, r.get(0)) }
    val qpos = spark.createDataFrame(
      spark.sparkContext.parallelize(posRows.toIndexedSeq, 1), posSchema)
    (luts, nqs, qpos)
  }

  // test-only visibility for stage timing probes
  private[graft] def topKForProbe(sims: DataFrame, k: Int) = topKPerQuery(sims, k)

  /** Encode a corpus against a fitted model: one distributed pass, the
    * (≤ ~128 KB at default sizes) codebooks riding the closure — no join,
    * no shuffle. Output is `(neighbor_id, code)`; persist it as a graft
    * dataset and the 100 TB encode pass is paid once.
    */
  def pqEncode(model: PqModel, corpus: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfBase(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .select(col("neighbor_id"), pqEncodeCol(model, col("cv"), col("cn")).as("code"))

  /** ADC (asymmetric-distance) top-k over an encoded corpus: each query
    * precomputes a `m × width` lookup table of partial dot products
    * against the codebooks (O(ksub·dim) per query — one 256-vector brute
    * force), then every corpus CODE scores in m table adds instead of a
    * dim-length float dot — the scan reads 32×-compressed codes and does
    * 8 adds/row at default sizes. The ADC top `k·refineFactor` candidates
    * are then re-ranked by EXACT cosine against the original vectors
    * (standard PQ refinement; the refine join touches only candidates, so
    * its cost is O(queries·k·refineFactor), not corpus-sized). Both
    * ranking passes are [[graft.functions.TopKPairs]] partial aggregates.
    */
  def pqQuery(model: PqModel, encoded: DataFrame, corpus: DataFrame,
              queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val spark = encoded.sparkSession
    val q = ivfBase(queries, idCol, vecCol, "query_id", "qv", "qn")
    val (luts, _, qpos) = collectQueryLuts(model, q)
    // The LUT matrix rides ONE executor-shared Broadcast and every corpus
    // row scores ALL queries in a single tight codegen'd loop
    // ([[graft.functions.AdcScoreAllExpr]]). The first cut joined a
    // (query_id, lut) frame instead — which materialized the 4 KB lut
    // into every joined row (measured ~100× slower than this at 20k×8:
    // the join row copies dominated everything).
    val bc = spark.sparkContext.broadcast(luts)
    val width = model.width
    val scored = encoded
      .select(col("neighbor_id"), posexplode(
        graft.functions.AnnFunctions.adcScoreAll(col("code"), bc, width)).as(Seq("qpos", "sim")))
      .join(broadcast(qpos), "qpos")
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "sim")
    refineExact(scored, corpus, queries, k, refineFactor, idCol, vecCol)
  }

  /** ADC-candidate exact re-rank shared by the flat and IVF-composed PQ
    * paths: top `k·refineFactor` by approximate score, then exact cosine
    * over the original vectors of ONLY those candidates (both passes are
    * partial top-k aggregates; the refine joins broadcast the tiny
    * candidate/query sides, never shuffling the corpus).
    */
  private def refineExact(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                          k: Int, refineFactor: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val cands = topKPerQuery(scored, k * refineFactor)
      .select("query_id", "neighbor_id")
    val c = ivfBase(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val q = ivfBase(queries, idCol, vecCol, "query_id", "qv", "qn")
    val refined = c.join(broadcast(cands), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 4))
    topKPerQuery(refined, k)
  }

  /** IVF-PQ: the FAISS-shaped composition — the coarse quantizer prunes
    * the candidate set to each query's `nprobe` cells AND the scan over
    * those cells reads m-byte PQ codes scored by ADC table adds, so a
    * query touches `nprobe/nlist` of the corpus at ~32× less bandwidth;
    * only the surviving `k·refineFactor` candidates are re-ranked against
    * their original vectors. This is the 100 TB ANN configuration: both
    * the cell assignment and the code table are one-time passes a caller
    * can persist.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 256, seed: Long = 42L,
                refineFactor: Int = 4, maxFitSample: Int = 25000): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    val index = ivfFit(corpus, idCol, vecCol, nlist, seed, maxFitSample)
    val model = pqFit(corpus, idCol, vecCol, m, ksub, seed, maxFitSample)
    // assigned already carries (neighbor_id, cv, cn, cell): encode in the
    // same pass, then drop the vectors — cells scan codes only
    val encodedCells = index.assigned
      .select(col("neighbor_id"), col("cell"),
        pqEncodeCol(model, col("cv"), col("cn")).as("code"))
    val q = ivfBase(queries, idCol, vecCol, "query_id", "qv", "qn")
    val (luts, nqs, qpos) = collectQueryLuts(model, q)
    // Each query's nprobe nearest cells, computed driver-side against the
    // (driver-held) centroids; inverted to cell → probing query positions
    // and shipped with the LUT matrix as ONE broadcast (see pqQuery for
    // why LUTs must never ride join rows). A corpus row then scores
    // exactly the queries probing its cell — the (query, neighbor) pair
    // space never materializes beyond the probed fraction.
    val centroids = index.centroids
    val cellToQpos: Map[Int, Array[Int]] = nqs.zipWithIndex.flatMap { case (nq, qi) =>
      centroids.map { case (ctr, idx) =>
        var d = 0.0; var i = 0
        while (i < ctr.length && i < nq.length) {
          val diff = nq(i) - ctr(i); d += diff * diff; i += 1
        }
        (d, idx)
      }.sortBy(_._1).take(nprobe).map { case (_, cell) => (cell, qi) }
    }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2).sorted }
    val spark = corpus.sparkSession
    // probe map as a dense cell-indexed array for the codegen'd scorer
    // ([[graft.functions.AdcScoreCellExpr]]); both it and the LUT matrix
    // ride executor-shared Broadcasts, unwrapped once per codegen instance
    val cellProbes: Array[Array[Int]] = Array.tabulate(centroidArray(centroids).length)(
      c => cellToQpos.getOrElse(c, Array.empty[Int]))
    val bcLuts = spark.sparkContext.broadcast(luts)
    val bcCells = spark.sparkContext.broadcast(cellProbes)
    val width = model.width
    val scored = encodedCells
      .select(col("neighbor_id"), explode(graft.functions.AnnFunctions.adcScoreCell(
        col("code"), col("cell"), bcLuts, bcCells, width)).as("e"))
      .select(col("neighbor_id"), col("e.qpos").as("qpos"), col("e.sim").as("sim"))
      .join(broadcast(qpos), "qpos")
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "sim")
    refineExact(scored, corpus, queries, k, refineFactor, idCol, vecCol)
  }

  /** One-shot PQ fit + encode + ADC query (prefer [[pqFit]]/[[pqEncode]]/
    * [[pqQuery]] with a persisted code table for repeated queries).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             m: Int = 8, ksub: Int = 256, seed: Long = 42L,
             refineFactor: Int = 4, maxFitSample: Int = 25000): DataFrame = {
    val model = pqFit(corpus, idCol, vecCol, m, ksub, seed, maxFitSample)
    pqQuery(model, pqEncode(model, corpus, idCol, vecCol), corpus, queries, k,
      idCol, vecCol, refineFactor)
  }

  /** Approximate cosine top-k via hyperplane-LSH bucketing: corpus and
    * queries are signed with the same `tables`×`planes` hyperplanes,
    * joined on (table, signature), and the within-bucket union is ranked
    * by exact cosine. Recall grows with `tables`; cost stays
    * O(bucket size), never O(|corpus|·|queries|).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              planes: Int = 10, tables: Int = 8): DataFrame = {
    def base(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
        .withColumn(n, l2Norm(col(v)))
    def signed(df: DataFrame, id: String, v: String) =
      df.select(col(id), posexplode(hyperplaneSigs(col(v), planes, tables)).as(Seq("t", "sig")))

    val c = base(corpus, "neighbor_id", "cv", "cn")
    val q = base(queries, "query_id", "qv", "qn")
    // Slim (id, table, sig) rows join on the bucket key; vectors join back
    // for the candidate union only.
    val cands = signed(c, "neighbor_id", "cv").join(signed(q, "query_id", "qv"), Seq("t", "sig"))
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(c, "neighbor_id")
      .join(q, "query_id")
      .withColumn("sim", round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 4))
    topKPerQuery(cands, k)
  }
}

/** Seeded Lloyd's k-means over a driver-held sample — the IVF coarse
  * quantizer trainer. Deliberately driver-side: IVF needs only
  * O(nlist·256) training vectors, so a distributed fit (≈20 full corpus
  * passes) would be pure overhead at any scale; the sample is bounded by
  * the caller. k-means++ seeding, runs to `maxIter` or until assignments
  * stop changing.
  */
private[ops] object KMeansLite {

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  def fit(points: Array[Array[Double]], k: Int, maxIter: Int, seed: Long): Array[Array[Double]] = {
    if (points.isEmpty) return Array.empty
    val rnd = new java.util.Random(seed)
    val kk = math.min(k, points.length)
    val dim = points(0).length

    // k-means++ init: first centroid uniform, then weighted by D²
    val centroids = Array.ofDim[Array[Double]](kk)
    centroids(0) = points(rnd.nextInt(points.length)).clone()
    val d2 = points.map(sqDist(_, centroids(0)))
    var c = 1
    while (c < kk) {
      val total = d2.sum
      var pick = 0
      if (total > 0) {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < points.length && r > d2(i)) { r -= d2(i); i += 1 }
        pick = math.min(i, points.length - 1)
      } else pick = rnd.nextInt(points.length)
      centroids(c) = points(pick).clone()
      var i = 0
      while (i < points.length) {
        val d = sqDist(points(i), centroids(c))
        if (d < d2(i)) d2(i) = d
        i += 1
      }
      c += 1
    }

    val assign = new Array[Int](points.length)
    java.util.Arrays.fill(assign, -1)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          val d = sqDist(points(i), centroids(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        i = 0
        while (i < points.length) {
          val a = assign(i); counts(a) += 1
          val p = points(i); val s = sums(a)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          i += 1
        }
        var j = 0
        while (j < kk) {
          if (counts(j) > 0) {
            var t = 0
            while (t < dim) { sums(j)(t) /= counts(j); t += 1 }
            centroids(j) = sums(j)
          } // empty cell keeps its previous centroid
          j += 1
        }
      }
      iter += 1
    }
    centroids
  }
}
