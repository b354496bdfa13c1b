package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ProbFilterOps, ProbFilters}

/** Per-FILE Bloom filters for equality/IN file skipping — the companion to
  * [[StatsIndex]]'s min/max ranges for the predicates ranges cannot serve.
  *
  * A min/max range prunes `id = X` only when files are CLUSTERED on `id`;
  * on a high-cardinality unclustered column (uuid, user id, url) every
  * file's range spans nearly the whole domain and range skipping degrades
  * to a full scan. A per-file Bloom filter answers "could this file contain
  * X?" regardless of layout: ~10 bits/row at 1% fpp means an equality probe
  * reads the handful of false-positive files instead of all of them — the
  * Delta/Iceberg bloom-column index, expressed as a graft sidecar. (Parquet
  * has row-group bloom filters, but they only engage after a task has been
  * scheduled per file; this index prunes files before any task launches.)
  *
  * Layout: `<root>/_graft_bloom/` parquet rows `(file, column, bloom)` —
  * `file` in the [[StatsIndex.normPath]] decoded-path contract, `bloom` the
  * [[ProbFilterOps.serializeBloom]] bytes (self-describing header, so build
  * passes may size differently) — plus `_bloom_index.json` pinning the
  * covered columns and sizing so incremental appends build compatibly.
  *
  * Correctness posture: SUBTRACTIVE ONLY. A file is skipped only when a
  * bloom row proves every probed value absent; files without rows (fresh
  * appends before maintenance, foreign writes, crash windows) are always
  * scanned. There is no completeness marker to maintain and no claim to
  * invalidate — a stale or half-built bloom sidecar can only under-prune,
  * never lose rows. Stale rows for dead files name paths absent from the
  * live listing (or the stats manifest), which subtraction ignores; part-
  * file UUIDs make path reuse impossible, so a dead file's filter can never
  * be mistaken for a live one's.
  *
  * Scale: the build is one distributed pass over ONLY the indexed columns,
  * grouped by file — O(dataset) once, O(batch) per append. The prune itself
  * scans the sidecar (MBs per million files), never data. Probes run inside
  * whole-stage codegen ([[graft.functions.BloomMightContainSelf]]).
  */
object BloomIndex {

  val DirName = "_graft_bloom"
  private val ParamsName = "_bloom_index.json"

  // system-property override exists for tests (forcing compaction without
  // 64 real appends); production uses the default
  private def compactThreshold: Int =
    sys.props.get("graft.bloom.compactThreshold").map(_.toInt).getOrElse(64)

  /** Sizing + coverage pinned at build time: appends must size compatibly
    * (self-describing headers make mixed geometry READABLE, but keeping the
    * configured fpp stable across increments is the user's contract).
    */
  final case class Params(columns: Seq[String], fpp: Double, expectedItemsPerFile: Long)

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def paramsPath(root: String) = new Path(s"$root/$DirName/$ParamsName")

  /** Drop the ENTIRE bloom sidecar when any of `widenedCols` is covered:
    * filters hash values in their build-time declared type, and
    * xxhash64(int) != xxhash64(long), so a type-widened column's stale
    * filters would false-SKIP files — a wrong answer. Dropping is the
    * conservative direction (scans read more, never less); rebuild with
    * [[build]] under the new type when pruning is wanted again.
    */
  private[core] def invalidateFor(spark: SparkSession, root: String,
                                  widenedCols: Seq[String]): Unit =
    params(spark, root).foreach { p =>
      if (p.columns.exists(widenedCols.contains)) {
        fs(spark, root).delete(new Path(s"$root/$DirName"), true)
        System.err.println(s"[graft] bloom index at $root dropped: column(s) " +
          s"${p.columns.intersect(widenedCols).mkString(",")} type-widened " +
          "(stale filters would false-skip files); rebuild to restore pruning")
      }
    }

  private def writeParams(spark: SparkSession, root: String, p: Params): Unit = {
    val cols = p.columns.map(c => "\"" + c + "\"").mkString("[", ",", "]")
    val out = fs(spark, root).create(paramsPath(root), true)
    try out.write(
      s"""{"columns":$cols,"fpp":${p.fpp},"expectedItemsPerFile":${p.expectedItemsPerFile}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def params(spark: SparkSession, root: String): Option[Params] = {
    val f = fs(spark, root)
    val p = paramsPath(root)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val raw = try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
    val cols = """"columns":\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      .getOrElse(sys.error(s"malformed $ParamsName: $raw"))
    val fpp = """"fpp":([0-9.Ee+-]+)""".r.findFirstMatchIn(raw).map(_.group(1).toDouble)
      .getOrElse(sys.error(s"malformed $ParamsName: $raw"))
    val items = """"expectedItemsPerFile":(\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed $ParamsName: $raw"))
    Some(Params(cols, fpp, items))
  }

  private def requireMeta(spark: SparkSession, root: String): DatasetMeta =
    DatasetMeta.read(spark, root).getOrElse(
      throw new MissingGraftMetadata(s"Dataset at $root is missing graft metadata."))

  private def validTarget(meta: DatasetMeta, cols: Seq[String]): Seq[String] = {
    val target = cols.filter(meta.dataColumns.contains)
    target.foreach { c =>
      require(StatsIndex.indexable(meta.schema(c).dataType),
        s"bloom column $c must be numeric/date/timestamp/string, got ${meta.schema(c).dataType}")
    }
    require(target.nonEmpty, s"no indexable data columns among ${cols.mkString(",")}")
    target
  }

  /** One distributed pass over `files` reading ONLY the target columns:
    * per-(file, column) serialized Bloom filter. Hashing is [[graft.functions.BloomAgg]]'s
    * XXH64(seed 42) of the value IN ITS DECLARED TYPE — [[prunedFiles]]
    * probes literals cast to the same type, so build and probe agree by
    * construction.
    */
  private def bloomsFor(spark: SparkSession, root: String, meta: DatasetMeta,
                        files: Seq[String], target: Seq[String],
                        fpp: Double, expectedItems: Long): DataFrame = {
    val df = spark.read.option("basePath", root).schema(meta.schema).parquet(files: _*)
    val aggs = target.map(c => ProbFilters.bloomAgg(col(c), expectedItems, fpp).as(s"bloom_$c"))
    val perFile = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val entries = array(target.map { c =>
      struct(lit(c).as("column"), col(s"bloom_$c").as("bloom"))
    }: _*)
    perFile.select(StatsIndex.normPath(col("file")).as("file"), explode(entries).as("b"))
      .select(col("file"), col("b.column").as("column"), col("b.bloom").as("bloom"))
  }

  /** Build (or rebuild) the bloom sidecar for `cols`. `expectedItemsPerFile`
    * sizes each filter (~1.2 MB per file·column at the defaults); oversizing
    * is wasted bytes, undersizing inflates the real fpp — both stay CORRECT
    * (false positives only mean reading files the probe could have skipped).
    * Runs under the dataset writer lock: a build racing an append could
    * otherwise record a filter for a file the append is still writing.
    */
  def build(spark: SparkSession, root: String, cols: Seq[String],
            fpp: Double = 0.01, expectedItemsPerFile: Long = 1L << 20): Unit = {
    requireMeta(spark, root) // fail fast before the lock mkdirs the root
    DatasetLock.withLock(spark, root) {
      val meta = requireMeta(spark, root)
      val target = validTarget(meta, cols)
      val files = Publish.listDataFiles(spark, root)
      if (files.isEmpty) return
      bloomsFor(spark, root, meta, files, target, fpp, expectedItemsPerFile)
        .repartition(math.max(1, files.size / 2048))
        .write.mode("overwrite").parquet(s"$root/$DirName")
      writeParams(spark, root, Params(target, fpp, expectedItemsPerFile))
    }
  }

  /** Incremental maintenance: bloom ONLY `newFiles` under the pinned params
    * and append their rows — O(batch), never O(dataset). No-op when no
    * bloom index exists or the pinned columns aren't all present in the
    * dataset's schema (an evolved append); the new files then simply stay
    * unprunable, which is the conservative default.
    */
  def appendFiles(spark: SparkSession, root: String, newFiles: Seq[String]): Unit = {
    // existence checked BEFORE the lock: a write to a root without a bloom
    // index (a mutation, an append) must never wait on the dataset lock
    if (newFiles.isEmpty || params(spark, root).isEmpty) return
    DatasetLock.withLock(spark, root) {
      params(spark, root).foreach { p =>
        val meta = requireMeta(spark, root)
        if (p.columns.forall(meta.dataColumns.contains)) {
          bloomsFor(spark, root, meta, newFiles, p.columns, p.fpp, p.expectedItemsPerFile)
            .coalesce(1)
            .write.mode("append").parquet(s"$root/$DirName")
          maybeCompactSidecar(spark, root)
        }
      }
    }
  }

  /** Fold accumulated append fragments back into few sidecar files (the
    * [[StatsIndex.maybeCompactSidecar]] discipline: rewrite through a temp
    * dir + rename, since parquet can't overwrite its own input in-flight).
    * The params file lives inside the sidecar dir, so it is re-written
    * after the swap. A crash between delete and rename loses the index —
    * acceptable for a purely-subtractive structure (reads degrade to
    * unpruned scans, never to wrong answers) and repaired by a rebuild.
    */
  private def maybeCompactSidecar(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/$DirName")
    val f = fs(spark, root)
    val parts = f.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    if (parts.length <= compactThreshold) return
    val totalBytes = parts.map(_.getLen).sum
    val saved = params(spark, root)
    val tmp = new Path(s"$root/${DirName}_tmp")
    f.delete(tmp, true)
    spark.read.parquet(p.toString).select("file", "column", "bloom")
      .repartition(math.max(1L, totalBytes / (128L << 20)).toInt)
      .write.mode("overwrite").parquet(tmp.toString)
    f.delete(p, true)
    require(f.rename(tmp, p),
      s"bloom sidecar compaction swap failed: $tmp could not replace $p — rebuild the index")
    saved.foreach(writeParams(spark, root, _))
  }

  /** The sidecar rows, or None when no bloom index exists. */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val p = new Path(s"$root/$DirName")
    if (!fs(spark, root).exists(p)) return None
    Some(spark.read.parquet(p.toString)
      .select(col("file"), col("column"), col("bloom")))
  }

  /** Drop the index (overwritten datasets: the filters describe dead data —
    * harmless to pruning, but dead weight on disk).
    */
  def drop(spark: SparkSession, root: String): Unit =
    fs(spark, root).delete(new Path(s"$root/$DirName"), true)

  /** Files PROVABLY excluded by the bloom sidecar under `filters` — a
    * single-column frame of decoded paths, or None when no bloom row can
    * contribute (no index, or no `==` filter on a covered column). A file
    * is named only when for SOME equality filter EVERY probed value misses
    * its filter — AND-semantics across filters means any one proof
    * suffices; a value-list ("in") filter needs all of its values absent.
    */
  private[core] def prunedFiles(spark: SparkSession, root: String, meta: DatasetMeta,
                                filters: Seq[ColFilter]): Option[DataFrame] = {
    val covered = params(spark, root).map(_.columns.toSet).getOrElse(Set.empty[String])
    val eqs = filters.filter(f => f.comparison == "==" && covered.contains(f.partition) &&
      f.values.nonEmpty && !f.values.contains(null))
    if (eqs.isEmpty) return None
    read(spark, root).map { bl =>
      val conds = eqs.map { f =>
        val dt = meta.schema(f.partition).dataType
        val anyHit = f.values.map(v =>
          ProbFilters.mightContainSelf(col("bloom"), lit(v).cast(dt))).reduce(_ || _)
        col("column") === lit(f.partition) && !anyHit
      }
      bl.where(conds.reduce(_ || _)).select(col("file").as("bloom_pruned")).distinct()
    }
  }
}
