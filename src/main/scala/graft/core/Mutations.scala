package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Result of a row-level mutation: the committed version, plus the
  * root-relative files it logically removed and physically added. A
  * no-op mutation (nothing matched) commits nothing and reports the
  * current version with empty file lists.
  */
final case class MutationResult(version: Int,
                                removedFiles: Seq[String],
                                addedFiles: Seq[String])

/** Row-level mutations — DELETE / UPDATE / MERGE — on versioned graft
  * datasets, Delta-Lake-shaped: copy-on-write at FILE granularity.
  *
  * Every mutation runs in three phases:
  *   1. **Locate** — one distributed scan finds the distinct set of files
  *      that contain at least one affected row (`_metadata.file_path`,
  *      column-pruned to the predicate/key columns). On a dataset where
  *      the predicate touches 1 % of files, 99 % of the data is never
  *      read again, let alone rewritten — this is what makes a
  *      row-level delete on 100 TB an O(affected data) operation.
  *   2. **Rewrite** — only the affected files are re-read; surviving /
  *      updated / merged rows are written as FRESH files through
  *      publish's file-sizing path (physical writes never delete).
  *   3. **Commit** — one `rewrite` log entry atomically swaps the
  *      affected files for the new ones. Readers of older versions are
  *      undisturbed; a crash before the commit leaves the previous
  *      version fully readable and the new files invisible; `vacuum`
  *      reclaims replaced files once history allows.
  *
  * The deletion-vector variants ([[deleteWhereDv]], [[updateWhereDv]],
  * [[mergeDv]]) have a fixed action budget: ONE locate-and-DV-write
  * action, whose observed metrics (`Dataset.observe`) carry the covered
  * files and, for UPDATE, the row count and write sizing of the updated
  * copies — then, for UPDATE/MERGE, one data write. MERGE's source-key
  * uniqueness check is its one extra action and observes the source's
  * row count and sizing. A DV lookup the session has not built yet (the
  * first read of a new DV set) adds one action.
  *
  * Concurrency is OPTIMISTIC at file granularity (the Delta conflict-
  * detection shape, since r15): mutations take NO lock — each computes
  * against a base snapshot version, writes its replacement files through
  * the collision-free direct-write protocol, and validates at the commit
  * CAS that every commit landed since COMMUTES with it (disjoint files,
  * unchanged schema/constraints/mapping). Two DELETEs touching disjoint
  * file sets both succeed; overlapping ones lose loudly with
  * `ConcurrentModificationException` — never a silent clobber. At 100 TB
  * with many writers this removes the per-table mutation throughput
  * ceiling lock-serialization imposed.
  *
  * The reference (s3parq) can only clobber or append whole partition
  * trees; row-level semantics are part of graft's beyond-the-reference
  * lakehouse surface.
  */
object Mutations {

  private val FileCol = "_graft_file"
  private val RowIdxCol = "_graft_row_index"

  /** Latest snapshot read with the per-row source-file handle, DELETION
    * VECTORS APPLIED — a mutation must never locate (or resurrect) a row
    * an earlier delete_dv already removed. Also returns the snapshot's
    * live DV refs so rewrite legs re-reading affected files apply them
    * too.
    */
  /** `rowIdBases`: when set, the snapshot carries each row's stable id as
    * [[Versions.RowIdCol]] (row tracking — DV-mode mutations thread the
    * ids into their replacement copies).
    */
  private def snapshotWithPath(spark: SparkSession, root: String,
                               withRowIndex: Boolean = false,
                               rowIdBases: Option[Map[String, Long]] = None)
      : (Int, DatasetMeta, Seq[DvRef], DataFrame) = {
    val latest = Versions.latestVersion(spark, root).getOrElse(throw
      new IllegalArgumentException(
        s"row-level mutations need a versioned dataset; $root has no version log"))
    val (files, meta, dvs) = Versions.snapshotFullAt(spark, root, latest)
    val df = Versions.readFilesWithPath(spark, root, files, meta, FileCol,
      dvs = dvs, rowIndexCol = if (withRowIndex) Some(RowIdxCol) else None,
      keepRowId = rowIdBases.map(_ => RowIdCol),
      rowIdBases = rowIdBases.getOrElse(Map.empty))
    (latest, meta, dvs, df)
  }

  /** The root-relative files containing at least one row of `affected`
    * (tiny: O(number of matching files), collected driver-side exactly
    * like every other file listing).
    */
  private def affectedFiles(affected: DataFrame): Seq[String] =
    affected.select(FileCol).distinct().collect().map(_.getString(0)).toSeq.sorted

  /** Row tracking's mutation contract: when the dataset is tracked AND
    * every live file carries a base (post-backfill), mutations MATERIALIZE
    * surviving/updated rows' ids into their rewritten files — Some(bases)
    * then; None = mutate without ids (untracked, or pre-backfill where
    * there are no ids to preserve yet).
    */
  private def liveBases(spark: SparkSession, root: String,
                        latest: Int): Option[Map[String, Long]] =
    if (!Versions.isRowTracked(spark, root)) None
    else {
      val (files, _, _) = Versions.snapshotFullAt(spark, root, latest)
      val bases = Versions.rowIdBasesAt(spark, root, latest)._1
      if (files.forall(bases.contains)) Some(bases) else None
    }

  /** Coverage scoped to the AFFECTED files (r14 advice): a rewrite only
    * re-reads `affected`, so ids are preservable whenever THOSE files are
    * covered — even mid-backfill, when some other live file still lacks a
    * base. The all-files variant above remains for the DV paths, whose
    * locate scan reads the whole snapshot before the affected set exists.
    * A rewrite whose affected set includes an uncovered file still
    * renumbers (there are no ids to preserve), and [[Versions.changeFeed]]
    * then fails loudly at its per-commit coverage require rather than
    * emitting silent churn.
    */
  private def liveBases(spark: SparkSession, root: String, latest: Int,
                        affected: Seq[String]): Option[Map[String, Long]] =
    if (!Versions.isRowTracked(spark, root)) None
    else {
      val bases = Versions.rowIdBasesAt(spark, root, latest)._1
      if (affected.forall(bases.contains)) Some(bases) else None
    }

  private val RowIdCol = Versions.RowIdCol

  /** One key tuple of `df` occurring more than once, with its count (a
    * key column may itself be named `count`: the aggregate is aliased).
    */
  private def duplicateKey(df: DataFrame, keyCols: Seq[String]): Option[org.apache.spark.sql.Row] =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__graft_n"))
      .where(col("__graft_n") > 1).limit(1).collect().headOption

  /** Deterministic text of a predicate for the commitInfo surface (the
    * Column's own rendering — advisory metadata, never re-parsed).
    */
  private def predSql(c: Column): String = c.toString

  /** READ-SET half of the OCC guard, built per mutation and evaluated by
    * [[Versions.commit]] against each concurrent commit's ADDED files:
    * `inReadSet` narrows a frame of those files' rows to the ones this
    * mutation's locate pass WOULD have matched (the predicate for
    * DELETE/UPDATE/REPLACE, the source-key semi-join for MERGE/APPLY
    * CHANGES). Any hit = the race broke serializability (a missed delete,
    * or a duplicate-key double-insert) → conflict loudly, per the Delta
    * ConcurrentAppend rule. Cost: reads only the concurrently-added files,
    * only under contention, stopping at the first matching row. Reading
    * without the concurrent DVs is conservative (a DV'd-out matching row
    * still conflicts) — OCC retries re-run the mutation, never lose data.
    */
  /** Test seam (same shape as [[Publish.postWriteHook]]): runs after a
    * mutation's locate/rewrite work and just before its commit — the
    * stale-read window the read-set OCC specs hold open to land a
    * deterministic concurrent commit.
    */
  private[graft] var preCommitHook: () => Unit = () => ()

  private def addedReadGuard(spark: SparkSession, root: String,
                             meta: DatasetMeta,
                             inReadSet: DataFrame => DataFrame)
      : Seq[String] => Option[String] =
    added => {
      val hit = inReadSet(Versions.readFiles(spark, root, added, meta))
        .limit(1).collect()
      if (hit.isEmpty) None
      else Some(s"e.g. ${hit.head}")
    }

  private def rewriteCommit(spark: SparkSession, root: String,
                            meta: DatasetMeta, replacement: DataFrame,
                            removedRel: Seq[String],
                            schemaEvolved: Boolean = false,
                            opInfo: Map[String, String] = Map.empty,
                            baseVersion: Option[Int] = None,
                            readConflict: Option[Seq[String] => Option[String]] = None): MutationResult = {
    // UPDATE/MERGE-produced rows must honor the table's CHECK constraints
    // (survivor rows re-validate too — they were valid, and the combined
    // pass only scans the affected-file subset being rewritten)
    Versions.enforceConstraints(spark, root, replacement)
    // A name-mapped dataset's replacement files are written under the
    // mapping's PHYSICAL names, like every other live file.
    val physReplacement =
      if (meta.colMap.isEmpty) replacement
      else replacement.select(replacement.schema.fieldNames.toIndexedSeq.map(n =>
        col(n).as(meta.physName(n))): _*)
    // emptyOk: "the delete wiped every row of the affected files" used to
    // be probed by a separate replacement.isEmpty — one full extra
    // evaluation of the rewrite join per mutation; the publish's own
    // sizing sample now answers emptiness for free (Nil = removal-only)
    val newFiles =
      Publish.publishImpl(spark, physReplacement, root,
        meta.partitions, "append", Nil, Nil, 16, 0, Nil,
        emptyOk = true,
        // physical names intentionally differ from the sidecar's logical
        // schema on a mapped dataset (and an evolving merge's replacement
        // carries MORE columns than the sidecar); the logical shape was
        // already validated by the snapshot read this derives from
        requireSchemaMatch = meta.colMap.isEmpty && !schemaEvolved,
        internalRewrite = true,
        // rewrite files land through the DIRECT-WRITE protocol (unique
        // job-id names, files reported by the writer itself): concurrent
        // OCC mutations must not discover each other's uncommitted bytes
        // through a listing diff
        directCommit = true)
    val addedRel = Versions.relativize(spark, root, newFiles)
    preCommitHook()
    val v = Versions.commit(spark, root, "rewrite", newFiles, meta,
      removedRel = removedRel, opInfo = opInfo, baseVersion = baseVersion,
      readConflict = readConflict)
    // keep the stats-skipping index covering the snapshot: if this
    // dataset is indexed, the rewritten files get their min/max rows too
    // (stale rows for the removed files are harmless — planning is
    // version-log-aware). Without this, rewrites degrade those files to
    // conservative always-scan.
    val idxCols = StatsIndex.indexedColumns(spark, root)
    if (idxCols.nonEmpty && newFiles.nonEmpty)
      StatsIndex.appendFiles(spark, root, newFiles, idxCols)
    MutationResult(v, removedRel, addedRel)
  }

  /** DELETE FROM root WHERE predicate. SQL DELETE semantics: rows where
    * the predicate is TRUE are removed; FALSE and NULL rows stay.
    */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: Column): MutationResult =
    locally {
      val (latest, meta, dvs, snap) = snapshotWithPath(spark, root)
      val affected = affectedFiles(snap.where(predicate))
      if (affected.isEmpty) MutationResult(latest, Nil, Nil)
      else {
        // row tracking: survivors keep their ids (materialized into the
        // rewritten files); deleted ids simply never reappear
        val bases = liveBases(spark, root, latest, affected)
        val survivors = Versions
          .readFiles(spark, root, affected, meta, dvs = dvs,
            keepRowId = bases.map(_ => RowIdCol),
            rowIdBases = bases.getOrElse(Map.empty))
          .where(not(predicate <=> lit(true)))
        rewriteCommit(spark, root, meta, survivors, affected,
          opInfo = Map("op" -> "DELETE", "predicate" -> predSql(predicate)),
          baseVersion = Some(latest),
          readConflict = Some(addedReadGuard(spark, root, meta,
            _.where(predicate <=> lit(true)))))
      }
    }

  /** Column names a predicate references, resolved against the dataset
    * schema. Spark 4 Columns carry an opaque ColumnNode tree (not a
    * catalyst Expression), so syntactic traversal sees nothing — instead
    * ANALYZE a filter over an empty frame of the dataset's schema and
    * read the resolved condition's references. Unknown columns fail
    * loudly here (AnalysisException), before any data moves.
    */
  private def predicateRefs(spark: SparkSession, schema: StructType,
                            c: Column): Set[String] = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    empty.where(c).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSeq
    }.flatten.toSet
  }

  /** `replaceWhere` — Delta's partition/predicate-scoped logical
    * overwrite, the standard backfill idiom ("replace partition
    * 2026-08-15 with this recomputed frame") as ONE atomic commit:
    * every row matching `predicate` is removed and `data` is inserted,
    * with the guarantee that every `data` row itself satisfies the
    * predicate (rejected up front otherwise — an overwrite scoped to
    * Tuesday must not smuggle in Wednesday rows).
    *
    * Scale shape, two regimes:
    *   - **Partition-scoped** (the predicate references only partition
    *     columns): affected files are resolved from the COMMIT LOG's
    *     file list by parsing hive path values and evaluating the
    *     predicate on a tiny local frame — zero data files opened, zero
    *     rows read. Untouched partitions' files provably don't move
    *     (same paths before/after); the commit swaps whole partitions.
    *     On a 100 TB table a one-partition backfill reads nothing and
    *     writes O(new partition).
    *   - **General predicate**: locate→rewrite like [[deleteWhere]] —
    *     only files containing a matching row are re-read, survivors
    *     (non-matching co-located rows) are carried into the rewrite.
    *
    * Row tracking: survivors keep their ids (materialized, coverage per
    * affected file); replacement rows are inserts — fresh ids.
    *
    * The reference can only clobber a whole dataset or append
    * (publish_parq.py's two modes); partition-granular replacement is the
    * missing middle this adds, and versioning makes it atomic.
    */
  def replaceWhere(spark: SparkSession, root: String, predicate: Column,
                   data: DataFrame): MutationResult =
    locally {
      val (latest, meta, dvs, snap) = snapshotWithPath(spark, root)
      val tgtCols = meta.schema.fieldNames.toSeq
      val missing = tgtCols.filterNot(data.columns.contains)
      val extra = data.columns.filterNot(tgtCols.contains)
      require(missing.isEmpty && extra.isEmpty,
        s"replaceWhere data columns must equal the dataset's; " +
          s"missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
      val src = data.select(meta.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      val stray = src.where(!(predicate <=> lit(true))).limit(1).collect()
      require(stray.isEmpty,
        s"replaceWhere data contains rows NOT matching the predicate " +
          s"(e.g. ${stray.headOption.getOrElse("")}) — the write may only " +
          "produce rows inside the range it replaces")

      val refs = predicateRefs(spark, meta.schema, predicate)
      val (liveFiles, _, _) = Versions.snapshotFullAt(spark, root, latest)
      // a spec-EVOLVED snapshot carries old-epoch files that lack the
      // current derived dirs, so path-resolved matching would MISS their
      // rows — and that includes the all-old-epoch state right after
      // `evolvePartitionSpec` (metadata-only) with zero new writes, where
      // every signature agrees but none matches the CURRENT spec. The
      // fast path therefore requires every live file's dir signature to
      // EQUAL the current spec's; anything else falls back to the general
      // locate path, whose snapshot re-derives the spec's columns
      // row-level and stays exact on any epoch mix.
      val specSig = meta.partitions.mkString("/")
      val allCurrentEpoch = liveFiles.forall(r => r.split('/').dropRight(1)
        .map(_.takeWhile(_ != '=')).mkString("/") == specSig)
      val partitionScoped =
        refs.nonEmpty && refs.subsetOf(meta.partitions.toSet) &&
          meta.partitions.nonEmpty && allCurrentEpoch
      val affected: Seq[String] =
        if (partitionScoped) {
          // evaluate the predicate against path-derived partition values
          // on a LOCAL frame — full Spark cast/comparison semantics, no
          // data read. Hive-escaped values unescape through the exact
          // routine the writer used; the null partition dir maps to null.
          import org.apache.spark.sql.Row
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          import scala.jdk.CollectionConverters._
          val raw: Seq[Row] = liveFiles.map { rel =>
            Row.fromSeq(rel +: meta.partitions.map { p =>
              rel.split('/').collectFirst {
                case seg if seg.startsWith(p + "=") =>
                  Fetch.unescapePathName(seg.substring(p.length + 1))
              }.filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull
            })
          }
          val schema0 = StructType(StructField("__file", StringType) +:
            meta.partitions.map(p => StructField(p, StringType)))
          spark.createDataFrame(raw.toList.asJava, schema0)
            .select(col("__file") +: meta.partitions.map(p =>
              col(p).cast(meta.schema(p).dataType).as(p)): _*)
            .where(predicate <=> lit(true))
            .select("__file").collect().map(_.getString(0)).toSeq.sorted
        } else affectedFiles(snap.where(predicate))

      if (affected.isEmpty && src.isEmpty) MutationResult(latest, Nil, Nil)
      else {
        val bases = liveBases(spark, root, latest, affected)
        val idCol: Seq[Column] =
          bases.map(_ => lit(null).cast("long").as(RowIdCol)).toSeq
        val replacement =
          if (partitionScoped) src.select(col("*") +: idCol: _*)
          else {
            val survivors = Versions
              .readFiles(spark, root, affected, meta, dvs = dvs,
                keepRowId = bases.map(_ => RowIdCol),
                rowIdBases = bases.getOrElse(Map.empty))
              .where(not(predicate <=> lit(true)))
            survivors.unionByName(src.select(col("*") +: idCol: _*))
          }
        rewriteCommit(spark, root, meta, replacement, affected,
          opInfo = Map("op" -> "REPLACE WHERE",
            "predicate" -> predSql(predicate),
            "partition_scoped" -> partitionScoped.toString),
          baseVersion = Some(latest),
          readConflict = Some(addedReadGuard(spark, root, meta,
            _.where(predicate <=> lit(true)))))
      }
    }

  /** DELETE FROM root WHERE predicate — via a DELETION VECTOR: instead of
    * rewriting every file that contains a matching row (copy-on-write at
    * FILE granularity, [[deleteWhere]]), one commit records the matching
    * rows' (file, row_index) pairs in a `_graft_dv/` parquet sidecar and
    * the live file set does not change. Cost is O(matched rows) written +
    * the locate scan — on a 100 TB dataset where a predicate matches 0.1 %
    * of rows spread over most files, the rewrite path would re-copy
    * nearly the whole dataset; this writes ~the deleted row-ids and
    * nothing else. Reads anti-join covered files against the DV (a
    * broadcast probe while deletes are small); compaction/OPTIMIZE
    * materializes deletes and retires the DV; RESTORE carries DVs so
    * rollback cannot resurrect deleted rows. Prefer [[deleteWhere]] when
    * a large fraction of the affected files' rows die — scans then stop
    * paying the probe and vacuum can reclaim the replaced bytes.
    */
  def deleteWhereDv(spark: SparkSession, root: String,
                    predicate: Column): MutationResult =
    locally {
      val (latest, meta, _, snap) = snapshotWithPath(spark, root, withRowIndex = true)
      writeDv(spark, root, snap.where(predicate))._1 match {
        case None => MutationResult(latest, Nil, Nil)
        case Some(dv) =>
          preCommitHook()
          val v = Versions.commit(spark, root, "delete_dv", Nil, meta,
            dvs = Seq(dv),
            opInfo = Map("op" -> "DELETE", "mode" -> "dv",
              "predicate" -> predSql(predicate)),
            baseVersion = Some(latest),
            readConflict = Some(addedReadGuard(spark, root, meta,
              _.where(predicate <=> lit(true)))))
          MutationResult(v, Nil, Nil)
      }
    }

  /** Write the `(file, row_index)` pairs of the `matched` snapshot rows
    * as a fresh `_graft_dv/` sidecar — the locate scan and the DV write
    * are ONE action, whose observed metrics carry the covered files, plus
    * `extra` aggregates over `matched`'s columns (the UPDATE path sizes
    * its data write from them). None (sidecar removed) when nothing
    * matched. FileCol is already the decoded root-relative
    * commit-entry form ([[Versions.readFilesWithPath]]) the read-side
    * lookup derives; decoding it again would turn a hive-escaped `%25`
    * into a name no file has.
    */
  private def writeDv(spark: SparkSession, root: String, matched: DataFrame,
                      extra: Seq[Column] = Nil): (Option[DvRef], Map[String, Any]) = {
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRel = s"${Versions.DvDirName}/${java.util.UUID.randomUUID()}"
    val dvAbs = new org.apache.hadoop.fs.Path(root, dvRel)
    val obs = Observation()
    matched
      .observe(obs, collect_set(FileCol).as("__graft_dv_files"), extra: _*)
      .select(col(FileCol).as("file"), col(RowIdxCol).as("row_index"))
      .write.mode("overwrite").parquet(dvAbs.toString)
    val m = obs.get
    // a plan Spark proved empty drops the observation: read the (empty)
    // sidecar back rather than trust a missing metric
    val covered = m.get("__graft_dv_files").fold(
      spark.read.schema(Versions.DvSchema).parquet(dvAbs.toString)
        .select("file").distinct().collect().map(_.getString(0)).toSeq)(
      _.asInstanceOf[Seq[String]]).sorted
    if (covered.isEmpty) { f.delete(dvAbs, true); (None, m) }
    else (Some(DvRef(dvRel, covered)), m)
  }

  /** Append `rows` through publish's sized-write path and commit them plus
    * `dv` as ONE `update_dv` entry — the shared tail of the DV-backed
    * UPDATE/MERGE: old row copies die via the deletion vector, their
    * replacements ride `added`, and no pre-existing data file is rewritten.
    * A crash between the append and the commit leaves the new files
    * invisible (versioned-root visibility is commit-controlled) and the
    * DV sidecar unreferenced — vacuum reclaims both past the grace
    * horizon. `sizing`, when an earlier action observed it over `rows`,
    * replaces the append's sizing sample (which otherwise also answers
    * emptiness).
    */
  private def updateDvCommit(spark: SparkSession, root: String,
                             meta: DatasetMeta, rows: DataFrame,
                             sizing: Option[Publish.WriteSizing],
                             dv: Option[DvRef],
                             opInfo: Map[String, String] = Map.empty,
                             baseVersion: Option[Int] = None,
                             readConflict: Option[Seq[String] => Option[String]] = None): MutationResult = {
    Versions.enforceConstraints(spark, root, rows)
    // mapped datasets write the replacement copies under PHYSICAL names
    // (see rewriteCommit — the mapping pins one physical name per column
    // across every live file)
    val physRows =
      if (meta.colMap.isEmpty) rows
      else rows.select(rows.schema.fieldNames.toIndexedSeq.map(n =>
        col(n).as(meta.physName(n))): _*)
    val newFiles =
      if (sizing.exists(_.rows == 0)) Nil
      else Publish.publishImpl(spark, physRows, root,
        meta.partitions, "append", Nil, Nil, 16, 0, Nil,
        requireSchemaMatch = meta.colMap.isEmpty, internalRewrite = true,
        directCommit = true, emptyOk = true, sizing = sizing)
    val addedRel = Versions.relativize(spark, root, newFiles)
    preCommitHook()
    val v = Versions.commit(spark, root, "update_dv", newFiles, meta,
      dvs = dv.toSeq, opInfo = opInfo, baseVersion = baseVersion,
      readConflict = readConflict)
    val idxCols = StatsIndex.indexedColumns(spark, root)
    if (idxCols.nonEmpty && newFiles.nonEmpty)
      StatsIndex.appendFiles(spark, root, newFiles, idxCols)
    if (newFiles.nonEmpty) BloomIndex.appendFiles(spark, root, newFiles)
    MutationResult(v, Nil, addedRel)
  }

  /** UPDATE root SET assignments WHERE predicate — via a DELETION VECTOR:
    * instead of rewriting every file that contains a matching row
    * ([[updateWhere]]'s copy-on-write at FILE granularity), one commit
    * records the matched rows' (file, row_index) pairs in a `_graft_dv/`
    * sidecar and appends ONLY the updated copies of those rows. Cost is
    * O(matched rows) written — on a 100 TB dataset where an update touches
    * 0.1 % of rows spread over most files, the rewrite path re-copies
    * nearly the whole dataset; this writes the updated rows and nothing
    * else. Same contract as [[updateWhere]] otherwise (TRUE-predicate rows
    * updated, partition columns unassignable). Prefer [[updateWhere]] when
    * a large fraction of the affected files' rows change — scans then stop
    * paying the DV probe and vacuum can reclaim the replaced bytes.
    */
  def updateWhereDv(spark: SparkSession, root: String, predicate: Column,
                    assignments: Map[String, Column]): MutationResult = {
    require(assignments.nonEmpty, "updateWhereDv needs at least one assignment")
    locally {
      // row tracking: the updated COPIES carry their originals' ids
      // (materialized — an update preserves row identity)
      val bases = Versions.latestVersion(spark, root)
        .flatMap(v => liveBases(spark, root, v))
      val (latest, meta, _, snap) =
        snapshotWithPath(spark, root, withRowIndex = true, rowIdBases = bases)
      val bad = assignments.keySet.filterNot(meta.schema.fieldNames.contains)
      require(bad.isEmpty, s"assignment to unknown columns: ${bad.mkString(",")}")
      val part = assignments.keySet.filter(meta.partitions.contains)
      require(part.isEmpty,
        s"cannot assign partition columns ${part.mkString(",")} in updateWhereDv")
      // matched feeds two actions (the DV write, then the updated copies);
      // persist so the locate scan runs once. The updated copies ride
      // beside the DV handles so the DV write also observes their sizing.
      val matched = snap.where(predicate).persist()
      try {
        val updatedCols = meta.schema.fields.toIndexedSeq.map { f =>
          assignments.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        } ++ bases.map(_ => col(RowIdCol))
        val located = matched.select(updatedCols ++ Seq(col(FileCol), col(RowIdxCol)): _*)
        val updated = located.drop(FileCol, RowIdxCol)
        writeDv(spark, root, located,
            Publish.sizingMetrics(updated.schema, meta.partitions)) match {
          case (None, _) => MutationResult(latest, Nil, Nil)
          case (Some(dv), m) =>
            updateDvCommit(spark, root, meta, updated, Publish.observedSizing(m), Some(dv),
              baseVersion = Some(latest),
              opInfo = Map("op" -> "UPDATE", "mode" -> "dv",
                "predicate" -> predSql(predicate),
                "columns" -> assignments.keys.toSeq.sorted.mkString(",")),
              readConflict = Some(addedReadGuard(spark, root, meta,
                _.where(predicate <=> lit(true)))))
        }
      } finally matched.unpersist()
    }
  }

  /** MERGE INTO root USING source ON keyCols — via a DELETION VECTOR:
    * matched target rows are removed by one `_graft_dv/` sidecar and the
    * ENTIRE normalized source is appended (matched keys' source rows are
    * the replacements, unmatched ones the inserts), committed as ONE
    * `update_dv` entry. Cost is O(source ∪ matched rows) — [[merge]]'s
    * rewrite path re-copies every row of every file containing a matched
    * key, which on a sparse merge over a huge table is nearly the whole
    * dataset. Same source contract as [[merge]] (columns equal the
    * target's, unique on `keyCols`). One semantic note: a target that is
    * itself duplicate on `keyCols` collapses to the single source row here
    * (true upsert-by-key), where [[merge]] preserves the duplication —
    * identical results whenever the target is key-unique, the standard
    * MERGE precondition.
    */
  def mergeDv(spark: SparkSession, root: String, source: DataFrame,
              keyCols: Seq[String]): MutationResult = {
    require(keyCols.nonEmpty, "mergeDv needs at least one key column")
    locally {
      val bases = Versions.latestVersion(spark, root)
        .flatMap(v => liveBases(spark, root, v))
      val (latest, meta, _, snap) =
        snapshotWithPath(spark, root, withRowIndex = true, rowIdBases = bases)
      val tgtCols = meta.schema.fieldNames.toSeq
      keyCols.foreach { k =>
        require(tgtCols.contains(k), s"key column $k is not a dataset column")
        require(source.columns.contains(k), s"key column $k missing from source")
      }
      val missing = tgtCols.filterNot(source.columns.contains)
      val extra = source.columns.filterNot(tgtCols.contains)
      require(missing.isEmpty && extra.isEmpty,
        s"merge source columns must equal dataset columns; missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
      val src = source.select(meta.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*).persist()
      try {
        // the duplicate-key check scans all of src: it also observes the
        // emptiness and write sizing of the appended rows (src, plus the
        // fixed-width row id when tracked)
        val written = bases.fold(src.schema)(_ =>
          src.schema.add(RowIdCol, org.apache.spark.sql.types.LongType))
        val obs = Observation()
        val sizingAggs = Publish.sizingMetrics(written, meta.partitions)
        val dup = duplicateKey(
          src.observe(obs, sizingAggs.head, sizingAggs.tail: _*), keyCols)
        require(dup.isEmpty,
          s"merge source is not unique on (${keyCols.mkString(",")}): e.g. ${dup.getOrElse("")}")
        val sizing = Publish.observedSizing(obs.get)
        if (sizing.fold(src.isEmpty)(_.rows == 0)) MutationResult(latest, Nil, Nil)
        else {
          val matched = snap.join(src.select(keyCols.map(col): _*),
            keyCols, "left_semi")
          val dv = writeDv(spark, root, matched)._1
          // row tracking: a matched source row is an UPDATE — it inherits
          // the matched target row's id (min over a key-duplicated target,
          // which this path collapses by design); unmatched rows insert
          // with fresh ids (null here → base + row_index at read)
          val srcOut = bases match {
            case None => src
            case Some(_) =>
              val idsByKey = matched.groupBy(keyCols.map(col): _*)
                .agg(min(RowIdCol).as(RowIdCol))
              src.join(idsByKey, keyCols, "left")
          }
          updateDvCommit(spark, root, meta, srcOut, sizing, dv,
            baseVersion = Some(latest),
            opInfo = Map("op" -> "MERGE", "mode" -> "dv",
              "keys" -> keyCols.mkString(",")),
            readConflict = Some(addedReadGuard(spark, root, meta,
              _.join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))))
        }
      } finally src.unpersist()
    }
  }

  /** UPDATE root SET assignments WHERE predicate. Rows where the
    * predicate is TRUE get each assignment applied (cast back to the
    * column's declared type); all other rows — including the untouched
    * rows sharing a file with an updated one — are rewritten verbatim.
    * Partition columns cannot be assigned (moving rows between
    * partitions is a delete+insert the caller should express as such).
    */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
                  assignments: Map[String, Column]): MutationResult = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    locally {
      val (latest, meta, dvs, snap) = snapshotWithPath(spark, root)
      val bad = assignments.keySet.filterNot(meta.schema.fieldNames.contains)
      require(bad.isEmpty, s"assignment to unknown columns: ${bad.mkString(",")}")
      val part = assignments.keySet.filter(meta.partitions.contains)
      require(part.isEmpty,
        s"cannot assign partition columns ${part.mkString(",")} in updateWhere")
      val affected = affectedFiles(snap.where(predicate))
      if (affected.isEmpty) MutationResult(latest, Nil, Nil)
      else {
        val updatedCols = meta.schema.fields.toIndexedSeq.map { f =>
          assignments.get(f.name) match {
            case Some(e) =>
              when(predicate <=> lit(true), e.cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
        // row tracking: updated AND untouched-neighbor rows keep their ids
        val bases = liveBases(spark, root, latest, affected)
        val rewritten = Versions
          .readFiles(spark, root, affected, meta, dvs = dvs,
            keepRowId = bases.map(_ => RowIdCol),
            rowIdBases = bases.getOrElse(Map.empty))
          .select(updatedCols ++ bases.map(_ => col(RowIdCol)): _*)
        rewriteCommit(spark, root, meta, rewritten, affected,
          opInfo = Map("op" -> "UPDATE", "predicate" -> predSql(predicate),
            "columns" -> assignments.keys.toSeq.sorted.mkString(",")),
          baseVersion = Some(latest),
          readConflict = Some(addedReadGuard(spark, root, meta,
            _.where(predicate <=> lit(true)))))
      }
    }
  }

  /** APPLY CHANGES INTO — the CDC-sink counterpart of
    * [[Versions.consumeChanges]]: `changes` carries the target's columns
    * plus `opCol` ∈ {"upsert", "delete"}; upsert rows replace/insert by
    * key, delete rows are tombstones removing their key. One locate pass
    * over the union of change keys, one rewrite of only the affected
    * files, ONE commit — so applying a replicated change batch is a
    * single atomic version, exactly what a downstream mirror of a
    * versioned dataset replays per consumed batch. Keys must be unique
    * across the whole batch (a key both upserted and deleted is
    * ambiguous — rejected, same contract as [[merge]]).
    */
  def applyChanges(spark: SparkSession, root: String, changes: DataFrame,
                   keyCols: Seq[String], opCol: String = "_op"): MutationResult = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    require(changes.columns.contains(opCol),
      s"changes must carry the operation column $opCol")
    locally {
      val (latest, meta, dvs, snap) = snapshotWithPath(spark, root)
      val tgtCols = meta.schema.fieldNames.toSeq
      val missing = tgtCols.filterNot(changes.columns.contains)
      val extra = changes.columns.filterNot(c => tgtCols.contains(c) || c == opCol)
      require(missing.isEmpty && extra.isEmpty,
        s"changes columns must equal dataset columns + $opCol; missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
      val normalized = changes.select(
        meta.schema.fields.toIndexedSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) :+ col(opCol): _*).persist()
      try {
        val badOp = normalized
          .where(col(opCol).isNull || !col(opCol).isin("upsert", "delete"))
          .select(opCol).limit(1).collect()
        require(badOp.isEmpty,
          s"unknown $opCol value ${badOp.headOption.getOrElse("")}; expected upsert|delete")
        val dup = duplicateKey(normalized, keyCols)
        require(dup.isEmpty,
          s"change batch is not unique on (${keyCols.mkString(",")}): e.g. ${dup.getOrElse("")}")

        val affected = affectedFiles(
          snap.join(normalized.select(keyCols.map(col): _*), keyCols, "left_semi"))
        val ups = normalized.where(col(opCol) === "upsert").drop(opCol)
        val delKeys = normalized.where(col(opCol) === "delete")
          .select(keyCols.map(col): _*)
        val payload = tgtCols.filterNot(keyCols.contains)
        // row tracking: upserts of existing keys keep the target row's id
        // (same struct threading as merge); inserts get fresh computed ids
        val bases = liveBases(spark, root, latest, affected)
        def targetRows = Versions.readFiles(spark, root, affected, meta,
          dvs = dvs, keepRowId = bases.map(_ => RowIdCol),
          rowIdBases = bases.getOrElse(Map.empty))
        val upserted =
          if (payload.isEmpty) bases match {
            case None => targetRows.unionByName(ups).distinct()
            case Some(_) =>
              // same set-semantics alignment as merge's keys-only branch:
              // collapse pre-existing duplicate target keys to the min-id
              // row so tracked and untracked APPLY CHANGES agree
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keyCols.map(col): _*).orderBy(col(RowIdCol).asc)
              targetRows.withColumn("_rn", row_number().over(w))
                .where(col("_rn") === 1).drop("_rn")
                .unionByName(
                  ups.join(targetRows.select(keyCols.map(col): _*),
                      keyCols, "left_anti")
                    .withColumn(RowIdCol, lit(null).cast("long")))
          } else {
            val idInT = bases.map(_ => col(RowIdCol)).toSeq
            val idInS = bases.map(_ => lit(null).cast("long").as(RowIdCol)).toSeq
            def packed(df: DataFrame, tag: String, id: Seq[Column]) =
              df.select(keyCols.map(col) :+
                struct(payload.map(col) ++ id: _*).as(tag): _*)
            packed(targetRows, "_t", idInT)
              .join(packed(ups, "_s", idInS), keyCols, "full_outer")
              .withColumn("_m", coalesce(col("_s"), col("_t")))
              .select(meta.schema.fieldNames.toIndexedSeq.map(n =>
                if (keyCols.contains(n)) col(n) else col("_m")(n).as(n)) ++
                bases.map(_ => col("_t")(RowIdCol).as(RowIdCol)): _*)
          }
        val merged = upserted.join(delKeys, keyCols, "left_anti")
        if (affected.isEmpty && ups.isEmpty) MutationResult(latest, Nil, Nil)
        else rewriteCommit(spark, root, meta, merged, affected,
          opInfo = Map("op" -> "APPLY CHANGES", "keys" -> keyCols.mkString(",")),
          baseVersion = Some(latest),
          readConflict = Some(addedReadGuard(spark, root, meta,
            _.join(normalized.select(keyCols.map(col): _*), keyCols, "left_semi"))))
      } finally normalized.unpersist()
    }
  }

  /** MERGE INTO root USING source ON keyCols — upsert: a target row whose
    * key appears in `source` is replaced by the source row; source rows
    * matching nothing are inserted. `source` must carry exactly the
    * target's columns (any order; values are cast to the target types)
    * and be unique on `keyCols` (the standard MERGE contract — a target
    * row matching two source rows is ambiguous, and graft rejects it
    * up front instead of nondeterministically picking one).
    *
    * Scale shape: the locate pass is a semi-join of the target against
    * the (usually much smaller, often broadcast) source key set; only
    * files containing a matched key are re-read and merged — the merge
    * join itself runs over affected rows ∪ source, never the full
    * dataset.
    */
  /** `evolveSchema = true` is the Delta `autoMerge` behavior: the source
    * may carry NEW columns, which join the dataset schema additively in
    * the SAME rewrite commit — existing files simply lack them (reads
    * null-fill, as in [[Publish.appendEvolved]]), matched rows take the
    * source's values, unmatched target rows read back null. Zero bytes of
    * untouched data move for the schema change at any scale. Columns
    * missing from the source are still rejected either way, and the
    * DV-mode merge ([[mergeDv]]) keeps the exact-schema contract.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            keyCols: Seq[String], evolveSchema: Boolean = false): MutationResult = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    locally {
      val (latest, meta0, dvs, snap) = snapshotWithPath(spark, root)
      val tgtCols = meta0.schema.fieldNames.toSeq
      keyCols.foreach { k =>
        require(tgtCols.contains(k), s"key column $k is not a dataset column")
        require(source.columns.contains(k), s"key column $k missing from source")
      }
      val missing = tgtCols.filterNot(source.columns.contains)
      val extraF = source.schema.fields.filterNot(f => tgtCols.contains(f.name)).toSeq
      require(missing.isEmpty,
        s"merge source is missing dataset columns: ${missing.mkString(",")}")
      require(extraF.isEmpty || evolveSchema,
        s"merge source carries new columns ${extraF.map(_.name).mkString(",")}; " +
          "pass evolveSchema=true to add them to the dataset additively")
      extraF.foreach(f => require(!f.name.startsWith("_") && !f.name.startsWith("."),
        s"evolved column ${f.name} would be hidden from parquet readers"))
      // the evolved logical schema: existing fields (type-WIDENED where the
      // source carries a lossless promotion — int→long, float→double,
      // decimal growth; see [[Widen]]), new ones appended (a name-mapped
      // dataset's new columns bind identity — no map change). Without
      // evolveSchema the source is cast to the recorded types as before
      // (ANSI catches a lossy downcast at runtime).
      val (meta, widenedCols) =
        if (!evolveSchema) (meta0, Nil)
        else {
          val (w, widened) = Widen.widenSchema(meta0.schema, source.schema,
            meta0.partitions)
          require(widened.isEmpty || !widened.exists(keyCols.contains) ||
              meta0.colMap.isEmpty,
            "widening a key column on a column-mapped dataset is not supported")
          (meta0.copy(schema = w), widened)
        }
      // stale bloom filters on a widened column would false-skip files
      if (widenedCols.nonEmpty) BloomIndex.invalidateFor(spark, root, widenedCols)
      // normalize source to (evolved) target order + types, once
      val src = source.select(meta.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*).persist()
      try {
        val dup = duplicateKey(src, keyCols)
        require(dup.isEmpty,
          s"merge source is not unique on (${keyCols.mkString(",")}): e.g. ${dup.getOrElse("")}")

        val affected = affectedFiles(
          snap.join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))
        val payload = meta.schema.fieldNames.toSeq.filterNot(keyCols.contains)
        // row tracking: matched rows are UPDATES — they keep the target
        // row's id (threaded through the join as a struct field taken
        // from the TARGET side); inserts carry null → fresh computed ids
        val bases = liveBases(spark, root, latest, affected)
        // affected target rows under the OLD schema, null-extended to the
        // evolved one (their files predate the new columns) and UPCAST to
        // any widened types so both merge sides agree
        def targetRows = {
          val old = extraF.foldLeft(
            Versions.readFiles(spark, root, affected, meta0, dvs = dvs,
              keepRowId = bases.map(_ => RowIdCol),
              rowIdBases = bases.getOrElse(Map.empty)))(
            (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
          if (widenedCols.isEmpty) old
          else old.select(old.columns.toIndexedSeq.map(n =>
            if (widenedCols.contains(n)) col(n).cast(meta.schema(n).dataType).as(n)
            else col(n)): _*)
        }
        val merged =
          if (payload.isEmpty) bases match {
            case None =>
              // keys-only dataset: upsert degenerates to set union
              targetRows.unionByName(src).distinct()
            case Some(_) =>
              // Match the untracked branch's SET semantics exactly (it
              // does union+distinct): pre-existing duplicate key tuples
              // in the affected files collapse to ONE surviving row —
              // the MIN-id row, so the oldest copy keeps its identity in
              // the change feed — and only unmatched source keys insert.
              // (Duplicate SOURCE rows are impossible here: the
              // uniqueness require above covers every column when the
              // key set is the whole schema.) Without this, merge
              // results depended on the orthogonal row-tracking table
              // property.
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keyCols.map(col): _*).orderBy(col(RowIdCol).asc)
              targetRows.withColumn("_rn", row_number().over(w))
                .where(col("_rn") === 1).drop("_rn")
                .unionByName(
                  src.join(targetRows.select(keyCols.map(col): _*),
                      keyCols, "left_anti")
                    .withColumn(RowIdCol, lit(null).cast("long")))
          } else {
            val idInT = bases.map(_ => col(RowIdCol)).toSeq
            val idInS = bases.map(_ => lit(null).cast("long").as(RowIdCol)).toSeq
            def packed(df: DataFrame, tag: String, id: Seq[Column]) =
              df.select(keyCols.map(col) :+
                struct(payload.map(col) ++ id: _*).as(tag): _*)
            packed(targetRows, "_t", idInT)
              .join(packed(src, "_s", idInS), keyCols, "full_outer")
              .withColumn("_m", coalesce(col("_s"), col("_t")))
              .select(meta.schema.fieldNames.toIndexedSeq.map(n =>
                if (keyCols.contains(n)) col(n) else col("_m")(n).as(n)) ++
                bases.map(_ => col("_t")(RowIdCol).as(RowIdCol)): _*)
          }
        if (affected.isEmpty && src.isEmpty) MutationResult(latest, Nil, Nil)
        else rewriteCommit(spark, root, meta, merged, affected,
          schemaEvolved = extraF.nonEmpty || widenedCols.nonEmpty,
          opInfo = Map("op" -> "MERGE", "keys" -> keyCols.mkString(",")),
          baseVersion = Some(latest),
          // concurrent adds are checked under the PRE-evolution schema:
          // files that landed before this commit can't carry the new cols
          readConflict = Some(addedReadGuard(spark, root, meta0,
            _.join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))))
      } finally src.unpersist()
    }
  }
}
