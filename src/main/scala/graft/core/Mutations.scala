package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
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
  * The five copy-on-write mutations ([[deleteWhere]], [[replaceWhere]],
  * [[updateWhere]], [[applyChanges]], [[merge]]) check their inputs, then
  * run ONE skeleton ([[copyOnWrite]]) in four phases:
  *   1. **Locate** — one distributed scan finds the distinct set of files
  *      that contain at least one affected row (`_metadata.file_path`,
  *      column-pruned to the predicate/key columns; a source's keys are
  *      the build side of its semi-join, a broadcast while small). On a
  *      dataset where the predicate touches 1 % of files, 99 % of the data
  *      is never read again, let alone rewritten — this is what makes a
  *      row-level delete on 100 TB an O(affected data) operation.
  *   2. **Read affected** — only the affected files are re-read, deletion
  *      vectors applied, with their row ids when the dataset tracks rows.
  *   3. **Rewrite** — the path's own function turns those rows into the
  *      replacement: survivors, updated rows, an upsert by key.
  *   4. **Commit** — [[writeAndCommit]], the tail every versioned rewrite
  *      shares, writes the replacement as FRESH files (physical writes
  *      never delete) and lands one `rewrite` log entry that atomically
  *      swaps the affected files for the new ones. Readers of older
  *      versions are undisturbed; a crash before the commit leaves the
  *      previous version fully readable and the new files invisible;
  *      `vacuum` reclaims replaced files once history allows.
  *
  * The copy-on-write action budget: the locate, then the write's sizing
  * sample and the write itself — 3 actions for DELETE/UPDATE. A path that
  * takes rows in (MERGE, APPLY CHANGES, replaceWhere) runs its input
  * checks — the source-key uniqueness check, APPLY CHANGES' op check,
  * replaceWhere's stray-row check — in the locate's own execution, which
  * also observes the source's write sizing: 2 actions, the write sized
  * from the source. A dataset with CHECK constraints adds the constraint
  * pass, one with a stats index its index read and maintenance.
  *
  * The deletion-vector variants ([[deleteWhereDv]], [[updateWhereDv]],
  * [[mergeDv]]) have a fixed action budget: ONE locate-and-DV-write
  * action, whose observed metrics (`Dataset.observe`) carry the covered
  * files and, for UPDATE, the row count and write sizing of the updated
  * copies — then, for UPDATE/MERGE, one data write through the same
  * [[writeAndCommit]] tail. MERGE's source-key uniqueness check is its
  * one extra action and observes the source's row count and sizing. The
  * DV lookup a read builds for a new DV set reads the sidecars on the
  * driver, without an action.
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
  * ceiling lock-serialization imposed. (Maintaining a stats or bloom
  * index is the one serialized step, and only on an indexed dataset.)
  *
  * The reference (s3parq) can only clobber or append whole partition
  * trees; row-level semantics are part of graft's beyond-the-reference
  * lakehouse surface.
  */
object Mutations {

  private val FileCol = "_graft_file"
  private val RowIdxCol = "_graft_row_index"
  private val RowIdCol = Versions.RowIdCol

  /** The snapshot a mutation computes against: its version, metadata and
    * live DV refs, and its rows carrying the per-row source-file handle.
    */
  private final case class Base(version: Int, meta: DatasetMeta, dvs: Seq[DvRef],
                                rows: DataFrame)

  /** Latest snapshot read with the per-row source-file handle, DELETION
    * VECTORS APPLIED — a mutation must never locate (or resurrect) a row
    * an earlier delete_dv already removed. The live DV refs ride along so
    * rewrite legs re-reading affected files apply them too.
    * `rowIdBases`: when set, the snapshot carries each row's stable id as
    * [[Versions.RowIdCol]] (row tracking — DV-mode mutations thread the
    * ids into their replacement copies).
    */
  private def snapshotWithPath(spark: SparkSession, root: String,
                               withRowIndex: Boolean = false,
                               rowIdBases: Option[Map[String, Long]] = None): Base = {
    val latest = Versions.latestVersion(spark, root).getOrElse(throw
      new IllegalArgumentException(
        s"row-level mutations need a versioned dataset; $root has no version log"))
    val (files, meta, dvs) = Versions.snapshotFullAt(spark, root, latest)
    val df = Versions.readFilesWithPath(spark, root, files, meta, FileCol,
      dvs = dvs, rowIndexCol = if (withRowIndex) Some(RowIdxCol) else None,
      keepRowId = rowIdBases.map(_ => RowIdCol),
      rowIdBases = rowIdBases.getOrElse(Map.empty))
    Base(latest, meta, dvs, df)
  }

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

  /** `df` holds each `keyCols` tuple at most once — else fail naming one
    * duplicate with its count (a key column may itself be named `count`:
    * the aggregate is aliased).
    */
  private def requireUniqueKeys(what: String, df: DataFrame, keyCols: Seq[String]): Unit = {
    val dup = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__graft_n"))
      .where(col("__graft_n") > 1).limit(1).collect().headOption
    requireUnique(what, keyCols, dup)
  }

  private def requireUnique(what: String, keyCols: Seq[String], dup: Option[Row]): Unit =
    require(dup.isEmpty,
      s"$what is not unique on (${keyCols.mkString(",")}): e.g. ${dup.getOrElse("")}")

  /** An input check on a source: `flags` marks an offending row, and
    * `message` names one by its `shown` columns.
    */
  private final case class Check(flags: Column, shown: Seq[Column], message: Row => String)

  /** What a source-driven mutation takes in, as its locate checks it:
    * `rows`, the normalised source; `keyCols`, the key it must be unique
    * on (none: no uniqueness check); `checks`, run before the uniqueness
    * check; `written`, the source rows the rewrite writes — every one of
    * them lands in the replacement, so any such row makes it non-empty.
    */
  private final case class Source(what: String, rows: DataFrame,
                                  keyCols: Seq[String] = Nil, checks: Seq[Check] = Nil,
                                  written: Option[Column] = None)

  /** `src`'s check verdicts as aggregates over a frame of `rows` (the
    * source, or a frame of it): per check, the `shown` columns of a row it
    * flags, then a duplicate key tuple with its count — each null when
    * nothing offends. With a key to check, the frame is `rows` grouped by
    * it.
    */
  private def verdicts(src: Source, rows: DataFrame): (DataFrame, Seq[Column]) = {
    val checks = src.checks.indices.map(i => s"__graft_check$i")
    val perRow = src.checks.zip(checks).map { case (c, name) =>
      first(when(c.flags, struct(c.shown: _*)), ignoreNulls = true).as(name) }
    if (src.keyCols.isEmpty) (rows, perRow :+ count(lit(1)).as("__graft_n"))
    else (rows.groupBy(src.keyCols.map(col): _*).agg(count(lit(1)).as("__graft_n"), perRow: _*),
      first(when(col("__graft_n") > 1, struct((src.keyCols :+ "__graft_n").map(col): _*)),
        ignoreNulls = true).as("__graft_dup") +:
        checks.map(c => first(col(c), ignoreNulls = true).as(c)))
  }

  /** Fail the call on the first check `verdict` reports. */
  private def requireChecked(src: Source, verdict: Map[String, Any]): Unit = {
    def shown(name: String) = verdict.get(name).flatMap(Option(_)).map(_.asInstanceOf[Row])
    src.checks.zipWithIndex.foreach { case (c, i) =>
      val flagged = shown(s"__graft_check$i")
      require(flagged.isEmpty, flagged.map(c.message).getOrElse(""))
    }
    if (src.keyCols.nonEmpty) requireUnique(src.what, src.keyCols, shown("__graft_dup"))
  }

  /** The locate of a copy-on-write mutation and the checks of its source
    * as ONE execution into the no-op sink, whose observations carry the
    * distinct [[FileCol]] values of `files`, the verdicts ([[verdicts]])
    * and the write sizing of the source's written rows. An observation
    * missing from the plan is recomputed by an action of its own (the
    * sizing is then left to the write). Fails the call on a verdict;
    * returns the affected files and the source's sizing.
    */
  private def locate(files: DataFrame, source: Option[Source],
                     meta: DatasetMeta): (Seq[String], Option[Publish.WriteSizing]) = {
    val fileSet = collect_set(FileCol).as("__graft_files")
    val (filesObs, verdictObs, sizingObs) = (Observation(), Observation(), Observation())
    val checked = source.map { s =>
      val aggs = Publish.sizingMetrics(meta.schema, meta.partitions, s.written)
      val (frame, checks) = verdicts(s, s.rows.observe(sizingObs, aggs.head, aggs.tail: _*))
      frame.observe(verdictObs, checks.head, checks.tail: _*)
    }
    (files.observe(filesObs, fileSet) +: checked.toSeq)
      .map(_.select(lit(0).as("__graft_locate"))).reduce(_.unionByName(_))
      .write.format("noop").mode("overwrite").save()
    def observed(o: Observation, orElse: => DataFrame): Map[String, Any] =
      Some(o.get).filter(_.nonEmpty).getOrElse {
        val r = orElse.head()
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
    source.foreach { s =>
      val (frame, checks) = verdicts(s, s.rows)
      requireChecked(s, observed(verdictObs, frame.agg(checks.head, checks.tail: _*)))
    }
    val affected = observed(filesObs, files.agg(fileSet))("__graft_files")
      .asInstanceOf[Seq[String]].sorted
    (affected, source.flatMap(_ => Publish.observedSizing(sizingObs.get)))
  }

  /** The source contract of every path that takes rows in: the key
    * columns exist on both sides, and `source` carries every column of
    * `schema` and nothing else besides `passThrough`. Returns `source` in
    * `schema`'s order with its values cast to the declared types (ANSI
    * catches a lossy downcast at runtime), `passThrough` appended.
    */
  private def normalised(what: String, source: DataFrame, schema: StructType,
                         keyCols: Seq[String] = Nil,
                         passThrough: Seq[String] = Nil): DataFrame = {
    keyCols.foreach { k =>
      require(schema.fieldNames.contains(k), s"key column $k is not a dataset column")
      require(source.columns.contains(k), s"key column $k missing from source")
    }
    val missing = schema.fieldNames.filterNot(source.columns.contains)
    val extra = source.columns.filterNot(c =>
      schema.fieldNames.contains(c) || passThrough.contains(c))
    require(missing.isEmpty, s"$what is missing dataset columns: ${missing.mkString(",")}")
    require(extra.isEmpty, s"$what carries columns the dataset lacks: ${extra.mkString(",")}")
    source.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) ++ passThrough.map(col): _*)
  }

  /** `body` over `source`, cached for the several actions that read it —
    * unless it is a driver-local relation, which they re-read for free.
    */
  private def cachedSource[T](source: DataFrame)(body: DataFrame => T): T =
    source.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => body(source)
      case _ => source.persist(); try body(source) finally source.unpersist()
    }

  /** The UPDATE projection over `meta`'s columns: each assigned column
    * takes its expression cast to the declared type — only on rows where
    * `onlyWhere` is TRUE, when given — and the others pass through.
    * Unknown and partition columns are rejected (moving rows between
    * partitions is a delete+insert the caller should express as such).
    */
  private def updatedColumns(what: String, meta: DatasetMeta,
                             assignments: Map[String, Column],
                             onlyWhere: Option[Column]): Seq[Column] = {
    val bad = assignments.keySet.filterNot(meta.schema.fieldNames.contains)
    require(bad.isEmpty, s"assignment to unknown columns: ${bad.mkString(",")}")
    val part = assignments.keySet.filter(meta.partitions.contains)
    require(part.isEmpty,
      s"cannot assign partition columns ${part.mkString(",")} in $what")
    meta.schema.fields.toIndexedSeq.map { f =>
      assignments.get(f.name).fold(col(f.name)) { e =>
        val v = e.cast(f.dataType)
        onlyWhere.fold(v)(p => when(p <=> lit(true), v).otherwise(col(f.name))).as(f.name)
      }
    }
  }

  /** The snapshot rows whose key appears in `keys` — MERGE's and APPLY
    * CHANGES' locate and read set.
    */
  private def keyed(keys: DataFrame, keyCols: Seq[String]): DataFrame => DataFrame =
    _.join(keys.select(keyCols.map(col): _*), keyCols, "left_semi")

  /** Deterministic text of a predicate for the commitInfo surface (the
    * Column's own rendering — advisory metadata, never re-parsed).
    */
  private def predSql(c: Column): String = c.toString

  /** Test seam (same shape as [[Publish.postWriteHook]]): runs after a
    * mutation's locate/rewrite work and just before its commit — the
    * stale-read window the read-set OCC specs hold open to land a
    * deterministic concurrent commit.
    */
  private[graft] var preCommitHook: () => Unit = () => ()

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
  private def addedReadGuard(spark: SparkSession, root: String,
                             meta: DatasetMeta,
                             inReadSet: DataFrame => DataFrame)
      : Option[Seq[String] => Option[String]] =
    Some(added => {
      val hit = inReadSet(Versions.readFiles(spark, root, added, meta))
        .limit(1).collect()
      if (hit.isEmpty) None
      else Some(s"e.g. ${hit.head}")
    })

  /** The write-and-commit tail of EVERY versioned rewrite — the
    * copy-on-write mutations, the DV-backed UPDATE/MERGE and OPTIMIZE's
    * small-file pack — and the one place that decides how a rewrite's
    * files are written, indexed and committed:
    *   - `rows` are first checked against the table's CHECK constraints
    *     when `validate` (UPDATE/MERGE-produced rows must honor them;
    *     survivors re-validate too, the pass only scans the rewritten
    *     subset). OPTIMIZE moves committed rows and skips it;
    *   - a name-mapped dataset's files are written under the mapping's
    *     PHYSICAL names, like every other live file;
    *   - the files land through the DIRECT-WRITE protocol (unique job-id
    *     names, files reported by the writer itself): concurrent OCC
    *     writers never discover each other's uncommitted bytes through a
    *     listing, and no listing runs. An empty `rows` (a delete that
    *     emptied its files) writes nothing — the write's own sizing
    *     sample answers emptiness, or `sizing`, when an earlier action
    *     observed it over `rows` or over a source that stands for them,
    *     replaces that sample;
    *   - the write maintains the stats index (for the columns it covers)
    *     and the bloom index once for the new files, before the commit;
    *   - [[preCommitHook]] runs, then ONE `kind` entry commits the new
    *     files, removes `removed` and records `dvs`, validated against
    *     `baseVersion` and, when given, the `readConflict` read set.
    * `schemaEvolved`: `meta` is an evolving merge's widened schema, which
    * the dataset's recorded one does not match yet. Returns the result
    * and the new files' absolute paths.
    */
  private[core] def writeAndCommit(spark: SparkSession, root: String,
                                   meta: DatasetMeta, rows: DataFrame, kind: String,
                                   opInfo: Map[String, String], baseVersion: Int,
                                   removed: Seq[String] = Nil, dvs: Seq[DvRef] = Nil,
                                   sizing: Option[Publish.WriteSizing] = None,
                                   schemaEvolved: Boolean = false,
                                   validate: Boolean = true,
                                   readConflict: Option[Seq[String] => Option[String]] = None)
      : (MutationResult, Seq[String]) = {
    if (validate) Versions.enforceConstraints(spark, root, rows)
    val physRows =
      if (meta.colMap.isEmpty) rows
      else rows.select(rows.schema.fieldNames.toIndexedSeq.map(n =>
        col(n).as(meta.physName(n))): _*)
    val newFiles =
      if (sizing.exists(_.rows == 0)) Nil
      else Publish.publishImpl(spark, physRows, root,
        meta.partitions, "append", Nil, Nil, 16, 0,
        statsCols = StatsIndex.indexedColumns(spark, root),
        // physical names intentionally differ from the sidecar's logical
        // schema on a mapped dataset (and an evolving merge's replacement
        // carries MORE columns than the sidecar); the logical shape was
        // already validated by the snapshot read this derives from
        requireSchemaMatch = meta.colMap.isEmpty && !schemaEvolved,
        internalRewrite = true, directCommit = true, emptyOk = true, sizing = sizing)
    preCommitHook()
    val v = Versions.commit(spark, root, kind, newFiles, meta,
      removedRel = removed, dvs = dvs, opInfo = opInfo,
      baseVersion = Some(baseVersion), readConflict = readConflict)
    (MutationResult(v, removed, Versions.relativize(spark, root, newFiles)), newFiles)
  }

  /** The affected files' rows as a rewrite sees them: each `rows` call is
    * a fresh read (deletion vectors applied) that carries the
    * materialized row id when `tracked`.
    */
  private final class Affected(read: () => DataFrame, val tracked: Boolean) {
    def rows: DataFrame = read()
    def map(f: DataFrame => DataFrame): Affected = new Affected(() => f(read()), tracked)
    /** The id column a rewritten row keeps, when tracked. */
    def ids: Seq[Column] = if (tracked) Seq(col(RowIdCol)) else Nil
    /** An inserted row's null id (a fresh id at read), when tracked. */
    def freshIds: Seq[Column] =
      if (tracked) Seq(lit(null).cast("long").as(RowIdCol)) else Nil
  }

  /** The copy-on-write skeleton (phases in the object doc):
    *   1. locate — the distinct files holding a row of
    *      `matching(base.rows)`, or of `scoped`, files the caller resolved
    *      from the log's paths without a scan. A `source` is checked in the
    *      same execution ([[verdicts]]), which fails the call before
    *      anything is written and observes the source's write sizing;
    *   2. read affected — when nothing matched and the source writes no
    *      row, the mutation is a no-op that commits nothing. Otherwise the
    *      affected files are re-read, with their row ids when every one of
    *      them is covered (coverage scoped to the affected files);
    *   3. rewrite — `rewrite` turns them into the replacement rows;
    *   4. commit — `beforeWrite` runs, then [[writeAndCommit]] swaps the
    *      affected files for the replacement's in one `rewrite` entry,
    *      guarded by `matching` as the OCC read set ([[addedReadGuard]]),
    *      under `base.meta`: files that landed concurrently cannot carry an
    *      evolving merge's new columns.
    * The write is sized from the source: it has the dataset's columns, so
    * its bytes per row stand for the replacement's, and the replacement
    * spans at least its partition tuples and the affected files' dirs.
    * Without a source, when the source writes no row (the sample then
    * answers whether the replacement is empty), or when Spark dropped the
    * observation from a plan it proved empty, the write samples its own
    * sizing.
    * `evolved`: the metadata the commit records when a merge evolved the
    * schema.
    */
  private def copyOnWrite(spark: SparkSession, root: String, base: Base,
                          matching: DataFrame => DataFrame, opInfo: Map[String, String],
                          source: Option[Source] = None,
                          scoped: Option[DataFrame] = None,
                          evolved: Option[DatasetMeta] = None,
                          beforeWrite: () => Unit = () => ())(
                          rewrite: Affected => DataFrame): MutationResult = {
    val meta = evolved.getOrElse(base.meta)
    val (affected, sized) = locate(scoped.getOrElse(matching(base.rows)), source, meta)
    val inserts = source.exists(s => sized.fold(
      !s.written.fold(s.rows)(s.rows.where(_)).isEmpty)(_.rows > 0))
    if (affected.isEmpty && !inserts) MutationResult(base.version, Nil, Nil)
    else {
      val bases = liveBases(spark, root, base.version, affected)
      val target = new Affected(() => Versions.readFiles(spark, root, affected,
        base.meta, dvs = base.dvs, keepRowId = bases.map(_ => RowIdCol),
        rowIdBases = bases.getOrElse(Map.empty)), bases.isDefined)
      val dirs = affected.map(f => f.substring(0, math.max(0, f.lastIndexOf('/')))).distinct.size
      val sizing = sized.filter(_.rows > 0).map(s => s.copy(
        bytesPerRow = s.bytesPerRow + target.ids.size * 8,
        partitionTuples = math.max(s.partitionTuples, dirs.toLong)))
      beforeWrite()
      writeAndCommit(spark, root, meta, rewrite(target), "rewrite",
        opInfo, base.version, removed = affected, sizing = sizing,
        schemaEvolved = evolved.isDefined,
        readConflict = addedReadGuard(spark, root, base.meta, matching))._1
    }
  }

  /** Upsert by key, the rewrite [[merge]] and [[applyChanges]] share: an
    * affected target row whose key appears in `source` is replaced by the
    * source row, other target rows pass through, and source rows matching
    * nothing are inserted. Row tracking: a replaced row keeps the TARGET
    * row's id (threaded through the join as a struct field taken from the
    * target side); inserts carry null, i.e. fresh computed ids.
    *
    * Neither join moves the affected rows: they stream past the source
    * (a broadcast while it is small) in a left outer join, and the inserts
    * are the source anti-joined to their keys alone. Every copy of a
    * duplicated target key is replaced, and a null key matches nothing.
    */
  private def upsertByKey(target: Affected, source: DataFrame, keyCols: Seq[String],
                          schema: StructType): DataFrame = {
    val payload = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    val rows = target.rows
    def inserted = source.join(rows.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(col("*") +: target.freshIds: _*)
    if (payload.isEmpty && !target.tracked)
      // keys-only dataset: upsert degenerates to set union
      rows.unionByName(source).distinct()
    else if (payload.isEmpty) {
      // Match the untracked branch's SET semantics exactly (it does
      // union+distinct): pre-existing duplicate key tuples in the affected
      // files collapse to ONE surviving row — the MIN-id row, so the
      // oldest copy keeps its identity in the change feed — and only
      // unmatched source keys insert. (Duplicate SOURCE rows are
      // impossible here: the uniqueness check covers every column when
      // the key set is the whole schema.) Without this, results would
      // depend on the orthogonal row-tracking table property.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(RowIdCol).asc)
      rows.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn")
        .unionByName(inserted)
    } else {
      def packed(df: DataFrame, tag: String, id: Seq[Column]) =
        df.select(keyCols.map(col) :+ struct(payload.map(col) ++ id: _*).as(tag): _*)
      packed(rows, "_t", target.ids)
        .join(packed(source, "_s", target.freshIds), keyCols, "left_outer")
        .withColumn("_m", coalesce(col("_s"), col("_t")))
        .select(schema.fieldNames.toIndexedSeq.map(n =>
          if (keyCols.contains(n)) col(n) else col("_m")(n).as(n)) ++
          target.ids.map(_ => col("_t")(RowIdCol).as(RowIdCol)): _*)
        .unionByName(inserted)
    }
  }

  /** DELETE FROM root WHERE predicate. SQL DELETE semantics: rows where
    * the predicate is TRUE are removed; FALSE and NULL rows stay.
    */
  def deleteWhere(spark: SparkSession, root: String,
                  predicate: Column): MutationResult =
    // row tracking: survivors keep their ids (materialized into the
    // rewritten files); deleted ids simply never reappear
    copyOnWrite(spark, root, snapshotWithPath(spark, root), _.where(predicate),
        Map("op" -> "DELETE", "predicate" -> predSql(predicate)))(
      _.rows.where(not(predicate <=> lit(true))))

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
                   data: DataFrame): MutationResult = {
    val base = snapshotWithPath(spark, root)
    val meta = base.meta
    val src = normalised("replaceWhere data", data, meta.schema)
    val stray = Check(!(predicate <=> lit(true)), src.columns.toSeq.map(col), r =>
      s"replaceWhere data contains rows NOT matching the predicate " +
        s"(e.g. $r) — the write may only produce rows inside the range it replaces")
    val refs = predicateRefs(spark, meta.schema, predicate)
    val (liveFiles, _, _) = Versions.snapshotFullAt(spark, root, base.version)
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
    // evaluate the predicate against path-derived partition values on a
    // LOCAL frame — full Spark cast/comparison semantics, no data read.
    // Hive-escaped values unescape through the exact routine the writer
    // used; the null partition dir maps to null.
    val scoped = Option.when(partitionScoped) {
      import org.apache.spark.sql.types.{StringType, StructField}
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
        .select(col("__file").as(FileCol))
    }
    copyOnWrite(spark, root, base, _.where(predicate),
        Map("op" -> "REPLACE WHERE", "predicate" -> predSql(predicate),
          "partition_scoped" -> partitionScoped.toString),
        source = Some(Source("replaceWhere data", src, checks = Seq(stray))),
        scoped = scoped) { a =>
      val inserted = src.select(col("*") +: a.freshIds: _*)
      if (partitionScoped) inserted
      else a.rows.where(not(predicate <=> lit(true))).unionByName(inserted)
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
                    predicate: Column): MutationResult = {
    val Base(latest, meta, _, snap) = snapshotWithPath(spark, root, withRowIndex = true)
    writeDv(spark, root, snap.where(predicate))._1 match {
      case None => MutationResult(latest, Nil, Nil)
      case Some(dv) =>
        preCommitHook()
        val v = Versions.commit(spark, root, "delete_dv", Nil, meta,
          dvs = Seq(dv),
          opInfo = Map("op" -> "DELETE", "mode" -> "dv",
            "predicate" -> predSql(predicate)),
          baseVersion = Some(latest),
          readConflict = addedReadGuard(spark, root, meta, _.where(predicate)))
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
    // row tracking: the updated COPIES carry their originals' ids
    // (materialized — an update preserves row identity)
    val bases = Versions.latestVersion(spark, root)
      .flatMap(v => liveBases(spark, root, v))
    val Base(latest, meta, _, snap) =
      snapshotWithPath(spark, root, withRowIndex = true, rowIdBases = bases)
    val updatedCols = updatedColumns("updateWhereDv", meta, assignments, None) ++
      bases.map(_ => col(RowIdCol))
    // matched feeds two actions (the DV write, then the updated copies);
    // persist so the locate scan runs once. The updated copies ride
    // beside the DV handles so the DV write also observes their sizing.
    val matched = snap.where(predicate).persist()
    try {
      val located = matched.select(updatedCols ++ Seq(col(FileCol), col(RowIdxCol)): _*)
      val updated = located.drop(FileCol, RowIdxCol)
      writeDv(spark, root, located,
          Publish.sizingMetrics(updated.schema, meta.partitions)) match {
        case (None, _) => MutationResult(latest, Nil, Nil)
        case (Some(dv), m) =>
          writeAndCommit(spark, root, meta, updated, "update_dv",
            Map("op" -> "UPDATE", "mode" -> "dv", "predicate" -> predSql(predicate),
              "columns" -> assignments.keys.toSeq.sorted.mkString(",")),
            latest, dvs = Seq(dv), sizing = Publish.observedSizing(m),
            readConflict = addedReadGuard(spark, root, meta, _.where(predicate)))._1
      }
    } finally matched.unpersist()
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
    val bases = Versions.latestVersion(spark, root)
      .flatMap(v => liveBases(spark, root, v))
    val Base(latest, meta, _, snap) =
      snapshotWithPath(spark, root, withRowIndex = true, rowIdBases = bases)
    cachedSource(normalised("merge source", source, meta.schema, keyCols)) { src =>
      // the duplicate-key check scans all of src: it also observes the
      // emptiness and write sizing of the appended rows (src, plus the
      // fixed-width row id when tracked)
      val written = bases.fold(src.schema)(_ =>
        src.schema.add(RowIdCol, org.apache.spark.sql.types.LongType))
      val obs = Observation()
      val sizingAggs = Publish.sizingMetrics(written, meta.partitions)
      requireUniqueKeys("merge source",
        src.observe(obs, sizingAggs.head, sizingAggs.tail: _*), keyCols)
      val sizing = Publish.observedSizing(obs.get)
      if (sizing.fold(src.isEmpty)(_.rows == 0)) MutationResult(latest, Nil, Nil)
      else {
        val matched = keyed(src, keyCols)(snap)
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
        writeAndCommit(spark, root, meta, srcOut, "update_dv",
          Map("op" -> "MERGE", "mode" -> "dv", "keys" -> keyCols.mkString(",")),
          latest, dvs = dv.toSeq, sizing = sizing,
          readConflict = addedReadGuard(spark, root, meta, keyed(src, keyCols)))._1
      }
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
    val base = snapshotWithPath(spark, root)
    val updatedCols = updatedColumns("updateWhere", base.meta, assignments, Some(predicate))
    // row tracking: updated AND untouched-neighbor rows keep their ids
    copyOnWrite(spark, root, base, _.where(predicate),
        Map("op" -> "UPDATE", "predicate" -> predSql(predicate),
          "columns" -> assignments.keys.toSeq.sorted.mkString(",")))(
      a => a.rows.select(updatedCols ++ a.ids: _*))
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
    val base = snapshotWithPath(spark, root)
    cachedSource(normalised("change batch", changes, base.meta.schema, keyCols,
        passThrough = Seq(opCol))) { normalized =>
      val badOp = Check(col(opCol).isNull || !col(opCol).isin("upsert", "delete"),
        Seq(col(opCol)), r => s"unknown $opCol value $r; expected upsert|delete")
      val upsert = col(opCol) === "upsert"
      val ups = normalized.where(upsert).drop(opCol)
      val delKeys = normalized.where(col(opCol) === "delete")
        .select(keyCols.map(col): _*)
      copyOnWrite(spark, root, base, keyed(normalized, keyCols),
          Map("op" -> "APPLY CHANGES", "keys" -> keyCols.mkString(",")),
          source = Some(Source("change batch", normalized, keyCols, Seq(badOp),
            written = Some(upsert))))(
        a => upsertByKey(a, ups, keyCols, base.meta.schema).join(delKeys, keyCols, "left_anti"))
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
    *
    * `evolveSchema = true` is the Delta `autoMerge` behavior: the source
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
    val base = snapshotWithPath(spark, root)
    val meta0 = base.meta
    val extraF = source.schema.fields.filterNot(f =>
      meta0.schema.fieldNames.contains(f.name)).toSeq
    require(extraF.isEmpty || evolveSchema,
      s"merge source carries new columns ${extraF.map(_.name).mkString(",")}; " +
        "pass evolveSchema=true to add them to the dataset additively")
    extraF.foreach { f =>
      require(!keyCols.contains(f.name), s"key column ${f.name} is not a dataset column")
      require(!f.name.startsWith("_") && !f.name.startsWith("."),
        s"evolved column ${f.name} would be hidden from parquet readers")
    }
    // the evolved logical schema: existing fields (type-WIDENED where the
    // source carries a lossless promotion — int→long, float→double,
    // decimal growth; see [[Widen]]), new ones appended (a name-mapped
    // dataset's new columns bind identity — no map change). Without
    // evolveSchema the source is cast to the recorded types.
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
    // normalize source to (evolved) target order + types, once
    cachedSource(normalised("merge source", source, meta.schema, keyCols)) { src =>
      // affected target rows under the OLD schema, null-extended to the
      // evolved one (their files predate the new columns) and UPCAST to
      // any widened types so both merge sides agree
      def evolve(old: DataFrame): DataFrame = {
        val wide = extraF.foldLeft(old)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        if (widenedCols.isEmpty) wide
        else wide.select(wide.columns.toIndexedSeq.map(n =>
          if (widenedCols.contains(n)) col(n).cast(meta.schema(n).dataType).as(n)
          else col(n)): _*)
      }
      copyOnWrite(spark, root, base, keyed(src, keyCols),
          Map("op" -> "MERGE", "keys" -> keyCols.mkString(",")),
          source = Some(Source("merge source", src, keyCols)),
          evolved = Some(meta).filter(_ => extraF.nonEmpty || widenedCols.nonEmpty),
          // stale bloom filters on a widened column would false-skip
          // files; dropped only once the source passed its checks
          beforeWrite = () =>
            if (widenedCols.nonEmpty) BloomIndex.invalidateFor(spark, root, widenedCols))(
        a => upsertByKey(a.map(evolve), src, keyCols, meta.schema))
    }
  }
}
