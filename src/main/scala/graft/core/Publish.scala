package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** Hive-partitioned snappy-parquet dataset writer — the Spark-native
  * re-expression of the reference's `publish` / `custom_publish`
  * (s3parq publish_parq.py:480,576).
  *
  * Differences from the reference, by design (scale):
  *  - The reference slices the pandas frame driver-side into ~60 MB chunks
  *    (publish_parq.py:403 `_sized_dataframes`) and uploads each; graft
  *    keeps the data distributed: file size is enforced by the writer via
  *    `maxRecordsPerFile` from a sampled bytes/row estimate, and rows are
  *    routed with a salted repartition so a single hot partition value
  *    still writes in parallel instead of through one task.
  *  - Partition-type metadata is stamped once in a `_graft_meta.json`
  *    sidecar (see [[DatasetMeta]]) instead of per-object S3 metadata
  *    (publish_parq.py:211 `_assign_partition_meta`) — O(1) metadata reads
  *    regardless of file count.
  */
object Publish {

  /** Ideal compressed output file size — 60 MB, the reference's Spectrum
    * sweet spot (publish_parq.py:434).
    */
  val TargetFileBytes: Long = 60L * (1 << 20)

  /** Parquet compression ratio assumed from in-memory size, matching the
    * reference's observed 3.5-4.5x (publish_parq.py:430-432).
    */
  val CompressionRatio: Double = 4.0

  /** Hive reserved words that cannot be partition names
    * (publish_parq.py:62 `_check_partition_compatibility`).
    */
  private val HiveReserved: Set[String] =
    ("ALL ALTER AND ARRAY AS AUTHORIZATION BETWEEN BIGINT BINARY BOOLEAN BOTH BY CASE CAST CHAR COLUMN " +
      "CONF CREATE CROSS CUBE CURRENT CURRENT_DATE CURRENT_TIMESTAMP CURSOR DATABASE DATE DECIMAL DELETE " +
      "DESCRIBE DISTINCT DOUBLE DROP ELSE END EXCHANGE EXISTS EXTENDED EXTERNAL FALSE FETCH FLOAT FOLLOWING " +
      "FOR FROM FULL FUNCTION GRANT GROUP GROUPING HAVING IF IMPORT IN INNER INSERT INT INTERSECT INTERVAL " +
      "INTO IS JOIN LATERAL LEFT LESS LIKE LOCAL MACRO MAP MORE NONE NOT NULL OF ON OR ORDER OUT OUTER OVER " +
      "PARTIALSCAN PARTITION PERCENT PRECEDING PRESERVE PROCEDURE RANGE READS REDUCE REVOKE RIGHT ROLLUP ROW " +
      "ROWS SELECT SET SMALLINT TABLE TABLESAMPLE THEN TIMESTAMP TO TRANSFORM TRIGGER TRUE TRUNCATE UNBOUNDED " +
      "UNION UNIQUEJOIN UPDATE USER USING UTC_TMESTAMP VALUES VARCHAR WHEN WHERE WINDOW WITH COMMIT ONLY " +
      "REGEXP RLIKE ROLLBACK START CACHE CONSTRAINT FOREIGN PRIMARY REFERENCES DAYOFWEEK EXTRACT FLOOR " +
      "INTEGER PRECISION VIEWS TIME NUMERIC SYNC").split(' ').toSet

  /** Empty frames cannot be published (publish_parq.py:16). */
  def checkNonEmpty(df: DataFrame): Unit =
    require(!df.isEmpty, "Empty dataframes cannot be published.")

  /** Interval columns have no parquet representation — the analogue of the
    * reference's timedelta rejection (publish_parq.py:33).
    */
  def checkNoIntervals(df: DataFrame): Unit =
    df.schema.fields.foreach { f =>
      f.dataType match {
        case _: CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
          throw new UnsupportedOperationException(
            s"Parquet conversion of interval column ${f.name} is not supported.")
        case _ => ()
      }
    }

  /** Partitions must be existing columns and not hive reserved words
    * (publish_parq.py:66 `check_partitions`).
    */
  def checkPartitions(partitions: Seq[String], df: DataFrame): Unit = {
    partitions.foreach { p =>
      require(df.columns.contains(p),
        s"Cannot set $p as a partition; this is not a valid column header for the supplied dataframe.")
      require(!HiveReserved.contains(p.toUpperCase),
        s"$p is a reserved word in hive that cannot be used as a partition.")
    }
    // Spark's writer rejects this downstream with a less direct message.
    require(partitions.isEmpty || partitions.toSet != df.columns.toSet,
      "Cannot use every column as a partition column; at least one data column is required.")
    // Hidden-prefixed dirs are skipped by every parquet reader (and by
    // graft's own emptiness probe) — such a dataset would fetch as empty.
    partitions.find(p => p.startsWith("_") || p.startsWith(".")).foreach { p =>
      throw new IllegalArgumentException(
        s"$p cannot be a partition column: names starting with '_' or '.' produce hidden directories.")
    }
  }

  /** Facts that size a write: the row count, the mean estimated in-memory
    * bytes per row ([[rowBytes]]) and the distinct partition tuples. Either
    * sampled ([[sampleRowBytes]]) or observed by an action that already
    * scanned the rows ([[sizingMetrics]] / [[observedSizing]]).
    */
  private[graft] final case class WriteSizing(rows: Long, bytesPerRow: Double,
                                             partitionTuples: Long)

  private val EmptySizing = WriteSizing(0L, 64.0, 1L)

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Estimated in-memory bytes of one row — the Spark analogue of the
    * reference's `sys.getsizeof(head(1))` row estimate
    * (publish_parq.py:426): strings and binaries cost their length + 8,
    * arrays 8 per element + 16, a null of those 4, and every other type
    * its fixed width (a literal: fixed-width fields are never read).
    */
  private[core] def rowBytes(schema: StructType): Column =
    schema.fields.toSeq.map { f =>
      val c = quoted(f.name)
      def orNull(e: Column): Column = when(c.isNull, lit(4L)).otherwise(e)
      f.dataType match {
        case _: StringType | BinaryType => orNull(length(c).cast(LongType) + 8L)
        case _: ArrayType => orNull(size(c).cast(LongType) * 8L + 16L)
        case BooleanType | ByteType => lit(1L)
        case ShortType => lit(2L)
        case IntegerType | FloatType | DateType => lit(4L)
        case _ => lit(8L)
      }
    }.foldLeft(lit(0L))(_ + _)

  /** The [[WriteSizing]] facts as aggregates for `Dataset.observe` over
    * the rows about to be written (of `schema`): an action that already
    * scans those rows then sizes the write for free. Read back with
    * [[observedSizing]]. `only`: when given, just the rows it is TRUE on
    * count (the scanned frame also carries rows the write drops).
    */
  private[graft] def sizingMetrics(schema: StructType, partitions: Seq[String],
                                   only: Option[Column] = None): Seq[Column] = {
    def kept(c: Column): Column = only.fold(c)(when(_, c))
    Seq(count(kept(lit(1))).as("__graft_rows"), sum(kept(rowBytes(schema))).as("__graft_bytes")) ++
      (if (partitions.isEmpty) Nil
       else Seq(approx_count_distinct(kept(struct(partitions.map(quoted): _*)))
         .as("__graft_parts")))
  }

  /** None when the action carried no observation: Spark drops it from a
    * plan it proved empty, so a missing metric must not be read as zero
    * rows — the caller samples instead.
    */
  private[graft] def observedSizing(m: Map[String, Any]): Option[WriteSizing] =
    m.get("__graft_rows").map(_.asInstanceOf[Long]).map { rows =>
      if (rows == 0) EmptySizing
      else WriteSizing(rows, m("__graft_bytes").asInstanceOf[Long].toDouble / rows,
        m.get("__graft_parts").fold(1L)(_.asInstanceOf[Long]))
    }

  /** `body` over `df` materialised once: an eager local checkpoint (the
    * [[graft.ops.Dedup.duplicateClusters]] precedent) whose one action
    * also observes `metrics`, so every consumer in `body` reads the
    * checkpoint instead of re-running `df`'s plan. The checkpoint's blocks
    * are dropped when `body` returns rather than left for a GC to find.
    */
  private[graft] def materialised[T](df: DataFrame, metrics: Seq[Column])(
      body: (DataFrame, Map[String, Any]) => T): T = {
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
    try body(cp, obs.get) finally shim.dropLocalCheckpoint(cp)
  }

  /** [[WriteSizing]] from a driver-side sample of at most `n` rows: one
    * action collecting [[rowBytes]] and the partition values.
    */
  private[graft] def sampleRowBytes(df: DataFrame, partitions: Seq[String],
                                    n: Int = 1000): WriteSizing = {
    val rows = df.select(rowBytes(df.schema) +: partitions.map(quoted): _*)
      .limit(n).collect()
    if (rows.isEmpty) EmptySizing
    else WriteSizing(rows.length, rows.map(_.getLong(0)).sum.toDouble / rows.length,
      if (partitions.isEmpty) 1L
      else rows.map(r => partitions.indices.map(i => r.get(i + 1))).toSet.size.toLong)
  }

  /** Write `df` as a hive-partitioned snappy-parquet dataset at `root`,
    * record the logical schema + partition types in the sidecar, and return
    * the list of written data-file paths (the reference returns published
    * object keys, publish_parq.py:573).
    *
    * Concurrency contract ([[DatasetLock]]): APPENDS serialize under the
    * dataset's writer lock — the listing diff, stats-index append and
    * completeness-marker restore are one critical section, so two
    * concurrent appends land as if sequential. OVERWRITE is deliberately
    * lock-free last-writer-wins (the reference's S3 object-overwrite
    * semantics). Readers never take the lock.
    */
  def publish(spark: SparkSession, df: DataFrame, root: String,
              partitions: Seq[String], mode: String = "overwrite",
              sortCols: Seq[String] = Nil, zorderCols: Seq[String] = Nil,
              zorderBits: Int = 16, zorderPartitions: Int = 0,
              statsCols: Seq[String] = Nil): Seq[String] =
    if (mode == "append")
      DatasetLock.withLock(spark, root) {
        publishImpl(spark, df, root, partitions, mode, sortCols, zorderCols,
          zorderBits, zorderPartitions, statsCols)
      }
    else publishImpl(spark, df, root, partitions, mode, sortCols, zorderCols,
      zorderBits, zorderPartitions, statsCols)

  /** [[publish]] under HIDDEN partitioning ([[Transforms]], the Iceberg
    * partition-transform design): the dataset hive-partitions by derived
    * columns — `days(ts)`, `bucket(n, key)`, `truncate(w, col)`, … —
    * computed here (and re-computed at every later write seam) from the
    * raw source columns, and the transform spec is recorded in a root
    * sidecar. Reads keep the user's schema (the derived columns stay
    * hidden) and [[Fetch.fetch]] filters on the RAW columns prune
    * partitions automatically. `versioned = true` routes through
    * [[publishVersioned]] for the full lakehouse surface on top.
    */
  def publishTransformed(spark: SparkSession, df: DataFrame, root: String,
                         transforms: Seq[PartitionTransform],
                         mode: String = "overwrite",
                         versioned: Boolean = false,
                         sortCols: Seq[String] = Nil,
                         statsCols: Seq[String] = Nil): Seq[String] = {
    require(transforms.nonEmpty, "publishTransformed requires at least one transform")
    require(transforms.map(_.name).distinct.length == transforms.length,
      s"duplicate partition transforms: ${transforms.map(_.name).mkString(", ")}")
    transforms.foreach { t =>
      require(df.columns.contains(t.source),
        s"transform source ${t.source} is not a column of the dataframe")
      require(!df.columns.contains(t.name),
        s"derived partition name ${t.name} collides with an existing column")
    }
    if (mode == "append") {
      val recorded = Transforms.read(spark, root)
      require(recorded.isEmpty || recorded == transforms,
        s"append transforms $transforms do not match the dataset's recorded " +
          s"transforms $recorded (partition layout is fixed at publish)")
    }
    val derived = Transforms.applyTo(df, transforms)
    val parts = transforms.map(_.name)
    // versioned: the sidecar lands BEFORE the commit so the very first
    // entry records its spec epoch (entries capture the sidecar at
    // commit time — partition-spec evolution's audit trail); visibility
    // is commit-controlled there, so a crash in between leaks nothing.
    // Unversioned keeps sidecar-last (data-then-metadata crash safety).
    if (versioned) Transforms.write(spark, root, transforms)
    val files =
      if (versioned) publishVersioned(spark, derived, root, parts, mode,
        sortCols = sortCols, statsCols = statsCols)
      else publish(spark, derived, root, parts, mode,
        sortCols = sortCols, statsCols = statsCols)
    if (!versioned) Transforms.write(spark, root, transforms)
    files
  }

  /** [[publish]] into a VERSIONED dataset: every call commits a new entry
    * to the [[Versions]] log, giving the dataset time travel and snapshot
    * isolation.
    *
    * `mode = "overwrite"` is LOGICAL (copy-on-write): new files are written
    * beside the old ones (part-file names are UUID-unique, so they never
    * collide), and the commit entry — written last, the atomic commit
    * point — flips the live set. Prior versions stay readable via
    * [[Versions.fetchVersion]] until an explicit [[Versions.vacuum]]; a
    * crash before the commit leaves the previous version intact and the
    * orphan files invisible (live reads, listings and introspection all
    * honor the log). The schema MAY change across overwrite versions (each
    * entry records its own schema); the partition columns may not — mixed
    * hive depths under one root would break partition discovery.
    *
    * `mode = "append"` adds files to the current snapshot (schema must
    * match, as in [[publish]]).
    *
    * Returns the newly written files, like [[publish]].
    */
  def publishVersioned(spark: SparkSession, df: DataFrame, root: String,
                       partitions: Seq[String], mode: String = "overwrite",
                       sortCols: Seq[String] = Nil,
                       zorderCols: Seq[String] = Nil,
                       zorderBits: Int = 16,
                       zorderPartitions: Int = 0,
                       statsCols: Seq[String] = Nil,
                       txn: Option[(String, Long)] = None,
                       opInfo: Map[String, String] = Map.empty,
                       internalRewrite: Boolean = false,
                       baseVersion: Option[Int] = None,
                       propertiesFull: Option[Map[String, String]] = None): Seq[String] = {
    require(mode == "overwrite" || mode == "append", s"unsupported publish mode $mode")
    // Appends to an existing versioned dataset are OPTIMISTIC: racing
    // appenders run concurrently and land as consecutive versions (the
    // commit-entry CAS), instead of serializing their whole data writes
    // on the dataset lock. Overwrites and the initial publish keep the
    // locked path (their read-compute-write does not commute).
    if (mode == "append" && Versions.isVersioned(spark, root))
      return appendVersionedOptimistic(spark, df, root, partitions, sortCols,
        zorderCols, zorderBits, zorderPartitions, statsCols, txn,
        propertiesFull, baseVersion)
    DatasetLock.withLock(spark, root) {
      val existing = DatasetMeta.read(spark, root)
      require(existing.isEmpty || Versions.isVersioned(spark, root),
        s"dataset at $root exists but has no version log; versioned and " +
          "unversioned publishes cannot mix (republish it versioned from scratch)")
      existing.foreach { meta =>
        require(meta.partitions == partitions,
          s"versioned publish partitions $partitions do not match dataset " +
            s"partitions ${meta.partitions}")
      }
      // CHECK constraints gate every versioned write (overwrite included)
      if (existing.nonEmpty) Versions.enforceConstraints(spark, root, df)
      // Physical writes NEVER delete: an initial publish writes fresh, and
      // every later commit (logical overwrite included) appends files.
      val newFiles =
        if (existing.isEmpty)
          publishImpl(spark, df, root, partitions, "overwrite", sortCols,
            zorderCols, zorderBits, zorderPartitions, statsCols,
            internalRewrite = internalRewrite)
        else
          // existing versioned dataset: visibility is commit-controlled,
          // so the physical file adds go through the direct-write protocol
          // (one write per byte, O(batch) file discovery)
          publishImpl(spark, df, root, partitions, "append", sortCols,
            zorderCols, zorderBits, zorderPartitions, statsCols,
            requireSchemaMatch = mode == "append", directCommit = true,
            internalRewrite = internalRewrite)
      Versions.commit(spark, root, mode, newFiles,
        DatasetMeta(StructType(df.schema.fields.filterNot(
          _.name == Versions.RowIdCol)), partitions), txn = txn, opInfo = opInfo,
        baseVersion = baseVersion, properties = propertiesFull)
      newFiles
    }
  }

  /** Lock-free append to a versioned dataset — the optimistic-concurrency
    * path behind [[publishVersioned]]'s append mode:
    *
    *   1. **Write in place** — the batch is shaped like any publish (same
    *      sizing / salting / clustering) and written DIRECTLY into its
    *      final partition dirs under the root via
    *      [[DirectWriteCommitProtocol]]: every file carries the write's
    *      unique job id + task attempt in its name, so racing appenders
    *      (and retried tasks) can never collide — no staging dir, no
    *      rename (a byte COPY on object stores: the old stage-then-move
    *      design wrote every appended byte twice there). The new files
    *      are invisible: live reads of a versioned dataset plan from the
    *      commit log, and these files are in no committed entry yet. A
    *      crash here orphans invisible files — the same story as a
    *      crashed logical overwrite — reclaimed by vacuum past its grace
    *      horizon.
    *   2. **Stats/bloom** — if the dataset (or this call) carries a stats
    *      or bloom index, the new files' sidecar rows append — cheap,
    *      O(batch), paid before the commit so an indexed read of the new
    *      version never finds uncovered live files.
    *   3. **Commit** — [[Versions.commit]]'s entry-file CAS claims the
    *      next version, retrying past racing committers.
    *
    * Net effect: N racing appenders overlap their (expensive) data writes
    * entirely and land as N consecutive versions; only the (cheap) sidecar
    * append and the commit CAS touch shared state — an append NEVER takes
    * the dataset lock around its data path (ConcurrentAppendSpec pins
    * that), so a slow writer elsewhere cannot stall ingestion.
    *
    * The vacuum interlock: between step 1's write and step 3's commit,
    * the new files are referenced by no committed entry, so a concurrent
    * [[Versions.vacuum]] would classify them dead and delete them — then
    * the commit would land referencing deleted files. The guard is
    * TEMPORAL, not a lock (a lock would re-serialize appends on every
    * maintenance pass): the completed write restamps every new file's
    * modification time to "now", and vacuum keeps any unreferenced file
    * younger than its `graceMs` horizon (default 15 min — the Delta
    * retention-horizon design). The exposed window is write-end→commit —
    * sidecar maintenance, milliseconds of CAS — orders of magnitude
    * inside the horizon. On object stores without `setTimes`, file
    * timestamps are upload-completion times instead: there `graceMs` must
    * exceed the longest expected BATCH WRITE duration plus the commit
    * window (exactly Delta's deleted-file-retention sizing rule; its
    * default is 7 days for the same reason). Appends racing a
    * schema-changing overwrite are REJECTED at the commit, not silently
    * mixed — see [[Versions.commit]].
    */
  private def appendVersionedOptimistic(spark: SparkSession, df0: DataFrame,
                                        root: String, partitions: Seq[String],
                                        sortCols: Seq[String], zorderCols: Seq[String],
                                        zorderBits: Int, zorderPartitions: Int,
                                        statsCols: Seq[String],
                                        txn: Option[(String, Long)] = None,
                                        propertiesFull: Option[Map[String, String]] = None,
                                        propertiesBase: Option[Int] = None): Seq[String] = {
    val meta = DatasetMeta.read(spark, root).getOrElse(throw new IllegalArgumentException(
      s"dataset $root is versioned but has no metadata sidecar"))
    // hidden partitioning: derive the transform partition columns from the
    // raw batch before the schema check (see [[publishImpl]]'s hook)
    val df = Transforms.read(spark, root) match {
      case ts if ts.nonEmpty && meta.partitions == ts.map(_.name) =>
        Transforms.applyTo(df0, ts)
      case _ => df0
    }
    require(meta.partitions == partitions,
      s"versioned publish partitions $partitions do not match dataset " +
        s"partitions ${meta.partitions}")
    require(meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      "append schema does not match the dataset's recorded schema")
    // gate the batch BEFORE any bytes land (the constraint read + check is
    // a tiny pre-pass; the optimistic data write only starts if it holds)
    Versions.enforceConstraints(spark, root, df)
    // A name-mapped dataset (RENAME/DROP COLUMN history) writes every
    // data file under the PHYSICAL names the mapping pins — one stable
    // physical name per logical column across ALL live files, which is
    // what lets one map serve the whole snapshot. The commit entry (and
    // the logical schema check above) stay in logical terms.
    // the entry carries the DATASET's declared schema, not the batch's:
    // a batch of non-null literals must not tighten declared nullability,
    // and field metadata (column DEFAULTs, generation expressions) must
    // survive appends — the require above already pinned (name, type)
    val parentEntry = Versions.latestVersion(spark, root)
      .map(v => Versions.readEntry(spark, root, v))
    val logicalSchema = parentEntry.map(_.schema).getOrElse(meta.schema)
    val colMap = parentEntry.map(_.colMap).getOrElse(Map.empty)
    val physDf =
      if (colMap.isEmpty) df
      else df.select(df.schema.fieldNames.toIndexedSeq.map(n =>
        col(n).as(colMap.getOrElse(n, n))): _*)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (out, recordsPerFile) = prepareForWrite(spark, physDf, partitions,
      sortCols.map(n => colMap.getOrElse(n, n)),
      zorderCols.map(n => colMap.getOrElse(n, n)), zorderBits, zorderPartitions).get
    val moved = directWrite(spark, out, root, partitions, recordsPerFile)
    // restamp to "now": vacuum's grace horizon must measure from HERE —
    // the end of the batch write, the start of the uncommitted-but-live
    // window — not from each file's own write time (a long batch's FIRST
    // file is already old when the commit races a vacuum). Best-effort:
    // where setTimes is unsupported, graceMs must cover the batch write
    // duration instead (see the doc comment).
    moved.foreach { m =>
      try f.setTimes(new Path(m), System.currentTimeMillis(), -1)
      catch { case _: Exception => () }
    }
    postWriteHook()
    val cols = (statsCols.map(n => colMap.getOrElse(n, n))
        ++ StatsIndex.indexedColumns(spark, root))
      .distinct.filter(physDf.columns.contains)
    // sidecar maintenance doesn't commute (read-modify-write of shared
    // index state) — the ONE short serialized step of the append. The
    // bloom sidecar self-maintains like any append (no-op when no bloom
    // index exists); without it versioned appends would silently decay
    // bloom prune effectiveness forever.
    // existence pre-checked OUTSIDE the lock: an unindexed dataset's
    // append must stay entirely lock-free (ConcurrentAppendSpec pins it)
    val hasBloom = BloomIndex.params(spark, root).isDefined
    if (cols.nonEmpty || hasBloom) DatasetLock.withLock(spark, root) {
      if (cols.nonEmpty) StatsIndex.appendFiles(spark, root, moved, cols)
      if (hasBloom) BloomIndex.appendFiles(spark, root, moved)
    }
    // an identity-assigning append carries its new watermark property in
    // THE SAME commit plus the version the watermark was read at — the
    // CAS's table-properties conflict rule then serializes racing
    // assigners loudly instead of letting ranges overlap
    Versions.commit(spark, root, "append", moved,
      DatasetMeta(logicalSchema, partitions), txn = txn,
      properties = propertiesFull, baseVersion = propertiesBase)
    // opt-in auto-compaction: bounded file counts under steady ingestion
    // (no-op unless the graft.autoCompact.minSmallFiles property is set).
    // Best-effort: losing an OCC race to a concurrent writer must not
    // fail the APPEND, which is already durably committed — the next
    // append's trigger retries the compaction.
    try Versions.maybeAutoCompact(spark, root)
    catch { case _: java.util.ConcurrentModificationException => }
    moved
  }

  /** Test seam: runs between the optimistic append's direct write and its
    * sidecar/commit steps — the uncommitted-but-live window the
    * vacuum×append race spec holds open to prove a concurrent vacuum's
    * grace horizon keeps the just-written files until the commit lands.
    */
  private[graft] var postWriteHook: () => Unit = () => ()

  /** One write per byte: run the shaped frame's physical file adds through
    * [[DirectWriteCommitProtocol]] — files land DIRECTLY at their final
    * paths (no `_temporary`, no rename/copy) and the committed list comes
    * back from the protocol itself, so file discovery is O(batch) instead
    * of an O(dataset) pre/post listing diff. The protocol conf rides a
    * CLONED session (shared context/catalog, isolated SQLConf): nothing
    * leaks to concurrent writes on the caller's session. Versioned roots
    * only — visibility must be commit-log-controlled.
    */
  private def directWrite(spark: SparkSession, out: DataFrame, root: String,
                          partitions: Seq[String], recordsPerFile: Long): Seq[String] = {
    val clone = shim.cloneSession(spark)
    clone.conf.set(DirectWriteCommitProtocol.ConfKey,
      classOf[DirectWriteCommitProtocol].getName)
    val cout = shim.ofRows(clone, out.queryExecution.logical)
    val token = java.util.UUID.randomUUID().toString
    DirectWriteCommitProtocol.capture(token) {
      cout.write
        .mode("append")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", recordsPerFile)
        .option(DirectWriteCommitProtocol.TokenKey, token)
        .partitionBy(partitions: _*)
        .parquet(root)
    }.map(fl => new Path(fl).toUri.getPath)
  }

  /** Shapes a frame for a publish write: validates inputs, derives the
    * records-per-file cap from a bytes/row estimate (the ~60 MB target),
    * routes rows (salted partition routing, or z-range when z-ordering),
    * and applies within-task clustering. Pure plan surgery, no I/O beyond
    * the sizing sample — shared by the default (listing-diff) and
    * direct-commit write paths.
    *
    * `emptyOk = true` returns None for an empty frame instead of
    * throwing — internal rewrite paths use it so "the delete removed
    * every row of the affected files" costs no extra emptiness probe.
    * `sizing`: facts a caller already observed over these rows, or over
    * rows of the same schema that stand for them (see [[sizingMetrics]]);
    * the sizing sample is then skipped.
    */
  private[core] def prepareForWrite(spark: SparkSession, df: DataFrame,
                                    partitions: Seq[String], sortCols: Seq[String],
                                    zorderCols: Seq[String], zorderBits: Int,
                                    zorderPartitions: Int,
                                    emptyOk: Boolean = false,
                                    sizing: Option[WriteSizing] = None): Option[(DataFrame, Long)] = {
    require(sortCols.forall(df.columns.contains),
      s"sort columns ${sortCols.filterNot(df.columns.contains).mkString(",")} do not exist")
    require(zorderCols.forall(df.columns.contains),
      s"zorder columns ${zorderCols.filterNot(df.columns.contains).mkString(",")} do not exist")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are alternative clustering strategies; pass one")
    require(zorderCols.size <= 1 || zorderCols.size * zorderBits <= 63,
      s"${zorderCols.size} zorder columns x $zorderBits bits must fit a long")
    checkNoIntervals(df)
    checkPartitions(partitions, df)

    // ONE probe action for both the emptiness gate and the sizing sample:
    // the old separate `checkNonEmpty` (df.isEmpty) evaluated the source
    // frame a second time — for mutation rewrites that frame is a join
    // over the affected files, so every publish paid an extra pass
    // (guide §1.2: don't compute things twice).
    val sized = sizing.getOrElse(sampleRowBytes(df, partitions))
    if (sized.rows == 0 && emptyOk) return None
    require(sized.rows > 0, "Empty dataframes cannot be published.")
    val maxRecords = recordsPerFile(sized)

    // non-empty: checkPartitions rejects fully-partitioned frames
    val dataCols = df.columns.filterNot(partitions.contains)
    // Z-order clustering: range-partition by (partition cols, z-value) —
    // the Morton interleave of the zorder columns scaled to [0, 2^bits)
    // against their global min/max (one cheap agg pass) — then sort within
    // each task by the same key. Files then cover small HYPER-RECTANGLES
    // of the key space: min/max stats prune on ALL zorder columns at once,
    // where a lexicographic sortCols layout prunes only on its leading
    // column. Range routing (not hash+salt) is what makes spans shrink
    // ACROSS files, and it subsumes salting — a hot partition value fans
    // out over tasks by z-range. The z-value rides as an UNNAMED
    // repartition/sort expression: no synthetic column reaches the files.
    // The sort is prefixed with the partition columns: the partitioned
    // write path REQUIRES that ordering and would otherwise insert its own
    // partition-cols-only sort, discarding the clustering.
    val zvOpt =
      if (zorderCols.isEmpty) None else Some(zvalueColumn(df, zorderCols, zorderBits))
    // zorderPartitions=0 lets AQE coalesce the range shuffle to its
    // advisory partition size (the right call at scale); an explicit count
    // pins the task layout (deterministic file counts, e.g. for tests).
    val routed = zvOpt match {
      case Some(zv) if zorderPartitions > 0 =>
        df.repartitionByRange(zorderPartitions, partitions.map(col) :+ zv: _*)
      case Some(zv) => df.repartitionByRange(partitions.map(col) :+ zv: _*)
      case None =>
        if (partitions.isEmpty) df
        else {
          // Salted routing: repartition by (partition cols, salt) so rows
          // of the same partition value land together (few files per
          // value) but a hot value can still fan out over `saltBuckets`
          // concurrent tasks — a plain repartition(partitionCols) funnels
          // each value through ONE task, which is the write bottleneck at
          // 100 TB. The salt is adaptive: when the sample shows many
          // distinct partition values it collapses to 1 so file counts
          // stay low. Derived from the row itself (deterministic, no
          // rand()) so retried tasks re-route rows identically.
          val (saltBuckets, pinWidth) =
            saltRouting(spark.sparkContext.defaultParallelism, sized)
          val salt = pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*), lit(saltBuckets))
          val partKeys = partitions.map(col) :+ salt
          // MANY-DIRS writes pin the exchange width instead of leaving it
          // AQE-coalescable: AQE sizes post-shuffle partitions by BYTES,
          // so a few-MB write into hundreds of hive dirs collapses to a
          // handful of tasks, each serially opening dozens of parquet
          // writers — the catalog INSERT into months×bucket(8) (~670
          // dirs) measured 4.6 s in a 4-task write stage on 32 cores.
          // In this regime each dir hashes wholly into ONE task, so the
          // pin changes writer-open parallelism only, never files/dir;
          // it starts from the same width the unpinned exchange would
          // (sql.shuffle.partitions) and merely skips the coalesce. The
          // FEW-dirs (salted) regime keeps AQE coalescing: there a wider
          // exchange WOULD multiply files per dir.
          // numShufflePartitions: already resolved to an Int — the raw
          // conf value can be non-numeric ("auto" on some platforms) and
          // a toInt would fail every many-partition write (ADVICE r17)
          if (pinWidth)
            df.repartition(
              spark.sessionState.conf.numShufflePartitions, partKeys: _*)
          else df.repartition(partKeys: _*)
        }
    }
    // Optional clustering WITHIN each write task: sorted data gives every
    // parquet row group tight min/max stats on sortCols, so later
    // non-partition predicates on them skip whole row groups at scan time
    // (single-column clustering, no extra shuffle).
    val out = zvOpt match {
      case Some(zv) => routed.sortWithinPartitions(partitions.map(col) :+ zv: _*)
      case None =>
        if (sortCols.isEmpty) routed
        else routed.sortWithinPartitions((partitions ++ sortCols).map(col): _*)
    }
    Some((out, maxRecords))
  }

  /** Records-per-file cap: parquet bytes/row ≈ in-memory bytes /
    * compression ratio, so no output file materially exceeds the 60 MB
    * target.
    */
  private[graft] def recordsPerFile(s: WriteSizing): Long =
    math.max(1L, (TargetFileBytes / (s.bytesPerRow / CompressionRatio)).toLong)

  /** The salted-routing decision of a partitioned write (see
    * [[prepareForWrite]]): the salt bucket count, and whether the exchange
    * width is pinned because the rows span at least `parallelism` dirs.
    */
  private[graft] def saltRouting(parallelism: Int, s: WriteSizing): (Int, Boolean) = {
    val tuples = math.max(1L, s.partitionTuples)
    (math.max(1L, math.min(64L, parallelism / tuples)).toInt, tuples >= parallelism)
  }

  private[core] def publishImpl(spark: SparkSession, df0: DataFrame, root: String,
                          partitions: Seq[String], mode: String,
                          sortCols: Seq[String], zorderCols: Seq[String],
                          zorderBits: Int, zorderPartitions: Int,
                          statsCols: Seq[String],
                          requireSchemaMatch: Boolean = true,
                          metaSchemaOverride: Option[StructType] = None,
                          directCommit: Boolean = false,
                          internalRewrite: Boolean = false,
                          emptyOk: Boolean = false,
                          sizing: Option[WriteSizing] = None): Seq[String] = {
    require(mode == "overwrite" || mode == "append", s"unsupported publish mode $mode")
    // `_graft_row_id` is reserved for row tracking: only INTERNAL rewrite
    // paths (mutations, OPTIMIZE) may carry it through a write — they
    // materialize it physically so ids survive re-layout. A USER frame
    // with that name must fail loudly here: silently stripping it from
    // the recorded schema (the pre-r15 behavior) wrote the column
    // physically but made it vanish from reads and schema-match checks.
    require(internalRewrite || !df0.schema.fieldNames.contains(Versions.RowIdCol),
      s"column name ${Versions.RowIdCol} is reserved for graft row tracking; " +
        "rename it before publishing")
    // Hidden partitioning ([[Transforms]]): every write into a
    // transform-partitioned dataset re-derives the partition columns from
    // the raw values — appends take raw user frames, and mutation rewrites
    // that change a source column move rows to their correct partitions.
    // Idempotent; a no-op for ordinary datasets (and the initial
    // publishTransformed, whose sidecar lands after this write succeeds).
    val recordedTs = Transforms.read(spark, root)
    val df =
      if (recordedTs.nonEmpty && partitions == recordedTs.map(_.name))
        Transforms.applyTo(df0, recordedTs)
      else df0
    // Row tracking's materialized id column is INTERNAL: mutation
    // rewrites / OPTIMIZE write it physically so ids survive re-layout,
    // but it is never part of the dataset's LOGICAL schema — strip it
    // from the recorded metadata and from schema-match checks (reads
    // surface it only through fetchVersionWithRowIds).
    val userSchema = StructType(
      df.schema.fields.filterNot(_.name == Versions.RowIdCol))
    require(!directCommit || mode == "append",
      "direct commit is an append-files protocol (versioned roots only)")
    if (mode == "append") {
      // The reference's incremental flow: repeated publishes ADD files to
      // the dataset (publish_parq.py writes into the existing key).
      // Appends must agree with the recorded logical schema + partitioning;
      // data present WITHOUT a sidecar (e.g. a crashed earlier publish that
      // died before writing metadata) is not appendable — blind appends
      // into an unverifiable layout would mix schemas silently.
      DatasetMeta.read(spark, root) match {
        case Some(meta) =>
          require(meta.partitions == partitions,
            s"append partitions $partitions do not match dataset partitions ${meta.partitions}")
          require(!requireSchemaMatch ||
            meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
              userSchema.fields.map(f => (f.name, f.dataType)).toSeq,
            "append schema does not match the dataset's recorded schema")
        case None =>
          require(!Fetch.hasData(spark, root),
            s"cannot append to $root: it contains data but no graft metadata " +
              "(recover or republish with mode=overwrite)")
      }
    }

    // derived transform columns are not among the rows a caller observed
    val prepared = prepareForWrite(spark, df, partitions,
      sortCols, zorderCols, zorderBits, zorderPartitions, emptyOk = emptyOk,
      sizing = sizing.filter(_ => df eq df0))
    // empty + emptyOk: nothing to write, no side effects taken yet —
    // the caller (a rewrite whose delete emptied the affected files)
    // commits removal-only
    if (prepared.isEmpty) return Nil
    val (out, recordsPerFile) = prepared.get

    // Append must report ONLY the newly written files (the reference
    // returns freshly published keys, publish_parq.py:573). The default
    // committer path discovers them by a pre/post listing diff; the
    // direct-commit path gets them from the protocol itself (O(batch),
    // no O(dataset) listing).
    val preExisting: Set[String] =
      if (mode == "append" && !directCommit)
        listPhysicalDataFilesWithSize(spark, root).map(_._1).toSet
      else Set.empty
    // Take down the index's completeness claim BEFORE files land: a reader
    // racing this write (or a crash before the index catches up) falls
    // back to the conservative listing path instead of missing the new
    // files in a manifest-planned scan.
    val priorManifestCols: Option[Seq[String]] =
      if (mode == "append") StatsIndex.invalidateMarker(spark, root) else None

    val directFiles: Seq[String] =
      if (directCommit) directWrite(spark, out, root, partitions, recordsPerFile)
      else {
        out.write
          .mode(mode)
          .option("compression", "snappy")
          .option("maxRecordsPerFile", recordsPerFile)
          .partitionBy(partitions: _*)
          .parquet(root)
        Nil
      }

    // PLAIN appends keep the DECLARED schema in the sidecar (the batch
    // already proved type-compatible above; its tighter nullability /
    // missing field metadata must not clobber column DEFAULTs or
    // generation expressions the dataset declares). Schema-changing
    // writes — logical overwrites and evolution paths, which physically
    // append but pass requireSchemaMatch=false — DO redefine it.
    val sidecarSchema = metaSchemaOverride.getOrElse {
      if (mode == "append" && requireSchemaMatch)
        DatasetMeta.read(spark, root).map(_.schema).getOrElse(userSchema)
      else userSchema
    }
    DatasetMeta.write(spark, root, DatasetMeta(sidecarSchema, partitions))
    // an overwrite that re-partitions AWAY from the recorded transforms
    // redefines the layout — the stale transform spec must not survive it
    if (mode == "overwrite" && recordedTs.nonEmpty &&
        partitions != recordedTs.map(_.name)) {
      val tp = new Path(root, Transforms.FileName)
      val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (tfs.exists(tp)) tfs.delete(tp, false)
    }
    // …while a SAME-LAYOUT overwrite must KEEP it: Spark's physical
    // overwrite wiped the whole root dir, sidecar included — restore the
    // spec before anything (the commit's epoch capture, a racing read)
    // consults it
    if (mode == "overwrite" && recordedTs.nonEmpty &&
        partitions == recordedTs.map(_.name))
      Transforms.write(spark, root, recordedTs)
    lazy val allAfter = listPhysicalDataFilesWithSize(spark, root).map(_._1)
    val newFiles = if (directCommit) directFiles else allAfter.filterNot(preExisting)
    // Index maintenance is O(this batch), never O(dataset): an append
    // stats only the files it just wrote and appends their rows to the
    // sidecar; overwrite (a fresh dataset) builds from the same listing.
    // An append that carried a completeness claim restores it once the new
    // files' stats commit — even when the caller passed no statsCols (a
    // complete index stays complete, at O(batch) maintenance cost, rather
    // than silently degrading every future fetchIndexed to listing mode).
    // Marker restores verify sidecar coverage against allAfter first: if a
    // LOST lock race (object stores without atomic create) let another
    // writer add files without stats rows, the claim stays down and reads
    // keep the conservative listing path instead of silently losing rows.
    if (statsCols.nonEmpty) {
      if (mode == "append")
        StatsIndex.appendFiles(spark, root, newFiles, statsCols,
          markComplete = priorManifestCols.isDefined,
          verifyFiles = priorManifestCols.map(_ => allAfter))
      else StatsIndex.buildFor(spark, root, DatasetMeta(userSchema, partitions), allAfter, statsCols)
    } else priorManifestCols.foreach { cols =>
      // An EVOLVED append may lack a recorded index column entirely; the
      // new files then have no stats to record for it, so the completeness
      // claim stays down and reads keep the conservative listing path.
      if (cols.forall(df.columns.contains))
        StatsIndex.appendFiles(spark, root, newFiles, cols, markComplete = true,
          verifyFiles = Some(allAfter))
    }
    // A bloom sidecar maintains itself the same O(batch) way (no-op when
    // none exists); until maintenance lands the new files simply aren't
    // prunable — the subtractive index needs no completeness claim.
    if (mode == "append") BloomIndex.appendFiles(spark, root, newFiles)
    newFiles
  }

  /** Schema-evolving append: `df` may carry NEW columns (appended to the
    * dataset's recorded schema), may omit existing data columns (its
    * files simply lack them), and may carry a LOSSLESSLY WIDER type for
    * an existing column (int→long, float→double, decimal growth — see
    * [[Widen]]), which widens the recorded type in place. Reads null-fill
    * missing columns and the parquet reader natively promotes narrow
    * physical types under the widened explicit schema — so no 100 TB
    * rewrite ever happens for an additive OR widening schema change (the
    * Delta `mergeSchema` + type-widening behavior on graft datasets).
    * Narrowing and cross-family changes are rejected; a df carrying a
    * NARROWER type than recorded is fine (its files upcast on read); the
    * partition columns' types are fixed for the dataset's lifetime.
    *
    * On a VERSIONED root a type change lands as its own metadata `alter`
    * commit before the append — history records when the type widened,
    * and pre-widening versions time-travel under their narrow schema.
    */
  def appendEvolved(spark: SparkSession, df: DataFrame, root: String,
                    partitions: Seq[String]): Seq[String] =
    DatasetLock.withLock(spark, root) {
      val meta = DatasetMeta.read(spark, root).getOrElse(throw new IllegalArgumentException(
        s"cannot evolve-append to $root: no graft metadata (publish it first)"))
      require(meta.partitions == partitions,
        s"append partitions $partitions do not match dataset partitions ${meta.partitions}")
      require(meta.colMap.isEmpty,
        "schema-evolving append on a column-mapped dataset is not supported " +
          "yet (rename/drop first, or merge with evolveSchema)")
      val (union, widened) = Widen.widenSchema(meta.schema, df.schema, partitions)
      // a bloom sidecar hashes values in their build-time type and
      // xxhash64(int) != xxhash64(long): stale filters on a widened
      // column would false-SKIP files. Drop the index (conservative —
      // scans read more, never less); rebuild at leisure.
      if (widened.nonEmpty) BloomIndex.invalidateFor(spark, root, widened)
      val versioned = Versions.latestVersion(spark, root).isDefined
      if (!versioned)
        publishImpl(spark, df, root, partitions, "append", Nil, Nil, 16, 0, Nil,
          requireSchemaMatch = false, metaSchemaOverride = Some(union))
      else {
        // the schema change is its own metadata commit (history records
        // WHEN the shape changed; pre-change versions travel under their
        // own schema), then the data lands as a plain append whose entry
        // schema matches the now-governing one
        if (union.fields.map(f => (f.name, f.dataType)).toSeq !=
            meta.schema.fields.map(f => (f.name, f.dataType)).toSeq)
          Versions.commit(spark, root, "alter", Nil, DatasetMeta(union, partitions),
            opInfo = Map("op" -> "EVOLVE SCHEMA",
              "widened" -> widened.sorted.mkString(","),
              "added" -> union.fieldNames.filterNot(
                meta.schema.fieldNames.contains).mkString(",")))
        val newFiles = publishImpl(spark, df, root, partitions, "append",
          Nil, Nil, 16, 0, Nil, requireSchemaMatch = false,
          metaSchemaOverride = Some(union), directCommit = true)
        Versions.commit(spark, root, "append", newFiles,
          DatasetMeta(union, partitions))
        newFiles
      }
    }

  /** Idempotent append: publish only the rows of `df` whose `keyCols`
    * tuple is NOT already present in the dataset — re-delivering the same
    * batch (the at-least-once reality of every large ingestion pipeline)
    * appends nothing the second time.
    *
    * Exact, in ONE pass over the stored keys: the batch (deduplicated
    * here defensively on `keyCols`, keeping an arbitrary row per key like
    * the reference's last-write-wins object overwrite) is null-safe
    * anti-joined against the dataset's column-pruned key scan. The
    * surviving rows are materialised by one action that also observes
    * their count and write sizing, so into an existing dataset the call
    * runs two Spark actions — that one and the write — and one when
    * nothing is new.
    *
    * Returns the newly written files (empty when nothing was new).
    */
  def publishDedupAppend(spark: SparkSession, df: DataFrame, root: String,
                         keyCols: Seq[String],
                         firstCreatePartitions: Seq[String] = Nil): Seq[String] =
    // The ENTIRE read-prove-append cycle runs under the dataset's writer
    // lock: without it, two concurrent deliveries of overlapping batches
    // could each prove the other's keys absent (both key scans ran before
    // either wrote) and insert duplicates — the exactly-once guarantee
    // would hold per-writer but not per-dataset.
    DatasetLock.withLock(spark, root) {
      require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
        s"key columns ${keyCols.filterNot(df.columns.contains).mkString(",")} do not exist")
      val meta = DatasetMeta.read(spark, root)
      // Same guard as append-mode publish: data without a sidecar (a crashed
      // earlier publish, or a foreign directory) must never be silently
      // clobbered by the first-create overwrite path.
      require(meta.nonEmpty || !Fetch.hasData(spark, root),
        s"cannot dedup-append to $root: it contains data but no graft metadata " +
          "(recover or republish with mode=overwrite)")
      if (meta.isEmpty || !Fetch.hasData(spark, root)) {
        val parts = meta.map(_.partitions).getOrElse(firstCreatePartitions)
        require(meta.isEmpty || firstCreatePartitions.isEmpty ||
          firstCreatePartitions == meta.get.partitions,
          s"firstCreatePartitions $firstCreatePartitions do not match the " +
            s"existing dataset's partitions ${meta.get.partitions}")
        publish(spark, df.dropDuplicates(keyCols), root, parts)
      } else {
        val m = meta.get
        require(keyCols.forall(m.schema.fieldNames.contains),
          "key columns must exist in the dataset schema")
        // a batch/dataset key-type mismatch would make the append's schema
        // check refuse the rows only after the key scan: fail fast instead
        keyCols.foreach { c =>
          require(df.schema(c).dataType == m.schema(c).dataType,
            s"key column $c: batch type ${df.schema(c).dataType} must equal " +
              s"dataset type ${m.schema(c).dataType}")
        }
        val batch = df.dropDuplicates(keyCols)
        // one column-pruned pass over the existing dataset: keys only.
        // Null-safe equality: a redelivered null-keyed row must match its
        // stored twin (plain = treats null keys as never-equal and would
        // re-append them forever)
        val ex = Fetch.fetch(spark, root).select(keyCols.map(c => col(c).as(s"__ex_$c")): _*)
        val cond = keyCols.map(c => batch(c) <=> ex(s"__ex_$c")).reduce(_ && _)
        // ONE action materialises the new rows and observes their count and
        // write sizing: the write reads the checkpoint instead of re-running
        // the key scan and the anti-join
        materialised(batch.join(ex, cond, "left_anti"), sizingMetrics(batch.schema, m.partitions)) {
          (newRows, observed) =>
            val sizing = observedSizing(observed)
            if (sizing.exists(_.rows == 0)) Nil
            // no observation: publish samples, and an empty sample writes nothing
            else publishImpl(spark, newRows, root, m.partitions, "append",
              Nil, Nil, 16, 0, Nil, emptyOk = true, sizing = sizing)
        }
      }
    }

  /** Z-value sort expression over `cols`: each column scales linearly from
    * its global [min, max] (one aggregate pass, collected as one row) onto
    * [0, 2^bits), and [[graft.functions.ZValueExpr]] interleaves the bits.
    * Numeric, date and timestamp columns only — z-ordering needs a total
    * order with meaningful distance.
    */
  private def zvalueColumn(df: DataFrame, cols: Seq[String], bits: Int): org.apache.spark.sql.Column = {
    cols.foreach { c =>
      val t = df.schema(c).dataType
      require(t.isInstanceOf[NumericType] || t == DateType || t == TimestampType,
        s"zorder column $c must be numeric/date/timestamp, got $t")
    }
    // ANSI mode rejects a direct date→numeric cast — embed dates as epoch
    // days; everything else casts to double directly
    def embedded(c: String): org.apache.spark.sql.Column = df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val aggs = cols.flatMap(c =>
      Seq(min(embedded(c)).as(s"__min_$c"), max(embedded(c)).as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val top = (1L << bits) - 1
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val lo = Option(row.get(2 * i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val hi = Option(row.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      if (hi <= lo) lit(0L) // constant (or all-null) column carries no information
      else {
        val pos = (embedded(c) - lit(lo)) / lit(hi - lo) * lit(top.toDouble)
        // clamp guards rounding at the edges; nulls sort as 0 (first)
        coalesce(least(greatest(round(pos, 0), lit(0.0)), lit(top.toDouble)), lit(0.0)).cast("long")
      }
    }
    graft.functions.ZOrderFunctions.zvalue(array(scaled: _*), bits)
  }

  /** `custom_publish` (publish_parq.py:576): publish with custom Redshift
    * column types. DECIMAL(p,s) custom columns are cast to DecimalType
    * before writing — the Spark-native form of the reference's
    * decimal128 coercion (publish_parq.py:315-323); all other custom types
    * only affect generated DDL, not the parquet bytes.
    */
  def customPublish(spark: SparkSession, df: DataFrame, root: String,
                    partitions: Seq[String],
                    customColumns: Map[String, String]): Seq[String] = {
    val DecimalSpec = """(?i)DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    val cast = customColumns.foldLeft(df) { case (d, (c, typ)) =>
      typ match {
        case DecimalSpec(p, s) if d.columns.contains(c) =>
          d.withColumn(c, col(c).cast(DecimalType(p.toInt, s.toInt)))
        case _ => d
      }
    }
    publish(spark, cast, root, partitions)
  }

  /** Publish as a BUCKETED parquet table (catalog-managed): rows hash into
    * `numBuckets` files per bucket column value range, sorted within
    * buckets. Two tables bucketed the same way join WITHOUT a shuffle —
    * the co-located-join layout for repeated fact-fact joins at 100 TB
    * (pay the shuffle once at write, never at read). Spark's bucketing
    * needs the session catalog, so this writes a table, not a bare path.
    */
  def publishBucketed(spark: SparkSession, df: DataFrame, table: String,
                      bucketCol: String, numBuckets: Int,
                      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Publish + generate the full catalog-registration DDL — the composed
    * flow of the reference's `publish(..., redshift_params)` path
    * (publish_parq.py:512-542 + publish_redshift calls): create schema,
    * create table (reflecting the written logical schema), and one ADD
    * PARTITION per written partition directory. graft returns the
    * statements instead of executing them (engine generates, caller
    * connects). `index` is rejected as a column name like the reference
    * (publish_parq.py:515).
    */
  def publishWithCatalog(spark: SparkSession, df: DataFrame, root: String,
                         partitions: Seq[String], bucket: String, key: String,
                         params: graft.catalog.RedshiftParams): (Seq[String], Seq[String]) = {
    require(!df.columns.contains("index"),
      "'index' is a reserved keyword in Redshift. Please remove or rename your DataFrame's 'index' column.")
    // fail fast on bad catalog params BEFORE the (potentially hours-long)
    // dataset write, like the reference's upfront validation
    // (publish_parq.py:94)
    graft.catalog.RedshiftParams.validate(params)
    val files = publish(spark, df, root, partitions)
    (files, catalogDdl(spark, root, bucket, key, params, files))
  }

  /** Catalog-registration DDL for an ALREADY-published dataset: schema +
    * table (from the sidecar's recorded logical schema + partitioning) +
    * one ADD PARTITION per data file's directory — the same statements
    * `publishWithCatalog` emits, derivable at any later time (register a
    * dataset published earlier, or re-register after compaction).
    */
  def catalogDdl(spark: SparkSession, root: String, bucket: String, key: String,
                 params: graft.catalog.RedshiftParams,
                 knownFiles: Seq[String] = Nil): Seq[String] = {
    val p = graft.catalog.RedshiftParams.validate(params)
    val meta = DatasetMeta.read(spark, root).getOrElse(
      throw new MissingGraftMetadata(
        s"Dataset at $root is missing graft metadata; cannot derive catalog DDL."))
    val files = if (knownFiles.nonEmpty) knownFiles else listDataFiles(spark, root)
    val location = s"s3://$bucket/$key"
    // listDataFiles returns URI paths; relativize against the QUALIFIED
    // root path so URI-form (s3a://bucket/key) and relative (warehouse/t)
    // roots both map correctly onto the catalog key instead of
    // duplicating it.
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(rootP).toUri.getPath
    val relative = files.map(f => key + "/" + f.stripPrefix(rootPath).stripPrefix("/"))
    Seq(
      graft.catalog.SpectrumDdl.createSchemaDdl(p.schemaName, p.dbName, p.iamRole),
      graft.catalog.SpectrumDdl.createTableDdl(p.tableName, p.schemaName, meta.schema,
        meta.partitions, location)) ++
      graft.catalog.SpectrumDdl.addPartitionsDdl(bucket, p.schemaName, p.tableName, relative)
  }

  /** All data-file paths of a dataset (root-relative listing; the analogue
    * of the reference's `.parquet`-suffix object listing,
    * publish_parq.py:246-254).
    */
  def listDataFiles(spark: SparkSession, root: String): Seq[String] =
    listDataFilesWithSize(spark, root).map(_._1)

  /** Data files with their byte sizes (one recursive listing). A file
    * counts as data only if NO path segment under the root is hidden —
    * `_graft_stats/part-0.parquet` is sidecar, not data, even though the
    * file's own name looks ordinary (every parquet reader applies the same
    * per-segment rule).
    *
    * A root written by a streaming file sink carries a `_spark_metadata`
    * commit log; there the LOG is authoritative: only files a committed
    * micro-batch added count as data, so a crashed batch's orphans are as
    * invisible to listings as they already are to `fetch`'s scan (which
    * honors the log natively). This keeps every listing-based
    * introspection op exact on stream-sink roots.
    */
  def listDataFilesWithSize(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val sinkLogPath = new Path(p, "_spark_metadata")
    if (fs.exists(sinkLogPath)) {
      import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
      val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, sinkLogPath.toString)
      return log.allFiles().toIndexedSeq
        .map(s => new Path(s.path).toUri.getPath -> s.size)
        .sortBy(_._1)
    }
    // A versioned root keeps logically-overwritten (and not-yet-committed)
    // files on disk for time travel; the COMMIT LOG is authoritative there,
    // exactly like the sink log above: only the latest snapshot's files
    // count as data, so ghost files are invisible to every listing-based
    // introspection op. (The write path and vacuum use the PHYSICAL
    // listing below — new files are uncommitted while publish runs, and
    // vacuum's whole job is finding dead ones.)
    val snapshotRefs: Option[Seq[String]] =
      if (!fs.exists(new Path(p, Versions.DirName))) None
      else Versions.latestVersion(spark, root)
        .map(v => Versions.snapshotAt(spark, root, v)._1)
    val all = listPhysicalDataFilesWithSize(spark, root)
    snapshotRefs match {
      case Some(refs) =>
        val qualified = fs.makeQualified(p).toUri.getPath
        val (ext, local) = refs.partition(Versions.isExternalRef)
        val live = local.map(r => s"$qualified/$r").toSet
        // clone-inherited external files never appear in the physical
        // listing of this root; stat them directly (O(inherited files),
        // only ever paid by shallow clones)
        val extSized = ext.sorted.map { a =>
          a -> fs.getFileStatus(new Path(a)).getLen
        }
        all.filter { case (f, _) => live.contains(f) } ++ extSized
      case None => all
    }
  }

  /** The raw on-disk data-file listing, ignoring any [[Versions]] commit
    * log (publish's new-file diff and vacuum both need files the log does
    * not — or does not yet — reference).
    */
  private[graft] def listPhysicalDataFilesWithSize(
      spark: SparkSession, root: String): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    // Manual listStatus walk, NOT fs.listFiles(p, recursive=true): the
    // located-status iterator fetches block locations per file (~3-6 ms
    // each even on local fs — 4k files cost ~13 s, measured), and no
    // caller here needs locations. The walk also prunes hidden dirs
    // (_graft_stats, .checkpoints) instead of descending and filtering,
    // which is the same per-segment visibility rule with less I/O.
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (name.endsWith(".parquet"))
            buf += (st.getPath.toUri.getPath -> st.getLen)
        }
      }
    walk(p)
    buf.toSeq.sortBy(_._1)
  }
}
