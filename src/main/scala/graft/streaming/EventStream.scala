package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One closed session of a user's event stream. */
final case class Session(user_id: Long, session_start: Timestamp,
                         session_end: Timestamp, n_events: Long)

/** Structured-Streaming event aggregation: watermark + event-time tumbling
  * windows. The same transform works on a batch DataFrame (windows compute
  * identically), which is how the batch oracle query and the streaming spec
  * share semantics.
  *
  * At scale this is the canonical streaming shape: state is bounded by the
  * watermark (late data beyond `watermark` is dropped, closed windows are
  * evicted from the state store), and the only shuffle is the hash
  * partition on (window, event_type).
  */
object EventStream {

  /** Tumbling-window counts and value sums per event type. `events` may be
    * a streaming or batch DataFrame with (ts: timestamp, event_type,
    * value: double).
    */
  def windowedAgg(events: DataFrame, windowLength: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Stream a graft dataset: incremental file-source read of a published
    * hive-partitioned dataset using the sidecar schema — new files landing
    * under the root become micro-batches (`maxFilesPerTrigger` bounds batch
    * size). The streaming half of the publish/fetch contract: a pipeline
    * stage publishes, a downstream stage streams.
    */
  def streamDataset(spark: SparkSession, root: String,
                    maxFilesPerTrigger: Int = 1000): DataFrame = {
    val meta = graft.core.DatasetMeta.read(spark, root).getOrElse(
      throw new graft.core.MissingGraftMetadata(s"Dataset at $root is missing graft metadata."))
    spark.readStream
      .schema(meta.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(root)
      .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Stream INTO a graft dataset: a parquet file sink writing the hive
    * layout publish produces, with the sidecar stamped up front so
    * concurrent/subsequent fetches see the right types from the first
    * micro-batch. Completes the round trip with [[streamDataset]]: one
    * stage streams in, another streams (or fetches) out.
    *
    * Returns the started query; the caller owns its lifecycle.
    *
    * The parquet sink keeps a `_spark_metadata` commit log, and the whole
    * read surface honors it: `fetch`'s scan natively, and the
    * listing-based introspection ops (`getAllPartitionValues`,
    * `allFiles`, `fetchDiff`, `getMaxPartitionValue`) through the
    * sink-log-aware listing — a crashed micro-batch's orphan files are
    * invisible everywhere until a commit covers them.
    *
    * `statsCols`: maintain the stats index + a VERSION-CHECKED
    * completeness marker after each micro-batch
    * ([[graft.core.StatsIndex.syncSinkDataset]] off the query-progress
    * event, so the sink's hot path never blocks on index maintenance) —
    * a sink-fed dataset then plans `fetchIndexed` from the manifest
    * exactly like a published one, with readers falling back to the
    * log-aware listing in the window between a batch commit and its sync.
    */
  def streamToDataset(spark: SparkSession, events: DataFrame, root: String,
                      partitions: Seq[String], checkpoint: String,
                      statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.core.Publish.checkNoIntervals(events)
    graft.core.Publish.checkPartitions(partitions, events)
    // Same guard as append-mode publish: never clobber an existing
    // dataset's recorded schema/partitioning with an incompatible stream.
    graft.core.DatasetMeta.read(spark, root).foreach { meta =>
      require(meta.partitions == partitions,
        s"stream partitions $partitions do not match dataset partitions ${meta.partitions}")
      require(meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        events.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        "stream schema does not match the dataset's recorded schema")
    }
    graft.core.DatasetMeta.write(spark, root,
      graft.core.DatasetMeta(events.schema, partitions))
    val w = events.writeStream
      .format("parquet")
      .option("path", root)
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
    // The sync listener registers BEFORE start() (a backlogged source can
    // commit batch 0 and dispatch its progress event before a post-start
    // registration exists) and matches on the SINK PATH, which is known
    // up front — the query id isn't assigned until start().
    val queryId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID](null)
    if (statsCols.nonEmpty) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      // the progress event reports the sink's QUALIFIED path
      // (FileSink[file:/...]); compare both sides qualified
      val rootP = new org.apache.hadoop.fs.Path(root)
      val rootFs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualifiedRoot = rootFs.makeQualified(rootP).toString
      def sinkMatches(desc: String): Boolean =
        desc.startsWith("FileSink[") && desc.endsWith("]") && {
          val inner = desc.stripPrefix("FileSink[").stripSuffix("]")
          inner == root || (try rootFs.makeQualified(
            new org.apache.hadoop.fs.Path(inner)).toString == qualifiedRoot
          catch { case _: IllegalArgumentException => false })
        }
      // Syncs run on a dedicated single thread, NOT the shared listener bus:
      // a sync is full Spark jobs (listing, stats scan/write, marker
      // rewrite), and blocking the bus would delay/drop events for every
      // other listener in the session. `syncQueued` coalesces: progress
      // events arriving while a sync is pending collapse into the one
      // already queued (it will observe their batches' files anyway).
      val syncExec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, s"graft-sink-sync-$root"); t.setDaemon(true); t
      }
      val syncQueued = new java.util.concurrent.atomic.AtomicBoolean(false)
      // terminations observed before queryId is assigned (a query that dies
      // between start() and queryId.set) — checked after assignment so the
      // listener is still removed instead of leaking
      val earlyTerminated =
        java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (sinkMatches(e.progress.sink.description) &&
              syncQueued.compareAndSet(false, true)) {
            try syncExec.execute { () =>
              syncQueued.set(false)
              // post-commit, off the micro-batch path; a failed sync only
              // delays manifest mode (readers stay on the log-aware listing)
              try graft.core.StatsIndex.syncSinkDataset(spark, root, statsCols)
              catch {
                case scala.util.control.NonFatal(ex) =>
                  System.err.println(s"[graft] sink index sync failed on $root: $ex")
              }
            } catch {
              case _: java.util.concurrent.RejectedExecutionException =>
                syncQueued.set(false) // executor already shut down post-termination
            }
          }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
          val qid = queryId.get
          if (qid == null) earlyTerminated.add(e.id)
          else if (e.id == qid) { spark.streams.removeListener(this); syncExec.shutdown() }
        }
      }
      spark.streams.addListener(listener)
      // a failed start must not leak the listener (each retry would stack
      // another, and a later query to the same root would run N duplicate
      // syncs per progress event)
      val query =
        try (if (partitions.nonEmpty) w.partitionBy(partitions: _*) else w).start()
        catch { case e: Throwable =>
          spark.streams.removeListener(listener); syncExec.shutdown(); throw e }
      queryId.set(query.id)
      // the query may have terminated before queryId was assigned (immediate
      // failure after start) — its termination event saw queryId == null, so
      // finish the removal here instead of leaking the listener
      if (earlyTerminated.contains(query.id)) {
        spark.streams.removeListener(listener); syncExec.shutdown()
      }
      return query
    }
    (if (partitions.nonEmpty) w.partitionBy(partitions: _*) else w).start()
  }

  /** Stream into a dataset with EXACTLY-ONCE row semantics on an
    * at-least-once source: each micro-batch lands via
    * [[graft.core.Publish.publishDedupAppend]], so a replayed batch (the
    * normal failure-recovery path of any streaming source) re-appends
    * nothing — one null-safe anti-join against the stored keys absorbs
    * replays exactly.
    *
    * Compared to [[streamToDataset]] (raw file sink: at-least-once, dedup
    * left to readers), this trades per-batch key-scan work for a dataset
    * that is ALWAYS exactly-once-clean for downstream fetches — the right
    * default when the stream carries natural keys. State lives in the
    * dataset itself, so the guarantee survives checkpoint loss and even
    * source re-delivery BEYOND any watermark (where
    * `dropDuplicatesWithinWatermark` upstream would stop protecting).
    */
  /** Stream INTO a versioned dataset: every non-empty micro-batch commits
    * ONE version (append) via [[graft.core.Publish.publishVersioned]], so
    * downstream consumers get commit-aligned time travel
    * ([[graft.core.Versions.fetchVersion]] = "the dataset as of batch N")
    * and O(new files) catch-up reads ([[graft.core.Versions.addedBetween]])
    * — the lakehouse CDC loop closed over a live stream. Periodically call
    * [[graft.core.Versions.compact]] to bound the file count a
    * batch-per-commit history accumulates.
    *
    * Delivery is at-least-once across checkpoint loss (a replayed batch
    * re-commits — visible, auditable, and vacuumable in the history, never
    * silent); pair with key-based dedup downstream when replays must
    * collapse ([[streamToDatasetDedup]] is the unversioned exact variant).
    */
  def streamToVersionedDataset(spark: SparkSession, events: DataFrame, root: String,
                               partitions: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.core.Publish.checkNoIntervals(events)
    graft.core.Publish.checkPartitions(partitions, events)
    graft.core.DatasetMeta.read(spark, root).foreach { meta =>
      require(meta.partitions == partitions,
        s"stream partitions $partitions do not match dataset partitions ${meta.partitions}")
      require(meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        events.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        "stream schema does not match the dataset's recorded schema")
    }
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          // "append" also creates the dataset on the first batch
          graft.core.Publish.publishVersioned(spark, batch, root, partitions,
            mode = "append"): Unit
      }
      .start()
  }

  def streamToDatasetDedup(spark: SparkSession, events: DataFrame, root: String,
                           partitions: Seq[String], keyCols: Seq[String],
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.core.Publish.checkNoIntervals(events)
    graft.core.Publish.checkPartitions(partitions, events)
    require(keyCols.nonEmpty && keyCols.forall(events.columns.contains),
      s"key columns ${keyCols.filterNot(events.columns.contains).mkString(",")} do not exist")
    // Fail fast, like streamToDataset: an existing dataset must agree on
    // partitioning and schema NOW, not as a mid-stream batch failure.
    graft.core.DatasetMeta.read(spark, root).foreach { meta =>
      require(meta.partitions == partitions,
        s"stream partitions $partitions do not match dataset partitions ${meta.partitions}")
      require(meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        events.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        "stream schema does not match the dataset's recorded schema")
    }
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.core.Publish.publishDedupAppend(spark, batch, root, keyCols,
            firstCreatePartitions = partitions): Unit
      }
      .start()
  }

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen,
    * with state BOUNDED by the event-time watermark — a duplicate arriving
    * within `watermark` of the first occurrence is dropped; keys older
    * than the watermark are evicted from the state store, so state is
    * O(keys per watermark window), not O(all keys ever). This is the
    * streaming half of [[graft.ops.Dedup.exact]] for at-least-once
    * sources (retries/replays produce near-in-time duplicates; a
    * watermark-scoped key set is the standard scale-bounded guarantee).
    * On a batch frame it degrades to a plain dropDuplicates.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermarkCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(watermarkCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    else events.dropDuplicates(keyCols)

  /** Stream-stream interval join: left rows joined to right rows of the
    * same key whose `rightTs` falls within `[leftTs - lookbackSeconds,
    * leftTs]` — e.g. each purchase joined to the views that led to it.
    * Right-side columns come back `_r`-suffixed.
    *
    * Both sides get watermarks and the join condition BOUNDS BOTH event
    * times, which is what lets Structured Streaming evict join state:
    * buffered rows older than watermark + lookback are dropped, so state
    * is O(rows per lookback window per key), not O(stream history). The
    * same call works on batch frames (watermarks skipped; plain
    * interval join).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTs: String, rightTs: String, lookbackSeconds: Long,
                         watermark: String = "10 minutes"): DataFrame = {
    require(keys.nonEmpty, "interval join requires at least one equality key")
    require(lookbackSeconds > 0,
      s"lookbackSeconds must be positive, got $lookbackSeconds (a non-positive " +
        "window silently matches nothing)")
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermark) else left
    val renamed = right.toDF(right.columns.map(_ + "_r").toIndexedSeq: _*)
    val r = if (renamed.isStreaming) renamed.withWatermark(s"${rightTs}_r", watermark)
            else renamed
    val cond = keys.map(k => col(k) === col(s"${k}_r")).reduce(_ && _) &&
      col(s"${rightTs}_r") >= col(leftTs) - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
      col(s"${rightTs}_r") <= col(leftTs)
    l.join(r, cond)
  }

  /** Batch sessionization: a user's events split into sessions wherever the
    * gap to the previous event exceeds `gapSeconds`. One shuffle on
    * user_id; the lag + running-sum windows share that single partitioning
    * (no re-shuffle between them).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // interval comparison, not cast-to-epoch: TIMESTAMP_NTZ (what parquet
    // isAdjustedToUTC=false columns read as) admits no BIGINT cast, but
    // both timestamp flavors add day-time intervals
    val newSession = when(
      col("ts") > lag(col("ts"), 1).over(byUser) +
        expr(s"INTERVAL '$gapSeconds' SECOND"), 1L)
      .otherwise(lit(0L))
    events
      .withColumn("session_idx",
        sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Streaming sessionization via custom keyed state
    * (`flatMapGroupsWithState`): per-user open-session state, closed and
    * emitted on a gap or on processing-time timeout. State is O(users),
    * bounded by the timeout eviction — the canonical custom-state shape
    * Structured Streaming can't express with windowed aggs.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
                       gapSeconds: Long = 1800,
                       evictIdleState: Boolean = true): Dataset[Session] = {
    import spark.implicits._
    val timeout =
      if (evictIdleState) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toList
            state.remove()
            out.iterator
          } else {
            var open = state.getOption
            val closed = List.newBuilder[Session]
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts) =>
              open match {
                case Some(s) if ts.getTime - s.session_end.getTime <= gapSeconds * 1000L =>
                  open = Some(s.copy(session_end = ts, n_events = s.n_events + 1))
                case Some(s) =>
                  closed += s
                  open = Some(Session(user, ts, ts, 1))
                case None =>
                  open = Some(Session(user, ts, ts, 1))
              }
            }
            open.foreach(state.update)
            if (evictIdleState) state.setTimeoutDuration(gapSeconds * 1000L)
            closed.result().iterator
          }
      }
  }
}
