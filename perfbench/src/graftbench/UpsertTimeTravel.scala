package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fetch, MutationResult, Mutations, Publish, Versions}

final case class Keyed(key: Long, grp: String, v: Long, tag: String, ver: Int)

/** A versioned, keyed table under a write-heavy mix: deletion-vector and
  * copy-on-write upserts, updates, deletes, appends and a SQL MERGE, with
  * compaction and vacuum every round, and between commits the current
  * snapshot, time travel on both sides of the latest checkpoint, the change
  * feed and the version introspection calls.
  *
  * Round (8 commits): mergeDv, snapshot read, updateWhereDv, fetchVersion
  * (latest-1, latest-2, latest-5), deleteWhereDv, `VERSION AS OF`
  * (latest-9), copy-on-write merge, changeFeed (last 3 commits), mergeDv,
  * append, fetchVersion (latest-7, latest-12), SQL `MERGE INTO`,
  * introspection (latestVersion, versionAsOf, history), compact, vacuum. A checkpoint is written every
  * 10 commits, so the travel targets fall on both sides of the latest one. */
final class UpsertTimeTravel(spark: SparkSession, tracer: Tracer, data: String,
                             seed: Long, seconds: Int) extends Workload {
  import spark.implicits._
  import UpsertTimeTravel._

  private val root = s"$data/table"
  private val rounds = math.max(1, math.round(seconds * RoundsPerSecond).toInt)
  private val cols = Seq("key", "grp", "v", "tag", "ver")
  private val rng = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)

  // the model: live rows by key, the running digest, and the digest and
  // row count recorded at every committed version
  private val live = mutable.TreeMap[Long, Keyed]()
  private var current = Digest.Zero
  private val atVersion = mutable.Map[Int, Digest]()
  private var version = 0
  private var nextKey = 0L
  private var commits = 0
  private var submitted = 0L
  private var dataDigest = 0L
  private var filesDeleted = 0L

  private def vals(k: Keyed): Seq[Any] = Seq(k.key, k.grp, k.v, k.tag, k.ver)
  private def put(k: Keyed): Unit = {
    live.get(k.key).foreach(o => current -= Digest.row(vals(o)))
    live(k.key) = k
    current += Digest.row(vals(k))
  }
  private def remove(key: Long): Unit =
    live.remove(key).foreach(o => current -= Digest.row(vals(o)))

  private def fresh(key: Long): Keyed =
    Keyed(key, s"g${key % Groups}", rng.nextLong(1L, 1000000000L), s"t${rng.nextInt(100000)}", commits)

  /** `n` distinct keys favouring recent ones; `newShare` of them new. */
  private def source(n: Int, newShare: Double): Seq[Keyed] = {
    val picked = mutable.LinkedHashSet[Long]()
    val fresh0 = (n * newShare).toInt
    while (picked.size < n - fresh0) {
      val u = rng.nextDouble()
      picked += nextKey - 1 - (nextKey * u * u * u).toLong
    }
    val keys = picked.toSeq ++ (0 until fresh0).map(i => nextKey + i)
    nextKey += fresh0
    val rows = keys.map(fresh)
    dataDigest = dataDigest * 31 + Digest.rows(rows.map(vals)).sum
    rows
  }

  def setup(): Unit = {
    wipe(data)
    live.clear(); atVersion.clear(); current = Digest.Zero
    version = 0; nextKey = 0L; commits = 0; submitted = 0L; dataDigest = 0L; filesDeleted = 0L
    val rows = (0 until InitialRows).map(i => fresh(i.toLong))
    nextKey = InitialRows
    rows.foreach(put)
    atVersion(0) = Digest.Zero
    dataDigest = Digest.rows(rows.map(vals)).sum
    Publish.publishVersioned(spark, rows.toDF(), root, Seq("grp"))
    committed()
  }

  private def committed(): Unit = { version += 1; commits += 1; atVersion(version) = current }

  /** A write op; `apply` updates the model and returns the rows the op
    * changed and the user bytes it submitted. The op commits one version
    * unless it changed no rows. */
  private def write(r: Runner, kind: String, cls: String = "write")(act: => Any)(
      apply: => (Long, Long)): Unit =
    r.op(cls, kind)(act) { res =>
      val (rows, bytes) = apply
      if (r.timed) submitted += bytes
      if (rows > 0 || kind == "compact") committed()
      val v = res match {
        case m: MutationResult => m.version
        case _ => Versions.latestVersion(spark, root).getOrElse(-1)
      }
      (rows, if (v == version) Nil else Seq(s"committed version $v, model $version"))
    }

  private def read(r: Runner, kind: String, span: String, want: => Digest)(df: => DataFrame): Unit =
    r.op("read", kind) {
      val frame = tracer.span(span)(df)
      tracer.span(s"$span#exec")(Digest.of(frame, cols))
    } { got =>
      val w = want
      (got.count, if (got == w) Nil else Seq(s"rows/digest $got, model $w"))
    }

  private def mergeDv(r: Runner): Unit = {
    val src = source(MergeRows, 0.3)
    write(r, "merge_dv")(tracer.span("Mutations.mergeDv")(
      Mutations.mergeDv(spark, root, src.toDF(), Seq("key"))))(upserted(src))
  }

  private def travel(r: Runner, to: Int): Unit = {
    val v = math.max(1, to)
    read(r, "time_travel", "Versions.fetchVersion", atVersion(v))(Versions.fetchVersion(spark, root, v))
  }

  private def upserted(rows: Seq[Keyed]): (Long, Long) = {
    rows.foreach(put)
    (rows.size.toLong, rows.map(k => Rows.bytes(vals(k))).sum)
  }

  private def round(r: Runner): Unit = {
    mergeDv(r)

    read(r, "snapshot", "Fetch.fetch", atVersion(version))(Fetch.fetch(spark, root))

    val lo = nextKey - 1 - (nextKey * math.pow(rng.nextDouble(), 3)).toLong - UpdateSpan
    val tag = s"u$commits"
    write(r, "update_dv")(tracer.span("Mutations.updateWhereDv")(
      Mutations.updateWhereDv(spark, root, col("key").between(lo, lo + UpdateSpan - 1),
        Map("v" -> (col("v") + 1), "tag" -> lit(tag), "ver" -> lit(commits))))) {
      val hit = live.range(lo, lo + UpdateSpan).values.toSeq
        .map(k => k.copy(v = k.v + 1, tag = tag, ver = commits))
      upserted(hit)
    }

    // time travel is most of the reads, so the pooled read median sits
    // inside its mode (the other read kinds are several times slower)
    travel(r, version - 1)
    travel(r, version - 2)
    travel(r, version - 5)

    val dlo = nextKey - 1 - (nextKey * math.pow(rng.nextDouble(), 2)).toLong - DeleteSpan
    write(r, "delete_dv")(tracer.span("Mutations.deleteWhereDv")(
      Mutations.deleteWhereDv(spark, root,
        col("key").between(dlo, dlo + DeleteSpan - 1) && (col("key") % 5 === 0)))) {
      val gone = live.range(dlo, dlo + DeleteSpan).keys.filter(_ % 5 == 0).toSeq
      gone.foreach(remove)
      (gone.size.toLong, 0L)
    }

    val sqlOld = math.max(1, version - 9)
    read(r, "sql_version_as_of", "sql.select", atVersion(sqlOld))(
      spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF $sqlOld"))

    val cowSrc = source(MergeRows, 0.3)
    write(r, "merge_cow")(tracer.span("Mutations.merge")(
      Mutations.merge(spark, root, cowSrc.toDF(), Seq("key"))))(upserted(cowSrc))

    val (from, to) = (math.max(0, version - 3), version)
    r.op("read", "change_feed") {
      val feed = tracer.span("Versions.changeFeed")(Versions.changeFeed(spark, root, from, to))
      tracer.span("Versions.changeFeed#exec")(Digest.signed(feed, cols))
    } { case (got, rows) =>
      val want = atVersion(to) - atVersion(from)
      (rows, if (got == want) Nil else Seq(s"net change $got, model $want"))
    }

    // the deletion-vector upsert is the common write: two per round, so the
    // pooled write median sits inside its mode
    mergeDv(r)

    val appended = source(AppendRows, 1.0)
    write(r, "append")(tracer.span("Publish.publishVersioned")(
      Publish.publishVersioned(spark, appended.toDF(), root, Seq("grp"), mode = "append")))(
      upserted(appended))

    travel(r, version - 7)
    travel(r, version - 12)

    val sqlSrc = source(MergeRows, 0.3)
    write(r, "sql_merge") {
      sqlSrc.toDF().createOrReplaceTempView("graftbench_src")
      tracer.span("sql.merge")(spark.sql(s"MERGE INTO graft.`$root` t USING graftbench_src s " +
        "ON t.key = s.key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    }(upserted(sqlSrc))

    val asOf = math.max(1, version - 12)
    r.op("introspect", "version_probe") {
      val latest = tracer.span("Versions.latestVersion")(Versions.latestVersion(spark, root))
      val hist = tracer.span("Versions.history")(Versions.history(spark, root)
        .select("version", "ts_millis").collect().map(x => (x.getInt(0), x.getLong(1))).toMap)
      val at = tracer.span("Versions.versionAsOf")(Versions.versionAsOf(spark, root, hist(asOf)))
      (latest, hist, at)
    } { case (latest, hist, at) =>
      val p = Seq(
        if (latest.contains(version)) None else Some(s"latest $latest, model $version"),
        if (hist.keySet == (1 to version).toSet) None else Some(s"history has ${hist.size} versions"),
        if (at >= asOf && hist.get(at) == hist.get(asOf)) None else Some(s"versionAsOf -> $at, model $asOf")
      ).flatten
      (0L, p)
    }

    write(r, "compact", "maintain")(tracer.span("Versions.compact")(Versions.compact(spark, root)))(
      (0L, 0L))
    // keep every version the next round can still travel to
    val keepFrom = math.max(1, version - VacuumKeep)
    r.op("maintain", "vacuum") {
      tracer.span("Versions.vacuum")(Versions.vacuum(spark, root, keepFrom, graceMs = 0L))
    } { deleted =>
      if (r.timed) filesDeleted += deleted.size
      (0L, Nil)
    }
  }

  def warmup(r: Runner): Unit = (0 until WarmupRounds).foreach(_ => round(r))
  def timed(r: Runner): Unit = (0 until rounds).foreach(_ => round(r))
  def userBytesWritten: Long = submitted
  def liveUserBytes: Long = live.values.iterator.map(k => Rows.bytes(vals(k))).sum

  def info: Map[String, Any] = Map(
    "initial_rows" -> InitialRows, "merge_rows" -> MergeRows, "append_rows" -> AppendRows,
    "warmup_rounds" -> WarmupRounds, "timed_rounds" -> rounds, "commits_per_round" -> 8,
    "versions_at_end" -> version, "live_rows_at_end" -> live.size,
    "files_deleted" -> filesDeleted, "data_digest" -> dataDigest)
}

object UpsertTimeTravel {
  val Groups = 4
  val InitialRows = 15000
  val MergeRows = 300
  val AppendRows = 1000
  val UpdateSpan = 200
  val DeleteSpan = 300
  /** Versions kept by vacuum: more than the oldest travel target. */
  val VacuumKeep = 16
  val WarmupRounds = 2
  val RoundsPerSecond = 0.1
}
