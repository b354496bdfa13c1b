package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the raw run report (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Filesystem counters shared by every [[CountingLocalFileSystem]]
  * instance. Slots: the six metadata/IO call kinds, then per path category
  * (data, log, sidecar, index) the opens, creates, bytes written and bytes
  * read. */
object FsCounters {
  val Categories: Seq[String] = Seq("data", "log", "sidecar", "index")
  val Calls: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  val PerCategory: Seq[String] = Seq("opens", "creates", "bytes_written", "bytes_read")
  val Names: Seq[String] = Calls ++
    PerCategory.flatMap(k => Categories.map(c => s"$k.$c"))
  private val counters = new AtomicLongArray(Names.size)

  private def slot(kind: String, cat: Int): Int =
    Calls.size + PerCategory.indexOf(kind) * Categories.size + cat
  def call(i: Int): Unit = counters.incrementAndGet(i)
  def add(kind: String, cat: Int, n: Long): Unit = counters.addAndGet(slot(kind, cat), n)
  def snapshot(): Array[Long] = Array.tabulate(Names.size)(counters.get)

  /** The directory that holds the benchmark's dedup index: everything
    * under it counts as index bytes. */
  val IndexDirName = "dedup_index"

  /** Path category: the commit log, index stores, graft sidecars, or data
    * files. Parquet files count as data wherever they sit (including the
    * output committer's `_temporary` staging dirs). */
  def category(p: Path): Int = {
    val parts = p.toUri.getPath.split('/').toSeq
    val name = parts.lastOption.getOrElse("")
    if (parts.contains("_graft_versions")) 1
    else if (parts.exists(c => c.startsWith("_graft_stats") || c.startsWith("_graft_bloom") ||
      c == IndexDirName)) 3
    else if (name.endsWith(".parquet")) 0
    else if (name.startsWith("_") || name.startsWith(".") ||
      parts.exists(_.startsWith("_graft"))) 2
    else 0
  }
}

/** The local Hadoop filesystem with call and byte counters, registered for
  * the `file` scheme through `spark.hadoop.fs.file.impl`. Counts only the
  * top-level calls graft and Spark make (the checksum layer's own calls on
  * the raw filesystem and its `.crc` files are not counted). */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters._

  override def listStatus(f: Path): Array[FileStatus] = { call(0); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { call(1); super.getFileStatus(f) }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    call(2)
    val cat = category(f)
    add("opens", cat, 1)
    new FSDataInputStream(new CountingInputStream(super.open(f, bufferSize), cat))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    call(3)
    counted(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    call(3)
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = { call(4); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { call(5); super.delete(f, recursive) }

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val cat = category(f)
    add("creates", cat, 1)
    new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); add("bytes_written", cat, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add("bytes_written", cat, len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }
}

/** Byte-counting view of an open file; positional reads go through the
  * wrapped stream's own implementation. */
final class CountingInputStream(in: FSDataInputStream, cat: Int) extends FSInputStream {
  private def n(k: Int): Int = { if (k > 0) FsCounters.add("bytes_read", cat, k); k }
  override def read(): Int = { val b = in.read(); if (b >= 0) n(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = n(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = n(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); n(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Per-job-group Spark totals: every job is attributed to the job group
  * its call set, every task to its stage's job. Slots are listed in
  * [[JobListener.Names]]. */
final class JobListener extends SparkListener {
  import JobListener._
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Array[Long]]()
  /** (group, start ms, end ms) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(g: String): Array[Long] =
    totals.computeIfAbsent(g, _ => new Array[Long](Names.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g)
    a.synchronized { a(0) += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobs.add((g, t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    a.synchronized {
      a(1) += 1
      a(2) += m.executorRunTime
      a(3) += m.executorCpuTime
      a(4) += m.jvmGCTime
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(8) += m.inputMetrics.bytesRead
      a(9) += m.outputMetrics.bytesWritten
      a(10) += m.outputMetrics.recordsWritten
    }
  }

  def totalsOf(g: String): Array[Long] =
    Option(totals.get(g)).map(a => a.synchronized(a.clone())).getOrElse(new Array[Long](Names.size))
}

object JobListener {
  val Names: Seq[String] = Seq("jobs", "tasks", "task_run_ms", "task_cpu_ns", "task_gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "output_records")
}

/** Spans around the benchmark's calls into graft. With tracing off, `span`
  * only runs its body. With tracing on, each span records its wall
  * interval, the filesystem counter deltas over it, and (through a Spark
  * job group named after the span) the Spark jobs and tasks it caused.
  * Everything stays in memory until [[report]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private final class Span(val id: Int, val parent: Int, val op: Int, val name: String) {
    var t0, t1 = 0L
    var fs0, fs1: Array[Long] = Array.empty
  }
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  /** Id of the op that new spans belong to (-1 outside ops). */
  var currentOp: Int = -1
  /** Only spans opened while this is set are kept (the timed phase). */
  var recording: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), currentOp, name)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"gb${s.id}", name, interruptOnCancel = false)
      s.fs0 = FsCounters.snapshot()
      s.t0 = System.nanoTime()
      try body
      finally {
        s.t1 = System.nanoTime()
        s.fs1 = FsCounters.snapshot()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"gb${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Add to `System.nanoTime` to get epoch nanoseconds (job times are
    * epoch milliseconds). */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** All spans with their counters, job intervals and Spark totals. */
  def report(): Seq[Map[String, Any]] = {
    listener.foreach(_ => org.apache.spark.graftbench.Bus.drain(sc))
    val jobsByGroup = listener.map(_.jobs.toArray.toSeq
      .map(_.asInstanceOf[(String, Long, Long)]).groupBy(_._1)).getOrElse(Map.empty)
    spans.toSeq.map { s =>
      val g = s"gb${s.id}"
      val spark = listener.map(_.totalsOf(g)).getOrElse(new Array[Long](JobListener.Names.size))
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "t0_ns" -> s.t0, "t1_ns" -> s.t1,
        "fs" -> FsCounters.Names.zipWithIndex.map { case (n, i) => n -> (s.fs1(i) - s.fs0(i)) }.toMap,
        "spark" -> JobListener.Names.zip(spark).toMap,
        "jobs" -> jobsByGroup.getOrElse(g, Nil).map(j => Seq(j._2, j._3)))
    }
  }
}

/** Order-independent digest of a multiset of rows: the row count and the
  * sum of the low 32 bits of Spark's `xxhash64` over the row's columns.
  * [[of]] computes it for a DataFrame (one aggregate job that reads every
  * column: the materialising sink); [[Digest.row]] computes the same hash
  * of one row in the driver, for the model. */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  def -(o: Digest): Digest = Digest(count - o.count, sum - o.sum)
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)
  private val Seed = 42L

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).bitwiseAND(0xffffffffL)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** The hash of one row, matching `xxhash64` column by column (null
    * values leave the running hash unchanged). */
  def rowHash(values: Seq[Any]): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    var h = Seed
    values.foreach {
      case null =>
      case i: Int => h = XXH64.hashInt(i, h)
      case l: Long => h = XXH64.hashLong(l, h)
      case s: String =>
        val b = s.getBytes("UTF-8")
        h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      case other => throw new IllegalArgumentException(s"unhashed type ${other.getClass}")
    }
    h
  }

  /** Net digest of a change feed (a `_change_type` of `insert` or
    * `delete` per row): inserts add, deletes subtract, so the
    * self-cancelling pairs of a file rewrite net out. Also returns the
    * feed's row count. */
  def signed(feed: DataFrame, cols: Seq[String]): (Digest, Long) = {
    val sign = when(col("_change_type") === "delete", -1L).otherwise(1L)
    val r = feed.agg(coalesce(sum(sign), lit(0L)),
      coalesce(sum(sign * xxhash64(cols.map(col): _*).bitwiseAND(0xffffffffL)), lit(0L)),
      count(lit(1))).head()
    (Digest(r.getLong(0), r.getLong(1)), r.getLong(2))
  }

  def row(values: Seq[Any]): Digest = Digest(1L, rowHash(values) & 0xffffffffL)

  def rows(rs: Iterable[Seq[Any]]): Digest = rs.foldLeft(Zero)((d, r) => d + row(r))
}

/** One op sample of the timed phase. */
final case class Sample(cls: String, kind: String, ms: Double, rows: Long)

/** Runs the schedule's ops: times each one, checks its answer against the
  * model, and counts failures. Ops run one at a time (a closed loop with
  * one client). */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  var timed = false
  val samples = ArrayBuffer[Sample]()
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  private var opSeq = 0
  private var checkNs = 0L

  /** Time `act` (calls into graft and the materialisation of what they
    * return), then run `verify` on its result untimed. `verify` returns
    * the rows the op submitted or returned and the problems it found. */
  def op[T](cls: String, kind: String)(act: => T)(verify: T => (Long, Seq[String])): Unit = {
    opSeq += 1
    if (timed) attempted += 1
    tracer.currentOp = opSeq
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span(s"op.$kind")(act))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.currentOp = -1
    val c0 = System.nanoTime()
    val (rows, problems) = result match {
      case Right(r) =>
        try verify(r)
        catch { case NonFatal(e) => (0L, Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
      case Left(e) => (0L, Seq(s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    checkNs += System.nanoTime() - c0
    if (problems.nonEmpty) {
      val msg = s"$kind (op #$opSeq${if (timed) "" else ", warm-up"}): ${problems.mkString("; ")}"
      System.err.println(s"[graftbench] WRONG $msg")
      failures += msg
      if (timed) failed += 1
    }
    if (timed) samples += Sample(cls, kind, ms, rows)
  }

  /** Nanoseconds spent in output checks (excluded from the timed wall). */
  def checkNanos: Long = checkNs

}
