package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** A workload: a seeded generator, a fixed schedule of calls into graft,
  * and the model its outputs are checked against. */
trait Workload {
  /** Wipe the workload's roots, generate the initial data, publish it. */
  def setup(): Unit
  /** Untimed warm-up: every op kind of the schedule at least twice. */
  def warmup(r: Runner): Unit
  /** The timed schedule (the same op sequence for every seed). */
  def timed(r: Runner): Unit
  /** Bytes of user data the timed write ops submitted, by the generator's
    * row-size rule ([[Rows.bytes]]): the base of `write_amp`. */
  def userBytesWritten: Long
  /** Bytes of user data live at the end of the run: the base of
    * `space_amp`. */
  def liveUserBytes: Long
  /** Sizes and counts that describe the run, reported as they are. */
  def info: Map[String, Any]
}

/** The generator's row-size rule: 8 bytes per long, 4 per int, the UTF-8
  * length of a string. */
object Rows {
  def bytes(values: Seq[Any]): Long = values.iterator.map {
    case _: Long => 8L
    case _: Int => 4L
    case s: String => s.getBytes("UTF-8").length.toLong
    case null => 0L
    case o => throw new IllegalArgumentException(s"unsized type ${o.getClass}")
  }.sum
}

/** Peak heap in use right after a collection, over the window it is
  * armed for. */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private lazy val install: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ =>
    }
  def arm(): Unit = { install; peak = 0L; armed = true }
  def disarm(): Long = { armed = false; peak }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, report: String)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("report"))
  }

  /** Setups per run; `setup_s` is their median plus the warm-up. */
  val SetupReps = 3

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the counters only see what goes through the registered class: every
    // `file` filesystem handed out must be it
    val fsClass = FileSystem.get(new java.net.URI("file:///"),
      s.sparkContext.hadoopConfiguration).getClass
    require(fsClass == classOf[CountingLocalFileSystem],
      s"file:// resolves to $fsClass, not the counting filesystem")
    s
  }

  /** Bytes of the files under `dir`, without the local filesystem's
    * `.crc` checksum files (which the write counters do not see either). */
  def diskBytes(dir: JPath): Long =
    if (!Files.exists(dir)) 0L
    else {
      val st = Files.walk(dir)
      try st.iterator.asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
      finally st.close()
    }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work.toString)
    try {
      val data = work.resolve("data").toString
      val tracer = new Tracer(spark, a.trace)
      val wl: Workload = a.workload match {
        case "upsert_timetravel" => new UpsertTimeTravel(spark, tracer, data, a.seed, a.seconds)
        case "curate_dedup" => new CurateDedup(spark, tracer, data, a.seed, a.seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val runner = new Runner(spark, tracer)
      val setups = (1 to SetupReps).map { _ => val t0 = System.nanoTime(); wl.setup(); seconds(t0) }
      val w0 = System.nanoTime()
      wl.warmup(runner)
      val warmupS = seconds(w0)

      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val fs0 = FsCounters.snapshot()
      runner.timed = true
      tracer.recording = true
      HeapWatch.arm()
      val check0 = runner.checkNanos
      val t0 = System.nanoTime()
      wl.timed(runner)
      val wallS = seconds(t0) - (runner.checkNanos - check0) / 1e9
      val heapPeak = HeapWatch.disarm()
      tracer.recording = false
      val fs1 = FsCounters.snapshot()
      val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0

      val report = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "cpus" -> Runtime.getRuntime.availableProcessors(),
        "setup_s" -> setups, "warmup_s" -> warmupS, "wall_s" -> wallS,
        "attempted" -> runner.attempted, "failed" -> runner.failed,
        "failures" -> runner.failures,
        "samples" -> runner.samples.map(s => Seq(s.cls, s.kind, s.ms, s.rows)),
        "fs" -> FsCounters.Names.zipWithIndex.map { case (n, i) => n -> (fs1(i) - fs0(i)) }.toMap,
        "user_bytes_written" -> wl.userBytesWritten,
        "disk_bytes" -> diskBytes(Paths.get(data)),
        "live_user_bytes" -> wl.liveUserBytes,
        "heap_peak_mb" -> heapPeak / 1048576.0,
        "gc_ms" -> gcMs,
        "info" -> wl.info,
        "epoch_offset_ns" -> tracer.epochOffsetNs,
        "spans" -> tracer.report())
      Files.writeString(Paths.get(a.report), Json(report))
    } finally spark.stop()
  }
}
