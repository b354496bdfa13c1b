package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.RedshiftParams
import graft.core.{ColFilter, Fetch, Publish}
import graft.ops.{Decontaminate, DedupIndex, ShardExport, TextAnalysis}

final case class Doc(doc_id: Long, text: String)
final case class Served(n: Long, day: Int)

/** LLM-data curation feeding an s3parq-style dataset. Each cycle one day
  * of raw documents arrives. At fixed rates it plants exact duplicates and
  * near-duplicates (3-shingle Jaccard >= 0.85) of earlier clean documents,
  * low-quality documents, and documents that contain a span of a fixed
  * benchmark set. The rest are clean. Every document gets whitespace noise.
  *
  * Write (one op): cleanText, gopherFilter, publishDedupAppend (exact, by
  * content hash), DedupIndex.dedupBatch then DedupIndex.append,
  * decontaminate, the curated append into a dataset hive-partitioned by
  * `source` (string) and `day` (int), and that day's catalog DDL.
  *
  * Reads (s3parq's fetch contract on the curated dataset): the new day,
  * five single partitions, a source list within one day, a three-day range
  * within one source, the days missing from a static comparison root
  * (`fetchDiff`), and one loader probe (max, diff and all partition
  * values). Every `ExportEvery` cycles the curated set is exported as
  * shards. */
final class CurateDedup(spark: SparkSession, tracer: Tracer, data: String,
                        seed: Long, seconds: Int) extends Workload {
  import spark.implicits._
  import CurateDedup._

  private val exactRoot = s"$data/exact"
  private val indexRoot = s"$data/${FsCounters.IndexDirName}"
  private val curatedRoot = s"$data/curated"
  private val servedRoot = s"$data/served"
  private val exportDir = s"$data/export"
  /** Timed cycles: fixed by the run length, not by the clock. */
  private val cycles = math.max(2, math.round(seconds * CyclesPerSecond).toInt)
  private val cols = Seq("doc_id", "text", "source", "day")
  private val sources = (0 until Sources).map(i => sourceOf(i.toLong))
  private val rng = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
  private val vocab: IndexedSeq[String] = {
    val g = new SplittableRandom(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until VocabSize).map(_ => Seq.fill(3 + g.nextInt(6))(letters(g.nextInt(26))).mkString)
  }
  private val benchmark: IndexedSeq[Seq[String]] = IndexedSeq.fill(BenchmarkItems)(words(30))
  private val params = RedshiftParams("bench", "curated", "arn:aws:iam::000000000000:role/bench",
    "us-east-1", "bench-cluster", "localhost", "5439", "dev")

  private sealed trait Kind
  private case object Clean extends Kind
  private case object Exact extends Kind
  private case object Near extends Kind
  private case object LowQuality extends Kind
  private case object Contaminated extends Kind

  // the model: digest and user bytes of every curated (source, day)
  // partition, the pool of curated clean docs duplicates are drawn from,
  // and run totals
  private val parts = mutable.Map[(String, Int), (Digest, Long)]()
  private val pool = mutable.ArrayBuffer[Seq[String]]()
  private var nextId = 0L
  private var days = 0
  private var submitted = 0L
  private var dataDigest = 0L
  private var plantedNear, foundNear, falseDrops, cleanDocs = 0L
  /** Data files in the partitions the timed fetches asked for, and the
    * user bytes those fetches returned: the bases of
    * `fetch.files_read_ratio` and `fetch.read_amp`. */
  private var matchingFiles, returnedBytes = 0L

  private def words(n: Int): Seq[String] = Seq.tabulate(n) { i =>
    val w = if (rng.nextInt(100) < 15) Stops(rng.nextInt(Stops.size)) else vocab(rng.nextInt(VocabSize))
    if (i % 12 == 11 || i == n - 1) w + "." else w
  }

  /** Whitespace noise that cleanText removes: doubled spaces, tabs,
    * no-break spaces and padding. */
  private def noisy(ws: Seq[String]): String =
    ws.zipWithIndex.map { case (w, i) =>
      if (i == 0) w
      else (rng.nextInt(40) match {
        case 0 => "  "
        case 1 => "\t"
        case 2 => "\u00a0"
        case _ => " "
      }) + w
    }.mkString(if (rng.nextInt(4) == 0) " " else "", "", if (rng.nextInt(4) == 0) " \n" else "")

  private def shingles(ws: Seq[String]): Set[String] = ws.sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: Seq[String], b: Seq[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  /** A near-duplicate of `src`: two words replaced, kept only when its
    * shingle Jaccard to `src` is at least 0.85. */
  private def nearOf(src: Seq[String]): Seq[String] = {
    var out = src
    do {
      out = src.toIndexedSeq
      (0 until 2).foreach { _ =>
        val i = 3 + rng.nextInt(out.size - 6)
        out = out.updated(i, vocab(rng.nextInt(VocabSize)))
      }
    } while (jaccard(out, src) < 0.85)
    out
  }

  private def cleanWords(): Seq[String] = words(80 + rng.nextInt(60))

  /** One generated day: (id, raw text, clean words, kind). */
  private def generate(n: Int): Seq[(Long, String, Seq[String], Kind)] = {
    val out = (0 until n).map { _ =>
      val id = nextId
      nextId += 1
      val roll = rng.nextInt(100)
      val (ws, kind) =
        if (roll < ExactPct) (pool(rng.nextInt(pool.size)), Exact)
        else if (roll < ExactPct + NearPct) (nearOf(pool(rng.nextInt(pool.size))), Near)
        else if (roll < ExactPct + NearPct + LowPct) {
          if (rng.nextBoolean()) (words(20 + rng.nextInt(20)), LowQuality)
          else (cleanWords().map(w => if (rng.nextInt(10) < 3) "#" + w else w), LowQuality)
        } else if (roll < ExactPct + NearPct + LowPct + ContamPct) {
          val base = cleanWords()
          val item = benchmark(rng.nextInt(BenchmarkItems))
          val at = rng.nextInt(item.size - 12)
          val cut = 10 + rng.nextInt(base.size - 20)
          (base.take(cut) ++ item.slice(at, at + 12) ++ base.drop(cut), Contaminated)
        } else (cleanWords(), Clean)
      (id, noisy(ws), ws, kind)
    }
    dataDigest = dataDigest * 31 + Digest.rows(out.map(d => Seq[Any](d._1, d._2))).sum
    out
  }

  /** Record the curated docs of `day` in the model. */
  private def curate(day: Int, docs: Seq[(Long, String)]): Unit =
    docs.groupBy(d => sourceOf(d._1)).foreach { case (src, ds) =>
      val vals = ds.map(d => Seq[Any](d._1, d._2, src, day))
      parts((src, day)) = (Digest.rows(vals), vals.map(Rows.bytes).sum)
    }

  private def withHash(df: DataFrame): DataFrame = df.withColumn("chash", sha2(col("text"), 256))

  /** (doc_id, text) with the partition columns; the source follows from
    * the id as in [[CurateDedup.sourceOf]]. */
  private def partitioned(df: DataFrame, day: Int): DataFrame =
    df.select(col("doc_id"), col("text"),
      format_string("src%02d", pmod(col("doc_id"), lit(Sources.toLong))).as("source"),
      lit(day).as("day"))

  def setup(): Unit = {
    wipe(data)
    parts.clear(); pool.clear(); nextId = 0L; days = 0; submitted = 0L; dataDigest = 0L
    plantedNear = 0L; foundNear = 0L; falseDrops = 0L; cleanDocs = 0L
    matchingFiles = 0L; returnedBytes = 0L
    val initial = for (day <- 0 until InitialDays; _ <- 0 until InitialDocsPerDay) yield {
      val ws = cleanWords()
      pool += ws
      nextId += 1
      (nextId - 1, ws.mkString(" "), day)
    }
    initial.groupBy(_._3).foreach { case (day, ds) => curate(day, ds.map(d => (d._1, d._2))) }
    days = InitialDays
    dataDigest = Digest.rows(initial.map(d => Seq[Any](d._1, d._2))).sum
    val df = initial.map(d => Doc(d._1, d._2)).toDF()
    Publish.publish(spark, withHash(df), exactRoot, Nil)
    DedupIndex.build(spark, df, indexRoot)
    Publish.publish(spark, initial.map(d => (d._1, d._2, sourceOf(d._1), d._3)).toDF(cols: _*),
      curatedRoot, Seq("source", "day"), statsCols = StatsCols)
    Publish.publish(spark, (0 until InitialDays).map(d => Served(d.toLong, d)).toDF(),
      servedRoot, Seq("day"))
  }

  /** Materialise a pipeline stage once (it feeds more than one consumer). */
  private def stage(name: String)(df: => DataFrame): DataFrame =
    tracer.span(name) { val p = df.persist(); p.count(); p }

  private val benchDf: DataFrame =
    benchmark.zipWithIndex.map { case (ws, i) => Doc(i.toLong, ws.mkString(" ")) }.toDF()

  private def expected(keys: Seq[(String, Int)]): Digest =
    keys.flatMap(parts.get).map(_._1).foldLeft(Digest.Zero)(_ + _)

  private def fetchOp(r: Runner, kind: String, keys: Seq[(String, Int)])(df: => DataFrame): Unit = {
    if (r.timed) {
      matchingFiles += keys.map { case (s, d) => parquetFilesIn(s"$curatedRoot/source=$s/day=$d") }.sum
      returnedBytes += keys.flatMap(parts.get).map(_._2).sum
    }
    val span = if (kind == "fetch_diff") "Fetch.fetchDiff" else "Fetch.fetch"
    r.op("read", kind) {
      val frame = tracer.span(span)(df)
      tracer.span(s"$span#exec")(Digest.of(frame, cols))
    } { got =>
      val want = expected(keys)
      (got.count, if (got == want) Nil else Seq(s"rows/digest $got, model $want"))
    }
  }

  private def cycle(r: Runner, export: Boolean): Unit = {
    val day = days
    val gen = generate(DocsPerDay)
    val byId = gen.map(d => d._1 -> d).toMap
    if (r.timed) submitted += gen.map(d => Rows.bytes(Seq(d._1, d._2))).sum
    var persisted = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted ::= df; df }
    r.op("write", "curate_batch") {
      val raw = gen.map(d => Doc(d._1, d._2)).toDF()
      val cleaned = keep(stage("TextAnalysis.cleanText")(TextAnalysis.cleanText(raw)))
      val quality = keep(stage("TextAnalysis.gopherFilter")(TextAnalysis.gopherFilter(cleaned)))
      val files = tracer.span("Publish.publishDedupAppend")(
        Publish.publishDedupAppend(spark, withHash(quality), exactRoot, Seq("chash")))
      // the rows the exact-dedup append admitted are the files it wrote
      val admitted = keep(stage("read.admitted")(
        if (files.isEmpty) quality.limit(0) else spark.read.parquet(files: _*).select("doc_id", "text")))
      val dropped = tracer.span("DedupIndex.dedupBatch")(
        DedupIndex.dedupBatch(spark, indexRoot, admitted).select("id_b").collect().map(_.getLong(0))).toSet
      val kept = keep(admitted.where(!col("doc_id").isin(dropped.toSeq: _*)).persist())
      tracer.span("DedupIndex.append")(DedupIndex.append(spark, kept, indexRoot))
      val clean = keep(stage("Decontaminate.decontaminate")(
        Decontaminate.decontaminate(kept, benchDf, n = 8)))
      val written = tracer.span("Publish.publish")(
        Publish.publish(spark, partitioned(clean, day), curatedRoot, Seq("source", "day"),
          mode = "append", statsCols = StatsCols))
      val ddl = tracer.span("Publish.catalogDdl")(
        Publish.catalogDdl(spark, curatedRoot, "bench-bucket", "curated", params, knownFiles = written))
      (dropped, ddl)
    } { case (dropped, ddl) =>
      persisted.foreach(_.unpersist())
      val near = gen.filter(_._4 == Near).map(_._1).toSet
      val falseDrop = dropped -- near
      val found = (dropped & near).size
      if (r.timed) {
        plantedNear += near.size; foundNear += found; falseDrops += falseDrop.size
        cleanDocs += gen.count(_._4 == Clean)
      }
      // the curated day must hold exactly the clean docs and the
      // near-duplicates the index missed: no exact duplicate, low-quality
      // or contaminated doc (checked by the fetch_new read)
      val survivors = gen.filter(d => d._4 == Clean || (d._4 == Near && !dropped(d._1)))
      survivors.filter(_._4 == Clean).foreach(d => pool += d._3)
      curate(day, survivors.map(d => (d._1, d._3.mkString(" "))))
      val adds = ddl.filter(_.contains("ADD IF NOT EXISTS PARTITION"))
      val recall = if (near.isEmpty) 1.0 else found.toDouble / near.size
      val p = Seq(
        if (falseDrop.isEmpty) None else Some(s"dropped unplanted docs ${falseDrop.take(5).mkString(",")}"),
        if (recall >= RecallFloor) None else Some(f"near-duplicate recall $recall%.3f < $RecallFloor"),
        if (dropped.forall(byId.contains)) None else Some("dropped ids outside the day"),
        if (adds.size == Sources && adds.forall(_.contains(s"day='$day'"))) None
        else Some(s"DDL for day $day: ${adds.size} ADD PARTITION statements")).flatten
      (gen.size.toLong, p)
    }
    days += 1

    fetchOp(r, "fetch_new", sources.map((_, day)))(Fetch.fetch(spark, curatedRoot,
      Seq(ColFilter("day", "==", Seq(day)))))
    def pick(): (String, Int) = (sources(rng.nextInt(Sources)), rng.nextInt(days))
    // single-partition fetches are most of the reads, so the pooled read
    // median sits inside their mode (the other fetch kinds read more)
    (0 until 5).foreach { _ =>
      val (s, d) = pick()
      fetchOp(r, "fetch_one", Seq((s, d)))(Fetch.fetch(spark, curatedRoot,
        Seq(ColFilter("source", "==", Seq(s)), ColFilter("day", "==", Seq(d)))))
    }
    val listDay = rng.nextInt(days)
    val first = rng.nextInt(Sources)
    val listSources = Seq(0, 2, 4).map(o => sources((first + o) % Sources)).sorted
    fetchOp(r, "fetch_list", listSources.map((_, listDay)))(Fetch.fetch(spark, curatedRoot,
      Seq(ColFilter("source", "==", listSources), ColFilter("day", "==", Seq(listDay)))))
    val (rs, lo0) = pick()
    val lo = math.min(lo0, days - 3)
    fetchOp(r, "fetch_range", (lo to lo + 2).map((rs, _)))(Fetch.fetch(spark, curatedRoot,
      Seq(ColFilter("source", "==", Seq(rs)), ColFilter("day", ">=", Seq(lo)),
        ColFilter("day", "<=", Seq(lo + 2)))))
    val missing = for (d <- InitialDays until days; s <- sources) yield (s, d)
    fetchOp(r, "fetch_diff", missing)(Fetch.fetchDiff(spark, curatedRoot, servedRoot, "day"))

    r.op("introspect", "loader_probe") {
      val max = tracer.span("Fetch.getMaxPartitionValue")(
        Fetch.getMaxPartitionValue(spark, curatedRoot, "day"))
      val diff = tracer.span("Fetch.getDiffPartitionValues")(
        Fetch.getDiffPartitionValues(spark, curatedRoot, "day", (0 until days - 1).map(Int.box)))
      val all = tracer.span("Fetch.getAllPartitionValues")(
        Fetch.getAllPartitionValues(spark, curatedRoot, "source"))
      (max, diff, all)
    } { case (max, diff, all) =>
      val p = Seq(
        if (max == Some(days - 1)) None else Some(s"max day $max, model ${days - 1}"),
        if (diff.toSet == Set(days - 1)) None else Some(s"diff days $diff, model ${days - 1}"),
        if (all.map(_.toString).toSet == sources.toSet) None else Some(s"sources $all")).flatten
      (0L, p)
    }

    if (export) r.op("maintain", "export") {
      tracer.span("ShardExport.exportShards")(
        ShardExport.exportShards(Fetch.fetch(spark, curatedRoot), exportDir, ExportShards, seed))
    } { _ =>
      val n = spark.read.parquet(exportDir).count()
      val want = parts.values.map(_._1.count).sum
      (n, if (n == want) Nil else Seq(s"exported $n rows, curated $want"))
    }
  }

  def warmup(r: Runner): Unit = (0 until WarmupCycles).foreach(_ => cycle(r, export = true))
  def timed(r: Runner): Unit = (1 to cycles).foreach(i => cycle(r, export = i % ExportEvery == 0))
  def userBytesWritten: Long = submitted
  def liveUserBytes: Long = parts.values.map(_._2).sum

  def info: Map[String, Any] = Map(
    "sources" -> Sources, "initial_days" -> InitialDays, "initial_docs_per_day" -> InitialDocsPerDay,
    "docs_per_day" -> DocsPerDay, "warmup_cycles" -> WarmupCycles, "timed_cycles" -> cycles,
    "export_every" -> ExportEvery, "partitions_at_end" -> parts.size,
    "planted_near" -> plantedNear, "found_near" -> foundNear, "false_drops" -> falseDrops,
    "clean_docs" -> cleanDocs, "files_in_matching_partitions" -> matchingFiles,
    "fetch_user_bytes" -> returnedBytes, "data_digest" -> dataDigest)
}

object CurateDedup {
  val Stops: IndexedSeq[String] = TextAnalysis.GopherStops.toIndexedSeq
  val Sources = 6
  val InitialDays = 12
  val InitialDocsPerDay = 60
  val DocsPerDay = 320
  val VocabSize = 5000
  val BenchmarkItems = 40
  val ExactPct = 5
  val NearPct = 5
  val LowPct = 8
  val ContamPct = 4
  val RecallFloor = 0.9
  val ExportEvery = 2
  val ExportShards = 8
  val WarmupCycles = 2
  val CyclesPerSecond = 0.1
  val StatsCols = Seq("doc_id")

  def sourceOf(id: Long): String = f"src${id % Sources}%02d"
}
