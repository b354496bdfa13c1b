package graftbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The benchmark's own checks: the model digest agrees with the Spark-side
  * digest and ignores row order but not row content or multiplicity; the
  * change-feed digest nets out self-cancelling pairs; the filesystem
  * counters see the bytes and calls made; the path categories and the row
  * size rule hold. Exits 1 on the first failed check.
  *
  *     graftbench.SelfTest <work dir> */
object SelfTest {
  private var failures = 0
  private def check(what: String, ok: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath.toString
    val spark = Main.session(work)
    try run(spark, work) finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def run(spark: SparkSession, work: String): Unit = {
    import spark.implicits._
    val rows = Seq((1L, 7, "a", "x"), (2L, -3, "béta", null), (3L, 0, "", "z"), (3L, 0, "", "z"))
    val df = rows.toDF("k", "i", "s", "n")
    val cols = Seq("k", "i", "s", "n")
    val model = Digest.rows(rows.map(r => Seq[Any](r._1, r._2, r._3, r._4)))
    check("Spark digest equals the model digest (long, int, UTF-8, null)",
      Digest.of(df, cols) == model)
    check("digest ignores row order", Digest.of(df.orderBy($"k".desc), cols) == model &&
      Digest.rows(rows.reverse.map(r => Seq[Any](r._1, r._2, r._3, r._4))) == model)
    check("digest sees one changed value",
      Digest.of(df.withColumn("i", $"i" + (($"k" === 2L).cast("int"))), cols) != model)
    check("digest sees a dropped duplicate", Digest.of(df.distinct(), cols) != model)
    check("digest of no rows is zero", Digest.of(df.limit(0), cols) == Digest.Zero)

    val before = rows.take(2).toDF("k", "i", "s", "n")
    val after = Seq((1L, 8, "a", "x"), (2L, -3, "béta", null), (4L, 1, "d", "w"))
      .toDF("k", "i", "s", "n")
    // a file rewrite's feed: every old row deleted, every new row inserted
    // (the unchanged row 2 appears on both sides and must net out)
    val feed = before.withColumn("_change_type", org.apache.spark.sql.functions.lit("delete"))
      .unionByName(after.withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")))
    val (net, feedRows) = Digest.signed(feed, cols)
    check("change-feed digest nets to after - before",
      net == Digest.of(after, cols) - Digest.of(before, cols) && feedRows == 5L)

    check("row size rule", Rows.bytes(Seq(1L, 2, "héllo", null)) == 8 + 4 + 6)
    check("path categories", Seq(
      "/d/t/_graft_versions/00000000000000000003.json" -> 1,
      "/d/t/_graft_stats/part-0.parquet" -> 3,
      s"/d/${FsCounters.IndexDirName}/bands/band=1/part-0.parquet" -> 3,
      "/d/t/_temporary/0/_temporary/attempt_1/grp=a/part-0.parquet" -> 0,
      "/d/t/grp=a/part-0.parquet" -> 0,
      "/d/t/_graft_meta.json" -> 2,
      "/d/t/_graft_dv/dv-1/x.bin" -> 2,
      "/d/t/_SUCCESS" -> 2).forall { case (p, c) => FsCounters.category(new Path(p)) == c })

    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val f = new Path(s"$work/selftest/_graft_versions/00000000000000000001.json")
    val payload = Array.fill[Byte](1000)(7)
    val c0 = FsCounters.snapshot()
    val out = fs.create(f, true)
    out.write(payload, 0, 600); out.write(payload, 600, 400); out.close()
    val in = fs.open(f)
    val back = new Array[Byte](1000)
    in.readFully(0L, back, 0, 1000); in.close()
    fs.getFileStatus(f); fs.listStatus(f.getParent); fs.delete(f.getParent, true)
    val c1 = FsCounters.snapshot()
    val d = FsCounters.Names.zipWithIndex.map { case (n, i) => n -> (c1(i) - c0(i)) }.toMap
    check(s"filesystem counters: $d", d("create") == 1 && d("creates.log") == 1 &&
      d("bytes_written.log") == 1000 && d("opens.log") == 1 && d("bytes_read.log") == 1000 &&
      d("status") >= 1 && d("list") == 1 && d("delete") == 1 && d("bytes_written.data") == 0)
    check("java.nio helpers are not counted", {
      Files.createDirectories(Paths.get(s"$work/selftest/x"))
      val e0 = FsCounters.snapshot()
      parquetFilesIn(s"$work/selftest/x"); wipe(s"$work/selftest")
      FsCounters.snapshot().sameElements(e0)
    })
  }
}
