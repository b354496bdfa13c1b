package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ConditionalCreate, Fetch, Publish, Versions}

/** The commit CAS's conditional-create seam: its contract, a CONFORMING
  * implementation (truly atomic create-if-absent, here POSIX
  * `Files.createFile`) driven through the full commit protocol under
  * racing appends, and a NON-ATOMIC fake (check-then-put, the plain-S3
  * shape) demonstrating the split-brain the seam exists to close — why a
  * store without conditional create needs one installed.
  */
class ConditionalCreateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Genuinely atomic: java.nio createFile is a single O_CREAT|O_EXCL. */
  private class NioAtomicCreate extends ConditionalCreate {
    val calls = new AtomicInteger(0)
    override def createIfAbsent(fs: FileSystem, path: Path,
                                bytes: Array[Byte]): Boolean = {
      calls.incrementAndGet()
      val local = java.nio.file.Paths.get(path.toUri.getPath)
      try {
        java.nio.file.Files.createFile(local)
        java.nio.file.Files.write(local, bytes)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
  }

  /** Forces a lost CAS: the first create waits (at most 60 s) until
    * another committer is blocked on the monitor it holds — the in-JVM
    * commit monitor around the create. That committer resolved its version
    * while the first entry was still absent, so it targets the same
    * version, and its create must lose once the first lands.
    */
  private class FirstCreateWaits(inner: ConditionalCreate) extends ConditionalCreate {
    private val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    override def createIfAbsent(fs: FileSystem, path: Path,
                                bytes: Array[Byte]): Boolean = {
      if (held.compareAndSet(false, true)) {
        val mx = java.lang.management.ManagementFactory.getThreadMXBean
        val me = Thread.currentThread().getId
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (!raced.get() && System.nanoTime() < deadline) {
          raced.set(mx.getThreadInfo(mx.getAllThreadIds).exists(i =>
            i != null && i.getLockOwnerId == me))
          if (!raced.get()) Thread.sleep(5)
        }
      }
      inner.createIfAbsent(fs, path, bytes)
    }
  }

  /** The plain-S3 shape: existence check, then an unconditional PUT that
    * last-writer-wins. `hold` widens the check→put window so two callers
    * interleave deterministically.
    */
  private class CheckThenPut(hold: CountDownLatch, ready: CountDownLatch)
      extends ConditionalCreate {
    override def createIfAbsent(fs: FileSystem, path: Path,
                                bytes: Array[Byte]): Boolean = {
      if (fs.exists(path)) return false
      ready.countDown()
      hold.await(60, TimeUnit.SECONDS)
      val out = fs.create(path, true) // unconditional PUT: clobbers
      try out.write(bytes) finally out.close()
      true
    }
  }

  test("conforming impl: racing appends through the full protocol land consecutive") {
    val root = TestSpark.tmpDir("cas_conform")
    Publish.publishVersioned(spark,
      Seq((0L, 0.0)).toDF("id", "v"), root, Nil)
    val impl = new NioAtomicCreate
    val race = new FirstCreateWaits(impl)
    val prev = Versions.installConditionalCreate(race)
    try {
      val pool = Executors.newFixedThreadPool(6)
      val go = new CountDownLatch(1)
      val done = (1 to 6).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            go.await()
            Publish.publishVersioned(spark,
              Seq((i.toLong, i * 1.0)).toDF("id", "v"), root, Nil, mode = "append")
          }
        })
      }
      go.countDown()
      done.foreach(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
    } finally Versions.installConditionalCreate(prev)
    // every committer landed, versions are consecutive, entries parse
    assert(Versions.latestVersion(spark, root).contains(7))
    assert((1 to 7).map(v => Versions.readEntry(spark, root, v).version) == (1 to 7))
    assert(Fetch.fetch(spark, root).count() == 7)
    assert(race.raced.get(), "a second committer must have raced the first create")
    // six wins plus the forced loss
    assert(impl.calls.get() >= 7, "the installed seam must have served the creates")
  }

  test("non-atomic fake: check-then-put double-claims — the residual the seam closes") {
    val dir = TestSpark.tmpDir("cas_nonatomic")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir, "v000001.json")
    val hold = new CountDownLatch(1)
    val ready = new CountDownLatch(2)
    val broken = new CheckThenPut(hold, ready)
    val pool = Executors.newFixedThreadPool(2)
    // two "processes" (no shared monitor) race the same version claim
    val a = pool.submit(new java.util.concurrent.Callable[Boolean] {
      override def call(): Boolean = broken.createIfAbsent(fs, target, "A".getBytes)
    })
    val b = pool.submit(new java.util.concurrent.Callable[Boolean] {
      override def call(): Boolean = broken.createIfAbsent(fs, target, "B".getBytes)
    })
    assert(ready.await(60, TimeUnit.SECONDS), "both callers must pass the existence check")
    hold.countDown()
    val (wonA, wonB) = (a.get(60, TimeUnit.SECONDS), b.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    // SPLIT-BRAIN: both believe they committed version 1 — and one's
    // entry bytes are gone (last PUT wins). This is exactly what a
    // plain-S3 commit without a conditional PUT risks, and why
    // installConditionalCreate exists.
    assert(wonA && wonB)
    // read RAW bytes, not through the checksummed fs: the two concurrent
    // overwriting creates also raced the .crc sidecar, so the checksum
    // file can pair with the OTHER writer's data (a second facet of the
    // same split-brain) — a checksummed open then throws instead of
    // showing the surviving bytes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target.toUri.getPath))
    assert(bytes.nonEmpty && (bytes(0) == 'A' || bytes(0) == 'B'))

    // the SAME interleave through a conforming impl: exactly one winner,
    // the winner's bytes survive
    val target2 = new Path(dir, "v000002.json")
    val atomic = new NioAtomicCreate
    val pool2 = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val rs = Seq("A", "B").map(s => pool2.submit(
      new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = {
          go.await(); atomic.createIfAbsent(fs, target2, s.getBytes)
        }
      }))
    go.countDown()
    val wins = rs.map(_.get(60, TimeUnit.SECONDS))
    pool2.shutdown()
    assert(wins.count(identity) == 1, s"exactly one winner, got $wins")
  }
}
