package graft.streaming

import java.io.InterruptedIOException
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The commit semantics `LocalCheckpointFileManager` must keep from
  * Spark's own managers, on a local temp directory: a no-overwrite
  * commit is atomic and exclusive, an overwrite replaces, a cancel or
  * an interrupted writer leaves nothing, a WAL commit waits out a hold
  * on its directory, and reads still verify the `.crc` side file. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (JPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("local-ckpt-fm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def at(dir: JPath, name: String) = new Path(dir.resolve(name).toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val files = Files.list(dir)
    try files.iterator().asScala.map(_.getFileName.toString).toSet
    finally files.close()
  }

  test("a no-overwrite commit onto an existing file fails and keeps the first") {
    val (dir, fm) = fresh()
    val p = at(dir, "0")
    write(fm, p, "first", overwrite = false)
    val crcBefore = Files.readAllBytes(dir.resolve(".0.crc"))
    intercept[FileAlreadyExistsException](write(fm, p, "second!", overwrite = false))
    assert(read(fm, p) === "first")
    assert(Files.readAllBytes(dir.resolve(".0.crc")).sameElements(crcBefore))
    assert(names(dir) === Set("0", ".0.crc"), "the losing temp file is left behind")
  }

  test("of 8 threads racing a no-overwrite commit of one path, exactly one wins") {
    val (dir, fm) = fresh()
    val writers = 8
    val pool = Executors.newFixedThreadPool(writers)
    try (0 until 50).foreach { round =>
      val p = at(dir, round.toString)
      val go = new CountDownLatch(1)
      val tries = (0 until writers).map { w =>
        pool.submit(new Callable[Boolean] {
          def call(): Boolean = {
            val out = fm.createAtomic(p, overwriteIfPossible = false)
            out.write(s"writer $w".getBytes("UTF-8"))
            go.await()
            try { out.close(); true }
            catch { case _: FileAlreadyExistsException => false }
          }
        })
      }
      go.countDown()
      val won = tries.map(_.get(30, TimeUnit.SECONDS))
      assert(won.count(identity) === 1, s"round $round: ${won.count(identity)} winners")
      assert(read(fm, p) === s"writer ${won.indexOf(true)}", s"round $round")
    } finally pool.shutdownNow()
    assert(names(dir) === (0 until 50).flatMap(r => Seq(s"$r", s".$r.crc")).toSet)
  }

  test("an overwriting commit replaces the file and its checksum") {
    val (dir, fm) = fresh()
    val p = at(dir, "state.delta")
    write(fm, p, "old", overwrite = false)
    write(fm, p, "a longer new body", overwrite = true)
    assert(read(fm, p) === "a longer new body")
    assert(names(dir) === Set("state.delta", ".state.delta.crc"))
  }

  test("cancel leaves neither the temp file nor its checksum") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(at(dir, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    assert(names(dir).exists(_.endsWith(".tmp")), "no temp file while writing")
    out.cancel()
    assert(names(dir) === Set.empty[String])
  }

  test("a writer whose thread is interrupted commits nothing") {
    val (dir, fm) = fresh()
    for (overwrite <- Seq(false, true)) {
      val out = fm.createAtomic(at(dir, s"$overwrite"), overwriteIfPossible = overwrite)
      out.write("late".getBytes("UTF-8"))
      Thread.currentThread().interrupt()
      try intercept[InterruptedIOException](out.close())
      finally Thread.interrupted()
      assert(names(dir) === Set.empty[String], s"overwrite = $overwrite")
    }
  }

  test("a WAL commit waits while its directory is held; an interrupt or a give-up ends the wait uncommitted") {
    val (dir, fm) = fresh()
    val held = new Path(dir.toUri)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val late = LocalCheckpointFileManager.holdCommits(held, () => false) {
        // state-store files overwrite and are never held
        write(fm, at(dir, "1.delta"), "state", overwrite = true)
        val f = pool.submit(new Callable[Unit] {
          def call(): Unit = write(fm, at(dir, "0"), "after the hold", overwrite = false)
        })
        Thread.sleep(300)
        assert(!Files.exists(dir.resolve("0")), "committed under the hold")
        f
      }
      late.get(30, TimeUnit.SECONDS)
      assert(read(fm, at(dir, "0")) === "after the hold")
    } finally pool.shutdownNow()
    var failed: Throwable = null
    LocalCheckpointFileManager.holdCommits(held, () => false) {
      val writer = new Thread(() =>
        try write(fm, at(dir, "1"), "stopped", overwrite = false)
        catch { case e: Throwable => failed = e })
      writer.start()
      Thread.sleep(300)
      writer.interrupt()
      writer.join(30000)
    }
    assert(failed.isInstanceOf[InterruptedIOException], failed)
    // a holder that gives up releases a waiting writer uncommitted, even
    // one whose interrupt was swallowed on the way
    @volatile var givenUp = false
    failed = null
    LocalCheckpointFileManager.holdCommits(held, () => givenUp) {
      val writer = new Thread(() =>
        try write(fm, at(dir, "2"), "given up", overwrite = false)
        catch { case e: Throwable => failed = e })
      writer.start()
      Thread.sleep(300)
      givenUp = true
      writer.join(30000)
    }
    assert(failed.isInstanceOf[InterruptedIOException], failed)
    assert(names(dir) === Set("0", ".0.crc", "1.delta", ".1.delta.crc"))
  }

  test("a flipped byte in a committed file fails the read with ChecksumException") {
    val (dir, fm) = fresh()
    val p = at(dir, "2")
    write(fm, p, "checksummed body", overwrite = false)
    val f = dir.resolve("2")
    val bytes = Files.readAllBytes(f)
    bytes(3) = (bytes(3) ^ 0x01).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](read(fm, p))
  }

  test("files committed by Spark's default manager and by this one read back in the other") {
    val (dir, fm) = fresh()
    val spark = CheckpointFileManager.create(new Path(dir.toUri), conf)
    assert(!spark.isInstanceOf[LocalCheckpointFileManager])
    write(fm, at(dir, "ours"), "by hard link", overwrite = false)
    write(spark, at(dir, "theirs"), "by rename", overwrite = false)
    assert(read(spark, at(dir, "ours")) === "by hard link")
    assert(read(fm, at(dir, "theirs")) === "by rename")
    intercept[FileAlreadyExistsException](
      write(spark, at(dir, "ours"), "again", overwrite = false))
  }
}
