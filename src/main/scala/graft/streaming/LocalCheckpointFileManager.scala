package graft.streaming

import java.io.InterruptedIOException
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystem` checkpoint manager with its temp-file commit
  * done by the JDK on a local file system: a no-overwrite commit (an
  * offsets or commits WAL entry) is one `link(2)` of the temp file
  * onto its final name, and an overwriting one (a state-store delta,
  * snapshot or checksum file) one `rename(2)`.
  *
  * Spark's default manager commits through `FileContext.rename`.
  * Without the native Hadoop library, Hadoop's local file system runs
  * `readlink` as a child process for each such rename. Both Spark
  * managers also look for the target before they rename onto it, so
  * two writers can both pass the look. A hard link fails with EEXIST
  * when the name is taken: of two writers of one WAL entry exactly one
  * wins, and the other gets Hadoop's `FileAlreadyExistsException`,
  * which `HDFSMetadataLog` reports as a concurrent writer. The parent
  * class's own `FileSystem.rename` is no substitute for an overwrite
  * either: the local checksummed file system refuses an existing
  * target, and the parent then keeps the old file without a word.
  *
  * A writer whose thread is interrupted does not commit: the temp file
  * is dropped and the commit throws `InterruptedIOException`. Without
  * the native library, Spark's default manager stops there too: the
  * child processes around its rename are interruptible. And a WAL
  * commit under a directory held by [[LocalCheckpointFileManager.holdCommits]]
  * waits until the hold ends or its holder gives up. Both serve
  * `StreamingQuery.stop()`, which
  * interrupts the stream thread: an interrupt that lands after a
  * batch's `commits/N` entry is written but before its progress event
  * is posted (`finishTrigger` makes an interruptible RPC in between)
  * ends the run with the batch done but never reported to any listener.
  * `ReconfigurableCountQuery` holds the WAL, waits for the last commit's
  * progress, then stops.
  *
  * The link or rename is the commit point. What follows it, moving the
  * temp file's `.crc` onto the final name's and unlinking the temp
  * name, is best effort: the file is already committed, and a failure
  * there (a reader finds no `.crc` and skips verification) must not
  * fail the batch that wrote it. Any other file system, the raw local
  * one too, takes the parent's path. Files written by either manager
  * read back through the other.
  *
  * Installed per query through `spark.sql.streaming.checkpointFileManagerClass`
  * (see `ReconfigurableCountQuery.start`). */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local: Option[LocalFileSystem] = Some(fs).collect { case l: LocalFileSystem => l }

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit = local match {
    case None => super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    case Some(l) =>
      def file(p: Path) = l.pathToFile(p).toPath
      def crc(p: Path) = file(l.getChecksumFile(p))
      val (src, dst) = (file(srcPath), file(dstPath))
      try LocalCheckpointFileManager.commitPoint(dstPath, wal = !overwriteIfPossible) {
        if (overwriteIfPossible) {
          // no window where a reader pairs the new bytes with the old .crc
          Files.deleteIfExists(crc(dstPath))
          Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        } else Files.createLink(dst, src)
      } catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
          quietly(s"deleting the interrupted temp file $srcPath")(delete(srcPath))
          throw new InterruptedIOException(s"interrupted before committing $dstPath")
        case _: java.nio.file.FileAlreadyExistsException =>
          quietly(s"deleting the losing temp file $srcPath")(delete(srcPath))
          throw new FileAlreadyExistsException(
            s"Failed to rename $srcPath to $dstPath as destination already exists")
      }
      // dstPath is committed: nothing below may fail the commit
      quietly(s"moving the checksum of committed $dstPath") {
        if (Files.exists(crc(srcPath)))
          Files.move(crc(srcPath), crc(dstPath), StandardCopyOption.ATOMIC_MOVE)
        else Files.deleteIfExists(crc(dstPath))
      }
      quietly(s"unlinking the temp name of committed $dstPath")(Files.deleteIfExists(src))
  }

  private def quietly(what: String)(f: => Any): Unit =
    try f
    catch { case NonFatal(e) => logWarning(s"$what failed", e) }
}

object LocalCheckpointFileManager {
  /** Held checkpoint directories (absolute local paths, `/`-terminated),
    * each with its holder's give-up test; guarded by its own monitor. */
  private val held = mutable.Map.empty[String, () => Boolean]

  /** Run `f` while no WAL entry under checkpoint directory `dir` can be
    * committed through this manager. A writer that reaches its commit
    * point waits until `f` returns, and gives up without committing
    * (InterruptedIOException) once `giveUp()` holds or its thread is
    * interrupted. A commit either completed before the hold began or
    * happens after it ends. `giveUp` is what keeps a stopping query from
    * waiting on its own hold: Hadoop's shell helper swallows an
    * interrupt that reaches it, so `StreamingQuery.stop()`'s interrupt
    * alone may never wake the writer. */
  def holdCommits[T](dir: Path, giveUp: () => Boolean)(f: => T): T = {
    val key = dir.toUri.getPath.stripSuffix("/") + "/"
    held.synchronized(held(key) = giveUp)
    try f
    finally held.synchronized { held -= key; held.notifyAll() }
  }

  /** Run one commit at its commit point: a WAL commit (`wal`) first
    * waits out any hold on its directory, and a writer that is
    * interrupted or given up does not commit (InterruptedException). */
  private def commitPoint(dst: Path, wal: Boolean)(commit: => Unit): Unit = {
    def interrupted() = if (Thread.currentThread().isInterrupted) throw new InterruptedException
    if (!wal) { interrupted(); commit }
    else held.synchronized {
      val p = dst.toUri.getPath
      def holder = held.collectFirst { case (dir, giveUp) if p.startsWith(dir) => giveUp }
      var giveUp = holder
      while (giveUp.isDefined) {
        if (giveUp.get()) throw new InterruptedException
        held.wait(10)
        giveUp = holder
      }
      interrupted()
      commit
    }
  }
}
