package graft.source

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The checkpoint file manager of the offset WAL, the commit log and the
  * manual-commit marks: Spark's stock `FileContextBasedCheckpointFileManager`,
  * except that files on a LOCAL file system are written with `java.nio`.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` sets permissions
  * with a `chmod` process and resolves links with `readlink` processes, so
  * each atomic checkpoint file of the stock manager starts five or six
  * processes (tens of ms; a drain of four micro-batches writes nine such
  * files). Here one file costs a write, a link or rename and an unlink.
  *
  * "Local" is decided by the `FileSystem` the path resolves to, not by its
  * URI scheme: a scheme-less path resolves through `fs.defaultFS` and can
  * name HDFS. Every other path goes to the stock manager unchanged.
  *
  * File formats are untouched. The contract kept for [[createAtomic]]:
  *   - the bytes go to a dot-prefixed temp file in the target's directory
  *     (never parsed as a batch id), and a reader sees either no file or
  *     all of it;
  *   - without overwrite the publish is a hard link, atomic and refused
  *     when the target exists, with Hadoop's `FileAlreadyExistsException`:
  *     that exception is what `HDFSMetadataLog` turns into its
  *     concurrent-writer error;
  *   - with overwrite it is an atomic rename over the target;
  *   - a `.crc` sibling, which a checksummed Hadoop write of the same name
  *     leaves, is dropped before the publish, so a later checksummed read
  *     (`LocalFileSystem.open`) cannot fail on stale sums.
  *
  * Installed by `graft.api.ConsumerGroup` under Spark's plug-in key
  * `spark.sql.streaming.checkpointFileManagerClass`, unless the session
  * already names a manager there.
  */
class LocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(root, hadoopConf) {

  /** The `java.nio` path behind `p` when `p` resolves to the local file
    * system, else None.
    */
  private def localFile(p: Path): Option[java.nio.file.Path] =
    p.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem => Some(fs.pathToFile(p).toPath)
      case fs: RawLocalFileSystem => Some(fs.pathToFile(p).toPath)
      case _ => None
    }

  override def createAtomic(
      path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFile(path) match {
      case Some(target) =>
        Files.createDirectories(target.getParent) // as the stock create does
        new LocalCheckpointFileManager.AtomicLocalOutput(target, overwriteIfPossible)
      case None => super.createAtomic(path, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit = localFile(path) match {
    case Some(dir) => Files.createDirectories(dir)
    case None => super.mkdirs(path)
  }

  override def createCheckpointDirectory(): Path = localFile(root) match {
    case Some(dir) =>
      Files.createDirectories(dir)
      root.getFileSystem(hadoopConf).makeQualified(root)
    case None => super.createCheckpointDirectory()
  }
}

object LocalCheckpointFileManager {

  /** Spark's plug-in key for the streaming checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private final class AtomicLocalOutput(
      target: java.nio.file.Path,
      overwrite: Boolean,
      temp: java.nio.file.Path)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {

    def this(target: java.nio.file.Path, overwrite: Boolean) =
      this(target, overwrite, target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID()}.tmp"))

    private var terminated = false

    private def crc = target.resolveSibling(s".${target.getFileName}.crc")

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            if (Files.exists(target)) throw alreadyExists()
            Files.deleteIfExists(crc)
            // the link is the atomic check: it fails if a concurrent
            // writer published the target since the line above
            try Files.createLink(target, temp)
            catch { case _: java.nio.file.FileAlreadyExistsException => throw alreadyExists() }
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case _: IOException => () }
        finally Files.deleteIfExists(temp)
      }
    }

    private def alreadyExists() = new FileAlreadyExistsException(s"$target already exists")
  }
}
