package graft.source

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata, OffsetSeq, OffsetSeqLog, OffsetSeqMetadata}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `java.nio` checkpoint file manager keeps the stock manager's
  * contract: atomic publish, no-overwrite refusal with Hadoop's exception
  * (and so `HDFSMetadataLog`'s concurrent-writer guard), cancel, temp
  * names that are not batch files, and the offset WAL and commit log
  * formats.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with SparkTestSession {

  private def newDir(): NioPath = Files.createTempDirectory("cfm")

  private def manager(dir: NioPath, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def publish(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      out.write(text.getBytes(UTF_8))
      out.close()
    } catch {
      case e: Throwable =>
        out.cancel()
        throw e
    }
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def read(p: NioPath) = new String(Files.readAllBytes(p), UTF_8)

  private def withLocalManager[T](body: => T): T =
    withSessionConf(LocalCheckpointFileManager.ConfKey,
      Some(classOf[LocalCheckpointFileManager].getName))(body)

  private class Offsets(dir: String) extends OffsetSeqLog(spark, dir) {
    def manager: CheckpointFileManager = fileManager
    def pathOf(batchId: Long): Path = batchIdToPath(batchId)
    /** The write `add` makes, without `add`'s check for an existing batch:
      * what a second query on the same checkpoint does when it loses the
      * race for a batch id.
      */
    def writeBatch(batchId: Long, text: String): Unit =
      write(batchIdToPath(batchId), _.write(text.getBytes(UTF_8)))
  }

  test("a no-overwrite create of an existing path fails and keeps the first bytes") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    publish(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      publish(fm, p, "second", overwrite = false)
    }
    assert(read(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"), "no temp file is left behind")
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = newDir()
    val out = manager(dir).createAtomic(new Path(dir.resolve("0").toUri), false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size == 1, "the bytes go to a temp file first")
    out.cancel()
    out.close() // a cancelled stream publishes nothing on close
    assert(names(dir).isEmpty)
  }

  test("an overwrite replaces the file and drops a stale .crc sibling") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("metadata").toUri)
    // a checksummed Hadoop write leaves a checksum of the old bytes; the
    // checksummed read of the new bytes below would fail on it if it stayed
    val local = FileSystem.getLocal(new Configuration())
    val old = local.create(p)
    try old.write("old".getBytes(UTF_8)) finally old.close()
    assert(names(dir) == Set("metadata", ".metadata.crc"))
    publish(fm, p, "new", overwrite = true)
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new")
    finally in.close()
    assert(names(dir) == Set("metadata"))
  }

  test("no temp name parses as a batch id") {
    val dir = newDir()
    withLocalManager {
      val log = new Offsets(dir.toString)
      assert(log.manager.isInstanceOf[LocalCheckpointFileManager])
      log.add(0L, OffsetSeq.fill(SerializedOffset("{}")))
      val inFlight = log.manager.createAtomic(log.pathOf(1L), false)
      try {
        inFlight.write("v1\n".getBytes(UTF_8))
        val temps = names(dir) - "0"
        assert(temps.size == 1 && temps.forall(_.startsWith(".")), s"files: ${names(dir)}")
        assert(temps.forall(n => scala.util.Try(n.toLong).isFailure))
        assert(log.listBatchesOnDisk.toSeq == Seq(0L))
        assert(log.getLatestBatchId().contains(0L))
      } finally inFlight.cancel()
    }
  }

  test("a path that does not resolve to the local file system goes to the stock manager") {
    val dir = newDir()
    val conf = new Configuration()
    // a scheme-less path on a default file system that is not local: a
    // view file system whose one mount happens to be a local directory
    conf.set("fs.viewfs.mounttable.default.link./ck", dir.toUri.toString)
    conf.set("fs.defaultFS", "viewfs:///")
    val fm = new LocalCheckpointFileManager(new Path("/ck"), conf)
    val out = fm.createAtomic(new Path("/ck/0"), false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    out.write("via the stock manager".getBytes(UTF_8))
    out.close()
    assert(read(dir.resolve("0")) == "via the stock manager")
    // the same scheme-less path on a local default file system is ours
    val local = manager(dir).createAtomic(new Path(dir.resolve("1").toString), false)
    try assert(!local.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    finally local.cancel()
  }

  test("OffsetSeqLog and CommitLog round-trip; the concurrent-writer guard still fires") {
    val dir = newDir()
    val offsetJson = ShardedStreamOffset(Map("events" -> Map("shard-0" -> 9L))).json()
    withLocalManager {
      val offsets = new Offsets(dir.resolve("offsets").toString)
      val commits = new CommitLog(spark, dir.resolve("commits").toString)
      val meta = OffsetSeqMetadata(0L, 1700000000000L, Map("k" -> "v"))
      assert(offsets.add(0L, OffsetSeq(Seq(Some(SerializedOffset(offsetJson))), Some(meta))))
      assert(commits.add(0L, CommitMetadata(5L)))

      // fresh instances read from disk, not from the writers' caches
      val back = new OffsetSeqLog(spark, dir.resolve("offsets").toString).get(0L).get
      assert(back.offsets.map(_.map(_.json)) == Seq(Some(offsetJson)))
      assert(back.metadata.map(m => (m.batchWatermarkMs, m.batchTimestampMs)) ==
        Some((0L, 1700000000000L)))
      assert(new CommitLog(spark, dir.resolve("commits").toString)
        .get(0L).map(_.nextBatchWatermarkMs).contains(5L))
      // the stock manager's formats and names, without its .crc files
      assert(names(dir.resolve("offsets")) == Set("0"))
      assert(names(dir.resolve("commits")) == Set("0"))

      // a second writer of batch 0 is refused, and the first entry stays
      val rival = new Offsets(dir.resolve("offsets").toString)
      assert(!rival.add(0L, OffsetSeq.fill(SerializedOffset("{}"))))
      val e = intercept[Exception] {
        rival.writeBatch(0L, "v1\n{}\n{}")
      }
      assert(e.getMessage.contains("Multiple streaming queries are concurrently using"), e)
      assert(e.getCause.isInstanceOf[FileAlreadyExistsException], e)
      assert(new OffsetSeqLog(spark, dir.resolve("offsets").toString)
        .get(0L).get.offsets.map(_.map(_.json)) == Seq(Some(offsetJson)))
      assert(names(dir.resolve("offsets")) == Set("0"))
    }
  }
}
