package graft.ingest

import graft.{Fixtures, SparkSpec}
import graft.codec.BlockCodec
import graft.model._
import graft.streaming.StreamIngest
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** A store routes the `file` scheme through the fork-free local file
  * system: same modes and link statuses as Hadoop's, and no child process
  * anywhere on the ingest path. */
class ForkFreeLocalFsSpec extends SparkSpec {
  import Fixtures._

  private def openStore() = new TableStore(spark, tmpDir("graft-forkfree-store"), nBuckets = 4)
  private def conf = spark.sparkContext.hadoopConfiguration
  private val local = new URI("file:///")

  test("FileSystem and FileContext resolve the file scheme to the fork-free classes") {
    openStore()
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    openStore() // a second store installs nothing new
    assert(conf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
  }

  test("setPermission sets exactly the requested mode") {
    openStore()
    val fs = FileSystem.get(local, conf)
    val f = Files.createTempFile("graft-forkfree", ".bin")
    try {
      Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------", "660" -> "rw-rw----")
        .foreach { case (octal, want) =>
          fs.setPermission(new Path(f.toString), new FsPermission(Integer.parseInt(octal, 8).toShort))
          assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == want, octal)
        }
    } finally Files.delete(f)
  }

  test("a symlink still reports isSymlink; a plain file does not") {
    openStore()
    val fs = FileSystem.get(local, conf)
    val dir = Paths.get(tmpDir("graft-forkfree-link"))
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("applyBlocks and a StreamIngest drain start no child process") {
    import spark.implicits._
    val store = openStore()
    BlockIngest.initGenesis(store, Seq((A, 1000L, "{}")), "forkfree-net")
    val inDir = tmpDir("graft-forkfree-in")
    Files.writeString(Paths.get(inDir, "round-000000000001.json"), BlockCodec.blockToJson(
      block(1, Vector(pay(B, A, 2)), delta = LedgerDelta(accounts = Vector(acctUpsert(B, 501))))))

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      BlockIngest.applyBlocks(store, Seq(BlockCodec.blockToJson(
        block(0, Vector(pay(A, B, 1)), delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999)))))).toDS())
      StreamIngest.start(spark, store, inDir, tmpDir("graft-forkfree-ck")).awaitTermination(60000)
    } finally rec.stop()
    val dump = Files.createTempFile("graft-forkfree", ".jfr")
    try {
      rec.dump(dump)
      val forks = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      assert(store.nextRound == 2)
      assert(forks.isEmpty, s"${forks.size} child processes, e.g. ${forks.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }
}
