package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFileManager]]: Spark's temp-file-then-publish
  * contract on `file:` paths without starting a process, interoperable
  * with the `.crc` sidecars Spark's stock local manager leaves behind. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-cfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def file(dir: java.nio.file.Path, name: String) = new Path(dir.resolve(name).toUri)

  private def write(m: CheckpointFileManager, p: Path, body: String,
                    overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    try out.write(body.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a second no-overwrite write of batch N fails and leaves the first file byte-identical") {
    val (dir, m) = fresh()
    write(m, file(dir, "7"), "first")
    val before = Files.readAllBytes(dir.resolve("7"))
    intercept[FileAlreadyExistsException](write(m, file(dir, "7"), "second, longer"))
    assert(Files.readAllBytes(dir.resolve("7")).sameElements(before))
    assert(read(m, file(dir, "7")) === "first")
    assert(names(dir) === Set("7"), "the refused write left a temp file behind")
  }

  test("an overwrite write replaces the file atomically: a reader sees the old or the new body, never a gap") {
    val (dir, m) = fresh()
    val bodies = (0 until 200).map(i => s"v$i-" + ("x" * (i * 37 % 4000)))
    val target = dir.resolve("state.delta")
    write(m, file(dir, "state.delta"), bodies.head, overwrite = true)
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => while (!done) {
      try seen.add(new String(Files.readAllBytes(target), UTF_8))
      catch { case _: NoSuchFileException => seen.add("<missing>") }
    })
    reader.start()
    bodies.tail.foreach(b => write(m, file(dir, "state.delta"), b, overwrite = true))
    done = true
    reader.join()
    val valid = bodies.toSet
    assert(seen.asScala.forall(valid), seen.asScala.find(!valid(_)).map(_.take(40)))
    assert(read(m, file(dir, "state.delta")) === bodies.last)
    assert(names(dir) === Set("state.delta"))
  }

  test("cancel() leaves no temp file and publishes nothing") {
    val (dir, m) = fresh()
    val out = m.createAtomic(file(dir, "3"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "the write did not go through a temp file")
    out.cancel()
    out.cancel() // idempotent, as Spark's own stream is
    assert(names(dir).isEmpty)
    assert(!m.exists(file(dir, "3")))
  }

  test("delete removes the .crc sidecar the stock manager wrote") {
    val (dir, m) = fresh()
    write(m.stock, file(dir, "0"), "stock")
    assert(names(dir) === Set("0", ".0.crc"), "Spark's stock local manager no longer writes sidecars")
    m.delete(file(dir, "0"))
    assert(names(dir).isEmpty)
    m.delete(file(dir, "0")) // missing is not an error
  }

  test("a stale .N.crc cannot make a freshly written N unreadable") {
    // Hadoop's LocalFileSystem writes real checksums and verifies them on read
    val checksummed = FileSystem.getLocal(conf)
    def readChecked(p: Path): String = {
      val in = checksummed.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    Seq(false, true).foreach { overwrite =>
      val (dir, m) = fresh()
      val old = checksummed.create(file(dir, "5"))
      old.write("old body".getBytes(UTF_8))
      old.close()
      val staleCrc = Files.readAllBytes(dir.resolve(".5.crc"))
      // e.g. a batch file removed by hand to rewind, sidecar left behind
      if (!overwrite) Files.delete(dir.resolve("5"))
      write(m, file(dir, "5"), "fresh", overwrite)
      assert(names(dir) === Set("5"))
      assert(read(m, file(dir, "5")) === "fresh")
      assert(readChecked(file(dir, "5")) === "fresh")
      // the hazard being guarded: put back, the old sidecar fails the read
      Files.write(dir.resolve(".5.crc"), staleCrc)
      intercept[ChecksumException](readChecked(file(dir, "5")))
    }
  }

  test("a non-file: path is handed to Spark's stock manager") {
    val c = new Configuration()
    c.set("fs.graftalt.impl", classOf[AltSchemeFileSystem].getName)
    c.setBoolean("fs.graftalt.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-cfm-alt")
    val root = new Path(s"graftalt://${dir.toUri.getPath}")
    val m = new LocalCheckpointFileManager(root, c)
    assert(!m.writesLocally)
    // no AbstractFileSystem for the scheme: Spark falls back to its
    // FileSystem-based manager, exactly as without this class
    assert(m.stock.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val renames = AltSchemeFileSystem.renames.get
    write(m, new Path(root, "0"), "via hadoop")
    assert(AltSchemeFileSystem.renames.get === renames + 1)
    assert(read(m, new Path(root, "0")) === "via hadoop")
    // and a file: root keeps Spark's FileContext manager for reads
    assert(fresh()._2.stock.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  /** Process starts on this thread while `body` runs (JFR `jdk.ProcessStart`). */
  private def processStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-cfm", ".jfr")
    try {
      rec.dump(dump)
      val me = Thread.currentThread().getId
      RecordingFile.readAllEvents(dump).asScala
        .count(e => e.getThread != null && e.getThread.getJavaThreadId == me)
    } finally { rec.close(); Files.delete(dump) }
  }

  test("the local write path starts no process") {
    val (dir, m) = fresh()
    def cycle(fm: CheckpointFileManager, tag: String): Unit = {
      val sub = file(dir, tag)
      fm.mkdirs(sub)
      (0 until 3).foreach(i => write(fm, new Path(sub, i.toString), s"batch $i"))
      write(fm, new Path(sub, "state"), "a", overwrite = true)
      write(fm, new Path(sub, "state"), "b", overwrite = true)
      fm.delete(new Path(sub, "0"))
    }
    cycle(m, "warm") // class loading outside the recording
    assert(processStarts(cycle(m, "engine")) === 0)
    // the premise: without native libhadoop the stock manager forks
    // chmod/readlink on the same cycle
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(processStarts(cycle(m.stock, "stock")) > 0)
  }
}

/** A local file system under its own scheme, counting renames. */
class AltSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftalt:///")
  override def getScheme: String = "graftalt"
  override def rename(src: Path, dst: Path): Boolean = {
    AltSchemeFileSystem.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object AltSchemeFileSystem {
  val renames = new AtomicInteger()
}
