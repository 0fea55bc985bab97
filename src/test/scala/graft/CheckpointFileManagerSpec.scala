package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** `LocalCheckpointFileManager`: the publish-by-rename contract Spark's
  * offset and commit logs rely on. A real restart through it is
  * `ShardedSourceSpec`'s kill + restart case, next to its fixture.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private def fixture(): (NioPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-cfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toString), new Configuration()))
  }

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(m: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic publishes the file only on close") {
    val (dir, m) = fixture()
    val p = new Path(dir.toString, "0")
    val out = m.createAtomic(p, false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(p) && !names(dir).contains("0"))
    out.close()
    assert(m.exists(p) && read(m, p) == "v1")
    assert(names(dir) == Set("0"), "the temp file must be gone")
    write(m, p, "v2", overwrite = true)
    assert(read(m, p) == "v2")
  }

  test("a no-overwrite createAtomic onto an existing file raises and keeps its bytes") {
    val (dir, m) = fixture()
    val p = new Path(dir.toString, "0")
    write(m, p, "old")
    intercept[FileAlreadyExistsException](write(m, p, "new"))
    assert(read(m, p) == "old")
    assert(names(dir) == Set("0"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val (dir, m) = fixture()
    val p = new Path(dir.toString, "0")
    val out = m.createAtomic(p, false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel
    assert(!m.exists(p) && names(dir).isEmpty)
  }

  test("list applies its filter; delete is recursive and quiet on a missing path") {
    val (dir, m) = fixture()
    Seq("0", "1", "2").foreach(n => write(m, new Path(dir.toString, n), n))
    m.mkdirs(new Path(dir.toString, "sub/deeper"))
    val odd: PathFilter = p => p.getName != "sub" && p.getName.toInt % 2 == 1
    val listed = m.list(new Path(dir.toString), odd)
    assert(listed.map(_.getPath.getName).toSeq == Seq("1"))
    assert(listed.head.getLen == 1L && !listed.head.isDirectory)
    assert(m.list(new Path(dir.toString)).map(_.getPath.getName).toSet == Set("0", "1", "2", "sub"))
    m.delete(new Path(dir.toString, "sub"))
    m.delete(new Path(dir.toString, "missing"))
    assert(names(dir) == Set("0", "1", "2"))
  }
}
