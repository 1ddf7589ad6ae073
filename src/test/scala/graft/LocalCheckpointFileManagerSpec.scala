package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.util.LocalCheckpointFileManager

/** The `CheckpointFileManager` contract Spark's offset log, commit log and
  * state store rely on, checked on the fork-free local manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir[A](f: (java.io.File, LocalCheckpointFileManager) => A): A = {
    val dir = Files.createTempDirectory("graft-cfm").toFile
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), TestSpark.spark.sessionState.newHadoopConf())
    try f(dir, fm) finally { fm.close(); FileUtils.deleteQuietly(dir) }
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic: the file is invisible until close, then readable and listed") {
    withDir { (dir, fm) =>
      val p = new Path(dir.toURI.toString, "sub/0")
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8))
      assert(!fm.exists(p))
      out.close()
      assert(fm.exists(p) && read(fm, p) == "v1")
      assert(fm.list(p.getParent).map(_.getPath.getName).toSeq == Seq("0"))
      assert(fm.list(p.getParent).head.getLen == 2)
    }
  }

  test("cancel leaves neither the final file nor the temp file") {
    withDir { (dir, fm) =>
      val p = new Path(dir.toURI.toString, "1")
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(!fm.exists(p))
      assert(dir.list().isEmpty, dir.list().mkString(", "))
    }
  }

  test("overwriteIfPossible = false onto an existing file throws and keeps the old bytes") {
    // HDFSMetadataLog detects a second writer of the same batch this way
    withDir { (dir, fm) =>
      val p = new Path(dir.toURI.toString, "2")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(read(fm, p) == "first")
      assert(dir.list().toSeq == Seq("2"), "the losing writer left its temp file")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("no .crc file is ever written; delete, mkdirs and exists work on the local path") {
    withDir { (dir, fm) =>
      val root = new Path(dir.toURI)
      (0 until 3).foreach(i => write(fm, new Path(root, s"d/$i"), s"$i", overwrite = i % 2 == 0))
      fm.mkdirs(new Path(root, "e/f"))
      assert(fm.exists(new Path(root, "e/f")))
      val all = FileUtils.listFiles(dir, null, true).toArray.map(_.toString)
      assert(all.length == 3 && !all.exists(_.endsWith(".crc")), all.mkString(", "))
      fm.delete(new Path(root, "d"))
      fm.delete(new Path(root, "missing"))
      assert(!fm.exists(new Path(root, "d")))
      assert(fm.createCheckpointDirectory().toString == s"file:${dir.getAbsolutePath}")
      assert(fm.isLocal)
    }
  }

  test("CheckpointFileManager.create on the session's Hadoop conf picks the graft manager for file: paths") {
    val conf = TestSpark.spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(new Path("file:/tmp/graft-cfm-probe"), conf)
    try assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass.getName)
    finally fm.close()
  }
}
