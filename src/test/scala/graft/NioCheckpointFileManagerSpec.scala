package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NioCheckpointFileManager

/** The fail-if-exists contract of checkpoint commits: HDFSMetadataLog
  * writes every batch file with overwriteIfPossible=false and relies on
  * FileAlreadyExistsException to detect a second writer. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def withManager(body: (NioCheckpointFileManager, java.nio.file.Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("nio-ckpt")
    try body(new NioCheckpointFileManager(new Path(dir.toUri), new Configuration()), dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def write(fm: NioCheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("writing the same batch twice without overwrite fails and keeps the first commit") {
    withManager { (fm, dir) =>
      val batch = new Path(dir.resolve("offsets/0").toUri)
      write(fm, batch, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, batch, "second", overwrite = false))
      assert(Files.readString(dir.resolve("offsets/0"), UTF_8) === "first")
      assert(Files.list(dir.resolve("offsets")).iterator().asScala.map(_.getFileName.toString).toSeq === Seq("0"),
        "the losing writer's temp file must not be left behind")
    }
  }

  test("overwriteIfPossible replaces the target") {
    withManager { (fm, dir) =>
      val batch = new Path(dir.resolve("commits/0").toUri)
      write(fm, batch, "first", overwrite = false)
      write(fm, batch, "second", overwrite = true)
      assert(Files.readString(dir.resolve("commits/0"), UTF_8) === "second")
      assert(Files.list(dir.resolve("commits")).count() === 1L)
    }
  }
}
