package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The publish primitive's contract, step by step, on the local file
  * system; [[CommitCrashSpec]] proves it under the program's own runs. */
class CommitSpec extends AnyFunSuite {

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def tmp(): String = Files.createTempDirectory("graft_commit").toString

  private def put(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text): Unit
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    }
  }

  test("add publishes the pending path or a file in it, and deletes the pending path") {
    val dir = tmp()
    Commit.add(fs, new Path(s"$dir/_pending_v1")) { p =>
      put(s"$p/part-0", "a"); p
    }(_ => new Path(s"$dir/v1"))
    Commit.add(fs, new Path(s"$dir/_pending_b2")) { p =>
      put(s"$p/part-0", "b"); put(s"$p/_SUCCESS", ""); new Path(s"$p/part-0")
    }(part => new Path(s"$dir/gen-b2-${part.getName}"))
    assert(tree(dir) == Map("v1/part-0" -> "a".getBytes.toSeq,
      "gen-b2-part-0" -> "b".getBytes.toSeq))
  }

  test("add onto an existing target throws and leaves the target unchanged, " +
      "with nothing nested in it") {
    val dir = tmp()
    put(s"$dir/v1/part-0", "old")
    val before = tree(s"$dir/v1")
    intercept[IllegalStateException] {
      Commit.add(fs, new Path(s"$dir/_pending_v1")) { p =>
        put(s"$p/part-0", "new"); p
      }(_ => new Path(s"$dir/v1"))
    }
    assert(tree(s"$dir/v1") == before)
    assert(!Files.exists(Paths.get(s"$dir/v1/_pending_v1")))
    assert(!Files.exists(Paths.get(s"$dir/_pending_v1")))
  }

  test("add whose write throws leaves no pending path") {
    val dir = tmp()
    put(s"$dir/_pending_v2/stale", "a leftover of a crashed add")
    val e = intercept[RuntimeException] {
      Commit.add(fs, new Path(s"$dir/_pending_v2")) { p =>
        assert(!Files.exists(Paths.get(s"$p/stale")), "the leftover was not deleted first")
        put(s"$p/part-0", "half")
        throw new RuntimeException("write fails")
      }(_ => new Path(s"$dir/v2"))
    }
    assert(e.getMessage == "write fails")
    assert(tree(dir).isEmpty)
  }

  test("replace swaps in the new copy and leaves no backup or pending copy; " +
      "a failed write leaves the target as it was") {
    val dir = tmp()
    val target = new Path(s"$dir/t")
    Commit.replace(fs, target)(p => put(s"$p/part-0", "one"))
    Commit.replace(fs, target)(p => put(s"$p/part-1", "two"))
    assert(tree(dir) == Map("t/part-1" -> "two".getBytes.toSeq))
    intercept[RuntimeException] {
      Commit.replace(fs, target) { p =>
        put(s"$p/part-2", "half")
        throw new RuntimeException("write fails")
      }
    }
    assert(tree(dir) == Map("t/part-1" -> "two".getBytes.toSeq))
  }

  test("recover with only <target>_old present restores it") {
    val dir = tmp()
    put(s"$dir/t_old/part-0", "whole")
    Commit.recover(fs, new Path(s"$dir/t"))
    assert(tree(dir) == Map("t/part-0" -> "whole".getBytes.toSeq))
  }

  test("recover with both present deletes the stale backup and keeps the target") {
    val dir = tmp()
    put(s"$dir/t/part-1", "new")
    put(s"$dir/t_old/part-0", "old")
    Commit.recover(fs, new Path(s"$dir/t"))
    assert(tree(dir) == Map("t/part-1" -> "new".getBytes.toSeq))
    // and with neither present it does nothing
    Commit.recover(fs, new Path(s"$dir/missing"))
    assert(tree(dir).keySet == Set("t/part-1"))
  }

  test(".rename( and renameTo( appear in exactly one main source file: the primitive") {
    val root = Paths.get("src/main/scala")
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val hits = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala.filter(Files.isRegularFile(_)).filter { p =>
        val code = comments.replaceAllIn(Files.readString(p), "")
        code.contains(".rename(") || code.contains("renameTo(")
      }.map(root.relativize(_).toString).toList
    }
    assert(hits == List("graft/sources/Commit.scala"))
  }
}
