package graft.sources

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.io.FileOutputStream
import graft.SparkSpec

class ArchiveGitSpec extends SparkSpec {

  private def tmp() = tempDir("graft-arc-").toString

  test("isArchiveFile recognizes the reference's extension list") {
    assert(Archive.isArchiveFile("/a/b/docs.tar.gz"))
    assert(Archive.isArchiveFile("DOCS.ZIP"))
    assert(Archive.isArchiveFile("x.bz2"))
    assert(!Archive.isArchiveFile("readme.md"))
  }

  test("zip extraction round-trips files into nested dirs") {
    val dir = tmp()
    val zipPath = s"$dir/docs.zip"
    val zos = new ZipOutputStream(new FileOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("a/intro.md"))
    zos.write("# Hi\nbody".getBytes("UTF-8")); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("b/c/deep.md"))
    zos.write("## Deep".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    assert(Archive.extract(zipPath, s"$dir/out"))
    assert(Files.readString(Paths.get(s"$dir/out/a/intro.md")) == "# Hi\nbody")
    assert(Files.exists(Paths.get(s"$dir/out/b/c/deep.md")))
  }

  test("zip-slip entries are rejected, extract returns false") {
    val dir = tmp()
    val zipPath = s"$dir/evil.zip"
    val zos = new ZipOutputStream(new FileOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("../escape.md"))
    zos.write("nope".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    assert(!Archive.extract(zipPath, s"$dir/out"))
    assert(!Files.exists(Paths.get(s"$dir/escape.md")))
  }

  test("gz single-file decompression uses the stem name") {
    val dir = tmp()
    val gz = s"$dir/note.md.gz"
    val out = new java.util.zip.GZIPOutputStream(new FileOutputStream(gz))
    out.write("content".getBytes("UTF-8")); out.close()
    assert(Archive.extract(gz, s"$dir/out"))
    assert(Files.readString(Paths.get(s"$dir/out/note.md")) == "content")
  }

  test("unknown extension returns false, no throw") {
    val dir = tmp()
    Files.writeString(Paths.get(s"$dir/x.rar"), "xx")
    assert(!Archive.extract(s"$dir/x.rar", s"$dir/out"))
  }

  test("git shallow clone from a local repo (S7)") {
    val dir = tmp()
    // build a tiny local origin
    import scala.sys.process._
    val origin = s"$dir/origin"
    Files.createDirectories(Paths.get(origin))
    Files.writeString(Paths.get(s"$origin/doc.md"), "# from git")
    assert(Seq("git", "init", "-q", origin).! == 0)
    assert(Process(Seq("git", "-c", "user.email=t@t", "-c", "user.name=t",
      "add", "."), new java.io.File(origin)).! == 0)
    assert(Process(Seq("git", "-c", "user.email=t@t", "-c", "user.name=t",
      "commit", "-qm", "init"), new java.io.File(origin)).! == 0)
    assert(GitSource.cloneRepo(s"file://$origin", s"$dir/clone"))
    assert(Files.readString(Paths.get(s"$dir/clone/doc.md")) == "# from git")
    assert(!GitSource.cloneRepo(s"file://$dir/no-such-repo", s"$dir/clone2"))
  }
}
