package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Test fixtures on disk, and the scratch files tests write. */
object TestFiles {

  /** The hand-computable API-log corpus (FIXTURES.md §6). */
  val tinyApiLogs: Path = Paths.get("src/test/resources/tiny_api_logs")
    .toAbsolutePath

  /** Every scratch path handed out, deleted with its contents when the
    * test JVM exits. */
  private val made = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(p => deleteTree(p))))

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p)
        catch { case _: java.io.IOException => }
      } finally paths.close()
    }

  /** A fresh temporary directory, removed when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  /** A fresh temporary file, removed when the test JVM exits. */
  def tempFile(prefix: String, suffix: String): Path = {
    val file = Files.createTempFile(prefix, suffix)
    made.add(file)
    file
  }

  /** A fresh temporary copy of the tree at `src`: a corpus at a new
    * path, which no plan cached by an earlier test can serve. */
  def copyOf(src: Path): Path = {
    val dst = tempDir("graft_copy_")
    Files.walk(src).forEach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    dst
  }
}
