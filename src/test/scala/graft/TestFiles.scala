package graft

import java.nio.file.{Files, Path, Paths}

/** Test fixtures on disk. */
object TestFiles {

  /** The hand-computable API-log corpus (FIXTURES.md §6). */
  val tinyApiLogs: Path = Paths.get("src/test/resources/tiny_api_logs")
    .toAbsolutePath

  /** A fresh temporary copy of the tree at `src`: a corpus at a new
    * path, which no plan cached by an earlier test can serve. */
  def copyOf(src: Path): Path = {
    val dst = Files.createTempDirectory("graft_copy_")
    Files.walk(src).forEach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    dst
  }
}
