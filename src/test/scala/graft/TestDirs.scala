package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch dirs for the suites: a fresh temp dir under `target/` of the
  * working directory (sbt forks the tests in the build's base
  * directory), so the suites run from any checkout of the repo. The
  * root is the REAL path, so stripping the canonical working directory
  * off a scratch path leaves a relative path.
  */
object TestDirs {
  def temp(prefix: String): Path =
    Files.createTempDirectory(
      Files.createDirectories(Paths.get("target")).toRealPath(), prefix)
}
