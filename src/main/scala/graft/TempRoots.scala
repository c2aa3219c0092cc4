package graft

import java.nio.file.{Files, Path}

/** Per-JVM temp roots deleted at JVM exit: one static set and ONE
  * lazily-installed shutdown hook for every caller. A root is enrolled
  * the moment it is created, so a failure path between creation and
  * use cannot leak a half-staged tree. `File.deleteOnExit` is no
  * substitute: it silently skips a directory that is not empty.
  */
object TempRoots {
  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val reaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      roots.forEach(p => deleteRecursively(p.toFile))))

  /** A fresh directory under `java.io.tmpdir`, removed with its contents
    * when the JVM exits. */
  def create(prefix: String): Path = {
    val root = Files.createTempDirectory(prefix)
    roots.add(root)
    reaper
    root
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
