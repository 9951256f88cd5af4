package graft.util

/** Small filesystem helpers shared by the managed-storage paths
  * (bucketed-table hygiene, FactStore markers and retention, the extract
  * watermark). */
object Fs {

  /** Recursive delete, children before parents; no-op for a missing
    * path. Both callers delete MANAGED directories this library wrote
    * itself — never user data. */
  def deleteRecursively(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(path)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Replace `target`'s content atomically: write a uniquely named dot
    * file in the same directory, then move it into place with
    * ATOMIC_MOVE + REPLACE_EXISTING. A reader or a crash sees the old
    * content or the new one, never a truncated file, and concurrent
    * writers never share a temp file. */
  def writeAtomically(target: java.nio.file.Path, content: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
