package graft.table

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

/** The one way crawl state reaches disk: the bytes go to a uniquely named
  * sibling tmp file (`<name>.<uuid>.tmp`), which is then published under
  * the final name in one step — a reader sees the old file, the new file or
  * no file, never a torn one. The tmp name is unique per call, so
  * concurrent writers of one target (pipelined epochs, speculative task
  * attempts, other processes) never share a tmp file.
  *
  * Two modes:
  *  - [[replace]]: the last writer wins (`rename(2)`). The `current`
  *    pointer, stage markers, `bloom-meta.json` and the shard sidecars.
  *  - [[createExclusive]]: the first writer wins (`link(2)`). Snapshot
  *    manifests `v<id>.json` and `shard-count`. Rename cannot do this: on
  *    POSIX it replaces an existing target even when REPLACE_EXISTING is
  *    not passed; a hard link never does.
  */
object AtomicFile {

  /** Atomically set `dest`'s content to `bytes`, replacing any old file. */
  def replace(dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = writeTmp(dest, bytes)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomically create `dest` holding `bytes`. If `dest` already exists
    * this throws [[java.nio.file.FileAlreadyExistsException]] and leaves
    * the existing file's bytes untouched. */
  def createExclusive(dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = writeTmp(dest, bytes)
    try Files.createLink(dest, tmp) finally Files.delete(tmp)
  }

  private def writeTmp(dest: Path, bytes: Array[Byte]): Path = {
    Files.createDirectories(dest.getParent)
    val tmp = dest.resolveSibling(s"${dest.getFileName}.${UUID.randomUUID}.tmp")
    Files.write(tmp, bytes)
    tmp
  }
}
