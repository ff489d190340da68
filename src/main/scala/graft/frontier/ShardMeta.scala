package graft.frontier

import java.nio.file.{FileAlreadyExistsException, Files, Paths}

import graft.table.AtomicFile

/** Per-root record of the sidecar SHARD COUNT — the fan-out of the
  * partitioned Bloom/cuckoo filters under `root/snapshots/`.
  *
  * Why a first-build PARAMETER and not a constant: the shard count fixes the
  * sidecar file layout ([[ShardFiles]]) and the probe's routing
  * (`shard = url_hash mod S`), so build and probe sides must agree for the
  * life of a root; but the RIGHT value is deployment-sized — shard-routed
  * probing ([[ShardRoute.routeByShard]]) caps a task's resident filter bytes at
  * `totalBits/S`, and purity-with-parallelism needs `S ≥` the cluster's
  * concurrent task slots at 10^10-key scale (a baked-in 16 would cap routed
  * parallelism at 16 tasks). Every sidecar build records S here atomically;
  * re-recording a DIFFERENT value for an existing root fails fast (the
  * OR-merge geometry and file layout cannot change mid-chain — outgrowing a
  * layout means a fresh root, not a resize).
  *
  * Read path (executors, per probe expression INSTANTIATION — resolved once
  * at plan time on the driver and baked into generated code as a constant,
  * never per row): cached per root; roots written before this file existed
  * fall back to the historical constant 16.
  */
private[graft] object ShardMeta {

  /** Fan-out of roots that predate the shard-count record. */
  val LegacyShardCount: Int = 16

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def path(root: String) = Paths.get(root, "snapshots", "shard-count")

  /** Record `s` as `root`'s shard count (atomic, idempotent). A conflicting
    * existing record is a build-discipline bug — fail, never overwrite. */
  def record(root: String, s: Int): Unit = {
    require(s > 0, s"shard count must be positive: $s")
    val p = path(root)
    // create-EXCLUSIVE write: two processes first-building the same shared
    // root can both pass the not-exists check; last-writer-wins would
    // silently record mixed geometry — the exact corruption the fail-fast
    // exists to prevent. The loser keeps the winner's bytes and compares.
    if (!Files.exists(p))
      try AtomicFile.createExclusive(p, s.toString.getBytes)
      catch { case _: FileAlreadyExistsException => () }
    val cur = new String(Files.readAllBytes(p)).trim.toInt
    if (cur != s) throw new IllegalStateException(
      s"shard-count mismatch for $root: recorded $cur, build asked $s — " +
        "sidecar geometry is fixed at first build")
    cache.put(root, s)
  }

  /** Whether `root` has a recorded fan-out yet (uncached — build-time
    * decisions must see the store, not a stale miss). */
  def isRecorded(root: String): Boolean = Files.exists(path(root))

  /** The shard count for `root` (cached; one shared-store read per JVM per
    * root). Missing record = legacy layout = 16. */
  def countFor(root: String): Int = {
    val hit = cache.get(root)
    if (hit != null) hit.intValue()
    else {
      val s =
        if (Files.exists(path(root)))
          new String(Files.readAllBytes(path(root))).trim.toInt
        else LegacyShardCount
      cache.put(root, s)
      s
    }
  }
}
