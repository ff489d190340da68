package graft

import graft.frontier.ShardFiles
import graft.table.{AtomicFile, SnapshotTable}

import java.nio.file.{FileAlreadyExistsException, Files, Path}

import scala.jdk.CollectionConverters._

/** The state layer's one atomic-file helper: create-exclusive must never
  * replace an existing file (rename(2) does, silently), replace must, and
  * neither may leave its tmp behind where expiry cannot find it. */
class AtomicFileSpec extends SparkSpecBase {

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("exclusive write onto an existing file fails and keeps its bytes; replace swaps them") {
    val dir = Files.createTempDirectory("atomicFile")
    val p = dir.resolve("shard-count")
    AtomicFile.createExclusive(p, "8".getBytes)
    assert(new String(Files.readAllBytes(p)) === "8")
    // a second first-builder racing on the same root loses, and the
    // winner's record stays as written
    intercept[FileAlreadyExistsException](AtomicFile.createExclusive(p, "16".getBytes))
    assert(new String(Files.readAllBytes(p)) === "8")
    AtomicFile.replace(p, "16".getBytes)
    assert(new String(Files.readAllBytes(p)) === "16")
    // neither mode leaves a tmp behind, the failed exclusive write included
    assert(names(dir) === Set("shard-count"))
  }

  test("a snapshot manifest is never overwritten; rollback flips the pointer under the commit lock") {
    import spark.implicits._
    val root = Files.createTempDirectory("atomicSnap").toString
    val t = new SnapshotTable(root, spark)
    val v1 = t.commit(Seq(1L).toDF("url_hash"))
    val v2 = t.commit(Seq(2L).toDF("url_hash"))
    val manifest2 = Files.readAllBytes(java.nio.file.Paths.get(root, "snapshots", s"v$v2.json"))
    t.rollbackTo(v1)
    assert(t.currentSnapshotId === Some(v1))
    val v3 = t.commit(Seq(3L).toDF("url_hash"))
    assert(v3 > v2, "a commit after a rollback must allocate past the newest manifest")
    assert(Files.readAllBytes(java.nio.file.Paths.get(root, "snapshots", s"v$v2.json")) === manifest2)
    assert(t.rowCount(v3) === Some(1L) && t.readAt(v2).as[Long].collect().toSeq === Seq(2L))
    intercept[IllegalArgumentException](t.rollbackTo(99L))
  }

  test("a leftover shard tmp maps to its snapshot, so expiry deletes it") {
    import spark.implicits._
    val root = Files.createTempDirectory("atomicTmp").toString
    val t = new SnapshotTable(root, spark)
    val v1 = t.commit(Seq(1L).toDF("url_hash"))
    val v2 = t.commit(Seq(2L).toDF("url_hash"))
    // the name a crashed sidecar write leaves: `<shard file>.<uuid>.tmp`
    def leftover(id: Long): Path = {
      val dest = ShardFiles.path(ShardFiles.Bloom, root, id, 0)
      dest.resolveSibling(s"${dest.getFileName}.${java.util.UUID.randomUUID}.tmp")
    }
    val (tmp1, tmp2) = (leftover(v1), leftover(v2))
    Seq(tmp1, tmp2).foreach(p => Files.write(p, Array[Byte](1)))
    assert(ShardFiles.snapshotOf(tmp1.getFileName.toString) === Some(v1))
    assert(t.expireSnapshots(keepLast = 1) === 1)
    assert(!Files.exists(tmp1), "expiry left the expired snapshot's shard tmp behind")
    assert(Files.exists(tmp2), "expiry deleted a retained snapshot's file")
  }
}
