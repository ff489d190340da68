package graft.table

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** [[FileIndex]] over a snapshot manifest's file entries: the "file
  * listing" of a scan is an array filter over entries recorded at commit
  * time, so a read costs no directory listing at any chain length (past 32
  * directories Spark's own listing is a distributed job). Partition
  * pruning arrives as Catalyst partition filters on the zero or one int
  * partition column and is evaluated per partition value in memory.
  *
  * Equal by file set, as `InMemoryFileIndex` is by root paths: two reads
  * of one snapshot are equal relations, so exchange reuse and cache lookups
  * match them. */
private[table] final class ManifestFileIndex(
    dirs: Seq[HPath],
    override val partitionSchema: StructType,
    byPartition: Seq[(Int, Array[FileStatus])]) extends FileIndex {
  require(partitionSchema.length <= 1 &&
    partitionSchema.forall(_.dataType == IntegerType),
    s"at most one int partition column, got $partitionSchema")

  private lazy val files: Set[String] =
    byPartition.flatMap(_._2.map(_.getPath.toString)).toSet

  override def rootPaths: Seq[HPath] = dirs

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, byPartition.flatMap(_._2).toArray))
    else {
      val kept =
        if (partitionFilters.isEmpty) byPartition
        else {
          // the filters reference the one partition attribute: bind it to
          // ordinal 0 of a one-column row and evaluate per partition value
          val col = partitionSchema.head
          val pred = Predicate.create(partitionFilters.reduce(And(_, _)).transform {
            case a: Attribute if a.name == col.name =>
              BoundReference(0, IntegerType, col.nullable)
          })
          pred.initialize(0)
          byPartition.filter { case (k, _) => pred.eval(InternalRow(k)) }
        }
      kept.map { case (k, fs) => PartitionDirectory(InternalRow(k), fs) }
    }

  override def inputFiles: Array[String] = files.toArray.sorted

  override def refresh(): Unit = () // snapshots are immutable

  override def sizeInBytes: Long = byPartition.flatMap(_._2.map(_.getLen)).sum

  override def equals(other: Any): Boolean = other match {
    case i: ManifestFileIndex => files == i.files && partitionSchema == i.partitionSchema
    case _ => false
  }

  override def hashCode(): Int = files.hashCode
}
