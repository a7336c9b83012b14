package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] served entirely from the store's own manifest
  * metadata — the read-path twin of [[FsListing]]'s nio fast path.
  *
  * Why it exists: `InMemoryFileIndex` re-lists every root through the
  * Hadoop FileSystem and wraps each file in a `LocatedFileStatus`,
  * which materializes the file's PERMISSIONS — on a local filesystem
  * without the native Hadoop library that is one `ls -ld` fork PER
  * FILE (~3–4 ms each, measured): a 150-file table paid ~0.5 s of
  * driver forks on EVERY read. The manifest already names the exact
  * live files, and the read path already stats them (driver-side
  * java.nio, microseconds) to build the schema-cache key — this index
  * reuses those (path, length, mtime) triples and never touches the
  * Hadoop listing at all.
  *
  * Scope: FLAT commit groups only (every file directly under its
  * commit dir — no hive `k=v` partition dirs), so the partition
  * schema is empty by construction and no partition-value inference
  * is skipped. Hive-partitioned groups (ANN inverted lists,
  * partitioned tables) index through `GraftManifestIndex`, fed the
  * same statuses, for Spark's own partition resolution.
  *
  * Semantics: identical file set, lengths and mtimes as the listing
  * would produce (same rendering — manifest lines are the qualified
  * `file:/...` strings [[FsListing]] emitted at commit time), so
  * schema-cache keys, `_metadata` columns, split sizing and
  * `sizeInBytes`-driven broadcast decisions are unchanged. */
private[lake] final class ManifestFileIndex(
    metas: Seq[(String, Long, Long)]) extends FileIndex {

  private val statuses: Seq[FileStatus] = metas.map { case (p, len, mt) =>
    // plain FileStatus: permission/owner/group take Hadoop's defaults
    // WITHOUT the lazy `ls -ld` load a RawLocalFileSystem status does
    new FileStatus(len, false, 1, 128L * 1024 * 1024, mt, new Path(p))
  }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def partitionSchema: StructType = StructType(Nil)
  override def inputFiles: Array[String] = metas.map(_._1).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = metas.map(_._2).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))

  /** The statuses, for schema-cache keying / inference — the same
    * shape `InMemoryFileIndex.allFiles()` serves. */
  def allFiles: Seq[FileStatus] = statuses
}
