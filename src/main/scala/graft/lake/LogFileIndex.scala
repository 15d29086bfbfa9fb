package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, unescapePathName}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The files of a chosen set of one table version's dirs, as the file
  * index of one parquet relation: the log names the dirs, so nothing is
  * discovered. A dir's partition values come from its path (`p=v/…`,
  * cast to the recorded `partitionSchema` types; the Hive default
  * partition reads as NULL). Each dir is listed once, on first use.
  *
  * [[listFiles]] prunes at planning time: a dir whose partition values
  * fail the partition filters, or that `mayMatch` rules out for the data
  * filters (the table's stats and bloom checks), is not scanned. The
  * number of dirs kept goes to `scanned`.
  *
  * @param dirs log dir entries with their resolved locations
  * @param list the data files of one dir entry
  */
private[lake] final class LogFileIndex(
    private val dirs: Seq[(String, Path)],
    val partitionSchema: StructType,
    timeZone: String,
    list: String => Seq[FileStatus],
    mayMatch: (Expression, String) => Boolean,
    scanned: Int => Unit) extends FileIndex {

  // a path value reads as Spark's own partition discovery reads it under a
  // given schema: unescaped, then cast to the column's type
  private lazy val listed: Seq[(String, InternalRow, Seq[FileStatus])] =
    dirs.map { case (d, _) =>
      val kv = TableLog.partOf(d).split("/").filter(_.nonEmpty)
        .map(_.split("=", 2)).collect { case Array(k, x) => k.toLowerCase -> x }.toMap
      val values = InternalRow.fromSeq(partitionSchema.fields.toSeq.map(f =>
        kv.get(f.name.toLowerCase).filter(_ != DEFAULT_PARTITION_NAME).map(x =>
          Cast(Literal(unescapePathName(x)), f.dataType, Some(timeZone)).eval()).orNull))
      (d, values, list(d))
    }

  def rootPaths: Seq[Path] = dirs.map(_._2)

  def inputFiles: Array[String] = listed.flatMap(_._3.map(_.getPath.toString)).toArray

  def sizeInBytes: Long = listed.map(_._3.map(_.getLen).sum).sum

  def refresh(): Unit = ()

  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val inPartition: InternalRow => Boolean =
      partitionFilters.reduceOption(And).fold((_: InternalRow) => true) { p =>
        Predicate.createInterpreted(p.transform { case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }).eval
      }
    val data = dataFilters.reduceOption(And)
    val kept = listed.filter { case (d, values, _) =>
      inPartition(values) && data.forall(mayMatch(_, d))
    }
    scanned(kept.length)
    kept.map { case (_, values, files) => PartitionDirectory(values, files.toArray) }
  }

  // equal dir sets read equal files: two reads of the same version share
  // a cached plan, as two path-based parquet reads of the same dirs do
  override def equals(o: Any): Boolean = o match {
    case x: LogFileIndex => x.dirs == dirs && x.partitionSchema == partitionSchema
    case _ => false
  }

  override def hashCode: Int = dirs.hashCode
}
