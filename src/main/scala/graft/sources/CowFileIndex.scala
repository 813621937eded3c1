package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** A [[FileIndex]] over a known set of COW trees, fed from a manifest
  * instead of a directory crawl. Each tree is one partition whose
  * values are `_cs_lww` (the tree's last-writer-wins rank: its
  * `src_gen` for a delta, 0 for a base) and `_cs_dead` (a tombstone
  * tree), so one relation reads every tree of a read and the merge
  * ranks on a column rather than on per-tree literals.
  *
  * The files are listed once, at construction, on the driver: one
  * non-recursive listing of each leaf directory with
  * [[TinyParquet.dataFileStatuses]]. Nothing is discovered by a
  * Spark job however many trees a read spans, and the file set is
  * fixed when the frame is built, as the store's reader contract
  * requires. Trees are immutable once committed, so [[refresh]] has
  * nothing to do.
  */
private[graft] final class CowFileIndex(spark: SparkSession,
    trees: Seq[CowFileIndex.Tree]) extends FileIndex {

  private val partitions: Seq[PartitionDirectory] = trees.map { t =>
    PartitionDirectory(InternalRow(t.lww, t.dead),
      TinyParquet.dataFileStatuses(spark, t.dir)
        .map(FileStatusWithMetadata(_)))
  }

  override def rootPaths: Seq[Path] = trees.map(t => new Path(t.dir))

  override def partitionSchema: StructType = CowFileIndex.partitionSchema

  /** The trees whose partition values satisfy every filter. Exact, not
    * a superset: Spark's file-source strategy does not re-apply
    * partition-only filters after the scan.
    */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val fields = partitionSchema.fields
      val resolver = spark.sessionState.conf.resolver
      val keep = Predicate.createInterpreted(
        partitionFilters.reduceLeft(And).transform {
          case a: AttributeReference =>
            val i = fields.indexWhere(f => resolver(f.name, a.name))
            require(i >= 0,
              s"CowFileIndex: ${a.name} is not a partition column")
            BoundReference(i, fields(i).dataType, fields(i).nullable)
        })
      partitions.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
}

private[graft] object CowFileIndex {

  /** One tree of a read: its leaf directory and partition values. */
  final case class Tree(dir: String, lww: Long, dead: Boolean)

  val partitionSchema: StructType = StructType(Seq(
    StructField("_cs_lww", LongType, nullable = false),
    StructField("_cs_dead", BooleanType, nullable = false)))

  /** One parquet relation over `trees`: the columns of `dataSchema`
    * (made nullable at every depth, as a file source reads them, so a
    * column a tree lacks reads as null) followed by `_cs_lww` and
    * `_cs_dead`.
    */
  def read(spark: SparkSession, dataSchema: StructType,
      trees: Seq[Tree]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new CowFileIndex(spark, trees), partitionSchema,
      TinyParquet.asNullable(dataSchema).asInstanceOf[StructType], None,
      new ParquetFileFormat, Map.empty)(spark))
}
