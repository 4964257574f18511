package graft.delta.read

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.delta.AddFile

/** Partition pruning + stats skipping: the per-file pruning rules, for
  * both homes of a file list.
  *
  * [[pruneLocal]] prunes a driver list ([[PartitionUtils.filterFileList]]
  * memoizes the partition predicate per distinct partition value, then
  * [[DataSkipping.filterFiles]]). [[prune]] runs the same conservative
  * per-file evaluation as a `Dataset.filter`, so that at large file
  * counts the pruning itself is a Spark job and only the surviving files
  * ever reach the driver. Catalyst expressions are bound on the driver
  * and shipped in the closure (they are serializable; evaluation is
  * interpreted — metadata-scale rows, not data-scale).
  */
object FilePruning {

  def pruneLocal(
      files: Seq[AddFile],
      partitionSchema: StructType,
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      dataSchema: StructType): Seq[AddFile] =
    DataSkipping.filterFiles(
      PartitionUtils.filterFileList(partitionSchema, files, partitionFilters),
      dataFilters, dataSchema)

  def prune(
      files: Dataset[AddFile],
      partitionSchema: StructType,
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      dataSchema: StructType): Dataset[AddFile] = {
    val keep = keepFile(partitionSchema, partitionFilters, dataFilters, dataSchema)
    files.filter(keep)
  }

  /** A serializable per-file predicate closing over bound expressions
    * and plain schemas only (no SparkSession, no FileIndex). */
  private def keepFile(
      partitionSchema: StructType,
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      dataSchema: StructType): AddFile => Boolean = {
    val bound: Option[Expression] =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) None
      else Some(PartitionUtils.bind(partitionFilters.reduce(And), partitionSchema))
    val types: Map[String, DataType] = DataSkipping.columnTypes(dataSchema)
    val dataF = dataFilters
    val partSchema = partitionSchema
    (f: AddFile) =>
      bound.forall(p =>
        p.eval(PartitionUtils.partitionRow(partSchema, f.partitionValues)) == true) &&
        (dataF.isEmpty || DataSkipping.mayKeep(f, dataF, types))
  }
}
