package graft.delta.write

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

import graft.delta.Metadata

/** Generated columns (the protocol's `delta.generationExpression` column
  * metadata; writer-protocol-4 feature). The canonical 100 TB use: a
  * `day` partition column generated from an event timestamp — writers
  * append raw events, the engine computes the partition value, and scans
  * prune on it.
  *
  *  - a write MISSING a generated column gets it computed
  *    ([[materialize]], append paths);
  *  - a write PROVIDING one must match the expression, enforced row-wise
  *    inside the write job next to the CHECK constraints
  *    ([[Invariants.enforce]] pulls [[equalityChecks]]) — so UPDATE/MERGE
  *    rewrites cannot silently break the generation invariant.
  */
object GeneratedColumns {

  val MetadataKey = "delta.generationExpression"

  /** (column, generation expression) pairs declared in the schema. */
  def expressions(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(MetadataKey) =>
        f.name -> f.metadata.getString(MetadataKey)
    }

  /** Compute any generated column the incoming frame does not carry.
    * Presence matches CASE-INSENSITIVELY (Spark's resolution): a frame
    * carrying 'DAY' for generated column 'day' is USER-PROVIDED — it
    * must flow to the equality invariant, not be silently overwritten
    * by withColumn's case-insensitive replacement (same rule as
    * ColumnDefaults.materialize). */
  def materialize(df: DataFrame, metadata: Metadata): DataFrame = {
    val present = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    expressions(metadata.schema).foldLeft(df) {
      case (acc, (name, genExpr))
          if !present.contains(name.toLowerCase(java.util.Locale.ROOT)) =>
        acc.withColumn(name, expr(genExpr))
      case (acc, _) => acc
    }
  }
}
