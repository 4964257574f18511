package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** What each row-level DML shape reports, pinned value by value: the
  * commit's `operationMetrics` and `operationParameters`, the change
  * feed's row count per `_change_type`, and the rows left behind. Six
  * shapes, CDF on in each: DELETE, UPDATE and MERGE, each rewriting and
  * shading (deletion vectors). `GoldenWriteCompatSpec` checks only the
  * metric vocabulary, so a renamed or miscounted key shows here. */
class DmlReportSpec extends SparkSpec {
  import spark.implicits._

  private case class Shape(
      name: String,
      dv: Boolean,
      op: DeltaTable => Unit,
      operation: String,
      metrics: Map[String, String],
      parameters: Map[String, String],
      changes: Map[String, Long],
      rows: Seq[(Long, Long)])

  // two files: ids 0..9 and 10..19, v = id * 10
  private def fixture(dir: String, dv: Boolean): DeltaTable = {
    val conf = Map("delta.enableChangeDataFeed" -> "true") ++
      (if (dv) Map("delta.enableDeletionVectors" -> "true") else Map.empty)
    def slice(from: Long) = (from until from + 10L).map(i => (i, i * 10L))
      .toDF("id", "v").coalesce(1)
    DeltaTable.write(slice(0L), dir, configuration = conf)
    DeltaTable.write(slice(10L), dir)
    DeltaTable.forPath(spark, dir)
  }

  private val start = (0L until 20L).map(i => (i, i * 10L))

  private def merge(t: DeltaTable): Unit =
    t.merge(Seq((2L, 222L), (4L, -1L), (50L, 500L)).toDF("id", "v"),
        col("t.id") === col("s.id"))
      .whenMatchedDelete(col("s.v") < 0L)
      .whenMatchedUpdate(Map("v" -> col("s.v")))
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete(col("t.id") === 19L)
      .execute()

  private val deleted = start.filterNot { case (id, _) => id == 0L || id == 5L }
  private val updated = start.map { case (id, v) => (id, if (id < 3L) v + 100L else v) }
  private val merged = start.collect {
    case (2L, _) => (2L, 222L)
    case r @ (id, _) if id != 4L && id != 19L => r
  } :+ ((50L, 500L))

  private val deleteParams = Map("predicate" -> """["(((id % 5L) = 0L) AND (id < 10L))"]""")
  private val updateParams = Map("predicate" -> """["(id < 3L)"]""")
  private val mergeParams = Map("predicate" -> """["=(t.id, s.id)"]""")

  private val shapes = Seq(
    Shape("DELETE rewrite", dv = false,
      _.delete($"id" % 5 === 0 && $"id" < 10L), "DELETE",
      Map("numRemovedFiles" -> "1", "numAddedFiles" -> "1",
        "numAddedBytes" -> "805"),
      deleteParams, Map("delete" -> 2L), deleted),
    Shape("DV DELETE", dv = true,
      _.delete($"id" % 5 === 0 && $"id" < 10L), "DELETE",
      Map("numRemovedFiles" -> "0", "numDeletionVectorsAdded" -> "1",
        "numDeletedRows" -> "2"),
      deleteParams, Map("delete" -> 2L), deleted),
    Shape("UPDATE rewrite", dv = false,
      _.update($"id" < 3L, Map("v" -> ($"v" + 100L))), "UPDATE",
      Map("numRemovedFiles" -> "1", "numAddedFiles" -> "1",
        "numAddedBytes" -> "817"),
      updateParams,
      Map("update_preimage" -> 3L, "update_postimage" -> 3L), updated),
    Shape("DV UPDATE", dv = true,
      _.update($"id" < 3L, Map("v" -> ($"v" + 100L))), "UPDATE",
      Map("numRemovedFiles" -> "0", "numDeletionVectorsAdded" -> "1",
        "numAddedFiles" -> "1", "numUpdatedRows" -> "3"),
      updateParams,
      Map("update_preimage" -> 3L, "update_postimage" -> 3L), updated),
    Shape("MERGE rewrite", dv = false, merge, "MERGE",
      Map("numTargetFilesRemoved" -> "2", "numTargetFilesAdded" -> "3"),
      mergeParams,
      Map("update_preimage" -> 1L, "update_postimage" -> 1L,
        "delete" -> 2L, "insert" -> 1L), merged),
    Shape("DV MERGE", dv = true, merge, "MERGE",
      Map("numTargetFilesRemoved" -> "0", "numTargetFilesAdded" -> "3",
        "numDeletionVectorsAdded" -> "2"),
      mergeParams,
      Map("update_preimage" -> 1L, "update_postimage" -> 1L,
        "delete" -> 2L, "insert" -> 1L), merged))

  shapes.foreach { s =>
    test(s"${s.name} reports its metrics, parameters and change rows") {
      withTempDir { dir =>
        val t = fixture(dir, s.dv)
        s.op(t)
        val v = t.version
        val commit = t.history().filter($"version" === v)
          .select("operation", "operationParameters", "operationMetrics")
          .as[(String, Map[String, String], Map[String, String])].head()
        assert(commit._1 == s.operation)
        assert(commit._2 == s.parameters)
        assert(commit._3 == s.metrics)
        val changes = t.changes(v, v).groupBy("_change_type").count()
          .as[(String, Long)].collect().toMap
        assert(changes == s.changes)
        val rows = t.toDF.select("id", "v").as[(Long, Long)].collect().sorted
        assert(rows.toSeq == s.rows.sorted)
      }
    }
  }
}
