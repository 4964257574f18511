package graft.delta

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Assertions on the PLANS our scans produce — the properties that decide
  * 100 TB behavior: data filters pushed to the parquet scan, read schema
  * pruned to referenced columns, partition filters not re-read as data. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))

  test("data filters reach the parquet scan as PushedFilters") {
    withTempDir { dir =>
      DeltaTable.write(
        (1 to 1000).map(i => (i.toLong, s"c$i", i * 1.5)).toDF("id", "name", "score"),
        dir)
      val q = DeltaTable.forPath(spark, dir).toDF.filter($"id" > 500L && $"score" < 100.0)
      val scan = scanOf(q)
      val pushed = scan.metadata("PushedFilters")
      assert(pushed.contains("GreaterThan(id,500)"), s"pushed=$pushed")
      assert(pushed.contains("LessThan(score,100.0)"), s"pushed=$pushed")
    }
  }

  test("a RENAMED column's filters stay pushed and its read schema pruned") {
    withTempDir { dir =>
      DeltaTable.write(
        (1 to 1000).map(i => (i.toLong, i * 1.5, s"pad$i"))
          .toDF("id", "price", "pad"), dir)
      // metadata-only rename price -> cost (physical name stays "price")
      val log = DeltaLog.forTable(spark, dir)
      val txn = log.startTransaction()
      val before = txn.snapshot.metadata
      val renamed = org.apache.spark.sql.types.StructType(
        before.schema.fields.map { f =>
          if (f.name != "price") f
          else f.copy(name = "cost", metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(ColumnMapping.PhysicalNameKey, "price").build())
        })
      txn.updateMetadata(before.copy(schemaString = Some(renamed.json)))
      txn.commit(Nil, "CHANGE COLUMN")

      val q = DeltaTable.forPath(spark, dir).toDF
        .filter($"cost" > 600.0).select($"id", $"cost")
      val scan = scanOf(q)
      // pushdown is not LOST for mapped tables (the physical-name
      // substitution happens inside the reader, below this plan node)
      assert(scan.metadata("PushedFilters").contains("GreaterThan(cost,600.0)"),
        scan.metadata("PushedFilters"))
      val readSchema = scan.metadata("ReadSchema")
      assert(readSchema.contains("cost:double") && !readSchema.contains("pad"),
        readSchema)
      // and the translated filter actually filters (old files, old bytes)
      assert(q.count() == 600)
    }
  }

  test("projection prunes the parquet read schema") {
    withTempDir { dir =>
      DeltaTable.write(
        (1 to 100).map(i => (i, s"n$i", i * 1.0, s"x$i")).toDF("a", "b", "c", "d"),
        dir)
      val q = DeltaTable.forPath(spark, dir).toDF.select($"a", $"c")
      val schema = scanOf(q).metadata("ReadSchema")
      assert(schema.contains("a:int") && schema.contains("c:double"), schema)
      assert(!schema.contains("b:") && !schema.contains("d:"), schema)
    }
  }

  test("partition predicates prune files and never appear as data filters") {
    withTempDir { dir =>
      DeltaTable.write(
        (1 to 100).map(i => (i, s"g${i % 5}")).toDF("v", "grp"),
        dir, partitionBy = Seq("grp"))
      val q = DeltaTable.forPath(spark, dir).toDF.filter($"grp" === "g3")
      q.collect()
      val scan = scanOf(q)
      assert(scan.partitionFilters.nonEmpty)
      assert(scan.dataFilters.isEmpty,
        s"partition filter leaked into data filters: ${scan.dataFilters}")
      val selected = scan.relation.location
        .listFiles(scan.partitionFilters, Nil)
      assert(selected.map(_.files.length).sum ==
        DeltaLog.forTable(spark, dir).update().allFiles
          .count(_.partitionValues("grp") == "g3"))
    }
  }

  test("a shallow clone's scan pushes filters and prunes schema like the source") {
    withTempDir { base =>
      val src = s"$base/src"
      val dst = s"$base/dst"
      DeltaTable.write(
        (1 to 500).map(i => (i.toLong, s"n$i", i * 2.0)).toDF("id", "name", "score"),
        src)
      DeltaTable.forPath(spark, src).cloneTo(dst)
      // absolute-URI AddFiles must plan identically to relative ones
      val q = DeltaTable.forPath(spark, dst).toDF
        .filter($"id" > 250L).select($"id", $"name")
      val scan = scanOf(q)
      assert(scan.metadata("PushedFilters").contains("GreaterThan(id,250)"))
      val readSchema = scan.metadata("ReadSchema")
      assert(readSchema.contains("id") && readSchema.contains("name") &&
        !readSchema.contains("score"), s"ReadSchema=$readSchema")
      assert(q.count() == 250)
    }
  }

  test("SQL functions registered through GraftExtensions evaluate") {
    // a child session so the registration doesn't leak into other suites
    val s2 = spark.newSession()
    graft.GraftExtensions.register(s2)
    val out = s2.sql(
      """SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       sorted_array_jaccard(array('a','b'), array('b','c')) AS j
        |""".stripMargin).collect().head
    assert(out.getDouble(0) == 11.0)
    assert(math.abs(out.getDouble(1) - 1.0 / 3.0) < 1e-12)
  }
  test("IVF plan broadcasts centroids and probed queries; corpus never shuffles wide") {
    import graft.operators.Similarity
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 7 + d * 13) % 23 - 11).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 4),
      "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2)
    val plan = res.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(broadcasts >= 2,
      s"expected centroid + probed-query broadcasts, got $broadcasts in:\n$plan")
    // the pair-scoring dot products are the codegen'd native, not a lambda
    assert(plan.contains("vectordot") || plan.contains("VectorDot"),
      "pair scoring should use the native VectorDot expression")
  }

  test("ngram prefix-filter verification joins run on int arrays, not strings") {
    import graft.operators.Dedup
    val docs = (1 to 40).map(i => (i.toLong, s"document number $i with shared text payload"))
      .toDF("doc_id", "text")
    val res = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.6)
    val analyzed = res.queryExecution.optimizedPlan.toString
    assert(analyzed.contains("sortedarrayjaccard") ||
      analyzed.contains("SortedArrayJaccard") || analyzed.contains("jaccard"),
      s"verification must be the native merge-walk expression:\n$analyzed")
    // executes correctly end-to-end through the optimized plan
    assert(res.collect() != null)
  }

  test("z-ordered writes keep per-file stats that admit skipping") {
    withTempDir { dir =>
      val df = spark.range(0, 1024).select(
        (col("id") % 32).as("a"),
        ((col("id") / 32).cast("long") % 32).as("b"))
      DeltaTable.write(df.repartition(8), dir)
      DeltaTable.forPath(spark, dir).compact(
        targetFileBytes = DeltaLog.forTable(spark, dir).update().sizeInBytes / 8 + 1,
        zOrderBy = Seq("a", "b"))
      DeltaLog.clearCache()
      val files = DeltaLog.forTable(spark, dir).update().allFiles
      assert(files.size >= 4)
      // every z-ordered file carries min/max for both clustering columns
      files.foreach { f =>
        val stats = JsonCodec.mapper.readTree(f.stats.get)
        assert(stats.get("minValues").has("a") && stats.get("maxValues").has("b"),
          s"missing clustering stats in ${f.stats.get}")
      }
    }
  }

  test("one scan constructor: DV-free file sets plan no DV filter, a shade " +
      "one in-scan filter and no join, and DV DML predicates stay pushed") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def joins(df: org.apache.spark.sql.DataFrame): Seq[Join] =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }
    def dvFilters(df: org.apache.spark.sql.DataFrame): Seq[Filter] =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.prettyName == "dv_row_is_live") => f
      }
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case p => p.children.flatMap(scans)
    }
    withTempDir { dir =>
      DeltaTable.write((0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "k")
        .repartition(1), dir,
        configuration = Map("delta.enableDeletionVectors" -> "true"))
      val table = DeltaTable.forPath(spark, dir)
      val clean = table.deltaLog.update()
      val cleanFiles = read.LiveRows.files(table.deltaLog, clean.metadata,
        clean.allFiles)()
      Seq(table.toDF, cleanFiles).foreach { df =>
        assert(joins(df).isEmpty && dvFilters(df).isEmpty, df.queryExecution)
      }

      table.delete($"id" >= 90L)
      val shaded = table.toDF
      assert(joins(shaded).isEmpty, shaded.queryExecution)
      assert(dvFilters(shaded).size == 1, shaded.queryExecution)
      assert(shaded.count() == 90L)

      // a second delete scans the shaded file through the DV filter; its
      // predicate must still reach parquet
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          captured.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      import scala.jdk.CollectionConverters._
      def pushed = captured.asScala.toSeq.flatMap(scans)
        .map(_.metadata.getOrElse("PushedFilters", ""))
      try {
        table.delete($"id" <= 5L)
        // the listener bus is async: wait for the scan to surface
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!pushed.exists(_.contains("LessThanOrEqual(id,5)")) &&
            System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      assert(pushed.exists(_.contains("LessThanOrEqual(id,5)")), pushed)
      assert(table.toDF.count() == 84L)
    }
  }

}
