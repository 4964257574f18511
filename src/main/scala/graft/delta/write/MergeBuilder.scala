package graft.delta.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.delta._

/** MERGE INTO (upsert) as one transactional rewrite.
  *
  * {{{
  * table.merge(source, col("t.id") === col("s.id"))   // aliases t / s
  *   .whenMatchedUpdate(Map("price" -> col("s.price")))
  *   .whenNotMatchedInsertAll()
  *   .execute()
  * }}}
  *
  * Execution (scale notes inline); everything after the tagging is
  * [[RowLevelDml]]'s:
  *  1. the merge condition's target-only conjuncts prune the candidate
  *     files and narrow the transaction's read set;
  *  2. ONE job finds the files that can contain a match: an inner join
  *     carrying nothing but (file name, row id), aggregated per file so
  *     the multi-match guard (a target row with >1 source match is an
  *     error, like Delta) is answered by the same shuffle;
  *  3. the touched files plus the by-source candidates are LEFT-joined
  *     against the source once, each row tagged with its first firing
  *     clause;
  *  4. NOT-MATCHED source rows (left-anti against the candidate target)
  *     insert, schema-aligned by name;
  *  5. [[RowLevelDml.run]] shades or rewrites, writes the change images
  *     and commits as MERGE (Serializable); auto-compaction follows.
  */
final class MergeBuilder private[delta] (
    table: DeltaTable,
    source: DataFrame,
    condition: Column) {

  /** One WHEN MATCHED clause: `set = None` means DELETE. Clauses are
    * ORDERED — for each matched (target, source) pair the FIRST clause
    * whose condition holds applies; a pair no clause accepts carries
    * unchanged (standard MERGE semantics, same as delta-spark's). */
  private case class MatchedClause(cond: Option[Column],
                                   set: Option[Map[String, Column]])
  /** One WHEN NOT MATCHED clause: `values = None` means INSERT * (align
    * source columns to the target schema by name). */
  private case class InsertClause(cond: Option[Column],
                                  values: Option[Map[String, Column]])

  private var matchedClauses = Vector.empty[MatchedClause]
  private var insertClauses = Vector.empty[InsertClause]
  /** WHEN NOT MATCHED BY SOURCE clauses — target rows with no matching
    * source row; conditions/values may reference the TARGET only. */
  private var bySourceClauses = Vector.empty[MatchedClause]
  private var schemaEvolution = false
  private var idempotency: Option[(String, Long)] = None

  /** Source columns absent from the target schema extend it (nullable)
    * as part of this merge's commit — existing rows read the new
    * columns as null, inserts/updates may reference them. Delta's
    * automatic schema evolution for MERGE. */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  /** Make this MERGE idempotent under (appId, version): a re-execution
    * with a version at or below the recorded one is a no-op — the
    * foreachBatch-upsert pattern's exactly-once contract. */
  def withIdempotency(appId: String, version: Long): MergeBuilder = {
    idempotency = Some((appId, version)); this
  }

  def whenMatchedUpdate(set: Map[String, Column]): MergeBuilder = {
    matchedClauses :+= MatchedClause(None, Some(set)); this
  }

  /** Conditional update: applies only to matched pairs where `cond`
    * (may reference `t.` and `s.`) holds and no earlier clause fired. */
  def whenMatchedUpdate(cond: Column, set: Map[String, Column]): MergeBuilder = {
    matchedClauses :+= MatchedClause(Some(cond), Some(set)); this
  }

  def whenMatchedDelete(): MergeBuilder = {
    matchedClauses :+= MatchedClause(None, None); this
  }

  def whenMatchedDelete(cond: Column): MergeBuilder = {
    matchedClauses :+= MatchedClause(Some(cond), None); this
  }

  /** Insert unmatched source rows; source columns are matched to the
    * target schema by name (missing target columns become null). */
  def whenNotMatchedInsertAll(): MergeBuilder = {
    insertClauses :+= InsertClause(None, None); this
  }

  def whenNotMatchedInsertAll(cond: Column): MergeBuilder = {
    insertClauses :+= InsertClause(Some(cond), None); this
  }

  /** Insert unmatched source rows with explicit column values (columns
    * not named become null unless generated). */
  def whenNotMatchedInsert(values: Map[String, Column]): MergeBuilder = {
    insertClauses :+= InsertClause(None, Some(values)); this
  }

  def whenNotMatchedInsert(cond: Column,
                           values: Map[String, Column]): MergeBuilder = {
    insertClauses :+= InsertClause(Some(cond), Some(values)); this
  }

  /** Update target rows that have NO matching source row (condition and
    * SET values reference the target only). */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column]): MergeBuilder = {
    bySourceClauses :+= MatchedClause(None, Some(set)); this
  }

  def whenNotMatchedBySourceUpdate(cond: Column,
                                   set: Map[String, Column]): MergeBuilder = {
    bySourceClauses :+= MatchedClause(Some(cond), Some(set)); this
  }

  /** Delete target rows that have NO matching source row. */
  def whenNotMatchedBySourceDelete(): MergeBuilder = {
    bySourceClauses :+= MatchedClause(None, None); this
  }

  def whenNotMatchedBySourceDelete(cond: Column): MergeBuilder = {
    bySourceClauses :+= MatchedClause(Some(cond), None); this
  }

  /** Conjuncts of the merge condition that constrain the TARGET alone:
    * every attribute reference is either explicitly `t.`-qualified or an
    * unqualified name that exists only in the target schema. These are
    * sound pruning predicates — the full condition implies each of them
    * — rewritten with the alias stripped so they bind against a bare
    * target scan. Resolved `AttributeReference`s (a caller passing
    * `sourceDf("col")`) are skipped: their side cannot be identified
    * syntactically, and skipping only costs pruning, never correctness. */
  private def targetOnlyPredicate(
      schema: org.apache.spark.sql.types.StructType): Option[Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, Expression}
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val targetCols = schema.fieldNames.map(lower).toSet
    val sourceCols = source.columns.map(lower).toSet
    def targetOnly(e: Expression): Boolean = {
      var ok = true
      e.foreach {
        case a: UnresolvedAttribute => a.nameParts match {
          case Seq(q, n) if lower(q) == "t" && targetCols.contains(lower(n)) => ()
          case Seq(n) if targetCols.contains(lower(n)) &&
            !sourceCols.contains(lower(n)) => ()
          case _ => ok = false
        }
        case _: AttributeReference => ok = false
        // subquery conjuncts reference plans foreach doesn't traverse —
        // never treat them as prunable
        case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => ok = false
        case _ => ()
      }
      ok
    }
    // the Column-API tree spells AND as UnresolvedFunction("and", ...) —
    // split that form as well as an already-catalyst And
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(lower) == Seq("and") && !f.isDistinct &&
            f.arguments.size == 2 =>
        f.arguments.flatMap(conjuncts)
      case CatalystAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val kept = conjuncts(
      org.apache.spark.sql.graft.Shims.catalystExpression(condition))
      .filter(targetOnly(_))
    if (kept.isEmpty) None
    else Some(stripTargetAlias(
      org.apache.spark.sql.graft.Shims.column(kept.reduce(CatalystAnd))))
  }

  /** Rewrite `t.`-qualified references to bare names so a target-only
    * Column binds against the bare target schema (file pruning). */
  private def stripTargetAlias(c: Column): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val e = org.apache.spark.sql.graft.Shims.catalystExpression(c).transform {
      case a: UnresolvedAttribute if a.nameParts.size == 2 &&
        a.nameParts.head.toLowerCase(java.util.Locale.ROOT) == "t" =>
        UnresolvedAttribute(a.nameParts.tail)
    }
    org.apache.spark.sql.graft.Shims.column(e)
  }

  def execute(): Long = {
    require(matchedClauses.nonEmpty || insertClauses.nonEmpty ||
      bySourceClauses.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val spark = table.spark
    val deltaLog = table.deltaLog
    val txn = deltaLog.startTransaction()
    val snapshot = txn.snapshot
    idempotency.foreach { case (appId, version) =>
      if (txn.txnVersion(appId) >= version) return snapshot.version
    }
    // schema evolution: source-only columns append to the target schema
    // (nullable — old files decode them as null), committed with this
    // merge's own Metadata action
    val metadata = {
      val base = snapshot.metadata
      if (!schemaEvolution) base
      else {
        val existing = base.schema.fieldNames
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val extra = source.schema.fields.filterNot(f =>
          existing.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
        if (extra.isEmpty) base
        else base.copy(schemaString = Some(
          org.apache.spark.sql.types.StructType(
            base.schema.fields ++ extra.map(_.copy(nullable = true))).json))
      }
    }
    if (metadata ne snapshot.metadata) txn.updateMetadata(metadata)
    val schema = metadata.schema
    // partition columns may be SET — moved rows land in their new
    // directories through the rewrite's dynamic partitioning
    val identityAlways = IdentityColumns.specs(schema)
      .filterNot(_.allowExplicit).map(_.name).toSet
    (matchedClauses ++ bySourceClauses).flatMap(_.set)
      .foreach(_.keys.foreach { c =>
        require(schema.fieldNames.contains(c), s"Unknown column $c in SET")
        require(!identityAlways.contains(c),
          s"Cannot UPDATE GENERATED ALWAYS AS IDENTITY column $c")
      })
    // merge-inserts would null-fill (or require explicit values for) a
    // machine-assigned column — identity generation lives on the append
    // path only, the Delta restriction
    require(insertClauses.isEmpty || identityAlways.isEmpty,
      "MERGE INSERT into a table with GENERATED ALWAYS AS IDENTITY " +
        "columns is not supported; append through the write path instead")
    insertClauses.flatMap(_.values).foreach(_.keys.foreach { c =>
      require(schema.fieldNames.contains(c), s"Unknown column $c in INSERT")
    })
    // one combined index space over all row-rewriting clauses: matched
    // clauses first, then not-matched-by-source clauses
    val rewriteClauses = matchedClauses ++ bySourceClauses
    // first-applicable-clause action per row; -1 = no clause fires and
    // the row carries unchanged. Clause conditions may reference both
    // sides; a null condition result does NOT fire.
    def firstAction(clauses: Seq[Option[Column]], offset: Int = 0): Column =
      clauses.zipWithIndex.foldRight(lit(-1)) { case ((cond, i), els) =>
        when(cond.map(c => coalesce(c.cast("boolean"), lit(false)))
          .getOrElse(lit(true)), lit(i + offset)).otherwise(els)
      }

    // Bound the TARGET read by the merge condition's target-only
    // conjuncts (ref: DeltaScan.java:33-67 pushed-predicate contract).
    // A per-partition upsert must not scan a 100 TB table: partition
    // conjuncts narrow BOTH the scan and the transaction's read set
    // (concurrent appends to untouched partitions no longer conflict);
    // stats conjuncts additionally skip files by min/max. Rows outside
    // the candidate files cannot satisfy the merge condition (the
    // condition IMPLIES its own conjuncts), so the candidate scan is
    // also sufficient for the not-matched insert anti-join.
    // NOT MATCHED BY SOURCE clauses reach target rows that FAIL the
    // merge condition — condition-derived candidate pruning is unsound
    // for them, so their presence forces the whole-table read path (the
    // clause conditions themselves still bound the REWRITE set below)
    val targetPred =
      if (bySourceClauses.nonEmpty) None else targetOnlyPredicate(schema)
    val (metaC, dataC) = targetPred match {
      case Some(p) =>
        val resolved = read.PartitionUtils.resolveFilter(spark, schema, p)
        read.PartitionUtils.splitMetadataAndDataPredicates(
          resolved, metadata.partitionColumns)
      case None => (Nil, Nil)
    }
    // data conjuncts on generated-partition SOURCES imply partition
    // conjuncts (scan-bound only — read tracking keeps its own set)
    val derivedC = read.GeneratedPartitionFilters.derive(metadata, dataC, spark)
    val candidateFiles: Option[Seq[AddFile]] =
      if (metaC.nonEmpty) {
        // narrow read tracking + partition pruning; stats skip survivors
        Some(read.FilePruning.pruneLocal(txn.markFilesAsRead(targetPred.get),
          metadata.partitionSchema, derivedC, dataC, metadata.dataSchema))
      } else if (dataC.nonEmpty) {
        // no partition conjunct: conflict tracking stays whole-table
        // (a concurrent append could add matching rows anywhere), but
        // stats still bound the SCAN — pruning runs where the file list
        // lives and only survivors reach the driver
        txn.readWholeTable()
        Some(snapshot.filesMatching(derivedC, dataC))
      } else {
        txn.readWholeTable() // merge reads target rows by data condition
        None
      }
    // shaded target files contribute live rows only (merge must never
    // match against, or copy forward, DV-deleted rows)
    val target = candidateFiles
      .map(f => read.LiveRows.files(deltaLog, metadata, f)())
      .getOrElse(snapshot.toDF).alias("t")
    val src = source.alias("s")

    // 2. ONE touched-file job: inner join carrying only (file, row-id),
    //    aggregated so the multi-match guard rides along — no second pass.
    //    The collect is file-count bounded (same order as the commit's
    //    RemoveFile list, which is driver-side by construction).
    //    Skipped entirely when NO matched clause exists (insert-only /
    //    by-source-only merges): its results would be unused, and the
    //    multi-match guard is moot without a matched action — delta's
    //    insert-only merge makes the same single-pass optimization.
    val needGuard = matchedClauses.nonEmpty
    val touched =
      if (!needGuard) Array.empty[org.apache.spark.sql.Row]
      else target
        .withColumn("__file", input_file_name())
        .withColumn("__row", monotonically_increasing_id())
        .join(src, condition)
        .groupBy(col("__file"), col("__row")).agg(count(lit(1)).as("__n"))
        .groupBy(col("__file")).agg(max(col("__n")).as("__maxn"))
        .collect()
    if (needGuard && touched.exists(_.getAs[Long]("__maxn") > 1)) {
      throw new IllegalStateException(
        "MERGE: target row(s) matched by more than one source row " +
          "(result would be nondeterministic)")
    }
    // input_file_name() spells paths as SparkPath/URI strings; build the
    // AddFile side the same way or encoded paths silently never match.
    val matchedFileNames = touched.map(_.getAs[String]("__file")).toSet
    // Resolve the (file-count-bounded) touched-name set against the file
    // list WHERE IT LIVES: a 3-file merge on a million-file table never
    // materializes the full state on the driver.
    val matchedFiles: Seq[AddFile] = {
      val names = matchedFileNames
      val dataPathStr = deltaLog.dataPath.toString
      val touched: AddFile => Boolean = f => names.contains(
        read.PartitionUtils.inputFileName(
          new org.apache.hadoop.fs.Path(dataPathStr), f.path))
      // the touched set is a subset of the (already driver-resident)
      // candidate files — no second pass over the state
      candidateFiles.fold(snapshot.filesWhere(touched))(_.filter(touched))
    }

    // files that may hold NOT-MATCHED-BY-SOURCE rows the clauses can
    // change: pruned by the OR of the clause conditions (stats prove a
    // file's rows all fail every condition → it cannot change); an
    // unconditional clause touches every file, like Delta's own plan
    val bySourceFiles: Seq[AddFile] =
      if (bySourceClauses.isEmpty) Nil
      else {
        val conds = bySourceClauses.map(_.cond)
        if (conds.exists(_.isEmpty)) snapshot.filesWhere(_ => true)
        else RowLevelDml.candidates(spark, snapshot, read.PartitionUtils
          .resolveFilter(spark, schema, stripTargetAlias(conds.flatten.reduce(_ || _))))
      }
    // the files the rewrite must re-emit: match-touched files (only when
    // a matched clause can change them) plus the by-source candidates
    val rewriteFiles: Seq[AddFile] = {
      val fromMatch = if (matchedClauses.nonEmpty) matchedFiles else Nil
      val seen = fromMatch.map(_.path).toSet
      fromMatch ++ bySourceFiles.filterNot(f => seen.contains(f.path))
    }

    // 3. tag each row of the affected files with its first firing clause.
    //    One output row PER TARGET ROW is the invariant. With matched
    //    clauses the touched-file job's multi-match guard makes the left
    //    join 1:1; with ONLY by-source clauses the guard does not run
    //    (duplicate source keys are legal then), so the source must never
    //    join INTO the row set: matched rows carry via a semi join (one
    //    row regardless of match count), not-matched rows come from the
    //    anti join.
    val tagged: Option[DataFrame] =
      if (rewriteFiles.isEmpty || rewriteClauses.isEmpty) None
      else Some {
        val rows = RowLevelDml.target(deltaLog, metadata, rewriteFiles)
        val bySource = firstAction(bySourceClauses.map(_.cond), matchedClauses.size)
        if (matchedClauses.isEmpty) {
          rows.join(src, condition, "left_semi")
            .withColumn(RowLevelDml.ActionCol, lit(-1))
            .unionByName(rows.join(src, condition, "left_anti")
              .withColumn(RowLevelDml.ActionCol, bySource))
        } else {
          rows.join(src.withColumn("__match", lit(1)), condition, "left")
            .withColumn(RowLevelDml.ActionCol, when(col("__match").isNull, bySource)
              .otherwise(firstAction(matchedClauses.map(_.cond))))
        }
      }

    // 4. inserts: source rows matching NO target row — the FIRST insert
    //    clause whose condition holds supplies the values (explicit map,
    //    or align-by-name for INSERT *); rows no clause accepts drop
    val inserts: Option[DataFrame] =
      if (insertClauses.isEmpty) None
      else {
        val unmatched = src.join(target, condition, "left_anti")
          .withColumn(RowLevelDml.ActionCol, firstAction(insertClauses.map(_.cond)))
          .filter(col(RowLevelDml.ActionCol) =!= -1)
        val frames = insertClauses.zipWithIndex.map { case (cl, i) =>
          val rowsI = unmatched.filter(col(RowLevelDml.ActionCol) === i)
            .drop(RowLevelDml.ActionCol)
          // generated columns the clause does not provide COMPUTE (not
          // null-fill) — a date-partitioned target must place
          // merge-inserts in the right partition, same as appends
          val materialized = cl.values match {
            case Some(vals) =>
              GeneratedColumns.materialize(
                rowsI.select(vals.toSeq.map { case (n, v) =>
                  v.cast(schema(n).dataType).as(n) }.toIndexedSeq: _*),
                metadata)
            case None => GeneratedColumns.materialize(rowsI, metadata)
          }
          materialized.select(schema.fields.map { f =>
            if (materialized.columns.contains(f.name))
              col(s"`${f.name}`").cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
        }
        Some(frames.reduce(_.unionByName(_)))
      }

    // 5. shade or rewrite, change images, one write job and the commit
    val txnAction: Seq[Action] = idempotency.toSeq.map { case (appId, v) =>
      SetTransaction(appId, v, Some(deltaLog.clock()))
    }
    val committed = RowLevelDml.run(txn, rewriteFiles, tagged,
      rewriteClauses.map(_.set), inserts, DeltaOperations.Merge,
      condition.toString, txnAction) { c =>
      Map("numTargetFilesRemoved" -> c.removedFiles.toString,
        "numTargetFilesAdded" -> c.addedFiles.toString) ++
        c.dvsAdded.map(n => "numDeletionVectorsAdded" -> n.toString)
    }
    // merge-grown tables accrete insert files like appended ones
    if (committed != snapshot.version) DeltaWriter.autoCompact(table, txn.metadata)
    committed
  }
}
