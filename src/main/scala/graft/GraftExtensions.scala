package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{SortedArrayJaccard, VectorDot}

/** SparkSessionExtensions hook: registers the engine's native expressions
  * as SQL functions, so the `spark.sql` surface reaches them too:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)        // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * ...
  * spark.sql("SELECT vector_dot(a, b) FROM vectors")
  * }}}
  *
  * This is the documented extension path (SURVEY §2.7): custom operators
  * too hot for composed built-ins become Catalyst expressions with
  * codegen, surfaced through both the Column API and SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    GraftExtensions.tableFunctions.foreach { case (ident, info, builder) =>
      ext.injectTableFunction((ident, info, builder))
    }
    ext.injectResolutionRule(_ => GraftExtensions.RouteDeltaInserts)
    ext.injectResolutionRule(_ => GraftExtensions.RouteDeltaDeletes)
    ext.injectResolutionRule(_ => GraftExtensions.RouteDeltaUpdates)
    ext.injectResolutionRule(_ => GraftExtensions.RouteDeltaMerges)
    ext.injectResolutionRule(_ => GraftExtensions.ResolveGraftCatalogReads)
    ext.injectResolutionRule(_ => GraftExtensions.FilterDeletedRows)
    ext.injectOptimizerRule(_ => GraftExtensions.MetadataOnlyCount)
    // extension grammar: OPTIMIZE [ZORDER BY] / VACUUM statements
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
  }
}

object GraftExtensions {

  private def two(name: String, f: (Expression, Expression) => Expression)
    : Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name(a, b) takes 2 arguments")
    f(children(0), children(1))
  }

  private[graft] val definitions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("sorted_array_jaccard"),
      new ExpressionInfo(classOf[SortedArrayJaccard].getName, "sorted_array_jaccard"),
      two("sorted_array_jaccard", SortedArrayJaccard.apply)),
    (new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      two("vector_dot", VectorDot.apply)))

  /** Register the functions on an already-running session (the
    * `spark.sql.extensions` config only applies at session build time). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    definitions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    tableFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(ident, info, builder)
    }
  }

  // --------------------------------------------------- table functions
  /** The SQL face of the table-level operators (F9's SELECT surface — the
    * reference's Flink catalog exposes the same capabilities as DDL;
    * Spark-native, they are table-valued functions, mirroring Delta
    * Lake's own `table_changes` TVF shape):
    *
    *  - `graft_table('/path'[, version])` — snapshot or time-travel read
    *    (M9; `SELECT * FROM graft_table(p, 3)` ≡ `VERSION AS OF 3`);
    *  - `graft_history('/path')` — DESCRIBE HISTORY as rows (M12);
    *  - `graft_table_changes('/path', start, end)` — the change feed
    *    (M13/CDF) with `_change_type` and `_commit_version`.
    */
  private[graft] val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

    def lit(e: Expression, what: String): Any = {
      require(e.foldable, s"$what must be a literal")
      val v = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      require(v != null, s"$what must not be null")
      v
    }
    def str(e: Expression, what: String): String = lit(e, what).toString
    def long(e: Expression, what: String): Long = lit(e, what) match {
      case n: java.lang.Number => n.longValue()
      case other => other.toString.toLong
    }
    def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
      df.queryExecution.analyzed

    val table: Seq[Expression] => LogicalPlan = { args =>
      require(args.size == 1 || args.size == 2,
        "graft_table(path[, version]) takes 1 or 2 arguments")
      val t = graft.delta.DeltaTable.forPath(SparkSession.active,
        str(args(0), "path"))
      analyzed(
        if (args.size == 2) t.asOfVersion(long(args(1), "version")) else t.toDF)
    }
    val history: Seq[Expression] => LogicalPlan = { args =>
      require(args.size == 1, "graft_history(path) takes 1 argument")
      val spark = SparkSession.active
      val log = graft.delta.DeltaLog.forTable(spark, str(args(0), "path"))
      import spark.implicits._
      analyzed(log.history().map(ci => (
        ci.version.getOrElse(-1L),
        new java.sql.Timestamp(ci.timestamp.getOrElse(0L)),
        ci.operation.orNull,
        ci.readVersion.getOrElse(-1L),
        ci.isolationLevel.orNull,
        ci.isBlindAppend.getOrElse(false)))
        .toDF("version", "timestamp", "operation", "read_version",
          "isolation_level", "is_blind_append"))
    }
    val detail: Seq[Expression] => LogicalPlan = { args =>
      require(args.size == 1, "graft_detail(path) takes 1 argument")
      analyzed(graft.delta.DeltaTable.forPath(SparkSession.active,
        str(args(0), "path")).detail())
    }
    val changes: Seq[Expression] => LogicalPlan = { args =>
      require(args.size == 3,
        "graft_table_changes(path, start, end) takes 3 arguments " +
          "(versions as numbers, or timestamps as 'yyyy-MM-dd HH:mm:ss')")
      val spark = SparkSession.active
      val t = graft.delta.DeltaTable.forPath(spark, str(args(0), "path"))
      // numeric bounds are versions; string bounds are timestamps,
      // resolved inclusively (start: first version at/after, end: last
      // version at/before) — the Delta CDF contract
      def bound(e: Expression, what: String, start: Boolean): Long =
        lit(e, what) match {
          case n: java.lang.Number => n.longValue()
          case s =>
            val ts = graft.delta.TimestampParsing.parseMillis(spark, s.toString)
            val log = t.deltaLog
            if (start) log.getVersionAtOrAfterTimestamp(ts)
            else log.getVersionBeforeOrAtTimestamp(ts)
        }
      analyzed(t.changes(bound(args(1), "start", start = true),
        bound(args(2), "end", start = false)))
    }

    Seq(
      (new FunctionIdentifier("graft_table"),
        new ExpressionInfo("graft.delta.DeltaTable", "graft_table"), table),
      (new FunctionIdentifier("graft_history"),
        new ExpressionInfo("graft.delta.DeltaLog", "graft_history"), history),
      (new FunctionIdentifier("graft_table_changes"),
        new ExpressionInfo("graft.delta.DeltaTable", "graft_table_changes"), changes),
      (new FunctionIdentifier("graft_detail"),
        new ExpressionInfo("graft.delta.DeltaTable", "graft_detail"), detail),
      (new FunctionIdentifier("graft_partitions"),
        new ExpressionInfo("graft.delta.DeltaTable", "graft_partitions"),
        (args: Seq[Expression]) => {
          require(args.size == 1, "graft_partitions(path) takes 1 argument")
          analyzed(graft.delta.DeltaTable.forPath(SparkSession.active,
            str(args(0), "path")).partitions())
        }))
  }

  /** Batch reads of catalog tables: stock Spark consults
    * V2TableWithV1Fallback only for STREAMING relations, so (like
    * Delta-on-Spark's own analysis rule) convert the resolved
    * DataSourceV2Relation over a [[graft.sql.GraftTable]] into the V1
    * LogicalRelation — same DeltaFileIndex pruning as path-based reads —
    * reusing the V2 relation's output attributes so references upstream
    * stay bound. Writes stay on the V2 path (V1_BATCH_WRITE fallback). */
  object ResolveGraftCatalogReads
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

    override def apply(plan: LogicalPlan): LogicalPlan = {
      // a V2 write's TARGET must stay a NamedRelation — converting it
      // would hand AppendData/OverwriteByExpression a LogicalRelation
      // child they cannot hold. Only READ instances convert.
      import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
      val writeTargets = plan.collect {
        case w: V2WriteCommand => w.table
      }
      plan.resolveOperators {
        case dsv2: DataSourceV2Relation
            if dsv2.table.isInstanceOf[graft.sql.GraftTable] &&
              !writeTargets.exists(_ eq dsv2) =>
          val t = dsv2.table.asInstanceOf[graft.sql.GraftTable]
          LogicalRelation(t.v1Relation, dsv2.output, None,
            isStreaming = false, stream = None)
      }
    }
  }

  /** SQL and `format("graft-delta")` batch reads of a table with deletion
    * vectors: each READ of an [[graft.delta.read.InsertableDeltaRelation]]
    * becomes `Project(lr.output, Filter(<row is live>, lr))`, the filter
    * coming from [[graft.delta.read.LiveRows]] like every other scan's.
    * `InsertIntoStatement.table` is not a child, so insert targets stay
    * bare; DML routing finds the relation among the leaves. A DV-free
    * snapshot keeps the bare relation, and a relation already filtered is
    * left alone. */
  object FilterDeletedRows
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.delta.read.InsertableDeltaRelation

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUp {
        case lr @ LogicalRelation(rel: InsertableDeltaRelation, _, _, false, _) =>
          graft.delta.read.LiveRows.filterSqlRead(lr, rel)
      }
  }

  /** `COUNT(*)`-only aggregates over an UNFILTERED, unshaded Delta scan
    * answer from `AddFile.stats.numRecords` alone — at 100 TB the
    * difference between a metadata lookup and a full-table scan. The
    * rewrite fires only when the aggregate's child is the bare scan
    * (any Filter/Join in between keeps the scan: predicates change the
    * count) and [[graft.delta.read.DeltaFileIndex.metadataOnlyCount]]
    * certifies complete stats and zero deletion vectors. delta-spark's
    * `OptimizeMetadataOnlyDeltaQuery` is the same idea. Disable with
    * `spark.graft.metadataCount.enabled=false`. */
  object MetadataOnlyCount
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.delta.read.DeltaFileIndex._

    private def specOf(e: NamedExpression)
        : Option[graft.delta.read.DeltaFileIndex.MetaAggSpec] = e match {
      case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
        case Count(Seq(Literal(v, _))) if v != null => Some(StarSpec)
        case Count(Seq(a: AttributeReference)) => Some(CountColSpec(a.name))
        case Min(a: AttributeReference) => Some(MinSpec(a.name, a.dataType))
        case Max(a: AttributeReference) => Some(MaxSpec(a.name, a.dataType))
        case _ => None
      }
      case _ => None
    }

    /** Unwrap attr-only Projects and Filters down to the Delta relation,
      * collecting filter conditions on the way. */
    private def deltaIndex(plan: LogicalPlan): Option[
        (graft.delta.read.DeltaFileIndex,
         Seq[org.apache.spark.sql.catalyst.expressions.Expression])] =
      plan match {
        case Project(ps, child)
            if ps.forall(_.isInstanceOf[AttributeReference]) =>
          deltaIndex(child)
        case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
          deltaIndex(child).map { case (idx, fs) => (idx, cond +: fs) }
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => h.location match {
            case d: graft.delta.read.DeltaFileIndex => Some((d, Nil))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }

    /** A filter is metadata-answerable only when it references PARTITION
      * columns alone (every row of a file shares their values, so the
      * file-level strict eval equals the row-level Filter verdict),
      * deterministically and without subqueries. */
    private def partitionOnly(idx: graft.delta.read.DeltaFileIndex,
        cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
      val partCols = idx.partitionSchema.fieldNames.map(_.toLowerCase).toSet
      cond.deterministic &&
        cond.references.forall(a => partCols(a.name.toLowerCase)) &&
        !cond.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val enabled = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.metadataCount.enabled", "true").toBoolean
      if (!enabled) plan
      else plan.transformDown {
        case agg @ Aggregate(Nil, exprs, child, _)
            if exprs.nonEmpty && exprs.forall(specOf(_).isDefined) =>
          val specs = exprs.map(specOf(_).get)
          (deltaIndex(child) match {
            case Some((idx, conds)) if conds.forall(partitionOnly(idx, _)) =>
              idx.metadataAggregate(specs, conds)
            case _ => None
          }) match {
            case Some(values) =>
              LocalRelation(agg.output.map(_.asInstanceOf[Attribute]),
                Seq(InternalRow.fromSeq(values)))
            case None => agg
          }

        // GROUP BY partition columns: one metadata-folded row per
        // distinct partition tuple — `SELECT day, COUNT(*) GROUP BY day`
        // never scans the table
        case agg @ Aggregate(gExprs, rExprs, child, _)
            if gExprs.nonEmpty &&
              gExprs.forall(_.isInstanceOf[AttributeReference]) &&
              rExprs.forall(e =>
                e.isInstanceOf[AttributeReference] || specOf(e).isDefined) =>
          val gAttrs = gExprs.map(_.asInstanceOf[AttributeReference])
          val passThroughOk = rExprs.forall {
            case a: AttributeReference => gAttrs.exists(_.exprId == a.exprId)
            case _ => true
          }
          (deltaIndex(child) match {
            case Some((idx, conds)) if passThroughOk &&
                conds.forall(partitionOnly(idx, _)) &&
                gAttrs.forall(a => idx.partitionSchema.fieldNames
                  .exists(_.equalsIgnoreCase(a.name))) =>
              val gFields = gAttrs.map(a => idx.partitionSchema
                .find(_.name.equalsIgnoreCase(a.name)).get)
              val items: Seq[Either[Int, Int]] = {
                var ai = -1
                rExprs.map {
                  case a: AttributeReference =>
                    Left(gAttrs.indexWhere(_.exprId == a.exprId))
                  case _ => ai += 1; Right(ai)
                }
              }
              val specs = rExprs.flatMap(specOf(_))
              idx.metadataGroupedAggregate(
                  gFields.map(_.name), specs, conds).map { rows =>
                val gSchema = org.apache.spark.sql.types.StructType(gFields)
                val data = rows.map { case (raw, aggVals) =>
                  val gRow = graft.delta.read.PartitionUtils
                    .partitionRow(gSchema, raw)
                  InternalRow.fromSeq(items.map {
                    case Left(gi) => gRow.get(gi, gFields(gi).dataType)
                    case Right(ai) => aggVals(ai)
                  })
                }
                LocalRelation(agg.output.map(_.asInstanceOf[Attribute]),
                  data)
              }
            case _ => None
          }).getOrElse(agg)
      }
    }
  }

  /** SQL `DELETE FROM` over a (converted) Delta relation becomes the
    * transactional [[graft.delta.read.GraftDeleteCommand]] during
    * resolution — before checkAnalysis would reject DeleteFromTable on a
    * V1 relation. Arbitrary predicates are supported (the DML layer
    * bounds the rewrite by pruning + skipping); subqueries are not. */
  object RouteDeltaDeletes
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case DeleteFromTable(target, condition) if condition.resolved &&
            target.collectLeaves().exists {
              case lr: LogicalRelation =>
                lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation]
              case _ => false
            } =>
          require(!condition.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
            "DELETE with a subquery condition is not supported")
          val rel = target.collectLeaves().collectFirst {
            case lr: LogicalRelation
                if lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation] =>
              lr.relation.asInstanceOf[graft.delta.read.InsertableDeltaRelation]
          }.get
          graft.delta.read.GraftDeleteCommand(rel.tablePath, condition)
      }
  }

  /** SQL `UPDATE ... SET` over a (converted) Delta relation becomes the
    * transactional [[graft.delta.read.GraftUpdateCommand]]. Top-level
    * SET targets only (nested fields and subqueries are rejected); the
    * DML layer rewrites only files whose partitions/stats admit matches. */
  object RouteDeltaUpdates
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UpdateTable}
    import org.apache.spark.sql.execution.datasources.LogicalRelation

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case UpdateTable(target, assignments, condition)
            if assignments.forall(_.resolved) && condition.forall(_.resolved) &&
              target.collectLeaves().exists {
                case lr: LogicalRelation =>
                  lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation]
                case _ => false
              } =>
          val everything = assignments.map(_.value) ++ condition.toSeq
          require(!everything.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])),
            "UPDATE with a subquery is not supported")
          val set = assignments.map { a =>
            a.key match {
              case ref: AttributeReference => ref.name -> a.value
              case other => throw new UnsupportedOperationException(
                s"Only top-level columns can be SET, got $other")
            }
          }
          val rel = target.collectLeaves().collectFirst {
            case lr: LogicalRelation
                if lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation] =>
              lr.relation.asInstanceOf[graft.delta.read.InsertableDeltaRelation]
          }.get
          graft.delta.read.GraftUpdateCommand(rel.tablePath, set,
            condition.getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))
      }
  }

  /** SQL `MERGE INTO` over a (converted) Delta relation becomes the
    * engine's MergeBuilder via [[graft.delta.read.GraftMergeCommand]].
    * Admitted shape = the builder's: at most one UNCONDITIONAL matched
    * clause (UPDATE SET / UPDATE * / DELETE) and an unconditional
    * NOT MATCHED INSERT * (or by-name column list covering the source);
    * conditional clauses, NOT MATCHED BY SOURCE and schema evolution are
    * rejected loudly. */
  object RouteDeltaMerges
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation

    private def deltaLeaf(plan: LogicalPlan) =
      plan.collectLeaves().collectFirst {
        case lr: LogicalRelation
            if lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation] =>
          lr.relation.asInstanceOf[graft.delta.read.InsertableDeltaRelation]
      }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case m: MergeIntoTable
            if m.childrenResolved && m.mergeCondition.resolved &&
              (m.matchedActions ++ m.notMatchedActions).forall {
                case a: UpdateAction => a.condition.forall(_.resolved) &&
                  a.assignments.forall(_.resolved)
                case a: InsertAction => a.condition.forall(_.resolved) &&
                  a.assignments.forall(_.resolved)
                case a: DeleteAction => a.condition.forall(_.resolved)
                case _ => true
              } && deltaLeaf(m.targetTable).isDefined =>
          require(!m.withSchemaEvolution,
            "MERGE WITH SCHEMA EVOLUTION is not supported")
          def keyName(key: Expression): String = key match {
            case ref: AttributeReference => ref.name
            case other => throw new UnsupportedOperationException(
              s"Only top-level columns can be assigned, got $other")
          }
          import graft.delta.read.GraftMergeCommand.{BySourceSpec, InsertSpec, MatchedSpec}
          val matched = m.matchedActions.map {
            case UpdateAction(cond, assigns, fromStar) =>
              if (fromStar) MatchedSpec(cond, None, updateAll = true)
              else MatchedSpec(cond,
                Some(assigns.map(a => keyName(a.key) -> a.value)),
                updateAll = false)
            case u: UpdateStarAction =>
              MatchedSpec(u.condition, None, updateAll = true)
            case DeleteAction(cond) =>
              MatchedSpec(cond, None, updateAll = false)
            case other => throw new UnsupportedOperationException(
              s"Unsupported MERGE matched clause: $other")
          }
          val notMatched = m.notMatchedActions.map {
            case i: InsertStarAction => InsertSpec(i.condition, None)
            case InsertAction(cond, assigns) =>
              InsertSpec(cond,
                Some(assigns.map(a => keyName(a.key) -> a.value)))
            case other => throw new UnsupportedOperationException(
              s"Unsupported MERGE not-matched clause: $other")
          }
          val bySource = m.notMatchedBySourceActions.map {
            case UpdateAction(cond, assigns, _) =>
              BySourceSpec(cond,
                Some(assigns.map(a => keyName(a.key) -> a.value)))
            case DeleteAction(cond) => BySourceSpec(cond, None)
            case other => throw new UnsupportedOperationException(
              s"Unsupported MERGE not-matched-by-source clause: $other")
          }
          graft.delta.read.GraftMergeCommand(
            deltaLeaf(m.targetTable).get.tablePath, m.sourceTable,
            m.mergeCondition, matched, notMatched, bySource,
            m.targetTable.output.map(_.exprId),
            m.sourceTable.output.map(_.exprId))
      }
  }

  /** Claims INSERT INTO/OVERWRITE over a Delta relation during the
    * RESOLUTION batch, before the built-in post-hoc rules
    * (PreprocessTableInsertion → DataSourceAnalysis) can turn it into the
    * raw file-write command — which would bypass the transaction log
    * (and is hard-blocked by GuardedParquetFileFormat as a second line of
    * defense). The insert becomes [[graft.delta.read.GraftInsertCommand]]:
    * positional column alignment with casts, then the transactional
    * InsertableRelation.insert. Overwrite replaces the whole table (the
    * engine's REPLACE semantics). Static PARTITION values are rejected —
    * partition columns travel as ordinary data in Delta writes. */
  object RouteDeltaInserts
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
    import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperators {
        case InsertIntoStatement(lr: LogicalRelation, parts, userCols, query,
              overwrite, _, byName)
            if query.resolved &&
              lr.relation.isInstanceOf[graft.delta.read.InsertableDeltaRelation] =>
          require(parts.values.forall(_.isEmpty),
            "static PARTITION values are not supported for Delta inserts; " +
              "include the partition columns in the inserted data instead")
          require(!byName,
            "Delta SQL inserts are positional; BY NAME is not supported")
          // positional VALUES arrive in the table's DECLARED column order;
          // lr.output is scan order (partition columns last) — zipping
          // against it would silently swap values into wrong columns for
          // any table whose partition column is not declared last
          val declared = lr.relation
            .asInstanceOf[graft.delta.read.InsertableDeltaRelation]
            .tableSchema
          // an explicit column list may OMIT machine-supplied columns
          // (identity, generated) — the write path computes them; an
          // omitted PLAIN column still fails the writer's schema
          // discipline loudly
          val targetFields: Seq[org.apache.spark.sql.types.StructField] =
            if (userCols.isEmpty) declared.fields.toSeq
            else userCols.map { c =>
              declared.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
                throw new IllegalArgumentException(
                  s"Unknown column $c in INSERT column list"))
            }
          require(query.output.size == targetFields.size,
            s"INSERT has ${query.output.size} columns but names " +
              s"${targetFields.size}")
          val aligned = query.output.zip(targetFields).map { case (in, out) =>
            if (in.dataType == out.dataType && in.name == out.name) in
            else Alias(Cast(in, out.dataType, Some(conf.sessionLocalTimeZone)),
              out.name)()
          }
          graft.delta.read.GraftInsertCommand(
            lr.relation.asInstanceOf[graft.delta.read.InsertableDeltaRelation],
            Project(aligned, query), overwrite)
      }
  }
}
