package graft.sql

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{Column, Row, SparkSession}
import graft.ops.MergeInto

/** `MERGE INTO` SQL for plain (v1 parquet) tables.
  *
  * The reference's users speak Oracle `MERGE INTO ... USING staging ON
  * (bk) WHEN MATCHED [AND guard] THEN UPDATE ... WHEN NOT MATCHED [AND
  * guard] THEN INSERT ...` (load_dim_product_dw.py:634-670,
  * load_fact_sales_dw.py:390-418). Spark's parser accepts the syntax but
  * execution requires a `SupportsRowLevelOperations` v2 table, which
  * parquet is not — so [[GraftSqlParser]] (injected via
  * `spark.sql.extensions`) rewrites the freshly parsed, fully unresolved
  * [[MergeIntoTable]] into [[GraftMergeCommand]], which translates the
  * WHEN actions into clauses for the one MERGE planner,
  * [[graft.ops.MergeInto.merge]] (also behind `MergeInto.mergeInto`),
  * and swaps the result in atomically (staging table + DROP + RENAME),
  * preserving the target's partitioning and bucketing layout.
  *
  * The supported shape is listed at [[MergeSql.tryRewrite]]; anything
  * else falls through untouched to Spark's own path and error messages.
  * As with SQL MERGE, the source must be unique on the join keys (the
  * reference pre-assigns keys for the same reason —
  * load_dim_product_dw.py:628-631).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable => MergeSql.tryRewrite(m).getOrElse(m)
    case other => other
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object MergeSql {

  /** A plain table reference: (multipart name, SQL-visible alias). */
  private def tableRef(p: LogicalPlan): Option[(Seq[String], String)] =
    p match {
      case SubqueryAlias(ident, UnresolvedRelation(parts, _, _)) =>
        Some((parts, ident.name))
      case UnresolvedRelation(parts, _, _) => Some((parts, parts.last))
      case _ => None
    }

  /** Rewrite if the MERGE is within the supported shape, else None.
    * Supported: any number of WHEN clauses (first-match-wins), UPDATE
    * SET * / SET list, DELETE, INSERT * / column list, and NOT MATCHED
    * BY SOURCE UPDATE/DELETE. Unsupported (falls through to Spark):
    * schema evolution, subquery sources, 3-part names. */
  def tryRewrite(m: MergeIntoTable): Option[LogicalPlan] = {
    if (m.withSchemaEvolution) return None
    val okMatched = m.matchedActions.forall {
      case _: UpdateStarAction | _: UpdateAction | _: DeleteAction => true
      case _ => false
    }
    val okNotMatched = m.notMatchedActions.forall {
      case _: InsertStarAction | _: InsertAction => true
      case _ => false
    }
    val okBySource = m.notMatchedBySourceActions.forall {
      case _: UpdateAction | _: DeleteAction => true
      case _ => false
    }
    if (!okMatched || !okNotMatched || !okBySource) return None
    for {
      (tParts, tAlias) <- tableRef(m.targetTable)
      (sParts, sAlias) <- tableRef(m.sourceTable)
      if tParts.size <= 2 && sParts.size <= 2
    } yield GraftMergeCommand(tParts, tAlias, sParts, sAlias,
      new MergeSpec(m.mergeCondition, m.matchedActions,
        m.notMatchedActions, m.notMatchedBySourceActions))
  }
}

/** Opaque holder for the (deliberately unresolved) merge expressions.
  * A plain class, not a Product of Expressions: TreeNode reflection must
  * NOT surface these as the command's expressions, or CheckAnalysis
  * would fail them as unresolved — they resolve later, against the
  * re-aliased DataFrames inside [[GraftMergeCommand.run]]. */
final class MergeSpec(
    val condition: Expression,
    val matched: Seq[MergeAction],
    val notMatched: Seq[MergeAction],
    val bySource: Seq[MergeAction]) extends Serializable {
  override def toString: String =
    s"on=$condition matched=$matched notMatched=$notMatched " +
      s"bySource=$bySource"
}

/** Driver-side merge execution: crash recovery, the provider and
  * EXTERNAL checks, the (unresolved, so alias-correct) ON condition and
  * WHEN actions handed to [[graft.ops.MergeInto.merge]], atomic swap.
  */
final case class GraftMergeCommand(
    targetParts: Seq[String], targetAlias: String,
    sourceParts: Seq[String], sourceAlias: String,
    spec: MergeSpec) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq.empty

  private def ident(parts: Seq[String]): TableIdentifier = parts match {
    case Seq(t) => TableIdentifier(t)
    case Seq(db, t) => TableIdentifier(t, Some(db))
    case _ => throw new IllegalArgumentException(parts.mkString("."))
  }

  private def nameOf(e: Expression): String = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"unsupported assignment key: $other")
  }

  /** Providers whose tables cannot have native row-level MERGE — the
    * only ones this command may rewrite. A connector like Delta/Iceberg
    * brings its own transactional MERGE; hijacking it with a swap would
    * destroy table history, so those error out loudly instead. */
  private val fileProviders =
    Set("parquet", "orc", "json", "csv", "text", "avro", "hive")

  /** Deregister a partitioned table's entries (retaining data) before
    * dropping it: after renames its locations can point into ANOTHER
    * table's directory, and a plain DROP would follow them and delete
    * that table's data. */
  private def dropTableSafely(spark: SparkSession,
      parts: Seq[String]): Unit = {
    val catalog = spark.sessionState.catalog
    val id = ident(parts)
    if (catalog.tableExists(id)) {
      if (catalog.getTableMetadata(id).partitionColumnNames.nonEmpty) {
        val specs = catalog.listPartitions(id).map(_.spec)
        if (specs.nonEmpty)
          catalog.dropPartitions(id, specs, ignoreIfNotExists = true,
            purge = false, retainData = true)
      }
      spark.sql(s"DROP TABLE ${quoted(parts)}")
    }
  }

  /** Fix a renamed-in partitioned table whose partition entries still
    * point at its pre-rename location: purge (retaining data) and
    * rediscover under the current location. */
  private def repairPartitions(spark: SparkSession,
      parts: Seq[String]): Unit = {
    val catalog = spark.sessionState.catalog
    val id = ident(parts)
    if (catalog.getTableMetadata(id).partitionColumnNames.nonEmpty) {
      val stale = catalog.listPartitions(id).map(_.spec)
      if (stale.nonEmpty)
        catalog.dropPartitions(id, stale, ignoreIfNotExists = true,
          purge = false, retainData = true)
      spark.sql(s"MSCK REPAIR TABLE ${quoted(parts)}")
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val tName = targetParts.mkString(".")
    val sName = sourceParts.mkString(".")
    val catalog = spark.sessionState.catalog
    val oldParts = targetParts.init :+ (targetParts.last + "__merge_old")
    if (!catalog.tableExists(ident(targetParts))) {
      // roll back an interrupted swap (crash between the two renames)
      if (catalog.tableExists(ident(oldParts)))
        spark.sql(s"ALTER TABLE ${quoted(oldParts)} RENAME TO " +
          quoted(targetParts))
    } else if (catalog.tableExists(ident(oldParts))) {
      // crash AFTER the renames but before cleanup: the target may have
      // stale partition entries and the old copy must be dropped via
      // the deregistration path (its entries point into the live
      // target's directory — a plain DROP would delete live data)
      repairPartitions(spark, targetParts)
      dropTableSafely(spark, oldParts)
    }
    val meta = catalog.getTableMetadata(ident(targetParts))
    val provider = meta.provider.getOrElse("parquet").toLowerCase
    if (!fileProviders.contains(provider))
      throw new UnsupportedOperationException(
        s"graft MERGE INTO rewrites file-source tables only; " +
          s"`$tName` uses provider '$provider', which may support " +
          "native row-level MERGE — use that instead")
    if (meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
      throw new UnsupportedOperationException(
        s"graft MERGE INTO does not support EXTERNAL table `$tName`: " +
          "the staged swap would relocate its data into the warehouse")
    // the WHEN actions as planner clauses (tryRewrite admits only these)
    def column(e: Option[Expression]) = e.map(ColumnBridge.column)
    def assigns(kvs: Seq[Assignment]): Option[Seq[(String, Column)]] =
      Some(kvs.map(a => nameOf(a.key) -> ColumnBridge.column(a.value)))
    def clause(a: MergeAction): MergeInto.Clause = a match {
      case UpdateStarAction(c) => MergeInto.Update(column(c))
      case UpdateAction(c, kvs, _) => MergeInto.Update(column(c), assigns(kvs))
      case DeleteAction(c) => MergeInto.Delete(column(c))
      case InsertStarAction(c) => MergeInto.Insert(column(c))
      case InsertAction(c, kvs) => MergeInto.Insert(column(c), assigns(kvs))
    }
    val result = MergeInto.merge(spark.table(tName), targetAlias,
      spark.table(sName), sourceAlias, ColumnBridge.column(spec.condition),
      spec.matched.map(clause), spec.notMatched.map(clause),
      spec.bySource.map(clause))

    // swap preserving format, partitioning, and bucketing. Order matters
    // for safety: the merged result is fully materialized as the staging
    // table FIRST; then old-out / new-in are two metastore renames, and
    // the old data is dropped only after the new table is in place — a
    // failure at any point leaves either the original or the renamed
    // original on disk (and the next MERGE rolls the rename back).
    val tQ = quoted(targetParts)
    val stageParts = targetParts.init :+ (targetParts.last + "__merge_stg")
    val stageQ = quoted(stageParts)
    val oldQ = quoted(oldParts)
    dropTableSafely(spark, stageParts)
    dropTableSafely(spark, oldParts)
    val writer = result.write.mode("overwrite").format(provider)
    if (meta.partitionColumnNames.nonEmpty)
      writer.partitionBy(meta.partitionColumnNames: _*)
    meta.bucketSpec.foreach { bs =>
      val w2 = writer.bucketBy(bs.numBuckets,
        bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
      if (bs.sortColumnNames.nonEmpty)
        w2.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
    }
    writer.saveAsTable(stageQ.replace("`", ""))
    spark.sql(s"ALTER TABLE $tQ RENAME TO $oldQ")
    spark.sql(s"ALTER TABLE $stageQ RENAME TO $tQ")
    // RENAME moves the table directory but does NOT rewrite per-partition
    // locations: fix the renamed-in table's stale entries, then drop the
    // old copy through the deregistration path (its entries point INTO
    // the new table's directory). A crash anywhere in here is finished
    // by the next MERGE's recovery block.
    repairPartitions(spark, targetParts)
    dropTableSafely(spark, oldParts)
    Seq.empty
  }

  private def quoted(parts: Seq[String]): String =
    parts.map(p => s"`$p`").mkString(".")
}
