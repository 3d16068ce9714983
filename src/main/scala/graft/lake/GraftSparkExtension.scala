package graft.lake

import org.apache.spark.SparkConf
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.{ConfBridge, PlanBridge}
import org.apache.spark.sql.internal.StaticSQLConf

/** Session extension wiring SQL DML onto graft tables
  * (`spark.sql.extensions=graft.lake.GraftSparkExtension`):
  *
  * {{{
  * CREATE TEMPORARY VIEW t USING graft OPTIONS (path '<root>');
  * INSERT INTO t VALUES ('r1', 'a', 'c1', 'scala', 'body');
  * INSERT OVERWRITE t SELECT ...;
  * DELETE FROM t WHERE repo = 'r1';          -- tombstone events
  * UPDATE t SET lang = 'scala' WHERE ...;    -- read-project-upsert
  * MERGE INTO t USING src s                  -- one committed change batch
  *   ON t.repo = s.repo AND t.path = s.path
  *   WHEN MATCHED AND s.op = 'del' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET content = s.content
  *   WHEN NOT MATCHED THEN INSERT *;
  * }}}
  *
  * Why a rule is REQUIRED and not a nicety: Spark's own v1 fallback turns
  * `INSERT INTO` over a `HadoopFsRelation` into a direct file write at the
  * relation's root path — Parquet files dropped into the table that no
  * snapshot records, i.e. silent corruption. This resolution rule runs
  * before that fallback and routes the insert through the committing write
  * path ([[LakeTable.append]] / [[LakeTable.overwrite]]); sessions WITHOUT
  * the extension fail loudly instead ([[GraftFileIndex.rootPaths]] is
  * empty, so the fallback has no target to resolve). Same arrangement as
  * Delta's `DeltaSparkSessionExtension` + `DeltaAnalysis`.
  *
  * The extension also sizes Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100) to
  * [[GraftSparkExtension.CodegenCacheEntries]] unless the user set it; a
  * user value wins. The cache key is (class loader, code), and each
  * whole-stage class is compiled twice, once by the planner's compile check
  * and once in tasks, so a warm pass over all 51 queries needs about 850
  * entries; at 100 nearly every warm query recompiles. The default goes into
  * the active
  * context's conf ([[ConfBridge]]), which reaches every entry point that
  * loads the extension. `CodeGenerator` reads the size once per JVM, at its
  * first use, so it takes effect only when the extension loads with the
  * JVM's first session.
  */
final class GraftSparkExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ConfBridge.activeContextConf.foreach(GraftSparkExtension.setEngineDefaults)
    ext.injectResolutionRule(session => new GraftInsertRule(session))
  }
}

object GraftSparkExtension {
  /** Room for the 51-query working set (about 850 keys) and then some. */
  val CodegenCacheEntries = 2000

  private[lake] def setEngineDefaults(conf: SparkConf): Unit =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
}

final class GraftInsertRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private object GraftRel {
    /** The DML target may sit under the view's SubqueryAlias; aliases
      * preserve attribute ids, so conditions resolved against the aliased
      * output still bind against the bare relation.
      */
    def unapply(p: LogicalPlan): Option[(LogicalRelation, String)] = p match {
      case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, child) =>
        unapply(child)
      case v: org.apache.spark.sql.catalyst.plans.logical.View => unapply(v.child)
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.location.isInstanceOf[GraftFileIndex] =>
        Some((lr, h.location.asInstanceOf[GraftFileIndex].tableRoot))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case InsertIntoStatement(GraftRel(lr, root),
        partitionSpec, userCols, query, overwrite, _, byName)
        if query.resolved =>
      require(partitionSpec.isEmpty,
        "graft tables take no PARTITION spec (layout is key-range clustering)")
      GraftInsertCommand(root, query, overwrite, lr.output.map(_.name), userCols, byName)

    // DELETE FROM t WHERE … → tombstone events for the matching keys.
    // Expressions are UNBOUND (attribute refs → names) so the command can
    // re-resolve them against the table's CURRENT head at run time — a DML
    // statement must target current state, not the snapshot the view was
    // created against.
    case DeleteFromTable(GraftRel(_, root), cond) if cond.resolved =>
      GraftDeleteCommand(root, GraftDml.unbind(cond))

    // UPDATE t SET … WHERE … → read matching rows, apply assignments, upsert
    case UpdateTable(GraftRel(_, root), assignments, cond)
        if assignments.forall(a => a.key.resolved && a.value.resolved) &&
          cond.forall(_.resolved) =>
      val byName: Seq[(String, GraftDml.Unbound)] =
        assignments.map { a =>
          a.key match {
            case ar: AttributeReference => ar.name -> GraftDml.unbind(a.value)
            case other => throw new UnsupportedOperationException(
              s"UPDATE assignment target must be a column, got $other")
          }
        }
      require(!byName.exists(kv => kv._1 == "repo" || kv._1 == "path"),
        "cannot UPDATE a key column (repo, path) — DELETE then INSERT instead")
      GraftUpdateCommand(root, byName, cond.map(GraftDml.unbind))

    // MERGE INTO t USING s ON t.repo = … AND t.path = … WHEN MATCHED/NOT
    // MATCHED … — the north rule's statement-level surface. Each source row
    // becomes ONE change event (insert/delete) at the table's next LSN
    // through the same merge path; semantics notes on [[GraftMergeCommand]].
    case m @ MergeIntoTable(GraftRel(tgtLr, root), source, mergeCond,
        matchedActions, notMatchedActions, notMatchedBySource, withSchemaEvolution)
        if source.resolved && mergeCond.resolved &&
          (matchedActions ++ notMatchedActions).forall(_.resolved) =>
      require(notMatchedBySource.isEmpty,
        "graft MERGE does not support WHEN NOT MATCHED BY SOURCE " +
          "(express target-side sweeps as DELETE FROM … WHERE)")
      require(!withSchemaEvolution,
        "graft MERGE does not take WITH SCHEMA EVOLUTION — schema evolves " +
          "through schema_change events")
      val tgtSet = tgtLr.outputSet
      val srcSet = source.outputSet
      def sides(e: Expression): GraftDml.Unbound = GraftDml.unbindSides(e, tgtSet, srcSet)

      // the ON clause must pin both key columns to source-side expressions;
      // any extra conjuncts join as additional predicates
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      var keyExprs = Map.empty[String, GraftDml.Unbound]
      var extra = Vector.empty[GraftDml.Unbound]
      def srcOnly(e: Expression): Boolean = e.references.subsetOf(srcSet)
      conjuncts(mergeCond).foreach {
        case EqualTo(a: AttributeReference, v)
            if tgtSet.contains(a) && Seq("repo", "path").contains(a.name) && srcOnly(v) =>
          keyExprs += a.name -> sides(v)
        case EqualTo(v, a: AttributeReference)
            if tgtSet.contains(a) && Seq("repo", "path").contains(a.name) && srcOnly(v) =>
          keyExprs += a.name -> sides(v)
        case other => extra :+= sides(other)
      }
      require(keyExprs.keySet == Set("repo", "path"),
        s"graft MERGE requires the ON clause to equate BOTH key columns " +
          s"(repo, path) to source expressions; bound: ${keyExprs.keySet.mkString(", ")}")

      val tgtCols = tgtLr.output.map(_.name)
      val nonKeyCols = tgtCols.filterNot(c => c == "repo" || c == "path")
      def starAssigns(cols: Seq[String]): Seq[(String, GraftDml.Unbound)] =
        cols.map(c => c -> new GraftDml.Unbound(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("__s", c))))
      def namedAssigns(as: Seq[org.apache.spark.sql.catalyst.plans.logical.Assignment],
                       allowKeys: Boolean, dropKeys: Boolean = false): Seq[(String, GraftDml.Unbound)] =
        as.flatMap { a =>
          val name = a.key match {
            case ar: AttributeReference => ar.name
            case other => throw new UnsupportedOperationException(
              s"MERGE assignment target must be a column, got $other")
          }
          val isKey = name == "repo" || name == "path"
          // star-expanded updates assign every column incl. keys; the ON
          // clause is the key's authority, so star key assignments drop
          if (isKey && dropKeys) None
          else {
            require(allowKeys || !isKey,
              "MERGE cannot UPDATE a key column (the ON clause fixes the key)")
            Some(name -> sides(a.value))
          }
        }
      val matchedSpecs = matchedActions.map {
        case UpdateAction(c, assigns, fromStar) =>
          (c.map(sides), Some(namedAssigns(assigns, allowKeys = false, dropKeys = fromStar)))
        case UpdateStarAction(c) => (c.map(sides), Some(starAssigns(nonKeyCols)))
        case DeleteAction(c) => (c.map(sides), None)
        case other => throw new UnsupportedOperationException(s"MERGE action: $other")
      }
      val notMatchedSpecs = notMatchedActions.map {
        case InsertAction(c, assigns) => (c.map(sides), namedAssigns(assigns, allowKeys = true))
        case InsertStarAction(c) => (c.map(sides), starAssigns(tgtCols))
        case other => throw new UnsupportedOperationException(s"MERGE action: $other")
      }
      GraftMergeCommand(root, source, keyExprs.toSeq.sortBy(_._1), extra,
        matchedSpecs, notMatchedSpecs)
  }
}

/** The committing half of an `INSERT INTO` graft table: executes the query,
  * maps its columns onto the table schema (positionally, via the statement's
  * column list, or by name), and upserts through the merge path.
  */
final case class GraftInsertCommand(
    root: String, query: LogicalPlan, overwrite: Boolean,
    tableCols: Seq[String], userCols: Seq[String], byName: Boolean)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = PlanBridge.ofRows(spark, query)
    val df =
      if (byName) df0
      else if (userCols.nonEmpty) {
        require(df0.columns.length == userCols.length,
          s"INSERT column list has ${userCols.length} columns, query produced ${df0.columns.length}")
        df0.toDF(userCols: _*)
      } else {
        require(df0.columns.length == tableCols.length,
          s"table has ${tableCols.length} columns, query produced ${df0.columns.length} " +
            "(use an INSERT column list for partial inserts)")
        df0.toDF(tableCols: _*)
      }
    val table = new LakeTable(spark, root)
    // single-shot SQL writes skip the ledger (see LakeTable.merge docs)
    if (overwrite) table.overwrite(df, "adhoc", 0L, recordInLedger = false)
    else table.append(df, "adhoc", 0L, recordInLedger = false)
    Seq.empty
  }
}

private[lake] object GraftDml {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** A deliberately-unresolved expression hidden from `QueryPlan
    * .expressions` traversal: the command re-resolves it BY NAME against
    * the table's current head at run time, and CheckAnalysis must not
    * reject the plan for carrying it.
    */
  final class Unbound(val e: Expression) extends Serializable {
    override def toString: String = e.sql
  }

  /** Detach a resolved expression from the view's attribute ids so it can
    * re-resolve by NAME against the table's current head in the command.
    */
  def unbind(e: Expression): Unbound = new Unbound(e.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
  })

  /** Two-sided unbind for MERGE: target attrs re-resolve under the `__t`
    * alias, source attrs under `__s`, so the command's run-time join frame
    * can bind them unambiguously even when both sides share column names.
    */
  def unbindSides(e: Expression,
                  tgt: org.apache.spark.sql.catalyst.expressions.AttributeSet,
                  src: org.apache.spark.sql.catalyst.expressions.AttributeSet): Unbound =
    new Unbound(e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("__t", a.name))
      case a: AttributeReference if src.contains(a) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("__s", a.name))
    })

  def asColumn(u: Unbound): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(u.e)
}

/** `DELETE FROM <graft view> WHERE …`: the matching keys become tombstone
  * events through the merge path ([[LakeTable.delete]]) — one committed
  * snapshot, visible to the change feed as ordinary deletes. Matching rows
  * are read via [[LakeTable.readWhere]] at RUN time (current head, with
  * manifest file pruning from the predicate).
  */
final case class GraftDeleteCommand(root: String, cond: GraftDml.Unbound)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val table = new LakeTable(spark, root)
    val keys = table.readWhere(GraftDml.asColumn(cond))
      .select(org.apache.spark.sql.functions.col("repo"),
        org.apache.spark.sql.functions.col("path"))
    table.delete(keys, "adhoc", 0L, recordInLedger = false)
    Seq.empty
  }
}

/** `UPDATE <graft view> SET … WHERE …`: the assignment-projected matching
  * rows (read at RUN time from the current head) upsert back through the
  * merge path — at the next LSN, so they win over their previous versions
  * by ordinary last-LSN-wins semantics.
  */
final case class GraftUpdateCommand(
    root: String,
    assignments: Seq[(String, GraftDml.Unbound)],
    cond: Option[GraftDml.Unbound])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val table = new LakeTable(spark, root)
    val matching = cond.map(c => table.readWhere(GraftDml.asColumn(c)))
      .getOrElse(table.read())
    val assigned = assignments.toMap
    val updated = matching.select(matching.columns.toSeq.map { c =>
      assigned.get(c).map(e => GraftDml.asColumn(e).as(c)).getOrElse(col(c))
    }: _*)
    table.append(updated, "adhoc", 0L, recordInLedger = false)
    Seq.empty
  }
}

/** `MERGE INTO <graft view> USING <source> ON … WHEN …` — evaluated as one
  * committed change batch: the source left-joins the table's CURRENT live
  * state on the key equalities from the ON clause, each source row picks
  * the FIRST applicable action (SQL MERGE order semantics), and the
  * surviving rows become insert/delete events at the next LSN through the
  * full merge path (dedup window, pruning, clustered write, snapshot
  * commit).
  *
  * Semantics notes: updates are whole-row upserts (columns a partial
  * UPDATE SET leaves unassigned keep the matched target row's value —
  * materialized into the event, exactly like SQL MERGE); duplicate source
  * keys collapse to ONE winner by generated event order (the engine's
  * upsert contract promises one survivor per key, not which); rows with no
  * applicable action produce no event.
  */
final case class GraftMergeCommand(
    root: String,
    source: LogicalPlan,
    keyExprs: Seq[(String, GraftDml.Unbound)],
    joinExtra: Seq[GraftDml.Unbound],
    matched: Seq[(Option[GraftDml.Unbound], Option[Seq[(String, GraftDml.Unbound)]])],
    notMatched: Seq[(Option[GraftDml.Unbound], Seq[(String, GraftDml.Unbound)])])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    import GraftDml.asColumn
    val table = new LakeTable(spark, root)
    val userCols = table.head().schema.fieldNames.toSeq
    val keyed = keyExprs.toMap

    val tgt = table.read().withColumn("__matched", lit(true)).alias("__t")
    val src = PlanBridge.ofRows(spark, source).alias("__s")
    val joinCond = (keyExprs.map { case (k, e) => col(s"__t.$k") === asColumn(e) } ++
      joinExtra.map(asColumn)).reduce(_ && _)
    val joined = src.join(tgt, joinCond, "left")
    val isMatched = coalesce(col("__matched"), lit(false))

    // first-applicable-action chains (an unconditional action ends a chain)
    def chain[A](specs: Seq[(Option[GraftDml.Unbound], A)],
                 value: A => Column, fallback: Column): Column =
      specs.foldRight(fallback) { case ((c, a), els) =>
        c.map(cc => when(asColumn(cc), value(a)).otherwise(els)).getOrElse(value(a))
      }
    val nullStr = lit(null).cast("string")
    val opCol = when(isMatched,
        chain[Option[Seq[(String, GraftDml.Unbound)]]](matched,
          a => if (a.isDefined) lit("insert") else lit("delete"), nullStr))
      .otherwise(chain[Seq[(String, GraftDml.Unbound)]](notMatched,
        _ => lit("insert"), nullStr))

    def valueOf(c: String): Column = {
      val current = col(s"__t.$c")
      val m = chain[Option[Seq[(String, GraftDml.Unbound)]]](matched, {
        case Some(assigns) => assigns.toMap.get(c).map(asColumn).getOrElse(
          if (keyed.contains(c)) asColumn(keyed(c)) else current)
        case None => // delete: only the key matters
          if (keyed.contains(c)) asColumn(keyed(c)) else lit(null)
      }, lit(null))
      val nm = chain[Seq[(String, GraftDml.Unbound)]](notMatched,
        assigns => assigns.toMap.get(c).map(asColumn).getOrElse(
          if (keyed.contains(c)) asColumn(keyed(c)) else lit(null)), lit(null))
      when(isMatched, m).otherwise(nm).as(c)
    }

    val changes = joined
      .withColumn("__op", opCol)
      .filter(col("__op").isNotNull)
      .select(userCols.map(valueOf) :+ col("__op"): _*)
    table.applyChanges(changes, "adhoc", 0L, recordInLedger = false)
    Seq.empty
  }
}
