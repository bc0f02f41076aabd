package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Makes merge-on-read snapshots readable through the SQL catalog:
  * an analyzer rule that rewrites every READ of a DV-carrying graft
  * snapshot from
  *
  *   `DataSourceV2Relation(GraftVersionedTable)`
  *
  * into
  *
  *   `relation LEFT ANTI JOIN broadcast(DV key rows)`
  *
  * — one anti join per deletion-vector key column, the exact plan
  * shape `GraftStorage.readVersioned` produces on the V1 path, but
  * sitting ABOVE the V2 relation so the scan keeps everything the
  * catalog read path earns: the manifest-pinned file list, plan-time
  * zone/bloom pruning, vectorized parquet, runtime file filtering,
  * and key-grouped (SPJ) partitioning. This is the standard lakehouse
  * move — Delta resolves DV/CDC reads with analyzer plan rewrites the
  * same way — and it is why the rewrite lives in the ANALYZER, not in
  * the scan: a V2 batch scan is one file relation and cannot express
  * a join, while a per-reader row filter would force the whole scan
  * off the vectorized path.
  *
  * Scale shape: a DV is O(deleted keys) by construction (the MoR
  * write path refuses anything else — `deleteVersionedMor`), so the
  * build side is broadcast-sized however large the table is; the
  * 100 TB scan side never re-shuffles. Aggregate pushdown into the
  * scan is naturally blocked by the join (pre-DV MIN/MAX/COUNT would
  * be wrong), and the manifest-count fast path independently refuses
  * DV snapshots ([[GraftStorage.countVersionedFast]]).
  *
  * Soundness guards:
  *   - the rewritten relation re-loads the table PINNED to the
  *     version whose DVs were read (a racing commit between rule and
  *     scan cannot mismatch file list vs DV set) and flagged
  *     `dvApplied` so the rule is idempotent across analyzer passes
  *     and the scan's no-extensions refusal stands down;
  *   - only READ positions rewrite: the target relation of
  *     INSERT / UPDATE / DELETE / MERGE stays raw — appends never
  *     touch DVs, and the row-level machinery refuses DV snapshots
  *     itself (a rewrite there would resurrect deleted rows through
  *     the copy-on-write group scan). MERGE *sources*, INSERT-SELECT
  *     sources, CTAS sources, and subqueries all rewrite.
  *
  * Reference analogue: the reference merges per-part indexes so that
  * downstream readers see one coherent artifact
  * (IndexFileMerger.java); here the "index" is the deletion set and
  * coherence is enforced at plan rewrite instead of file merge.
  */
class MorReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level DML targets belong to the row-level machinery (which
    // refuses DV snapshots loudly); rewrite only their read sides
    case m: MergeIntoTable =>
      m.copy(sourceTable = rewriteReads(m.sourceTable))
    case _: UpdateTable | _: DeleteFromTable => plan
    case i: InsertIntoStatement =>
      // the INSERT target must stay a bare relation for
      // ResolveInsertInto (appends to a MoR table are legal and
      // DV-neutral); the SELECT side is a plain read
      i.copy(query = rewriteReads(i.query))
    case w: V2WriteCommand =>
      // the query child is the obvious read side; row-level writes
      // (ReplaceData/WriteDelta) ALSO carry a group-filter subquery
      // expression on the command node itself that re-reads the
      // MERGE/DELETE source — rewrite those plans too (the write
      // TARGET is a NamedRelation field, not an expression, so it
      // stays raw)
      w.withNewQuery(rewriteReads(w.query)).transformExpressions {
        case se: SubqueryExpression if se.plan.resolved =>
          se.withNewPlan(rewriteReads(se.plan))
      }
    case cta: CreateTableAsSelect =>
      cta.copy(query = rewriteReads(cta.query))
    case rta: ReplaceTableAsSelect =>
      rta.copy(query = rewriteReads(rta.query))
    case c: Command => c
    case read => rewriteReads(read)
  }

  private def rewriteReads(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformUp {
      case rel: DataSourceV2Relation => maybeApplyDvs(rel)
    }
    rewritten.transformAllExpressions {
      case se: SubqueryExpression if se.plan.resolved =>
        se.withNewPlan(rewriteReads(se.plan))
    }
  }

  private def maybeApplyDvs(rel: DataSourceV2Relation): LogicalPlan =
    rel.table match {
      // the read side of a DELTA row-level command
      // ([[GraftMorDeltaOperation]]): Spark's rewrite rules read the
      // target through a RowLevelOperationTable-wrapped relation, and
      // a raw scan there would resurrect DV-deleted rows as UPDATE
      // matches. Same two plans as the plain read below — anti-joins
      // above the relation (pure-delete DVs) or the V1 sequence-
      // scoped plan (mixed generations) — except the relation itself
      // is kept (the write machinery owns it), so idempotence rides a
      // plan-instance tag and the scan permission rides the op flag.
      // Group-based (CoW) operations stay raw: they refuse DV
      // snapshots themselves, and their group scan must see raw rows.
      case MorReadRule.DeltaOpTable(op)
          if rel.getTagValue(MorReadRule.NoDvsTag).isEmpty &&
            rel.getTagValue(MorReadRule.DvWrappedTag).isEmpty =>
        val st = GraftStorage(session)
        // mapped snapshot: the delta write itself refuses (compact
        // first), but the command's READ side must still resolve to
        // correct logical rows so the refusal is the loudest error
        if (st.hasColumnMapping(op.path, Some(op.version)))
          return graftV1Plan(rel, op.path, op.version)
        val (orderedFiles, dvs) =
          st.manifestFilesDvs(op.path, op.version)
        if (dvs.isEmpty) {
          rel.setTagValue(MorReadRule.NoDvsTag, ())
          rel
        } else if (orderedFiles.exists(_._2 > 0) ||
            dvs.exists(_._1 == GraftStorage.PosDvCol)) {
          // mixed DV generations: the op's own scan is never built
          // on this path, the V1 plan replaces the relation outright
          graftV1Plan(rel, op.path, op.version)
        } else {
          rel.setTagValue(MorReadRule.DvWrappedTag, ())
          op.dvApplied = true
          antiJoinDvs(rel, dvs, op.path, op.version)
        }
      case t: GraftVersionedTable if !t.dvApplied &&
          rel.getTagValue(MorReadRule.NoDvsTag).isEmpty =>
        val st = GraftStorage(session)
        // the exact version-resolution order of
        // GraftVersionedTable.newScanBuilder, so the rule and the
        // scan agree on which snapshot is being read
        val v = t.pinnedVersion
          .orElse(Option(rel.options.get("versionAsOf")).map(_.toLong))
          .getOrElse(st.latestVisibleVersion(t.path))
        // RENAME/DROP mapping: a V2 scan cannot project stored names
        // to logical ones — substitute the V1 projected read (which
        // also resolves any DVs), grafted onto this relation's
        // attribute ids. Compaction rewrites the mapping away and
        // restores the plain V2 plan.
        if (st.hasColumnMapping(t.path, Some(v)))
          return graftV1Plan(rel, t.path, v)
        val (orderedFiles, dvs) = st.manifestFilesDvs(t.path, v)
        // POSITION DVs anti-join on _metadata columns the V2 relation
        // does not expose — the V1 plan (which materializes them)
        // substitutes, same as mixed generations
        if (dvs.exists(_._1 == GraftStorage.PosDvCol))
          return graftV1Plan(rel, t.path, v)
        if (dvs.isEmpty) {
          // tag THIS plan instance so later analyzer fixpoint
          // iterations skip the version/manifest metadata round-trips
          // — per-instance, so a fresh query (fresh relation node)
          // always re-resolves and a racing MoR commit is never
          // masked by a stale cache
          rel.setTagValue(MorReadRule.NoDvsTag, ())
          rel
        }
        else if (orderedFiles.exists(_._2 > 0)) {
          // mixed DV generations (files committed AFTER a delete, or
          // MoR upserts): the sequence-scoped read needs per-segment
          // anti joins over file SUBSETS, which one V2 relation
          // cannot express — plan through the V1 reader and graft its
          // output onto the relation's attribute ids so parents
          // resolve unchanged. Compaction folds the generations away
          // and restores the single-relation V2 plan.
          graftV1Plan(rel, t.path, v)
        }
        else {
          val left = rel.copy(table =
            new GraftVersionedTable(t.path, Some(v), dvApplied = true))
          antiJoinDvs(left, dvs, t.path, v)
        }
      case _ => rel
    }

  /** The V1 sequence-scoped read of `path` at `v`, its output
    * grafted onto `rel`'s attribute ids so parents resolve unchanged
    * (the mixed-generation plan both read surfaces share).
    */
  private def graftV1Plan(rel: DataSourceV2Relation, path: String,
      v: Long): LogicalPlan = {
    val inner = GraftStorage(session).readVersioned(path, Some(v))
      .queryExecution.analyzed
    val byName = inner.output.map(a => a.name -> a).toMap
    Project(rel.output.map { o =>
      val a = byName.getOrElse(o.name,
        throw new IllegalStateException(
          s"column '${o.name}' missing from the MoR read of " +
            s"$path version $v"))
      Alias(a, o.name)(exprId = o.exprId)
    }, inner)
  }

  /** One anti join per DV key column above `left`, however many MoR
    * commits piled up on that key (same grouping as the V1 reader).
    */
  private def antiJoinDvs(left: LogicalPlan,
      dvs: Seq[(String, String)], path: String,
      v: Long): LogicalPlan =
    dvs.groupBy(_._1).toSeq.sortBy(_._1)
      .foldLeft(left) {
        case (acc, (keyCol, entries)) =>
          val resolver = session.sessionState.analyzer.resolver
          val leftKey = acc.output
            .find(a => resolver(a.name, keyCol))
            .getOrElse(throw new IllegalStateException(
              s"deletion-vector key column '$keyCol' is not in " +
                s"the schema of $path version $v"))
          val dvPlan = GraftStorage(session)
            .dvRows(keyCol, Some(leftKey.dataType), entries.map(_._2))
            .queryExecution.analyzed
          // non-null-safe equality: NULL-keyed rows survive by
          // contract (the MoR write path rejects NULL-keyed
          // victims), matching the V1 anti join exactly
          Join(acc, dvPlan, LeftAnti,
            Some(EqualTo(leftKey, dvPlan.output.head)),
            JoinHint(None,
              Some(HintInfo(strategy = Some(BROADCAST)))))
      }
}

object MorReadRule {
  /** Plan-instance marker: this relation was examined and its
    * snapshot carries no DVs — skip re-resolving on later analyzer
    * fixpoint iterations (tags don't survive into new plan instances,
    * so every new query re-checks).
    */
  private[sources] val NoDvsTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graftNoDvs")

  /** Plan-instance marker for a row-level command's read relation
    * whose DVs this rule already applied IN PLACE (the relation
    * itself is kept for the write machinery, so — unlike the plain
    * read path's dvApplied table copy — re-runs need a tag to stay
    * idempotent).
    */
  private[sources] val DvWrappedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graftDvWrapped")

  /** Extractor: the MoR delta operation behind a row-level command's
    * read relation (Spark's RowLevelOperationTable wrapper, reached
    * through the bridge so its private[sql] type is never named).
    */
  private[sources] object DeltaOpTable {
    def unapply(t: org.apache.spark.sql.connector.catalog.Table)
        : Option[GraftMorDeltaOperation] =
      org.apache.spark.sql.graftbridge.V2Bridge.rowLevelOperationOf(t)
        .collect { case op: GraftMorDeltaOperation => op }
  }
}
