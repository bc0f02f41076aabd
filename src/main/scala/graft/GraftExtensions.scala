package graft

import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.expressions.{If, And}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.CosineSimilarity

/** Optimizer rule: cosine_sim(x, x) ≡ 1.0 for any non-null x — folds
  * the self-similarity a generated pipeline can produce (e.g. a knn
  * query joined back to its own source) into a literal, skipping the
  * O(d) loop per row.
  */
object FoldSelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
        if (a.nullable) {
          If(IsNotNull(a), Literal(1.0, DoubleType), Literal(null, DoubleType))
        } else Literal(1.0, DoubleType)
    }
}

/** Session extensions — SURVEY.md §2.12: the engine's custom Catalyst
  * surface registered the idiomatic way, so SQL users get the native
  * expressions too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{literalLong, literalString}

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[graft.functions.NgramsExpr].getName, "ngrams"),
      (exprs: Seq[Expression]) => graft.functions.NgramsExpr(exprs(0),
        exprs(1) match {
          case Literal(n: Int, _) => n
          case other => throw new IllegalArgumentException(
            s"ngrams(text, n): n must be an integer literal, got $other")
        })))
    // Grouped top-k as SQL: `top_k_rows(struct(...), k[, smallest])`
    // — the k-bounded-heap aggregate (map-side partial ships ≤k rows
    // per group per partition; see functions.TopKAgg).
    e.injectFunction((
      new FunctionIdentifier("top_k_rows"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName, "top_k_rows"),
      (exprs: Seq[Expression]) => {
        if (exprs.length < 2 || exprs.length > 3)
          throw new IllegalArgumentException(
            s"top_k_rows(struct, k[, smallest]) takes 2 or 3 " +
              s"arguments, got ${exprs.length}")
        val k = exprs(1) match {
          case Literal(n: Int, _) => n
          case other => throw new IllegalArgumentException(
            s"top_k_rows(struct, k[, smallest]): k must be an integer " +
              s"literal, got $other")
        }
        val smallest = exprs.lift(2).forall {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"top_k_rows: smallest must be a boolean literal, got $other")
        } && exprs.length > 2
        // return the raw AggregateFunction — the analyzer wraps it
        // (and handles DISTINCT/FILTER) during resolution
        graft.functions.TopKAgg(exprs.head, k, smallest)
      }))
    e.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    // merge-on-read catalog reads: rewrite a DV-carrying snapshot's
    // relation into `scan ⟕̸ broadcast(DV keys)` at resolution —
    // without this rule the catalog refuses MoR snapshots (loudly)
    e.injectResolutionRule(s => new sources.MorReadRule(s))
    e.injectOptimizerRule(_ => FoldSelfCosine)
    e.injectOptimizerRule(_ => plans.BinnedIntervalRule)
    e.injectOptimizerRule(_ => plans.MaterializedViewRule)
    // a small plan runs as one stage: decided from plan stats here,
    // and again from measured query-stage sizes when AQE re-optimizes;
    // after the MV rewrite, which matches aggregates over bare scans
    e.injectOptimizerRule(_ => plans.OnePartitionRule)
    e.injectRuntimeOptimizerRule(_ => plans.OnePartitionRule)

    // a storage table function resolves, at analysis, to `f`'s plan
    def tvf(name: String)(
        f: (Seq[Expression], sources.GraftStorage) => DataFrame): Unit =
      e.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => f(exprs, sources.GraftStorage(
          org.apache.spark.sql.SparkSession.active)).queryExecution.analyzed))

    // SQL time travel over the versioned storage format — the TVF
    // surface of the lakehouse engines (`SELECT ... FROM
    // graft_versioned('/t', 0)`), resolved at analysis time to the
    // manifest-pinned snapshot relation. Omitting the version reads
    // latest. The path/version must be literals: the manifest resolve
    // happens during analysis, there is no row context to evaluate in.
    tvf("graft_versioned") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_versioned")
      val version = exprs.lift(1).map(literalLong(_, "graft_versioned"))
      // pruned resolve: stats-in-log file skipping when the
      // manifest records stats; falls back to the plain snapshot
      // read (incl. the DV anti-join form) otherwise
      st.readVersionedPruned(path, version)
    }
    // Timestamp time travel: `FROM graft_versioned_at('/t',
    // '2026-08-14 07:00:00')` — the newest snapshot committed at or
    // before the instant (commit instant = the manifest publish).
    // The timestamp is a UTC literal string, parsed at analysis.
    tvf("graft_versioned_at") { (exprs, st) =>
      val path = literalString(exprs(0), "graft_versioned_at")
      val ts = literalString(exprs(1), "graft_versioned_at")
      val millis = java.time.LocalDateTime
        .parse(ts.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      st.readVersionedAsOf(path, millis)
    }
    // Ref read TVF: `FROM graft_ref('/t', 'rel-1')` — snapshot read
    // through a named tag or branch (the `_refs/` pointers); pruned
    // like any pinned-version read.
    tvf("graft_ref") { (exprs, st) =>
      val path = literalString(exprs(0), "graft_ref")
      val name = literalString(exprs(1), "graft_ref")
      st.readVersionedRef(path, name)
    }
    // Refs inventory TVF: `SELECT * FROM graft_refs('/t')` →
    // (ref, version) per tag/branch, metadata-rate.
    tvf("graft_refs") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_refs")
      st.refsVersioned(path)
    }
    // Snapshot inventory TVF: `SELECT * FROM graft_files('/t')` →
    // (version, file, bytes) per manifest entry — metadata-rate at
    // any table size (manifests, not listings of data).
    tvf("graft_files") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_files")
      st.filesVersioned(path)
    }
    // CDC TVF: `SELECT * FROM graft_changes('/t', v_from, v_to)` →
    // row-level inserts/deletes between two snapshots, computed from
    // the manifest file diff (cost scales with churn, not table
    // size; GraftStorage.changesVersioned).
    tvf("graft_changes") { (exprs, st) =>
      val path = literalString(exprs(0), "graft_changes")
      val from = literalLong(exprs(1), "graft_changes")
      val to = literalLong(exprs(2), "graft_changes")
      st.changesVersioned(path, from, to)
    }
    // DESCRIBE HISTORY TVF: `SELECT * FROM graft_history('/t')` →
    // (version, committed_at, n_files, n_rows) per commit,
    // metadata-rate (manifests + R lines only).
    tvf("graft_history") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_history")
      st.historyVersioned(path)
    }
    // Metadata-rate COUNT(*) TVF: `SELECT * FROM graft_count('/t'
    // [, version])` → one (cnt) row summed from the manifest's R
    // row-count lines when possible (GraftStorage.countVersioned) —
    // the stats-only-query fast path, SQL-visible.
    tvf("graft_count") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_count")
      val version = exprs.lift(1).map(literalLong(_, "graft_count"))
      import st.spark.implicits._
      // manifest fast path resolves to a literal row; otherwise the
      // count stays a LAZY plan — analysis (and EXPLAIN) must never
      // trigger the fallback scan
      st.countVersionedFast(path, version) match {
        case Some(n) => Seq(n).toDF("cnt")
        case None => st.readVersioned(path, version)
          .agg(org.apache.spark.sql.functions
            .count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
      }
    }
    // Constraint inventory TVF: `SELECT * FROM graft_constraints('/t')`
    // → (name, predicate) — the DESCRIBE CONSTRAINTS surface of the
    // commit-gated CHECK machinery (GraftStorage.addCheckConstraint).
    tvf("graft_constraints") { (exprs, st) =>
      val path = literalString(exprs.head, "graft_constraints")
      import st.spark.implicits._
      st.checkConstraints(path).toSeq.sorted.toDF("name", "predicate")
    }
  }
}

object GraftExtensions {
  private def literalString(e: Expression, fn: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be a string literal, got $other")
  }

  private def literalLong(e: Expression, fn: String): Long = e match {
    case Literal(v, org.apache.spark.sql.types.ByteType |
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) if v != null =>
      v.toString.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: version must be an integer literal, got $other")
  }
}
