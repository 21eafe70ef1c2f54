package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference,
  EqualTo, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal, NamedExpression,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter,
  LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, Join, LeafNode,
  Limit, LogicalPlan, Project, Sample, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType,
  IntegerType, LongType, ShortType, StringType}

/** Deferred native-table scan: a logical leaf that stands in for a
  * Delta/Iceberg table until the optimizer has pushed the query's
  * filters down onto it, then realizes into the native reader's pruned
  * plan. This is what makes round-8's planning-time file skipping fire
  * AUTOMATICALLY from every entry point — `spark.sql` over a temp view,
  * `Catalog.sql`, a DataFrame `.where()` — instead of only when the
  * caller threads a filter string into `read(filter = ...)` (the
  * reference behavior: pruning drives off the QUERY, reference
  * intake/readers/convert.py:390-399 `DeltaQueryToDask`).
  *
  * Mechanism choice (SURVEY §4 preference order): NOT a DataSource V2
  * `SupportsPushDownFilters` table — a DSv2 scan must produce its own
  * `PartitionReader[InternalRow]`, which would mean hand-decoding
  * parquet and abandoning Spark's vectorized reader, column pruning and
  * whole-stage codegen for exactly the scans where they matter most.
  * Instead the leaf realizes into the reader's ordinary
  * `spark.read.parquet` composition, so the physical plan is the same
  * vectorized `FileScan` a direct read gets, and Catalyst still pushes
  * the residual predicate into the parquet scan (`PushedFilters`).
  *
  * Rewrite timing: [[ResolveDeferredScans]] self-installs into
  * `spark.experimental.extraOptimizations` (the public
  * "User Provided Optimizers" batch — works on ANY running session, no
  * builder-time extension needed). That batch runs after the operator
  * optimization fixpoint, so by the time the rule sees the tree,
  * `PushDownPredicates` has already collapsed and pushed every
  * pushable predicate to sit directly above the leaf — Catalyst itself
  * does the filter collection across joins, projects and subqueries.
  * Time-dependent expressions (`current_date()` etc.) are already
  * frozen to literals by then (`ComputeCurrentTime` runs in the first
  * optimizer batch), so the pruned and scanned values agree by
  * construction — stronger than the string path, which must refuse
  * such conjuncts.
  *
  * Correctness stance mirrors FileSkipping: pushing is conservative
  * per conjunct (deterministic, subquery-free, round-trips through the
  * SQL parser) and the reader re-applies the pushed filter to its
  * result; the original Filter node is dropped only when EVERY
  * conjunct was pushed, so the result always equals the unpruned
  * query. A conjunct that fails to render keeps the file via the
  * retained Filter — fail open, never wrong.
  *
  * Each realization calls the reader afresh, so an unpinned deferred
  * frame plans against the table's CURRENT snapshot at query time
  * (connector semantics: register once, every query sees the live
  * table), and a self-joined view realizes one independent subtree per
  * leg (via [[MultiInstanceRelation]]) with no shared expression ids.
  *
  * The same leaf serves `Resolve.sample` (every file reader's
  * `discover`): there the rescan ignores the files' layout and returns
  * the memoized sample rows as a local relation, applying any pushed
  * filter to those rows — a filter over a sample never reaches its scan.
  *
  * Profile note: this machinery (and native-table file skipping in
  * general) is BATCH-only. The native `graft-delta` STREAMING source
  * (round 11) tails the log through its own version-offset walk —
  * [[graft.readers.DeltaStreamSource]] — and never composes with this
  * leaf; Iceberg streaming stays with the connector jar.
  */
case class DeferredScan(tableDesc: String, output: Seq[Attribute],
    rescan: Option[String] => DataFrame) extends LeafNode with MultiInstanceRelation {
  override def newInstance(): DeferredScan = copy(output = output.map(_.newInstance()))
  // conservative until realized: never a broadcast candidate
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(Long.MaxValue))
  override def simpleString(maxFields: Int): String = s"DeferredScan $tableDesc"
}

object DeferredScan {

  /** A DataFrame whose scan realizes lazily with the query's filters
    * pushed into the native reader. `schemaProbe` runs once, eagerly,
    * to validate the table's metadata and fix the schema (so a bad
    * path still fails at registration, like the eager API) WITHOUT
    * building the data scan — files the first query's filter will
    * prune away must never be touched, not even for registration. */
  def frame(spark: SparkSession, tableDesc: String,
      schemaProbe: () => DataFrame,
      rescan: Option[String] => DataFrame): DataFrame = {
    val probe = schemaProbe()
    install(spark)
    val node = DeferredScan(tableDesc, probe.queryExecution.analyzed.output, rescan)
    org.apache.spark.sql.graft.bridge.ofRows(spark, node)
  }

  /** Idempotently register the rewrite rule (and its guard strategy) on
    * `spark`. CAVEAT: both live in `spark.experimental` settings a user
    * may reassign WHOLESALE (`extraOptimizations = Seq(myRule)`), which
    * silently removes the rewrite — registered deferred frames then
    * reach physical planning unrealized. [[DeferredScanGuardStrategy]]
    * turns that state into an actionable error naming this method;
    * every `frame()` call re-installs, so newly registered views heal
    * the session as a side effect. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(ResolveDeferredScans))
      exp.extraOptimizations = exp.extraOptimizations :+ ResolveDeferredScans
    if (!exp.extraStrategies.contains(DeferredScanGuardStrategy))
      exp.extraStrategies = exp.extraStrategies :+ DeferredScanGuardStrategy
  }
}

/** Clear failure when the rewrite rule has been removed (a user
  * reassigning `spark.experimental.extraOptimizations` wholesale):
  * without the rule a [[DeferredScan]] leaf reaches physical planning,
  * where Spark's generic planner error names nothing actionable. This
  * strategy only ever fires in that broken state — when the rule is
  * installed, every leaf realizes during optimization — and names the
  * one-line fix. (A user who wipes BOTH experimental settings removes
  * this guard too; `frame()` re-installs on the next registration.) */
object DeferredScanGuardStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = plan match {
    case s: DeferredScan => throw new IllegalStateException(
      s"graft: deferred scan '${s.tableDesc}' reached physical planning unrealized — " +
        "spark.experimental.extraOptimizations no longer contains ResolveDeferredScans " +
        "(usually a wholesale reassignment). Call graft.plans.DeferredScan.install(spark) " +
        "to re-register, then re-run the query.")
    case _ => Nil
  }
}

/** Per-planning-pass snapshot pinning: two references to the same
  * UNPINNED deferred table within ONE query (self-join legs, repeated
  * subqueries) realize via independent rescans, so a writer committing
  * mid-planning could hand the legs different snapshots — a
  * within-query inconsistency a connector avoids by resolving the
  * snapshot once per query. [[ResolveDeferredScans]] opens a scope
  * around each optimization pass; the readers resolve their snapshot
  * probe (Delta: log-tail version token; Iceberg: current metadata
  * file) through [[pin]], so the FIRST resolution per table wins for
  * every sibling leg in the pass. Live-table semantics across queries
  * is untouched — each pass re-probes. Scopes nest (realizing a leg
  * may run a bounded key-collect whose own planning re-enters the
  * rule on this thread) and share the outermost pass's pins. */
object SnapshotPin {
  private final class Scope {
    val pins = new java.util.HashMap[String, Any](); var depth = 0
  }
  private val tl = new ThreadLocal[Scope] { override def initialValue(): Scope = new Scope }
  private[plans] def enter(): Unit = tl.get.depth += 1
  private[plans] def exit(): Unit = {
    val s = tl.get
    s.depth -= 1
    if (s.depth <= 0) { s.pins.clear(); s.depth = 0 }
  }
  /** Within an open scope the first `resolve` per key wins; outside any
    * scope (an eager `read()` call, no deferred planning underway)
    * resolves directly with no pinning. */
  def pin[T](key: String)(resolve: => T): T = {
    val s = tl.get
    if (s.depth <= 0) resolve
    else {
      if (!s.pins.containsKey(key)) s.pins.put(key, resolve)
      s.pins.get(key).asInstanceOf[T]
    }
  }
}

/** Realizes every [[DeferredScan]] leaf, pushing the filter sitting
  * directly above it (post-pushdown) into the native reader.
  *
  * JOIN-DRIVEN pruning (round 10, VERDICT r9 #1): static predicates
  * alone leave the most common 100 TB pattern unpruned — a star join
  * (`fact JOIN dim ON fact.p = dim.k WHERE dim.region = 'EU'`) carries
  * its filter on `dim`, so nothing sits above the fact leaf and every
  * live fact file would be listed and scanned. When a deferred leaf is
  * a leg of an equi-join whose OTHER side is small (logical
  * `sizeInBytes` within `autoBroadcastJoinThreshold` — the same bound
  * Spark itself uses to call a side broadcast-worthy) and
  * replay-deterministic, the rule executes that side's distinct join
  * keys at planning time (bounded driver collect, cap
  * `spark.graft.deferredScan.maxJoinKeys`, default 10000) and INSERTS
  * them as an `IN (<keys>)` conjunct into the Filter above the leaf —
  * realization then happens in the ordinary Filter-above-leaf cases as
  * the transform recurses, so conjuncts contributed by SEVERAL joins
  * (a multi-dimension star, `fact JOIN dim1 ... JOIN dim2 ...`)
  * accumulate and the leaf realizes ONCE with all of them plus its
  * static conjuncts — DSv2 runtime filtering / dynamic partition
  * pruning semantics, built on the existing `rescan(filter)` path.
  * The build side executes twice (once for keys, once in the join) —
  * the trade Spark's own non-reuse DPP makes, and cheap by
  * construction for a side the size gate already bounds.
  *
  * Every gate fails OPEN (the leg realizes with its static conjuncts
  * only; correctness never depends on the IN list because the join
  * itself re-filters): join types whose pruned side drops unmatched
  * rows only (inner both, left-semi left, left-outer right, right-outer
  * left); bare-attribute `EqualTo` keys; key types whose literals
  * round-trip SQL text exactly (int/long/short/byte/boolean/string/
  * date/decimal — float/double text and timestamp sub-millis excluded,
  * the FileSkipping stance); a build side free of nondeterminism,
  * limits and samples (its planning-time and runtime executions must
  * agree, or the IN list could drop rows the real join would match).
  * An empty key set renders `IN (NULL)` — never-true, correct for a
  * join whose build side is empty, and it prunes every file. The
  * key-count cap no longer fails open outright: above it the rule
  * falls back to a `key BETWEEN min AND max` conjunct from a 2-value
  * build-side aggregate (see [[rangePruned]]) — always collectable,
  * order-preserving, and it composes with the readers' existing
  * stats/partition range pruning. */
object ResolveDeferredScans extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast-path: queries with no deferred leaf (the overwhelming
    // majority on a session that registered one view once) skip the
    // scope bookkeeping and the join-matching transform entirely
    if (!plan.exists(_.isInstanceOf[DeferredScan])) return plan
    SnapshotPin.enter()
    try foldLocal(applyResolved(plan)) finally SnapshotPin.exit()
  }

  /** A leaf realized as a local relation (a stored discover sample)
    * leaves Projects, Filters and Limits above it that the optimizer's
    * LocalRelation batch, which ran before this rule, never saw; folding
    * them here lets an action over the sample run on the driver with no
    * job. */
  private def foldLocal(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next.fastEquals(plan)) plan else foldLocal(next)
  }

  private def applyResolved(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(left, right, joinType, Some(cond), _) =>
      val newLeft =
        if (prunableSides(joinType).contains("left")) joinPruned(left, right, cond) else None
      val newRight =
        if (prunableSides(joinType).contains("right")) joinPruned(right, left, cond) else None
      if (newLeft.isEmpty && newRight.isEmpty) j
      else j.copy(left = newLeft.getOrElse(left), right = newRight.getOrElse(right))
    case Filter(cond, scan: DeferredScan) =>
      val (sqlOpt, allPushed) = pushable(cond, scan)
      val realized = realize(scan, sqlOpt)
      if (allPushed) realized else Filter(cond, realized)
    // column pruning may interpose an attribute-only Project
    case Filter(cond, Project(ps, scan: DeferredScan)) if ps.forall(_.isInstanceOf[Attribute]) =>
      val (sqlOpt, allPushed) = pushable(cond, scan)
      val realized = Project(ps, realize(scan, sqlOpt))
      if (allPushed) realized else Filter(cond, realized)
    case scan: DeferredScan => realize(scan, None)
  }

  // ---- join-driven pruning -------------------------------------------

  /** Which legs of `joinType` may be narrowed to the other side's join
    * keys: exactly those whose unmatched rows never reach the output. */
  private def prunableSides(joinType: JoinType): Set[String] = joinType match {
    case Inner      => Set("left", "right")
    case LeftSemi   => Set("left")
    case LeftOuter  => Set("right")
    case RightOuter => Set("left")
    case _          => Set.empty // full outer, left anti, existence: neither
  }

  /** Find the deferred leaf a join leg bottoms out in, with a rebuilder
    * that inserts one more conjunct into the Filter directly above it
    * (creating that Filter when absent, merging via And when present).
    *
    * The leg may pass through row-INDEPENDENT operators only — bare
    * Projects, Filters, and other Joins — because the inserted conjunct
    * removes leaf rows that the CONTRIBUTING join would drop anyway,
    * and that argument needs every intermediate operator to treat rows
    * independently: a leaf row's removal must not change any OTHER
    * row's survival or value. Filters qualify trivially; a Join of any
    * type qualifies too (an unmatched-side row the removal orphans
    * null-extends or drops, and its null/absent key then fails the
    * contributing join exactly like the removed row it mirrored).
    * Aggregates, windows, generators, limits do NOT (removal changes
    * other rows' results) — recursion stops there, failing open. A
    * semi/anti join leg whose output hides the leaf's columns
    * self-guards: the outer condition cannot reference them, so no key
    * pair matches and nothing is inserted. */
  private def leafOf(p: LogicalPlan): Option[(DeferredScan, Expression => LogicalPlan)] =
    p match {
      case s: DeferredScan =>
        Some((s, (e: Expression) => Filter(e, s)))
      case f @ Filter(c, s: DeferredScan) =>
        Some((s, (e: Expression) =>
          f.copy(condition = org.apache.spark.sql.catalyst.expressions.And(c, e))))
      // the realize cases push a Filter sitting above an attribute-only
      // Project — merge into THAT filter rather than opening a new one
      // below it, or the static conjuncts would stop pushing
      case f @ Filter(c, Project(ps, s: DeferredScan)) if ps.forall(_.isInstanceOf[Attribute]) =>
        Some((s, (e: Expression) =>
          f.copy(condition = org.apache.spark.sql.catalyst.expressions.And(c, e))))
      case pj @ Project(ps, inner) if ps.forall(_.isInstanceOf[Attribute]) =>
        leafOf(inner).map { case (s, rb) =>
          (s, (e: Expression) => pj.copy(child = rb(e)))
        }
      case f @ Filter(_, inner) =>
        leafOf(inner).map { case (s, rb) =>
          (s, (e: Expression) => f.copy(child = rb(e)))
        }
      case j: Join =>
        leafOf(j.left).map { case (s, rb) =>
          (s, (e: Expression) => j.copy(left = rb(e)): LogicalPlan)
        }.orElse(leafOf(j.right).map { case (s, rb) =>
          (s, (e: Expression) => j.copy(right = rb(e)): LogicalPlan)
        })
      case _ => None
    }

  /** Key types whose collected values render as EXACT SQL literals:
    * float/double (decimal text) and timestamp (sub-millisecond digits)
    * are excluded for the same round-trip reasons as FileSkipping. */
  private def literalExact(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         StringType | DateType | _: DecimalType => true
    case _ => false
  }

  /** The build side's planning-time key collect and its runtime join
    * execution must return the same set, or the IN list could exclude
    * rows the join would match. */
  private def replayDeterministic(p: LogicalPlan): Boolean =
    !p.exists {
      case _: Sample => true
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
      case node => node.expressions.exists(e => !e.deterministic)
    }

  /** Insert the distinct join keys of `other` as an `IN` conjunct into
    * the Filter above the deferred leaf `leg` bottoms out in, or None
    * to fail open (the leg stays as-is). The leaf is NOT realized here:
    * realization belongs to the Filter-above-leaf cases, which the
    * transform reaches as it recurses into the rebuilt leg — so IN
    * conjuncts contributed by SEVERAL joins (a multi-dimension star:
    * `fact JOIN dim1 ... JOIN dim2 ...`) accumulate on the one Filter
    * and the leaf realizes once with all of them plus its static
    * conjuncts. */
  private def joinPruned(leg: LogicalPlan, other: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = scala.util.Try {
    val (scan, rebuild) = leafOf(leg).getOrElse(return None)
    // ambiguous names can't render; mirror pushable()'s gate
    if (scan.output.map(_.name.toLowerCase).distinct.size != scan.output.size) return None
    // bare-attribute equi keys between the leaf and the other side
    val keyPairs: Seq[(Attribute, Attribute)] = splitConjuncts(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
        if scan.outputSet.contains(a) && other.outputSet.contains(b) => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
        if scan.outputSet.contains(a) && other.outputSet.contains(b) => (a, b)
    }.filter { case (a, b) => literalExact(a.dataType) && a.dataType == b.dataType }
    if (keyPairs.isEmpty) return None
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold <= 0 || other.stats.sizeInBytes > threshold) return None
    if (!replayDeterministic(other)) return None
    val cap = conf.getConfString("spark.graft.deferredScan.maxJoinKeys", "10000").toInt
    if (cap <= 0) return None
    val spark = SparkSession.active
    val keysPlan = Limit(Literal(cap + 1), Distinct(Project(keyPairs.map(_._2), other)))
    val rows = org.apache.spark.sql.graft.bridge.ofRows(spark, keysPlan).collect()
    if (rows.length > cap) return rangePruned(spark, keyPairs, other, rebuild)
    val inConjuncts: Seq[Expression] = keyPairs.zipWithIndex.map { case ((a, _), i) =>
      val lits: Seq[Expression] = rows.toSeq.filterNot(_.isNullAt(i))
        .map(r => Literal.create(r.get(i), a.dataType): Expression).distinct
      // no non-null keys: IN (NULL) is never true — the correct result
      // for a join against an empty build side, and it prunes every file
      org.apache.spark.sql.catalyst.expressions.In(a,
        if (lits.isEmpty) Seq(Literal.create(null, a.dataType)) else lits)
    }
    Some(rebuild(inConjuncts.reduce(And(_, _))))
  }.toOption.flatten

  /** Cap-overflow fallback (VERDICT r10 #1): a build side with more
    * distinct keys than `maxJoinKeys` can't become an IN list, but its
    * key RANGE is always collectable — a 2-value min/max aggregate
    * returns one row regardless of cardinality, and min/max are
    * order-preserving so `key BETWEEN min AND max` is implied by
    * `key IN (<all keys>)`. The range conjunct composes with the
    * readers' existing stats/partition range pruning (Delta partition
    * values + parquet footers, Iceberg manifest bounds), so a 100k-key
    * dim still excludes every fact file outside the dim's key span
    * instead of scanning the whole table. Weaker than the IN list for
    * sparse key sets — a file inside the range with no matching key
    * survives — but the join re-filters, so like every other gate this
    * only ever loses pruning power, never rows. An all-null/empty build
    * side has null min: render the same never-true `IN (NULL)` as the
    * list path. No bloom residual: the size gate already bounds the
    * build side under the broadcast threshold, so the join executes as
    * a broadcast hash join whose probe discards non-matching fact rows
    * without a shuffle — a post-scan bloom would duplicate that probe
    * without saving any IO. */
  private def rangePruned(spark: SparkSession, keyPairs: Seq[(Attribute, Attribute)],
      other: LogicalPlan, rebuild: Expression => LogicalPlan): Option[LogicalPlan] = {
    val aggExprs: Seq[NamedExpression] = keyPairs.zipWithIndex.flatMap { case ((_, b), i) =>
      Seq(Alias(Min(b).toAggregateExpression(), s"mn$i")(),
        Alias(Max(b).toAggregateExpression(), s"mx$i")())
    }
    val row = org.apache.spark.sql.graft.bridge.ofRows(spark,
      Aggregate(Nil, aggExprs, other)).collect().head
    val conjuncts: Seq[Expression] = keyPairs.zipWithIndex.map { case ((a, _), i) =>
      if (row.isNullAt(2 * i))
        org.apache.spark.sql.catalyst.expressions.In(a, Seq(Literal.create(null, a.dataType)))
      else And(
        GreaterThanOrEqual(a, Literal.create(row.get(2 * i), a.dataType)),
        LessThanOrEqual(a, Literal.create(row.get(2 * i + 1), a.dataType)))
    }
    Some(rebuild(conjuncts.reduce(And(_, _))))
  }

  /** Render the pushable conjuncts of `cond` as one ANSI SQL string for
    * the reader's `filter` parameter; second member is true when EVERY
    * conjunct pushed (the residual Filter node can then be dropped,
    * since the reader re-applies the pushed filter itself). */
  private def pushable(cond: Expression, scan: DeferredScan): (Option[String], Boolean) = {
    // ambiguous (case-folded duplicate) column names can't render safely
    if (scan.output.map(_.name.toLowerCase).distinct.size != scan.output.size)
      return (None, false)
    val conjs = splitConjuncts(cond)
    val rendered = conjs.map(renderConjunct)
    val pushedAll = rendered.forall(_.isDefined)
    val sql = rendered.flatten match {
      case Nil => None
      case some => Some(some.map(s => s"($s)").mkString(" AND "))
    }
    (sql, pushedAll && sql.isDefined)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** One conjunct → SQL, or None (fail open: the retained Filter keeps
    * the semantics; only pruning power is lost). Deterministic only —
    * nondeterministic predicates must evaluate once per row at scan
    * time, never at plan time — and the text must round-trip through
    * the parser AND re-resolve with BUILTIN functions only: a resolved
    * ScalaUDF renders as `UDF(...)` (parses, resolves to nothing), and
    * a session-registered function may not exist in the conf-scoped
    * clone some readers build their residual filter in. Rejecting
    * non-builtin function names keeps both failure modes impossible. */
  private def renderConjunct(e: Expression): Option[String] = scala.util.Try {
    require(e.deterministic, "nondeterministic")
    require(!SubqueryExpression.hasSubquery(e), "subquery")
    // a UDF registered under a BUILTIN name renders as that name and
    // would re-resolve to the builtin — reject any node whose SQL form
    // is not its own semantics
    require(!e.exists {
      case _: org.apache.spark.sql.catalyst.expressions.ScalaUDF => true
      case _: org.apache.spark.sql.catalyst.expressions.NonSQLExpression => true
      case _ => false
    }, "udf / non-sql expression")
    val bare = e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }
    val sql = bare.sql
    val reparsed = CatalystSqlParser.parseExpression(sql)
    reparsed.foreach {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        require(f.nameParts.length == 1 &&
          org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(f.nameParts.head)),
          s"non-builtin function ${f.nameParts.mkString(".")}")
      case _ => ()
    }
    sql
  }.toOption

  /** Substitute the reader's (already-optimized) plan for the leaf,
    * re-aliased to the leaf's expression ids so references above keep
    * resolving. Always a FRESH rescan: two legs of a self-join realize
    * disjoint subtrees, and an unpinned table sees its current
    * snapshot. */
  private def realize(scan: DeferredScan, filterSql: Option[String]): LogicalPlan = {
    val df = scan.rescan(filterSql)
    val src = df.queryExecution.optimizedPlan
    // names AND types, not just arity: a same-width evolution (rename,
    // reorder, type change) re-aliased positionally would serve wrong
    // data under the registered names
    val drifted = src.output.size != scan.output.size ||
      src.output.zip(scan.output).exists { case (from, to) =>
        !from.name.equalsIgnoreCase(to.name) ||
          from.dataType.catalogString != to.dataType.catalogString
      }
    require(!drifted,
      s"deferred scan ${scan.tableDesc}: schema changed since registration " +
        s"(${scan.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")} -> " +
        s"${src.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")}); re-register the view")
    val aliases: Seq[NamedExpression] = src.output.zip(scan.output).map {
      case (from, to) => Alias(from, to.name)(exprId = to.exprId)
    }
    Project(aliases, src)
  }
}
