package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Cast, Divide, EqualTo, Expression, NamedExpression, PredicateHelper, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

import graft.expressions.{BlockBloomAggregate, BlockBloomMightContainBytes, BlockBloomMightContainExpr}
import graft.ops.SplitBlockBloom

/** Plan intelligence the curated query corpus applies by hand, promoted to
  * optimizer rules so USER-written SQL / un-hinted DataFrame code gets the
  * same 100 TB posture (the reference engine does both generically in its
  * optimizer — `src/daft-logical-plan/src/optimization/rules/
  * push_down_filter.rs`, `reorder_joins/`; in a Catalyst engine the
  * equivalent hook is `SparkSessionExtensions`, wired in
  * `graft.Engine.session`).
  *
  * Shared table-role heuristic: a relation "scales with the corpus" when
  * its subtree reads one of the configured FACT tables
  * (`spark.graft.optimizer.factTables`; the default names this fixture's
  * unbounded tables) with no cardinality-bounding operator (Limit, global
  * aggregate) between scan and join input. On a real deployment the conf
  * is the user's declaration of which tables grow with the data — the
  * same role annotation a warehouse's semantic layer carries.
  *
  * Two halves, one decision each:
  *   - statically (this rule) a fact-scaled side NEVER broadcasts: the
  *     plan before execution only has size ESTIMATES, and an estimate
  *     cannot tell a few-KB sliver from a 100 TB-scaled one. The rule marks
  *     each such side NO_BROADCAST_HASH and records the marks in the
  *     [[Marked]] tag of the join;
  *   - at runtime ([[MeasuredBroadcastRule]]) AQE has MEASURED the side,
  *     and a side measured at or under `spark.sql.adaptive.
  *     autoBroadcastJoinThreshold` loses the mark, so AQE's ordinary join
  *     selection may broadcast it — whatever table it reads. The cap is one
  *     value for every measured side, set in `graft.Engine.session`.
  */
object FactBroadcastGuard extends Rule[LogicalPlan] {

  private[plans] def enabled: Boolean =
    conf.getConfString("spark.graft.optimizer.factBroadcastGuard.enabled", "true").toBoolean

  /** (left, right): which sides of a join carry the guard's own mark. A
    * NO_BROADCAST_HASH that AQE's DynamicJoinSelection adds at runtime
    * reads the same as the guard's, so the runtime half lifts only the
    * sides recorded here. */
  private[plans] val Marked: TreeNodeTag[(Boolean, Boolean)] =
    TreeNodeTag[(Boolean, Boolean)]("graft.factBroadcastGuard.marked")

  private[plans] def isMark(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(NO_BROADCAST_HASH))

  private[plans] def factNames: Set[String] =
    conf.getConfString("spark.graft.optimizer.factTables",
        "lineitem,orders,customer,part,events,documents,embeddings")
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

  private[plans] def leafTableName(leaf: LogicalPlan): Option[String] = leaf match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table.toLowerCase).orElse(lr.relation match {
        case fs: HadoopFsRelation =>
          // path-based reads: <dir>/<table>.parquet — name up to the first dot
          fs.location.rootPaths.headOption.map(_.getName.takeWhile(_ != '.').toLowerCase)
        case _ => None
      })
    case _ => None
  }

  /** Fact provenance THROUGH a cache lease (VERDICT r12 #4): a persisted
    * subtree reaches the optimizer as an `InMemoryRelation` LEAF, hiding
    * the fact scan underneath — the r10 q18 incident where AQE broadcast
    * a leased fact sliver. The cached PHYSICAL plan is available on the
    * relation, so walk it with the same bounded-by-construction rules
    * (limits / group-less aggregates stop the scan from scaling). */
  private def cachedPlanScales(p: org.apache.spark.sql.execution.SparkPlan,
      facts: Set[String]): Boolean = {
    import org.apache.spark.sql.execution._
    p match {
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
          _: TakeOrderedAndProjectExec => false
      case a: aggregate.BaseAggregateExec if a.groupingExpressions.isEmpty => false
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.headOption
          .exists(rp => facts.contains(rp.getName.takeWhile(_ != '.').toLowerCase))
      case i: columnar.InMemoryTableScanExec =>
        cachedPlanScales(i.relation.cacheBuilder.cachedPlan, facts)
      case a: adaptive.AdaptiveSparkPlanExec => cachedPlanScales(a.inputPlan, facts)
      case other => other.children.exists(cachedPlanScales(_, facts))
    }
  }

  /** Whether `plan`'s OUTPUT cardinality scales with a fact table. Bounded
    * by construction: Limit, and global (group-less) aggregates — exactly
    * one row. A GROUPED aggregate over a fact is treated as scaling (its
    * key cardinality usually grows with the data; ndv stats that could
    * prove otherwise aren't available without CBO), which errs toward
    * blocking a broadcast — the failure mode is a shuffle that could have
    * been a broadcast, never an executor-OOM broadcast of a 100 TB-scaled
    * build side. */
  private[plans] def scalesWithFact(plan: LogicalPlan, facts: Set[String]): Boolean = {
    def walk(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => false
      case a: Aggregate if a.groupingExpressions.isEmpty => false
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        cachedPlanScales(imr.cacheBuilder.cachedPlan, facts)
      case l: LeafNode => leafTableName(l).exists(facts.contains)
      case other => other.children.exists(walk)
    }
    walk(plan)
  }

  /** The one static broadcast predicate: whether the planner broadcasts
    * join side `p`, carrying `hint`, before execution. This rule, the
    * eager-aggregation gate and the bloom-prefilter gate all ask it.
    *   - A broadcast hint forces it.
    *   - The guard's mark forbids it, and so does a fact-scaled subtree
    *     (the side the guard marks).
    *   - Otherwise the size estimate decides against `threshold`: Spark's
    *     `autoBroadcastJoinThreshold` by default, none (any size) when the
    *     guard asks which sides only their fact provenance keeps out. */
  private[plans] def broadcastsStatically(p: LogicalPlan, hint: Option[HintInfo],
      facts: Set[String],
      threshold: Option[BigInt] = Some(conf.autoBroadcastJoinThreshold)): Boolean =
    hint.flatMap(_.strategy) match {
      case Some(BROADCAST) => true
      case Some(NO_BROADCAST_HASH) => false
      case _ => !scalesWithFact(p, facts) && threshold.forall(p.stats.sizeInBytes <= _)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    val facts = factNames
    plan.transformUp {
      case j @ Join(l, r, _, _, hint) =>
        // an explicit user strategy hint (broadcast(), .hint("shuffle_*"))
        // always wins — the guard only claims the undecided sides
        def guard(side: Option[HintInfo], p: LogicalPlan): Option[HintInfo] = side match {
          case Some(h) if h.strategy.isDefined => side
          case _ if !broadcastsStatically(p, side, facts, threshold = None) =>
            Some(side.getOrElse(HintInfo()).copy(strategy = Some(NO_BROADCAST_HASH)))
          case _ => side
        }
        val nl = guard(hint.leftHint, l)
        val nr = guard(hint.rightHint, r)
        val nj = if (nl == hint.leftHint && nr == hint.rightHint) j
          else { val c = j.copy(hint = JoinHint(nl, nr)); c.copyTagsFrom(j); c }
        // re-recorded on every pass, so a join that a later optimizer rule
        // rebuilt without its tags is marked again: before execution only
        // this rule writes NO_BROADCAST_HASH (Spark has no user syntax for
        // it, and DynamicJoinSelection runs only inside AQE)
        if (isMark(nl) || isMark(nr)) nj.setTagValue(Marked, (isMark(nl), isMark(nr)))
        nj
    }
  }
}

/** The runtime half of [[FactBroadcastGuard]], injected as an AQE runtime
  * optimizer rule. Once every leaf of a guarded join side is a materialized
  * query stage, AQE knows the side's size instead of estimating it; a side
  * measured at or under `spark.sql.adaptive.autoBroadcastJoinThreshold`
  * (the cap Spark's planner applies to runtime statistics) loses the
  * guard's mark, and AQE's ordinary join selection may then broadcast it.
  * Only the sides in the join's [[FactBroadcastGuard.Marked]] tag are
  * lifted, never a user's strategy hint or a NO_BROADCAST_HASH that
  * DynamicJoinSelection added. Off with the guard
  * (`spark.graft.optimizer.factBroadcastGuard.enabled=false`). */
object MeasuredBroadcastRule extends Rule[LogicalPlan] {

  private def measuredUnder(p: LogicalPlan, cap: Long): Boolean =
    p.collectLeaves().forall {
      case q: LogicalQueryStage => q.isMaterialized
      case _ => false
    } && p.stats.sizeInBytes <= cap

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!FactBroadcastGuard.enabled) return plan
    val cap = conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
      .getOrElse(conf.autoBroadcastJoinThreshold)
    plan.transformUp {
      case j: Join if j.getTagValue(FactBroadcastGuard.Marked).isDefined =>
        val (ml, mr) = j.getTagValue(FactBroadcastGuard.Marked).get
        val liftL = ml && measuredUnder(j.left, cap)
        val liftR = mr && measuredUnder(j.right, cap)
        if (!liftL && !liftR) j
        else {
          def lift(h: Option[HintInfo], yes: Boolean) =
            if (yes) h.map(_.copy(strategy = None)) else h
          val nj = j.copy(hint = JoinHint(lift(j.hint.leftHint, liftL),
            lift(j.hint.rightHint, liftR)))
          nj.copyTagsFrom(j)
          // a lifted side is unmarked for good: a NO_BROADCAST_HASH that
          // DynamicJoinSelection puts there later is AQE's own decision
          val still = (ml && !liftL, mr && !liftR)
          if (still == ((false, false))) nj.unsetTagValue(FactBroadcastGuard.Marked)
          else nj.setTagValue(FactBroadcastGuard.Marked, still)
          nj
        }
    }
  }
}

/** EAGER AGGREGATION (Yan & Larson, VLDB'95): rewrites
  *
  * {{{
  *   Aggregate(G, F(x), Join(fact, other, Inner, fact.k = other.k'))
  *     ⇒ Aggregate(G, F'(p), Join(Aggregate(k, partial F(x) AS p, fact),
  *                                 other, Inner, k = k'))
  * }}}
  *
  * — the q3/q8/q9-shape rewrite the curated corpus applies by hand
  * (`queries/Tpch.scala` q3 "EAGER AGGREGATION below the join"), promoted
  * to a rule so un-hinted user SQL with a `GROUP BY` whose fact-side key
  * is the fact's join key gets the pre-aggregate too. The reference gets
  * this class of win from stats-driven planning
  * (`src/daft-logical-plan/src/optimization/rules/reorder_joins/mod.rs`,
  * `enrich_with_stats.rs`); in Catalyst it is a guarded pre-CBO rewrite.
  *
  * Why it pays at 100 TB: the fact side's one exchange then moves
  * map-side-combined partial rows (sum/count collapse ~rows-per-key×)
  * instead of raw rows, the join's probe stream shrinks by the same
  * factor, and because the pushed grouping keys EQUAL the fact-side equi
  * keys the aggregate's shuffle doubles as the join's shuffle — same
  * exchange count as the original plan, strictly less data through it.
  *
  * Correctness (inner join): every conjunct's fact-side references are
  * exactly the equi-key attributes, so all rows of a pushed group join
  * the same other-side rows; other-side duplication multiplies partials
  * exactly as it multiplied raw rows, and the surviving TOP aggregate
  * re-combines (SUM→SUM of partial sums, COUNT→SUM of partial counts,
  * MIN/MAX pass through). DISTINCT/filtered/non-decomposable aggregates,
  * expression group keys on the fact side, and mixed-side aggregate
  * arguments all bail. A Cast restores the original result type where
  * re-aggregation widens it (decimal SUM precision).
  *
  * Fires only when (each gate a measured failure mode):
  *   - the fact side `scalesWithFact` — the reduction must target the
  *     side that grows with the corpus;
  *   - the other side will NOT broadcast (fact-scaled or over the
  *     threshold, and not broadcast-hinted): under a broadcast hash join
  *     the original plan never shuffles the fact side, so the rewrite
  *     would ADD an exchange where none existed;
  *   - neither side carries an explicit strategy hint (the user took
  *     control — same precedence rule as [[FactBroadcastGuard]]);
  *   - fact-side grouping keys ⊆ fact-side equi keys (bare attributes):
  *     otherwise the pushed aggregate needs its own, extra exchange;
  *   - the fact side is not already aggregated on those keys
  *     (idempotence under the fixpoint batch). */
object EagerAggregationRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.optimizer.eagerAggregation.enabled", "true").toBoolean
  private def minFactBytes: Long =
    conf.getConfString("spark.graft.optimizer.eagerAggregation.minFactBytes",
      (128L << 20).toString).toLong

  private def decomposable(ae: AggregateExpression): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
      ae.aggregateFunction.deterministic &&
      (ae.aggregateFunction match {
        case _: Sum | _: Count | _: Min | _: Max => true
        // AVG decomposes to SUM/COUNT partials — double-typed only: the
        // decimal variant carries its own precision/rounding contract
        // that a naive sum/count quotient would not reproduce
        case a: Average => a.dataType == org.apache.spark.sql.types.DoubleType
        case _ => false
      })

  /** Pushed partial aliases + top-level re-combiner for one aggregate.
    * Most functions need one partial; AVG needs two (sum and count). */
  private def decompose(ae: AggregateExpression, idx: Int)
      : (Seq[Alias], Seq[Attribute] => Expression) = {
    def cmpl(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
      AggregateExpression(f, Complete, isDistinct = false)
    def pinned(e: Expression): Expression =
      if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
    ae.aggregateFunction match {
      case _: Sum =>
        (Seq(Alias(ae, s"_eager_partial_$idx")()),
          ps => pinned(cmpl(Sum(ps.head))))
      case _: Count =>
        (Seq(Alias(ae, s"_eager_partial_$idx")()),
          ps => pinned(cmpl(Sum(ps.head)))) // counts re-add
      case _: Min =>
        (Seq(Alias(ae, s"_eager_partial_$idx")()),
          ps => pinned(cmpl(Min(ps.head))))
      case _: Max =>
        (Seq(Alias(ae, s"_eager_partial_$idx")()),
          ps => pinned(cmpl(Max(ps.head))))
      case a: Average =>
        val s = Alias(cmpl(Sum(a.child)), s"_eager_partial_${idx}_sum")()
        val c = Alias(cmpl(Count(a.child)), s"_eager_partial_${idx}_cnt")()
        import org.apache.spark.sql.types.DoubleType
        (Seq(s, c), ps => pinned(Divide(
          Cast(cmpl(Sum(ps(0))), DoubleType),
          Cast(cmpl(Sum(ps(1))), DoubleType))))
      case other => throw new IllegalStateException(s"not decomposable: $other")
    }
  }

  /** A strategy hint that takes planning out of this rule's hands.
    * NO_BROADCAST_HASH does NOT count: [[FactBroadcastGuard]] installs it
    * on every fact-scaled side before this rule runs, and "don't
    * broadcast" is exactly the premise the rewrite relies on. */
  private def steeringHint(hint: Option[HintInfo]): Boolean =
    hint.exists(h => h.strategy.isDefined && !h.strategy.contains(NO_BROADCAST_HASH))

  private def otherSideWontBroadcast(p: LogicalPlan, hint: Option[HintInfo],
      facts: Set[String]): Boolean =
    !steeringHint(hint) && !FactBroadcastGuard.broadcastsStatically(p, hint, facts)

  /** The fact side already grouped on exactly these keys (this rule's own
    * output, or a user pre-aggregate) — nothing left to collapse. */
  private def alreadyAggregated(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
    case Project(_, child) => alreadyAggregated(child, keys)
    case a: Aggregate => AttributeSet(a.groupingExpressions.flatMap(_.references)) == keys
    case _ => false
  }

  private def tryRewrite(agg: Aggregate, join: Join, factIsLeft: Boolean,
      facts: Set[String]): Option[LogicalPlan] = {
    val (fact, other) = if (factIsLeft) (join.left, join.right) else (join.right, join.left)
    val (factHint, otherHint) =
      if (factIsLeft) (join.hint.leftHint, join.hint.rightHint)
      else (join.hint.rightHint, join.hint.leftHint)
    val cond = join.condition.get

    if (steeringHint(factHint)) return None
    if (!FactBroadcastGuard.scalesWithFact(fact, facts)) return None
    if (!otherSideWontBroadcast(other, otherHint, facts)) return None
    if (fact.stats.sizeInBytes < minFactBytes) return None
    if (!cond.deterministic) return None
    // dominance gate: only collapse the side whose scans dominate the
    // join. Pushing onto the smaller side is usually the PK side of an
    // FK join — grouping by a near-unique key collapses nothing and the
    // hash maps are pure overhead (the q16 lesson). Leaf bytes, not
    // subtree estimates: the size-only visitor inflates Join estimates
    // multiplicatively, which would mask the real ordering.
    def leafBytes(p: LogicalPlan): BigInt =
      p.collectLeaves().map(_.stats.sizeInBytes).sum
    if (leafBytes(fact) < leafBytes(other)) return None

    // fact-side equi-key attributes; every conjunct's fact-side references
    // must be bare equi attrs (a non-equi fact predicate would not be
    // constant within a pushed group unless its attrs are keys — require
    // exactly the key set for the shuffle-reuse property)
    val conjuncts = splitConjunctivePredicates(cond)
    val equiFactAttrs = scala.collection.mutable.LinkedHashSet[Attribute]()
    conjuncts.foreach {
      case EqualTo(a: Attribute, b) if fact.outputSet.contains(a) &&
          b.references.subsetOf(other.outputSet) => equiFactAttrs += a
      case EqualTo(a, b: Attribute) if fact.outputSet.contains(b) &&
          a.references.subsetOf(other.outputSet) => equiFactAttrs += b
      case c if c.references.intersect(fact.outputSet).isEmpty => // other-only: fine
      case _ => return None
    }
    if (equiFactAttrs.isEmpty) return None
    val keySet = AttributeSet(equiFactAttrs.toSeq)

    // grouping: each expr single-sided; fact-side ones must be bare key attrs
    agg.groupingExpressions.foreach { g =>
      val fRefs = g.references.intersect(fact.outputSet)
      if (fRefs.nonEmpty) {
        if (!g.references.subsetOf(fact.outputSet)) return None
        g match {
          case a: Attribute if keySet.contains(a) => // ok
          case _ => return None
        }
      }
    }

    // aggregate functions: all decomposable, fact-side-only arguments
    val aggExprs = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggExprs.isEmpty) return None
    if (!aggExprs.forall(ae =>
        decomposable(ae) && ae.references.subsetOf(fact.outputSet))) return None
    if (alreadyAggregated(fact, keySet)) return None

    // build the pushed partial aggregate: one decomposition per distinct
    // function (AVG contributes two partial columns)
    val partials = scala.collection.mutable.LinkedHashMap[
      Expression, (Seq[Alias], Seq[Attribute] => Expression)]()
    aggExprs.foreach { ae =>
      partials.getOrElseUpdate(ae.canonicalized, decompose(ae, partials.size))
    }
    val pushedKeys: Seq[NamedExpression] = equiFactAttrs.toSeq
    val pushed = Aggregate(pushedKeys,
      pushedKeys ++ partials.values.flatMap(_._1), fact)

    val newJoin =
      if (factIsLeft) join.copy(left = pushed) else join.copy(right = pushed)
    newJoin.copyTagsFrom(join) // the guard's marks ride along
    val newResult = agg.aggregateExpressions.map(_.transform {
      case ae: AggregateExpression if partials.contains(ae.canonicalized) =>
        val (aliases, rebuild) = partials(ae.canonicalized)
        rebuild(aliases.map(_.toAttribute))
    }.asInstanceOf[NamedExpression])
    Some(agg.copy(aggregateExpressions = newResult, child = newJoin))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || plan.isStreaming) return plan
    val facts = FactBroadcastGuard.factNames
    plan.transformUp {
      // look through a pruning Project of bare attributes (the settled
      // post-optimization shape) — it is rebuilt by later pruning
      case agg: Aggregate =>
        val joinOpt = agg.child match {
          case j: Join => Some(j)
          case Project(projList, j: Join)
              if projList.forall(_.isInstanceOf[Attribute]) => Some(j)
          case _ => None
        }
        joinOpt match {
          case Some(join) if join.joinType == Inner && join.condition.isDefined =>
            val base = agg.copy(child = join)
            tryRewrite(base, join, factIsLeft = true, facts)
              .orElse(tryRewrite(base, join, factIsLeft = false, facts))
              .getOrElse(agg)
          case _ => agg
        }
    }
  }
}

/** Injects a split-block-bloom semi-prefilter on the probe side of
  * selective equi-joins — the generic form of the hand-placed
  * [[graft.ops.Prune.bloomSemiPrefilter]] calls, as a runtime filter:
  *
  * {{{
  *   Join(probe, creation, cond)
  *     ⇒ Join(Filter(graft_bloom_might_contain(
  *              scalar-subquery[ graft_block_bloom_agg(xxhash64(ck)) ],
  *              xxhash64(pk)), probe), creation, cond)
  * }}}
  *
  * Same structure as Spark's own `InjectRuntimeFilter`, which at
  * fact⋈fact scale never fires (creation side capped at ~10 MB / 1M keys)
  * and whose `util.sketch` filter passes ~5× its nominal fpp past ~30M
  * keys (r8 measurement). Fires when:
  *   - the probe side is a SCAN CHAIN (Project/Filter over a leaf — see
  *     [[isScanChain]]), big (`minProbeBytes`, default 128 MB), and at
  *     least `probeRatio`× (default 2) the creation side's estimate;
  *   - the creation side is a LIKELY-SELECTIVE Filter over a scan of at
  *     most `maxCreationBytes` (default 256 MB) — the q3 "BUILDING
  *     customers against all lineitem" shape where plain size stats
  *     can't see the reduction. The selectivity requirement is
  *     unconditional (as in Spark's InjectRuntimeFilter): a bloom over
  *     an unfiltered FK dimension contains every probe key and prunes
  *     nothing (r9 measured q14 paying +60% for exactly that). The byte
  *     cap sits where the `bytes/16` key estimate still fits the
  *     16M-key filter ceiling: past it the rule would build a knowingly
  *     overfull filter;
  *   - the creation side will NOT be broadcast (explicit hint, or under
  *     the broadcast threshold without being fact-scaled): a broadcast
  *     hash join never shuffles the probe side, so rows die at the join
  *     for the same per-row cost as the probe — the prefilter pays
  *     exactly when the probe side faces an exchange;
  *   - neither side already carries a graft bloom probe (explicit Prune
  *     calls keep precedence), nothing is streaming, and the join type
  *     preserves no probe-side nulls (Inner / LeftSemi).
  *
  * False positives only pass rows the exact join drops, and probe-side
  * rows with null keys (hash = seed) can never match an inner/semi join,
  * so dropping them early is sound either way: the rewrite is
  * result-identical to the plain join. The filter is sized from the
  * creation-side byte estimate (`expectedKeys ≈ bytes/16`, clamped to
  * [1M, 16M] keys = ≤24 MB of subquery result); an overfull filter only
  * degrades fpp, never correctness. Runs in the pre-CBO batch (Once,
  * after predicate pushdown has settled the creation-side shape). */
object BloomPrefilterRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.optimizer.bloomPrefilter.enabled", "true").toBoolean
  private def minProbeBytes: Long =
    conf.getConfString("spark.graft.optimizer.bloomPrefilter.minProbeBytes",
      (128L << 20).toString).toLong
  private def probeRatio: Long =
    conf.getConfString("spark.graft.optimizer.bloomPrefilter.probeRatio", "2").toLong
  private def maxCreationBytes: Long =
    conf.getConfString("spark.graft.optimizer.bloomPrefilter.maxCreationBytes",
      (256L << 20).toString).toLong

  /** Equi-key pairs (probe-side expr, creation-side expr) from the join
    * condition, conjunct by conjunct. */
  private def equiKeys(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : (Seq[Expression], Seq[Expression]) = {
    val pairs = splitConjunctivePredicates(cond).collect {
      case EqualTo(a, b)
          if a.references.nonEmpty && a.references.subsetOf(left.outputSet) &&
            b.references.nonEmpty && b.references.subsetOf(right.outputSet) => (a, b)
      case EqualTo(a, b)
          if b.references.nonEmpty && b.references.subsetOf(left.outputSet) &&
            a.references.nonEmpty && a.references.subsetOf(right.outputSet) => (b, a)
    }
    pairs.unzip
  }

  /** A side whose size estimate bottoms out in `defaultSizeInBytes`
    * (LogicalRDD and friends report Long.MaxValue) must never be chosen
    * as the probe: the "huge" number is ignorance, not bigness — r9
    * found the rule building a bloom from the BIG scan to filter a tiny
    * driver-built frame in the Iceberg partition-reattach join. */
  private def hasUnknownLeafSize(p: LogicalPlan): Boolean = {
    val dflt = BigInt(conf.defaultSizeInBytes)
    p.collectLeaves().exists(_.stats.sizeInBytes >= dflt)
  }

  private def hasBloomProbe(p: LogicalPlan): Boolean =
    p.exists {
      case Filter(cond, _) =>
        cond.exists {
          case _: BlockBloomMightContainBytes => true
          case _: BlockBloomMightContainExpr => true
          case _ => false
        }
      case _ => false
    }

  /** Project/Filter chain over a leaf with at least one likely-selective
    * predicate — the structural stand-in for "this side is a sliver",
    * since size-only stats don't shrink through filters. */
  private def selectiveFilterOverScan(p: LogicalPlan): Boolean = {
    def walk(p: LogicalPlan, sawSelective: Boolean): Boolean = p match {
      case Project(_, child) => walk(child, sawSelective)
      case Filter(cond, child) => walk(child, sawSelective || isLikelySelective(cond))
      case _: LeafNode => sawSelective
      case _ => false
    }
    walk(p, sawSelective = false)
  }

  /** Structurally probe-able sides: Project/Filter chains over a leaf
    * (the r9 gate) or — r10 — over a JOIN, so the middle join's output in
    * multi-join user SQL can be pruned before its next exchange. Chains
    * over an Aggregate stay excluded: the reduction already happened
    * there, and the probe would run on post-aggregate cardinality. */
  private def isProbeChain(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => isProbeChain(child)
    case Filter(_, child) => isProbeChain(child)
    case _: LeafNode => true
    case _: Join => true
    case _ => false
  }

  /** Whether `p`'s canonical form occurs more than once in the whole
    * query plan. Injecting a bloom filter between a SHARED subtree and
    * its exchange de-duplicates nothing and splits the physical exchange
    * reuse — r9 measured q15's revenue CTE being scanned and aggregated
    * twice (5× the quiet wall time) from exactly such an injection. A
    * subtree with a single consumer cannot lose reuse it never had, so
    * the occurrence count is the precise gate (r9 shipped the blunter
    * leaf-only `isScanChain`, which also skipped legitimate
    * Filter-over-Join probes). Sharing BELOW the probe is fine: those
    * subtrees' own exchanges are untouched by a filter above them. */
  private def occurrences(plan: LogicalPlan): Map[LogicalPlan, Int] = {
    val counts = scala.collection.mutable.HashMap.empty[LogicalPlan, Int]
    plan.foreach { node =>
      // count every non-leaf subtree once per occurrence (leaves are
      // cheap to recompute; reuse loss only matters above an exchange)
      val c = node.canonicalized
      counts.update(c, counts.getOrElse(c, 0) + 1)
    }
    counts.toMap
  }

  private def injectFilter(probe: LogicalPlan, probeKeys: Seq[Expression],
      creation: LogicalPlan, creationKeys: Seq[Expression]): LogicalPlan = {
    // size from the creation-side byte estimate: ≥16 compressed bytes/row
    // assumed, so narrow tables get an OVERSIZED (finer-fpp) filter
    val expectedKeys = math.max(1L << 20,
      math.min(16L << 20, creation.stats.sizeInBytes.toLong / 16))
    val nb = SplitBlockBloom.blocksFor(expectedKeys, 12)
    val agg = BlockBloomAggregate(new XxHash64(creationKeys.toIndexedSeq), nb)
    val alias = Alias(
      AggregateExpression(agg, Complete, isDistinct = false), "graftBloomFilter")()
    val creationCols: Seq[Attribute] =
      creationKeys.flatMap(_.references).distinct
    val aggPlan = Aggregate(Nil, Seq(alias), Project(creationCols, creation))
    val probeCond = BlockBloomMightContainBytes(
      ScalarSubquery(aggPlan), new XxHash64(probeKeys.toIndexedSeq))
    Filter(probeCond, probe)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || plan.isStreaming) return plan
    // computed once on the input plan: rewrites only ADD bloom filters, so
    // stripping them from a (possibly already-rewritten) candidate subtree
    // recovers the canonical form the counter indexed — transformUp
    // rewrites inner joins before outer probe checks run
    lazy val occ = occurrences(plan)
    lazy val facts = FactBroadcastGuard.factNames
    def stripBloomFilters(p: LogicalPlan): LogicalPlan = p.transformUp {
      case Filter(cond, child) if cond.exists {
            case _: BlockBloomMightContainBytes => true
            case _: BlockBloomMightContainExpr => true
            case _ => false
          } => child
    }
    def isShared(p: LogicalPlan): Boolean =
      occ.getOrElse(stripBloomFilters(p).canonicalized, 1) > 1
    plan.transformUp {
      case j @ Join(left, right, joinType, Some(cond), hint)
          if joinType == Inner || joinType == LeftSemi =>
        val (lk, rk) = equiKeys(cond, left, right)
        if (lk.isEmpty) j
        else {
          val ls = left.stats.sizeInBytes
          val rs = right.stats.sizeInBytes
          def broadcastHinted(h: Option[HintInfo]): Boolean =
            h.exists(_.strategy.contains(BROADCAST))
          // the selective filter is required in EVERY case (same as
          // Spark's InjectRuntimeFilter): a bloom over an UNFILTERED
          // creation side of an FK join contains every probe key, so it
          // prunes nothing and the build is pure overhead — r9 measured
          // q14 paying +60% for a full-part-keyset bloom probed by
          // lineitem rows that all matched.
          // A creation side that will BROADCAST makes the probe useless
          // too: with a broadcast hash join the probe side never
          // shuffles, so non-matching rows already die at the join for
          // the same per-row cost as the bloom probe (r9 interleaved
          // A/B: q11's supplier-sliver injection was a consistent
          // 5-10% LOSS). The prefilter pays exactly when the join must
          // shuffle the probe side — i.e. the creation side is over the
          // broadcast threshold or is fact-scaled (the guard rule blocks
          // its broadcast).
          def creationOk(p: LogicalPlan, bytes: BigInt,
              h: Option[HintInfo]): Boolean =
            !hasBloomProbe(p) && selectiveFilterOverScan(p) &&
              bytes <= maxCreationBytes &&
              !FactBroadcastGuard.broadcastsStatically(p, h, facts)
          def probeOk(p: LogicalPlan, bytes: BigInt, other: BigInt,
              h: Option[HintInfo]): Boolean =
            isProbeChain(p) && !isShared(p) && !hasBloomProbe(p) &&
              !hasUnknownLeafSize(p) &&
              !broadcastHinted(h) && bytes >= minProbeBytes && bytes >= other * probeRatio
          if (probeOk(left, ls, rs, hint.leftHint) &&
              creationOk(right, rs, hint.rightHint))
            j.copy(left = injectFilter(left, lk, right, rk))
          else if (joinType == Inner &&
              probeOk(right, rs, ls, hint.rightHint) &&
              creationOk(left, ls, hint.leftHint))
            j.copy(right = injectFilter(right, rk, left, lk))
          else j
        }
    }
  }
}
