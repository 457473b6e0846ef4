package graft.plans

import graft.query.{Op, Pred}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Catalyst integration — the north-star gap the reference names (its
  * models never reach a query optimizer): a `SparkSessionExtensions`
  * optimizer rule ([[ApproxCountRule]]) that answers aggregate queries
  * from registered cardinality estimators instead of scanning, when
  * approximate-count mode is enabled.
  *
  * This is approximate query processing via learned density models,
  * expressed the Spark-first way: a `Rule[LogicalPlan]` that rewrites
  * the exact aggregate into a `LocalRelation` carrying the estimate.
  * At 100 TB this turns a full scan + shuffle into a millisecond
  * driver-side model probe.
  *
  * Usage:
  * {{{
  *   val spark = SparkSession.builder()
  *     .withExtensions(new GraftExtensions)  // or spark.sql.extensions
  *     .getOrCreate()
  *   GraftRuntime.register("lineitem.parquet", meta, preds => est.query(preds))
  *   spark.conf.set(GraftRuntime.EnabledKey, "true")
  *   spark.sql("SELECT count(*) FROM lineitem WHERE l_quantity <= 24")
  *   // -> answered by the estimator, no scan
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule { session =>
      // Marker lets attachIfMissing detect the injected instance —
      // injected rules never appear in experimental.extraOptimizations,
      // so without it a withExtensions session would get a second
      // (idempotent but plan-matching) copy attached.
      session.conf.set(GraftRuntime.AttachedKey, "true")
      // Semi/anti (EXISTS / IN-subquery) joins only EXIST after the
      // RewriteSubquery batch, which runs AFTER every injectable
      // optimizer slot — so the injected copy alone would never see
      // them (r18, found by the semi-leaf spec). Attach the last-batch
      // extraOptimizations copy too: it runs post-RewriteSubquery and
      // owns the join-type-matrix shapes; both copies are idempotent.
      if (!session.experimental.extraOptimizations
          .exists(_.isInstanceOf[ApproxCountRule]))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+
            ApproxCountRule(session)
      ApproxCountRule(session)
    }
    ext.injectFunction(CosineSimilarity.registration)
    ext.injectFunction(graft.functions.NfcNormalize.registration)
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.AsofJoinStrategy)
    // Stats injection runs AFTER the main optimization batches (pre-CBO
    // slot), so predicate pushdown and column pruning act on the plain
    // Filter before it gets wrapped in the stats barrier.
    ext.injectPreCBORule { session =>
      session.conf.set(EstimatedStatsRule.AttachedKey, "true")
      EstimatedStatsRule(session)
    }
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.StatsAnnotatedStrategy)
  }
}

/** Process-wide estimator registry keyed by a substring of the scan's
  * file path (the analog of the reference's per-table estimator set,
  * eval_model.py:554-585).
  */
object GraftRuntime {
  val EnabledKey = "spark.graft.approxCount.enabled"
  /** Set once an ApproxCountRule instance is active in the session
    * (either injection path); read by `attachIfMissing`. */
  val AttachedKey = "spark.graft.approxCount.attached"

  /** Learned column statistics for a join key under a conjunction —
    * everything Catalyst's `JoinEstimation` needs before it abandons
    * the cartesian-product fallback:
    *
    *   - `ndv`: distinct count — a predicated column's is its
    *     domain-mask true-count, an unpredicated key's is bounded by
    *     its full domain size.
    *   - `nullCount` (r16, ADVICE r15): JoinEstimation requires a null
    *     count alongside the NDV, but force-injecting 0 for an
    *     UNPREDICATED key on a null-bearing column would overstate
    *     matchable rows. The registrant knows (the dictionary records
    *     the null slot), so it supplies the count; None falls back to
    *     0 only when a null-excluding predicate makes it exact.
    *   - `min`/`max` (r16): JVM-external domain bounds, converted to
    *     Catalyst values at injection. REQUIRED for numeric/temporal
    *     keys: `ValueInterval(None, None, numericType)` is the EMPTY
    *     interval, so a min/max-less ColumnStat makes every equi-join
    *     estimate 0 rows — stats worse than none. Unconditioned domain
    *     bounds are sound (a wider interval only overlaps more).
    */
  final case class KeyStat(
      ndv: Long,
      nullCount: Option[Long] = None,
      min: Option[Any] = None,
      max: Option[Any] = None)

  final case class Registered(
      pathToken: String,
      columns: Set[String],
      estimate: Seq[Pred] => Long,
      /** Learned per-column [[KeyStat]] under the conjunction (r15/r16).
        * None = no estimate for that column (no ColumnStat injected;
        * Catalyst falls back to its own heuristics). Feeds
        * JoinEstimation's ndv-based equi-join cardinality through
        * [[EstimatedStatsRule]]. */
      keyStats: (String, Seq[Pred]) => Option[KeyStat] = (_, _) => None,
      /** A column's full domain (null slot included, if present) — the
        * probe list for the GROUP BY and value-aggregate rewrites
        * (r16). Contract: ascending order, null slot FIRST when
        * present — Dictionary.columnMeta's output order; min/max
        * answers are order-derived. None = the column's domain is
        * unknown or unbounded; aggregates over it are never
        * rewritten. */
      domain: String => Option[Seq[Any]] = _ => None)

  @volatile private var registered: List[Registered] = Nil

  /** Register an estimator for scans whose path contains `pathToken`.
    * `keyStats` feeds [[EstimatedStatsRule]]'s join statistics;
    * `domain` enables the grouped and value-aggregate rewrites. */
  def register(pathToken: String, columns: Set[String],
      estimate: Seq[Pred] => Long,
      keyStats: (String, Seq[Pred]) => Option[KeyStat] = (_, _) => None,
      domain: String => Option[Seq[Any]] = _ => None): Unit =
    registered =
      Registered(pathToken, columns, estimate, keyStats, domain) :: registered

  def clear(): Unit = registered = Nil

  /** Save/restore the registry around a scoped use (e.g. a catalog
    * entry that must not clobber a user's own registrations). */
  def snapshot(): List[Registered] = registered
  def restore(s: List[Registered]): Unit = registered = s

  def lookup(paths: Seq[String]): Option[Registered] =
    registered.find(r => paths.exists(_.contains(r.pathToken)))
}

/** Answers aggregates from registered estimators instead of scanning:
  * an optimizer rule that rewrites an `Aggregate` into a `LocalRelation`
  * of driver-side model probes when approximate-count mode is enabled.
  *
  * The rule reads every Aggregate as one aggregate grid over one
  * source. The source is the child resolved to a registered scan under
  * a DNF `WHERE`, an inner equi-join tree, a LEFT SEMI / LEFT ANTI join
  * (EXISTS, IN and null-aware NOT IN subqueries), a LEFT / RIGHT / FULL
  * outer join, or a `UNION ALL`; trees, outer and semi joins and
  * rename-only projections nest inside one another. The grid is the
  * cross product of the grouping keys' domains — bare columns or
  * whitelisted derived keys (year, month, date_trunc, prefix substring,
  * DIV), one combo when ungrouped — and every output cell (`count(*)`,
  * `count(c)`, `count(DISTINCT c)`, `sum`/`avg`/`min`/`max`, each with an
  * optional FILTER clause) is a functional of the source's probe counts.
  *
  * Conservative: a conjunct outside the mask vocabulary, an unmodeled
  * column, a FILTER conjunct spanning two owners, a domain past 1024
  * values, a grid past 4096 estimator calls, a decimal result or a Long
  * overflow leaves the plan untouched.
  */
object ApproxCountRule {
  private[plans] val inEstimate = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Attach the rule to an existing session via
    * `experimental.extraOptimizations` (for sessions not built
    * `.withExtensions`). Skips when an instance is already present —
    * either in extraOptimizations or injected by [[GraftExtensions]]
    * (detected via the [[GraftRuntime.AttachedKey]] marker the injection
    * builder sets). Residual window: a withExtensions session whose
    * optimizer has not yet been built has no marker yet; a duplicate
    * attached then is harmless (the rewrite is idempotent), just
    * redundant pattern-matching. */
  def attachIfMissing(spark: SparkSession): Unit = {
    val present =
      spark.conf.get(GraftRuntime.AttachedKey, "false") == "true" ||
        spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[ApproxCountRule])
    if (!present) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxCountRule(spark)
      spark.conf.set(GraftRuntime.AttachedKey, "true")
    }
  }
}

case class ApproxCountRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Cap on a grid's group combos and on every probed domain: past it
    * the plan is left untouched (driver-side probes must stay trivially
    * cheap next to the scan and shuffle they replace). */
  private val maxGroupProbes = 1024

  /** Cap on the estimator calls one rewrite makes: combos × probes per
    * combo × the source's calls per probe. Wider than
    * [[maxGroupProbes]] because a grid of cheap driver-side probes still
    * beats a scan+shuffle by orders of magnitude at any real scale. */
  private val maxTotalProbes = 4096L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.get(GraftRuntime.EnabledKey, "false") != "true" ||
        ApproxCountRule.inEstimate.get()) plan
    else plan.transformUp {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }
  }

  private def stripProjects(plan: LogicalPlan) = PredExtract.stripProjects(plan)

  private def all[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** A probed domain: present, non-empty and under the probe cap. */
  private def capped(dom: Option[Seq[Any]]): Option[Seq[Any]] =
    dom.filter(d => d.nonEmpty && d.size <= maxGroupProbes)

  private def cross[T](axes: Seq[Seq[T]]): Seq[Seq[T]] =
    axes.foldLeft(Seq(Seq.empty[T]))((acc, ax) => acc.flatMap(pre => ax.map(pre :+ _)))

  /** Save/restore re-entrancy guard around model probes and domain
    * lookups: an estimator or a lazy domain supplier may itself run
    * Spark jobs (a distinct+sort is a grouped Aggregate over a scan),
    * and those plans must not be rewritten recursively. Save/restore,
    * not set/clear: guards nest. */
  private def probed[T](f: => T): T = {
    val prev = ApproxCountRule.inEstimate.get()
    ApproxCountRule.inEstimate.set(true)
    try f finally ApproxCountRule.inEstimate.set(prev)
  }

  // ---------------------------------------------------------------- sources

  /** A subplan resolved for composition, keyed by column NAME: the
    * columns its estimator models, the estimate (a row count under a
    * conjunction of extra preds; throws ArithmeticException on
    * overflow), per-column domains (ascending, null slot first when
    * present — [[GraftRuntime.Registered.domain]]'s contract), the
    * estimator calls one estimate costs, and the subplan (attribute
    * ownership goes by its output). */
  private case class Leaf(columns: Set[String], estimate: Seq[Pred] => Long,
      domain: String => Option[Seq[Any]], cost: Long, plan: LogicalPlan)

  /** A probe conjunct routed to one owner of a [[Source]]. */
  private case class Cond(owner: Int, pred: Pred)

  /** An aggregate's child resolved to a probe-able shape. Owners are the
    * units its registrations split into: the scan, each join-tree leaf,
    * each outer-join side, each union output position.
    *
    *   - `ownerOf`: the owner whose registration models an output
    *     attribute — by attribute, so same-named join keys still route;
    *   - `count`: the child's row count under owner-routed conjuncts,
    *     each owner's conjuncts in the order given;
    *   - `domain`: an owned column's value domain; `keyDomain`: the one
    *     its GROUP BY groups enumerate (an outer join's null-extended
    *     side gains the null slot, a union's slots merge per branch);
    *   - `cost`: the estimator calls one `count` makes;
    *   - `leaf`: the name-keyed view other sources compose (None for a
    *     union, which never nests);
    *   - `derivedKeys`: whether derived GROUP BY expressions may probe
    *     it (a union's merged slots map no derived preimages);
    *   - `countNeedsDomain`: a lone ungrouped `count(c)` also needs c's
    *     domain under the cap and is charged per domain value (inner
    *     trees; `ApproxCountGoldenSpec` pins where that shape fires). */
  private case class Source(
      ownerOf: AttributeReference => Option[Int],
      count: Seq[Cond] => Long,
      domain: (Int, String) => Option[Seq[Any]],
      keyDomain: (Int, String) => Option[Seq[Any]],
      cost: BigInt,
      leaf: Option[Leaf],
      derivedKeys: Boolean = true,
      countNeedsDomain: Boolean = false)

  /** A one-owner source over a leaf (a scan, a semi/anti join). */
  private def single(l: Leaf): Source = Source(
    ownerOf = a => if (l.columns(a.name)) Some(0) else None,
    count = cs => l.estimate(cs.map(_.pred)),
    domain = (_, c) => l.domain(c),
    keyDomain = (_, c) => l.domain(c),
    cost = l.cost, leaf = Some(l))

  /** The aggregate child as a [[Source]]; None when any part of it is
    * unregistered or outside the supported shapes. */
  private def source(p: LogicalPlan): Option[Source] = stripProjects(p) match {
    case j: Join => joinSource(j)
    case u: Union => unionSource(u)
    case _ => scanLeaf(p).map(single)
  }

  /** A subplan as a composable [[Leaf]]: a registered scan, a
    * rename-only projection of a leaf, or a join's leaf view. */
  private def leaf(p: LogicalPlan): Option[Leaf] = stripProjects(p) match {
    case j: Join => joinSource(j).flatMap(_.leaf)
    case pr: Project if pr.projectList.forall {
        case Alias(_: AttributeReference, _) | _: AttributeReference => true
        case _ => false
      } => renamedLeaf(pr)
    case _ => scanLeaf(p)
  }

  private def joinSource(j: Join): Option[Source] = j.joinType match {
    case Inner => treeSource(j)
    case LeftSemi | LeftAnti => semiAntiSpec(j).map(sp => single(Leaf(
      sp.lLeaf.columns, semiAntiEstimate(sp), sp.lLeaf.domain,
      (sp.matched.size + 1L) * sp.lLeaf.cost, sp.lLeaf.plan)))
    case LeftOuter | RightOuter | FullOuter =>
      outerSpec(j).map(outerSource(j, _))
    case _ => None
  }

  /** A registered scan under an optional WHERE, parsed as a bounded DNF
    * answered by inclusion–exclusion (exact for exact registrations —
    * the I–E identity); no WHERE is one empty disjunct, the table. */
  private def scanLeaf(p: LogicalPlan): Option[Leaf] = {
    val (dnfOpt, scanChild) = stripProjects(p) match {
      case Filter(cond, child) => (PredExtract.parseDnf(cond), child)
      case other => (Some(Seq(Nil: Seq[Pred])), other)
    }
    for {
      paths <- PredExtract.relationPaths(scanChild)
      dnf <- dnfOpt
      reg <- GraftRuntime.lookup(paths)
      if dnf.forall(_.forall(pp => reg.columns.contains(pp.col)))
    } yield Leaf(reg.columns, dnfEstimate(reg.estimate, dnf),
      c => probed(reg.domain(c)),
      if (dnf.size <= 1) 1L else (1L << dnf.size) - 1L, p)
  }

  /** The probe function under a (possibly disjunctive) WHERE: extra
    * conjuncts distribute into every disjunct and the union is answered
    * by inclusion–exclusion; a conjunction stays one direct estimate
    * with its preds first. */
  private def dnfEstimate(est: Seq[Pred] => Long,
      dnf: Seq[Seq[Pred]]): Seq[Pred] => Long =
    if (dnf.size == 1) { val base = dnf.head
      extra => est(base ++ extra)
    } else { extra =>
      PredExtract.estimateDnf(est, dnf.map(_ ++ extra))
        .getOrElse(throw new ArithmeticException("I-E overflow"))
    }

  /** A RENAME-ONLY projection over a leaf — every shard union whose
    * branches re-alias columns to a common schema (the analyzer keeps
    * the aliases to mint fresh exprIds per branch). Preds re-color from
    * outer to inner names; duplicate outer names are ambiguous → None. */
  private def renamedLeaf(pr: Project): Option[Leaf] = {
    val mapping: Seq[(String, String)] = pr.projectList.map {
      case al @ Alias(ar: AttributeReference, _) => al.name -> ar.name
      case a: AttributeReference => a.name -> a.name
    }
    if (mapping.map(_._1).distinct.size != mapping.size) return None
    val m = mapping.toMap
    leaf(pr.child).flatMap { in =>
      val cols = m.collect { case (o, i) if in.columns(i) => o }.toSet
      if (cols.isEmpty) None
      else Some(Leaf(cols,
        preds => {
          if (!preds.forall(pp => cols(pp.col)))
            throw new ArithmeticException("unroutable pred on renamed leaf")
          in.estimate(preds.map(pp => pp.copy(col = m(pp.col))))
        },
        c => if (cols(c)) in.domain(m(c)) else None, in.cost, pr))
    }
  }

  // ------------------------------------------------------ inner join trees

  /** An equi-edge between two leaves, with the key domains' canonical
    * intersection as (left value, right value) pairs — each side probed
    * with a value drawn from its own domain. */
  private case class JoinEdge(li: Int, lcol: String, ri: Int,
      rcol: String, pairs: Seq[(Any, Any)])

  private case class JoinSpec(leaves: IndexedSeq[Leaf],
      edges: Seq[JoinEdge]) {
    def leafOf(a: AttributeReference): Option[Int] = {
      val i = leaves.indexWhere(_.plan.outputSet.contains(a))
      if (i >= 0) Some(i) else None
    }
  }

  /** Canonical (BigDecimal-normalized) intersection of two key domains
    * as (left value, right value) pairs; NULL keys never match. */
  private def matchPairs(domL: Seq[Any], domR: Seq[Any]): Seq[(Any, Any)] = {
    val rRepr: Map[Any, Any] = domR.iterator.filter(_ != null)
      .map(v => PredExtract.canonKey(v) -> v).toMap
    domL.iterator.filter(_ != null).flatMap(vl =>
      rRepr.get(PredExtract.canonKey(vl)).map(vr => (vl, vr))).toSeq
  }

  /** An INNER equi-join tree. At the top it owns per leaf (by
    * attribute) and counts by [[joinCountProbes]]. As a leaf — a union
    * branch, an outer side, a semi join's side — it models the names
    * exactly one of its leaves models, routes preds to that leaf by
    * name, and costs its whole edge grid (bounded at construction so
    * composed budgets stay honest). */
  private def treeSource(j: Join): Option[Source] = flattenJoinTree(j).map { spec =>
    val leaves = spec.leaves
    val cost = spec.edges.map(e => BigInt(e.pairs.size)).product *
      leaves.map(l => BigInt(l.cost)).sum
    def probe(extra: Int => Seq[Pred]): Long = joinCountProbes(spec, extra)
      .getOrElse(throw new ArithmeticException("join grid overflow"))
    val asLeaf = {
      val names = leaves.flatMap(_.columns.toSeq)
      val cols = names.toSet -- names.diff(names.distinct)
      if (cols.isEmpty || cost <= 0 || cost > maxTotalProbes) None
      else Some(Leaf(cols,
        preds => {
          if (!preds.forall(p => cols(p.col)))
            throw new ArithmeticException("unroutable pred on tree leaf")
          probe(i => preds.filter(p => leaves(i).columns(p.col)))
        },
        c => if (!cols(c)) None
          else leaves.find(_.columns(c)).flatMap(_.domain(c)),
        cost.toLong, j))
    }
    Source(
      ownerOf = a => spec.leafOf(a).filter(i => leaves(i).columns(a.name)),
      count = cs => probe(i => cs.collect { case Cond(`i`, p) => p }),
      domain = (i, c) => leaves(i).domain(c),
      keyDomain = (i, c) => leaves(i).domain(c),
      cost = cost, leaf = asLeaf, countNeedsDomain = true)
  }

  /** Flatten a tree of INNER joins on attribute equalities (a composite
    * key contributes one edge per equality) whose leaves all resolve
    * ([[leaf]]: non-inner joins, renames and scans) with the key
    * domains supplied. Anything else — non-equi or residual
    * conditions, an unregistered leaf — is None. */
  private def flattenJoinTree(root: Join): Option[JoinSpec] = {
    def walk(p: LogicalPlan): Option[
        (Seq[LogicalPlan], Seq[(AttributeReference, AttributeReference)])] =
      stripProjects(p) match {
        case jn: Join if jn.joinType == Inner =>
          for {
            (ll, le) <- walk(jn.left)
            (rl, re) <- walk(jn.right)
            eqs <- jn.condition.flatMap(c => all(PredExtract.splitAnd(c).map {
              case EqualTo(a: AttributeReference, b: AttributeReference) =>
                Some((a, b))
              case _ => None
            }))
          } yield (ll ++ rl, le ++ re ++ eqs)
        case other => Some((Seq(other), Nil))
      }
    for {
      (leafPlans, rawEdges) <- walk(root)
      leaves <- all(leafPlans.map(leaf)).map(_.toIndexedSeq)
      spec0 = JoinSpec(leaves, Nil)
      edges <- all(rawEdges.map { case (a, b) =>
        for {
          ia <- spec0.leafOf(a)
          ib <- spec0.leafOf(b)
          if ia != ib && leaves(ia).columns(a.name) && leaves(ib).columns(b.name)
          domA <- capped(leaves(ia).domain(a.name))
          domB <- capped(leaves(ib).domain(b.name))
        } yield JoinEdge(ia, a.name, ib, b.name, matchPairs(domA, domB))
      })
    } yield JoinSpec(leaves, edges)
  }

  /** The join count of a flattened tree by per-key-value factorization
    * over its edge grid:
    *
    *   |⋈| = Σ,,assignment v over edges,, ∏,,leaf i,,
    *           est_i(extra_i ∧ {k = v_e : e incident on i})
    *
    * — exact over real equi-keys for exact registrations (a star's
    * shared key contributes only its diagonal; NULL keys never match).
    * Per-leaf probes are memoized on the leaf's incident-edge values.
    * None when the grid is empty of edges, has a leaf no edge touches
    * (a cartesian factor), exceeds the caps, or overflows a Long. */
  private def joinCountProbes(spec: JoinSpec,
      extra: Int => Seq[Pred]): Option[Long] = {
    val nCombos = spec.edges.map(e => BigInt(e.pairs.size)).product
    val leafTerms = spec.leaves.map(l => BigInt(l.cost)).sum
    if (spec.edges.isEmpty ||
        nCombos > BigInt(maxGroupProbes) ||
        nCombos * leafTerms > BigInt(maxTotalProbes)) return None
    val incident: IndexedSeq[Seq[(Int, String, Boolean)]] =
      spec.leaves.indices.map { i =>
        spec.edges.zipWithIndex.flatMap { case (e, k) =>
          (if (e.li == i) Seq((k, e.lcol, true)) else Nil) ++
            (if (e.ri == i) Seq((k, e.rcol, false)) else Nil)
        }
      }
    if (incident.exists(_.isEmpty)) return None
    val memo = scala.collection.mutable.HashMap.empty[(Int, Seq[Any]), Long]
    def leafCount(i: Int, assign: Vector[(Any, Any)]): Long = {
      val vals: Seq[Any] = incident(i).map { case (k, _, left) =>
        if (left) assign(k)._1 else assign(k)._2 }
      memo.getOrElseUpdate((i, vals), {
        val conj = extra(i) ++
          incident(i).map { case (k, c, left) =>
            Pred(c, Op.Eq, if (left) assign(k)._1 else assign(k)._2) }
        spec.leaves(i).estimate(conj)
      })
    }
    try {
      var acc = 0L
      def rec(k: Int, assign: Vector[(Any, Any)]): Unit =
        if (k == spec.edges.size) {
          var prod = 1L
          var i = 0
          while (i < spec.leaves.size && prod > 0L) {
            prod = Math.multiplyExact(prod, leafCount(i, assign))
            i += 1
          }
          if (prod > 0L) acc = Math.addExact(acc, prod)
        } else spec.edges(k).pairs.foreach(pr => rec(k + 1, assign :+ pr))
      rec(0, Vector.empty)
      Some(acc)
    } catch { case _: ArithmeticException => None }
  }

  /** The (left, right) attribute of one cross-side equality. */
  private def eqPair(j: Join)(e: Expression)
      : Option[(AttributeReference, AttributeReference)] = e match {
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b))
        Some((a, b))
      else if (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
        Some((b, a))
      else None
    case _ => None
  }

  /** A join condition that is a conjunction of cross-side equalities. */
  private def keyPairs(j: Join)
      : Option[Seq[(AttributeReference, AttributeReference)]] =
    j.condition.flatMap(c => all(PredExtract.splitAnd(c).map(eqPair(j))))

  // -------------------------------------------------------- semi / anti

  /** A LEFT SEMI / LEFT ANTI equi-join — what Catalyst plans for `WHERE
    * [NOT] EXISTS (…)` and `k [NOT] IN (SELECT …)`. Its output is its
    * left side filtered:
    *
    *   semi(extra) = Σ,,matched v⃗,, n_L(extra ∧ k⃗ = v⃗)
    *   anti(extra) = n_L(extra) − semi(extra)
    *
    * where v⃗ ranges over the left key-grid vectors whose right side has
    * rows (computed once: right probes never depend on group or cell
    * conjuncts). A composite key adds one grid axis per equality; the
    * right side may be a leaf or an inner tree. NULL-AWARE anti (`NOT
    * IN (subquery)` on a nullable key, condition `k = k2 OR isnull(k =
    * k2)`) factorizes by SQL's three-valued cases:
    *   empty subquery    → n_L(extra)
    *   subquery has NULL → 0
    *   else              → n_L(extra ∧ k NOT NULL) − semi(extra) */
  private case class SemiAntiParts(lLeaf: Leaf, keyNames: Seq[String],
      matched: Seq[Seq[Any]], semi: Boolean,
      nullAware: Option[NullAwareFacts])

  private case class NullAwareFacts(rightEmpty: Boolean,
      rightHasNull: Boolean)

  /** A semi/anti join's right side for matched-key computation: key
    * domains, a count over right-key Eq vectors, calls per count, and —
    * when asked — the two facts null-aware NOT IN needs. */
  private case class RightProbe(domains: Seq[Seq[Any]],
      count: Seq[Any] => Long, cost: BigInt,
      nullFacts: Option[NullAwareFacts])

  /** The right side as a leaf modeling every key by name, else (not
    * null-aware: its facts would need per-leaf null attribution) as an
    * inner tree owning each key by attribute. */
  private def rightKeyProbe(p: LogicalPlan,
      keyCols: Seq[AttributeReference],
      needNullFacts: Boolean): Option[RightProbe] = {
    val src = leaf(p).filter(l => keyCols.forall(kb => l.columns(kb.name)))
      .map(single)
      .orElse(if (needNullFacts) None else stripProjects(p) match {
        case rj: Join if rj.joinType == Inner => treeSource(rj)
        case _ => None
      })
    for {
      s <- src
      if s.cost <= maxTotalProbes
      owners <- all(keyCols.map(s.ownerOf))
      domains <- all(keyCols.zip(owners).map { case (kb, o) =>
        capped(s.domain(o, kb.name)) })
      facts <- if (!needNullFacts) Some(None) else probed {
        // the IsNull probe reads the single key of a null-aware parse
        require(keyCols.size == 1,
          s"null-aware facts need a single key, got ${keyCols.size}")
        try Some(Some(NullAwareFacts(
          rightEmpty = s.count(Nil) == 0L,
          rightHasNull = s.count(Seq(Cond(owners.head,
            Pred(keyCols.head.name, Op.IsNull, null)))) > 0L)))
        catch { case _: ArithmeticException => None }
      }
    } yield RightProbe(domains,
      vec => s.count(keyCols.zip(owners).zip(vec).map { case ((kb, o), v) =>
        Cond(o, Pred(kb.name, Op.Eq, v)) }),
      s.cost, facts)
  }

  private def semiAntiSpec(j: Join): Option[SemiAntiParts] = {
    val semi = j.joinType == LeftSemi
    val parsed: Option[(Seq[(AttributeReference, AttributeReference)],
        Boolean)] = j.condition.flatMap {
      case Or(eq, IsNull(eq2)) if !semi && eq.semanticEquals(eq2) =>
        eqPair(j)(eq).map(p => (Seq(p), true))
      case _ => keyPairs(j).map((_, false))
    }
    for {
      (pairs, nullAware) <- parsed
      lLeaf <- leaf(j.left)
      if pairs.forall { case (ka, _) => lLeaf.columns(ka.name) }
      lDoms <- all(pairs.map { case (ka, _) => capped(lLeaf.domain(ka.name)) })
      right <- rightKeyProbe(j.right, pairs.map(_._2), nullAware)
      parts <- probed {
        try {
          val pairLists = lDoms.zip(right.domains).map {
            case (domL, domR) => matchPairs(domL, domR) }
          val nGrid = pairLists.map(l => BigInt(l.size)).product
          if (nGrid > maxGroupProbes || nGrid * right.cost > maxTotalProbes) None
          else {
            val matched = cross(pairLists)
              .filter(vec => right.count(vec.map(_._2)) > 0L)
              .map(_.map(_._1))
            if (nullAware && right.nullFacts.isEmpty) None
            else Some(SemiAntiParts(lLeaf, pairs.map(_._1.name), matched,
              semi, if (nullAware) right.nullFacts else None))
          }
        } catch { case _: ArithmeticException => None }
      }
    } yield parts
  }

  private def semiAntiEstimate(sp: SemiAntiParts): Seq[Pred] => Long = {
    val estL = sp.lLeaf.estimate
    extra => {
      def semiCount: Long = {
        var m = 0L
        sp.matched.foreach { vec =>
          m = Math.addExact(m, estL(extra ++
            sp.keyNames.zip(vec).map { case (k, v) => Pred(k, Op.Eq, v) }))
        }
        m
      }
      sp.nullAware match {
        case None =>
          if (sp.semi) semiCount
          else Math.subtractExact(estL(extra), semiCount)
        case Some(NullAwareFacts(rightEmpty, rightHasNull)) =>
          if (rightEmpty) estL(extra)
          else if (rightHasNull) 0L
          else Math.subtractExact(
            estL(extra :+ Pred(sp.keyNames.head, Op.NotNull, null)),
            semiCount)
      }
    }
  }

  // ---------------------------------------------------------- outer joins

  /** LEFT / RIGHT / FULL OUTER equi-joins:
    *
    *   inner          = Σ,,matched v,, n_L(exL ∧ v)·n_R(exR ∧ v)
    *   left-unmatched = n_L(exL) − Σ,,matched v,, n_L(exL ∧ v)
    *   right-unmatched likewise; LEFT = inner + left-unmatched,
    *   RIGHT = inner + right-unmatched, FULL = inner + both
    *
    * over per-side extra conjuncts, "matched v" being key vectors with
    * rows on BOTH sides (computed once). A NULL-EXTENDED row satisfies
    * an opposite-side conjunct only when that conjunct is IS NULL —
    * every other mask rejects NULL — which is SQL's semantics: a right
    * column's aggregate ignores left-unmatched rows, a right-side key
    * sends them to the NULL group. */
  private case class OuterParts(lLeaf: Leaf, rLeaf: Leaf,
      keyNamesL: Seq[String], keyNamesR: Seq[String],
      /** (left key vector, right key vector, n_L(v⃗), n_R(v⃗)) */
      pairs: Seq[(Seq[Any], Seq[Any], Long, Long)],
      withLeft: Boolean, withRight: Boolean) {
    def probeCost: Long = (2L * pairs.size + 2L) * (lLeaf.cost + rLeaf.cost)
  }

  private def outerSpec(j: Join): Option[OuterParts] =
    for {
      kps <- keyPairs(j)
      lLeaf <- leaf(j.left)
      rLeaf <- leaf(j.right)
      if kps.forall { case (ka, kb) =>
        lLeaf.columns(ka.name) && rLeaf.columns(kb.name) }
      pairLists <- all(kps.map { case (ka, kb) =>
        for {
          domL <- capped(lLeaf.domain(ka.name))
          domR <- capped(rLeaf.domain(kb.name))
        } yield matchPairs(domL, domR)
      })
      nGrid = pairLists.map(l => BigInt(l.size)).product
      if nGrid <= maxGroupProbes &&
        (nGrid + 1) * (lLeaf.cost + rLeaf.cost) <= maxTotalProbes
      pairs <- probed {
        try Some(cross(pairLists).flatMap { vec =>
          val vls = vec.map(_._1); val vrs = vec.map(_._2)
          val nl = lLeaf.estimate(kps.map(_._1.name).zip(vls).map {
            case (k, v) => Pred(k, Op.Eq, v) })
          if (nl <= 0L) None
          else {
            val nr = rLeaf.estimate(kps.map(_._2.name).zip(vrs).map {
              case (k, v) => Pred(k, Op.Eq, v) })
            if (nr <= 0L) None else Some((vls, vrs, nl, nr))
          }
        })
        catch { case _: ArithmeticException => None }
      }
    } yield OuterParts(lLeaf, rLeaf, kps.map(_._1.name), kps.map(_._2.name),
      pairs, withLeft = j.joinType != RightOuter,
      withRight = j.joinType != LeftOuter)

  /** The outer-join row count over (left extras, right extras). */
  private def outerEstimate(sp: OuterParts)
      : (Seq[Pred], Seq[Pred]) => Long = (exL, exR) => {
    var inner = 0L
    var matchedL = 0L
    var matchedR = 0L
    sp.pairs.foreach { case (vls, vrs, nlAll, nrAll) =>
      val nl = if (exL.isEmpty) nlAll
        else sp.lLeaf.estimate(exL ++ sp.keyNamesL.zip(vls).map {
          case (k, v) => Pred(k, Op.Eq, v) })
      val nr = if (exR.isEmpty) nrAll
        else sp.rLeaf.estimate(exR ++ sp.keyNamesR.zip(vrs).map {
          case (k, v) => Pred(k, Op.Eq, v) })
      inner = Math.addExact(inner, Math.multiplyExact(nl, nr))
      matchedL = Math.addExact(matchedL, nl)
      matchedR = Math.addExact(matchedR, nr)
    }
    var total = inner
    if (sp.withLeft && exR.forall(_.op == Op.IsNull))
      total = Math.addExact(total,
        Math.subtractExact(sp.lLeaf.estimate(exL), matchedL))
    if (sp.withRight && exL.forall(_.op == Op.IsNull))
      total = Math.addExact(total,
        Math.subtractExact(sp.rLeaf.estimate(exR), matchedR))
    total
  }

  /** An outer join: owned per side by attribute. A non-preserved side's
    * key domain gains the synthetic null slot (the preserved side's
    * unmatched rows null-extend it). As a leaf it models the names ONE
    * side models (shared names are ambiguous) and its domains carry
    * that null slot, so an edge on it skips the extension rows. */
  private def outerSource(j: Join, sp: OuterParts): Source = {
    val sides = IndexedSeq(sp.lLeaf, sp.rLeaf)
    val est = outerEstimate(sp)
    def withNull(side: Int, dom: Seq[Any]): Seq[Any] =
      if ((if (side == 0) sp.withRight else sp.withLeft) && !dom.contains(null))
        (null: Any) +: dom
      else dom
    val shared = sp.lLeaf.columns intersect sp.rLeaf.columns
    val own = sides.map(_.columns -- shared)
    val asLeaf = Leaf(own(0) ++ own(1),
      preds => {
        val exL = preds.filter(p => own(0)(p.col))
        val exR = preds.filter(p => own(1)(p.col))
        if (exL.size + exR.size != preds.size)
          throw new ArithmeticException("unroutable pred on outer leaf")
        est(exL, exR)
      },
      c => own.indexWhere(_(c)) match {
        case -1 => None
        case s => sides(s).domain(c).map(withNull(s, _))
      },
      sp.probeCost, j)
    Source(
      ownerOf = a =>
        if (j.left.outputSet.contains(a) && sp.lLeaf.columns(a.name)) Some(0)
        else if (j.right.outputSet.contains(a) && sp.rLeaf.columns(a.name)) Some(1)
        else None,
      count = cs => est(cs.collect { case Cond(0, p) => p },
        cs.collect { case Cond(1, p) => p }),
      domain = (s, c) => sides(s).domain(c),
      keyDomain = (s, c) =>
        sides(s).domain(c).filter(_.nonEmpty).map(withNull(s, _)),
      cost = sp.probeCost, leaf = Some(asLeaf))
  }

  // ---------------------------------------------------------- UNION ALL

  /** One canonical value slot of a UNION ALL column: each branch's OWN
    * representative (None where the branch lacks the value — it then
    * contributes 0 to any probe on the slot). */
  private case class Reps(byBranch: IndexedSeq[Option[Any]])

  /** The value a domain slot stands for. */
  private def slotValue(v: Any): Any = v match {
    case Reps(r) => r.flatten.head
    case other => other
  }

  /** Merge per-branch domains by canonical key, in first-appearance
    * order; the flag says whether any branch carries the null slot. */
  private def mergeSlots(doms: Seq[Seq[Any]]): (Seq[Reps], Boolean) = {
    val order = scala.collection.mutable.LinkedHashMap
      .empty[Any, Array[Option[Any]]]
    var hasNull = false
    doms.zipWithIndex.foreach { case (dom, b) => dom.foreach { v =>
      if (v == null) hasNull = true
      else {
        val slot = order.getOrElseUpdate(PredExtract.canonKey(v),
          Array.fill[Option[Any]](doms.size)(None))
        if (slot(b).isEmpty) slot(b) = Some(v)
      }
    } }
    (order.values.map(r => Reps(r.toIndexedSeq)).toSeq, hasNull)
  }

  /** UNION ALL of leaves, owned by output position: every branch must
    * model the position's column under an identical type. A probe is
    * the sum of per-branch probes, each re-colored to the branch's own
    * column names. Value domains are the branches' merged slots in
    * ascending order (nulls dropped — value aggregates ignore them);
    * key domains keep first-appearance order with the null group
    * last. */
  private def unionSource(u: Union): Option[Source] =
    all(u.children.map(leaf)).map { leaves =>
      def colAt(b: Int, p: Int): Option[String] = u.children(b).output(p) match {
        case a: AttributeReference if leaves(b).columns(a.name) => Some(a.name)
        case _ => None
      }
      def branchDoms(p: Int): Option[Seq[Seq[Any]]] =
        all(leaves.indices.map(b => capped(leaves(b).domain(colAt(b, p).get))))
      Source(
        ownerOf = a => {
          val p = u.output.indexWhere(_.exprId == a.exprId)
          if (p >= 0 && u.children.forall(_.output(p).dataType ==
              u.output(p).dataType) && leaves.indices.forall(colAt(_, p).isDefined))
            Some(p)
          else None
        },
        count = cs => {
          var acc = 0L
          leaves.indices.foreach { b =>
            all(cs.map { case Cond(p, pred) => pred.value match {
              case Reps(r) => r(b).map(v => Pred(colAt(b, p).get, pred.op, v))
              case _ => Some(pred.copy(col = colAt(b, p).get))
            } }).foreach(ps => acc = Math.addExact(acc, leaves(b).estimate(ps)))
          }
          acc
        },
        domain = (p, _) => branchDoms(p).flatMap(ds => scala.util.Try(
          mergeSlots(ds)._1.sortWith((x, y) => slotValue(x)
            .asInstanceOf[Comparable[Any]].compareTo(slotValue(y)) < 0)).toOption)
          .filter(_.size <= maxGroupProbes),
        keyDomain = (p, _) => branchDoms(p).map { ds =>
          val (slots, hasNull) = mergeSlots(ds)
          if (hasNull) slots :+ null else slots
        },
        cost = leaves.map(l => BigInt(l.cost)).sum,
        leaf = None, derivedKeys = false)
    }

  // ---------------------------------------------------------------- cells

  /** One output column of the aggregate, classified for the grid. */
  private sealed trait Cell
  private case class GroupCell(i: Int) extends Cell
  private case class CountStarCell(filt: Seq[Cond]) extends Cell
  private case class CountColCell(owner: Int, col: AttributeReference,
      distinct: Boolean, filt: Seq[Cond], dom: Seq[Any]) extends Cell
  private case class ValueAggCell(fn: AggregateFunction, distinct: Boolean,
      owner: Int, col: AttributeReference,
      resultType: org.apache.spark.sql.types.DataType,
      filt: Seq[Cond], dom: Seq[Any]) extends Cell

  /** Probes a cell costs per combo beyond the existence probe. Min/max
    * exit early in practice; this is their worst case. */
  private def cellCost(cell: Cell): Long = cell match {
    case _: GroupCell => 0L
    case CountStarCell(filt) => if (filt.isEmpty) 0L else 1L
    case cc: CountColCell => if (cc.dom.isEmpty) 1L else cc.dom.size.toLong
    case v: ValueAggCell => v.dom.size.toLong
  }

  /** The single-column value aggregates a domain probe vector answers. */
  private def valueAggColumn(
      fn: AggregateFunction): Option[AttributeReference] = fn match {
    case Sum(c: AttributeReference, _) => Some(c)
    case Average(c: AttributeReference, _) => Some(c)
    case Min(c: AttributeReference) => Some(c)
    case Max(c: AttributeReference) => Some(c)
    case _ => None
  }

  /** A FILTER clause as owner-routed conjuncts: `agg(x) FILTER (WHERE
    * f)` over conj ≡ `agg(x)` over conj ∧ f. Each conjunct's attributes
    * must all belong to one owner and it must parse in the mask
    * vocabulary; None otherwise, and the rewrite MUST then fall through
    * — answering the unfiltered aggregate would be silently wrong. */
  private def route(src: Source, filt: Option[Expression]): Option[Seq[Cond]] =
    filt match {
      case None => Some(Nil)
      case Some(f) => all(PredExtract.splitAnd(f).map { cj =>
        for {
          owners <- all(cj.references.toSeq.map {
            case a: AttributeReference => src.ownerOf(a)
            case _ => None
          })
          owner <- owners.distinct match {
            case Seq(o) => Some(o)
            case _ => None
          }
          ps <- PredExtract.parseConjunction(cj)
        } yield ps.map(Cond(owner, _))
      }).map(_.flatten)
    }

  /** Classify one aggregate output. Group cells match the grouping
    * EXPRESSION semantically (same exprIds on both sides of the
    * Aggregate); aggregate columns and FILTER attributes resolve through
    * `base`, which poisons derived aliases so they fail closed. */
  private def classify(e: NamedExpression, groupExprs: Seq[Expression],
      src: Source, base: AttributeReference => AttributeReference,
      lone: Boolean): Option[Cell] = {
    def groupCell(x: Expression): Option[Cell] = {
      val i = groupExprs.indexWhere(_.semanticEquals(x))
      if (i >= 0) Some(GroupCell(i)) else None
    }
    def owned(c0: AttributeReference, needDom: Boolean)
        : Option[(Int, AttributeReference, Seq[Any])] = {
      val c = base(c0)
      src.ownerOf(c).flatMap { o =>
        (if (needDom) capped(src.domain(o, c.name)) else Some(Nil))
          .map(d => (o, c, d))
      }
    }
    e match {
      case a: AttributeReference => groupCell(a)
      case al @ Alias(AggregateExpression(fn, _, distinct, filtE, _), _) =>
        route(src, filtE.map(_.transform {
          case a: AttributeReference => base(a)
        })).flatMap { filt =>
          fn match {
            case Count(Seq(Literal(1, _))) if !distinct =>
              Some(CountStarCell(filt))
            case Count(Seq(c0: AttributeReference)) =>
              owned(c0, distinct || (lone && src.countNeedsDomain)).map {
                case (o, c, d) => CountColCell(o, c, distinct, filt, d) }
            case _ => valueAggColumn(fn).flatMap(owned(_, needDom = true)).map {
              case (o, c, d) => ValueAggCell(fn, distinct, o, c, al.dataType, filt, d)
            }
          }
        }
      case Alias(x, _) => groupCell(x)
      case _ => None
    }
  }

  /** Fold a value aggregate's probe vector over its column domain into
    * a Catalyst-internal answer (null = SQL NULL for an empty support):
    *   sum(c) = Σ v·n_v, avg(c) = Σ v·n_v / Σ n_v (DISTINCT weighs each
    *   support value once), min/max = first/last v with n_v > 0.
    * Domains are ascending with the null slot first, so min/max exit
    * early and skipping the null slot gives SQL's ignore-nulls. None =
    * a shape the fold cannot reproduce (decimal results, Long-sum
    * overflow). */
  private def foldValueAgg(c: ValueAggCell, probe: Any => Long): Option[Any] = {
    val toCat = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(c.col.dataType)
    val dom = c.dom.filter(_ != null)
    c.fn match {
      case Min(_) =>
        Some(dom.iterator.find(v => probe(v) > 0L).map(v => toCat(slotValue(v))).orNull)
      case Max(_) =>
        Some(dom.reverseIterator.find(v => probe(v) > 0L)
          .map(v => toCat(slotValue(v))).orNull)
      case _ =>
        val weights = dom.map(v => (slotValue(v), probe(v))).filter(_._2 > 0L)
          .map { case (v, n) => (v, if (c.distinct) 1L else n) }
        val cnt = weights.map(_._2).sum
        if (cnt == 0L) Some(null)
        else (c.fn, c.resultType) match {
          case (Sum(_, _), LongType) =>
            try {
              var acc = 0L
              weights.foreach { case (v, n) => acc = Math.addExact(acc,
                Math.multiplyExact(v.asInstanceOf[Number].longValue, n)) }
              Some(acc)
            } catch { case _: ArithmeticException => None }
          case (Sum(_, _) | Average(_, _), DoubleType) =>
            var acc = 0.0
            weights.foreach { case (v, n) =>
              acc += v.asInstanceOf[Number].doubleValue * n }
            Some(if (c.fn.isInstanceOf[Average]) acc / cnt else acc)
          case _ => None
        }
    }
  }

  // ------------------------------------------------------------ group keys

  /** One grouping key: the registered attribute it probes, a driver-side
    * evaluation of the grouping expression over that attribute's
    * EXTERNAL domain values, and the derived output type. A bare
    * attribute is the identity key; beyond it a whitelist of
    * domain-mappable expressions — year/month/CAST-to-date over dates
    * and timestamps (in the session zone), date_trunc, prefix
    * substring, integral DIV — makes each derived group's probe the In
    * mask over its preimage. Anything else is None → exact plan. */
  private case class GroupKey(origin: Expression,
      attr: AttributeReference, toDerived: Any => Any,
      outType: org.apache.spark.sql.types.DataType)

  /** The external temporal domain value as a LocalDate in `zone`
    * (domains surface java.sql types or LocalDateTime per the column's
    * parquet logical type). */
  private def toLocalDate(v: Any, zone: java.time.ZoneId)
      : java.time.LocalDate = v match {
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.toInstant.atZone(zone).toLocalDate
    case ldt: java.time.LocalDateTime => ldt.toLocalDate
    case ld: java.time.LocalDate => ld
  }

  /** Driver-side date_trunc over a timestamp in `zone` — Spark's
    * TruncTimestamp civil-calendar rules (weeks start Monday). Finer
    * than day falls through: it explodes the derived domain toward the
    * raw one. */
  private def truncFn(level: String,
      zone: java.time.ZoneId): Option[Any => Any] = {
    def ld(v: Any) = toLocalDate(v, zone)
    def ts(d: java.time.LocalDate): Any =
      java.sql.Timestamp.from(d.atStartOfDay(zone).toInstant)
    level match {
      case "year" | "yyyy" | "yy" =>
        Some(v => ts(ld(v).withDayOfYear(1)))
      case "quarter" => Some { v =>
        val d = ld(v)
        ts(d.withDayOfMonth(1).withMonth(((d.getMonthValue - 1) / 3) * 3 + 1))
      }
      case "month" | "mon" | "mm" =>
        Some(v => ts(ld(v).withDayOfMonth(1)))
      case "week" => Some(v => ts(ld(v).`with`(
        java.time.temporal.TemporalAdjusters
          .previousOrSame(java.time.DayOfWeek.MONDAY))))
      case "day" | "dd" => Some(v => ts(ld(v)))
      case _ => None
    }
  }

  private def groupKeyOf(e: Expression,
      base: AttributeReference => AttributeReference): Option[GroupKey] = {
    import org.apache.spark.sql.types._
    def nullSafe(f: Any => Any): Any => Any =
      v => if (v == null) null else f(v)
    // A date-valued argument: a DATE attribute directly, or the
    // analyzer's Cast(ts, DATE) with its session zone.
    def dateArg(x: Expression)
        : Option[(AttributeReference, java.time.ZoneId)] = x match {
      case a: AttributeReference if a.dataType == DateType =>
        Some((a, java.time.ZoneOffset.UTC))
      case Cast(a: AttributeReference, DateType, tz, _)
          if a.dataType == TimestampType ||
            a.dataType == TimestampNTZType =>
        Some((a, tz.map(java.time.ZoneId.of)
          .getOrElse(java.time.ZoneOffset.UTC)))
      case _ => None
    }
    e match {
      case a: AttributeReference =>
        Some(GroupKey(e, base(a), identity, a.dataType))
      case Year(x) => dateArg(x).map { case (a, zone) =>
        GroupKey(e, base(a),
          nullSafe(v => Int.box(toLocalDate(v, zone).getYear)),
          IntegerType)
      }
      case Month(x) => dateArg(x).map { case (a, zone) =>
        GroupKey(e, base(a),
          nullSafe(v => Int.box(toLocalDate(v, zone).getMonthValue)),
          IntegerType)
      }
      case c @ Cast(_, DateType, _, _) => dateArg(c).map {
        case (a, zone) =>
          GroupKey(e, base(a), nullSafe(v => toLocalDate(v, zone)),
            DateType)
      }
      // The analyzer wraps an NTZ column in an ntz→ltz Cast; accepted
      // only when its zone agrees with the trunc's, so the naive-value
      // reading is the one the plan computes.
      case t: TruncTimestamp =>
        val zone = t.timeZoneId.map(java.time.ZoneId.of)
          .getOrElse(java.time.ZoneOffset.UTC)
        val argOpt: Option[AttributeReference] = t.timestamp match {
          case a: AttributeReference if a.dataType == TimestampType =>
            Some(a)
          case Cast(a: AttributeReference, TimestampType, tz2, _)
              if a.dataType == TimestampNTZType &&
                tz2.map(java.time.ZoneId.of).forall(_ == zone) =>
            Some(a)
          case _ => None
        }
        (t.format, argOpt) match {
          case (Literal(fmt, StringType), Some(a)) if fmt != null =>
            truncFn(fmt.toString.toLowerCase(java.util.Locale.ROOT), zone)
              .map(f => GroupKey(e, base(a), nullSafe(f), TimestampType))
          case _ => None
        }
      // substring(s, 1, k): a literal prefix (Spark's substring is
      // 1-based; other start positions fall through)
      case Substring(a: AttributeReference,
          Literal(1, IntegerType), Literal(len: Int, IntegerType))
          if a.dataType == StringType && len >= 0 =>
        Some(GroupKey(e, base(a), nullSafe { v =>
          val s2 = v.asInstanceOf[String]
          s2.substring(0, math.min(len, s2.length))
        }, StringType))
      // a DIV k: truncation toward zero in both Java and Spark
      case d: IntegralDivide => (d.left, d.right) match {
        case (a: AttributeReference, Literal(k: Long, LongType))
            if a.dataType == LongType && k != 0L =>
          Some(GroupKey(e, base(a),
            nullSafe(v => Long.box(v.asInstanceOf[Long] / k)), LongType))
        case _ => None
      }
      case _ => None
    }
  }

  /** A key's groups: (derived group value, base-domain preimage) pairs
    * from its owner's key domain, in domain order — one group per value
    * for an identity key, a genuine merge for a derived one. */
  private def groupsOf(src: Source, k: GroupKey,
      owner: Int): Option[Seq[(Any, Seq[Any])]] =
    if (!src.derivedKeys && !k.origin.isInstanceOf[AttributeReference]) None
    else src.keyDomain(owner, k.attr.name).filter(_.nonEmpty).map { dom =>
      val order = scala.collection.mutable.LinkedHashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
      dom.foreach { v =>
        order.getOrElseUpdate(k.toDerived(v),
          scala.collection.mutable.ArrayBuffer.empty[Any]) += v
      }
      order.toSeq.map { case (g, pre) => (g, pre.toSeq) }
    }

  /** A group's probe mask: identity keys probe Eq, merged preimages In,
    * the null group (only a null base value maps to null) IsNull. */
  private def groupPred(k: GroupKey, g: Any, pre: Seq[Any]): Pred =
    if (g == null) Pred(k.attr.name, Op.IsNull, null)
    else {
      val nn = pre.filter(_ != null)
      if (nn.size == 1) Pred(k.attr.name, Op.Eq, nn.head)
      else Pred(k.attr.name, Op.In, nn)
    }

  /** A name no registration can carry: a `base` resolution to a
    * NON-whitelisted derived expression renames the attribute to this,
    * so every registered-column check downstream fails closed (without
    * it `SELECT abs(x) AS x … GROUP BY x` would probe column x). */
  private val PoisonName = "\u0000graft-derived\u0000"

  /** Resolve attribute references through the Projects below the
    * Aggregate: the composed exprId → expression map (rename chains
    * resolve to base attributes; the analyzer's `_groupingexpression`
    * extractions resolve to derived expressions) and the plan beneath. */
  private def resolveThroughProjects(plan0: LogicalPlan)
      : (Map[ExprId, Expression], LogicalPlan) = {
    var subst = Map.empty[ExprId, Expression]
    var plan = stripProjects(plan0)
    var done = false
    while (!done) plan match {
      case Project(projs, child) =>
        val local: Map[ExprId, Expression] = projs.collect {
          case al @ Alias(e2, _) => al.exprId -> e2
        }.toMap
        def resolve(e2: Expression): Expression = e2.transformUp {
          case a: AttributeReference if local.contains(a.exprId) =>
            local(a.exprId)
        }
        subst = subst.map { case (k, v) => k -> resolve(v) } ++ local
        plan = stripProjects(child)
      case _ => done = true
    }
    (subst, plan)
  }

  // ------------------------------------------------------------------ grid

  /** Rewrite one Aggregate into a LocalRelation of grid answers. */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (subst, stripped) = resolveThroughProjects(agg.child)
    val lone = agg.groupingExpressions.isEmpty &&
      agg.aggregateExpressions.size == 1
    // a lone ungrouped aggregate reads its child as is: a renaming or
    // computing projection beneath it falls through
    if (lone && subst.nonEmpty) return None
    def base(a: AttributeReference): AttributeReference =
      subst.get(a.exprId) match {
        case Some(attr: AttributeReference) => attr
        case Some(_) => a.withName(PoisonName)
        case None => a
      }
    // a grouping attribute may stand for an analyzer-extracted derived
    // expression: substitute before matching the key whitelist
    val resolveKey: Expression => Expression = {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
      case e => e
    }
    for {
      src <- source(stripped)
      keys <- all(agg.groupingExpressions.map(e =>
        groupKeyOf(resolveKey(e), base)))
      owners <- all(keys.map(k => src.ownerOf(k.attr)))
      groups <- all(keys.zip(owners).map { case (k, o) => groupsOf(src, k, o) })
      cells <- all(agg.aggregateExpressions.map(
        classify(_, agg.groupingExpressions, src, base, lone)))
      rows <- grid(src, keys, owners, groups, cells)
    } yield LocalRelation(agg.aggregateExpressions.map(_.toAttribute), rows)
  }

  /** Evaluate the aggregate grid: one row per combo of group values
    * whose existence probe is positive (zero-count groups are dropped,
    * as in SQL), or exactly one row when ungrouped (SQL's no-GROUP-BY
    * aggregate answers even zero rows). Every cell probes under the
    * combo's group conjuncts, its FILTER conjuncts, and its own column
    * conjunct, each routed to its owner. The existence probe runs only
    * where a row may be dropped or its count shared by several cells,
    * so a lone ungrouped aggregate costs exactly its own probes.
    * None = past a cap, a Long overflow, or a fold the grid cannot
    * reproduce: the whole rewrite falls through rather than mixing
    * probed rows with a scan. */
  private def grid(src: Source, keys: Seq[GroupKey], owners: Seq[Int],
      groups: Seq[Seq[(Any, Seq[Any])]],
      cells: Seq[Cell]): Option[Seq[InternalRow]] = {
    val eager = keys.nonEmpty || cells.size > 1
    val perCombo = math.max(1L, (if (eager) 1L else 0L) + cells.map(cellCost).sum)
    // BigInt: a Long product over multi-key grids could wrap past both caps
    val nCombos = groups.map(g => BigInt(g.size)).product
    if (nCombos > maxGroupProbes ||
        nCombos * perCombo * src.cost > maxTotalProbes) return None
    // group values convert against each key's EXACT output type (an
    // inferred converter would widen e.g. DECIMAL(12,2) and corrupt rows)
    val gConv = keys.map(k => org.apache.spark.sql.catalyst
      .CatalystTypeConverters.createToCatalystConverter(k.outType))
    val rows = Seq.newBuilder[InternalRow]
    val combos = cross(groups).iterator
    var ok = true
    try probed {
      while (ok && combos.hasNext) {
        val combo = combos.next()
        val conds = keys.indices.map(i =>
          Cond(owners(i), groupPred(keys(i), combo(i)._1, combo(i)._2)))
        def probe(extra: Seq[Cond]): Long = src.count(conds ++ extra)
        val existence = if (eager) Some(probe(Nil)) else None
        def n: Long = existence.getOrElse(probe(Nil))
        if (keys.isEmpty || n > 0L) {
          val vals: Seq[Option[Any]] = cells.map {
            case GroupCell(i) =>
              val g = combo(i)._1
              Some(if (g == null) null else gConv(i)(slotValue(g)))
            case CountStarCell(filt) =>
              Some(if (filt.isEmpty) n else probe(filt))
            case CountColCell(o, c, false, filt, _) =>
              Some(probe(filt :+ Cond(o, Pred(c.name, Op.NotNull, null))))
            case CountColCell(o, c, true, filt, dom) =>
              Some(dom.count(v => v != null &&
                probe(filt :+ Cond(o, Pred(c.name, Op.Eq, v))) > 0L).toLong)
            case v: ValueAggCell =>
              foldValueAgg(v, x =>
                probe(v.filt :+ Cond(v.owner, Pred(v.col.name, Op.Eq, x))))
          }
          if (vals.exists(_.isEmpty)) ok = false
          else rows += InternalRow.fromSeq(vals.map(_.get))
        }
      }
    } catch { case _: ArithmeticException => ok = false }
    if (ok) Some(rows.result()) else None
  }
}

object EstimatedStatsRule {
  val EnabledKey = "spark.graft.statsInject.enabled"
  val AttachedKey = "spark.graft.statsInject.attached"

  /** Attach rule + erasing strategy to an existing session (the
    * non-`withExtensions` path, same shape as
    * [[ApproxCountRule.attachIfMissing]]). extraOptimizations run as
    * the optimizer's LAST batch — also after pushdown/pruning, so the
    * placement contract holds on this path too. */
  def attachIfMissing(spark: SparkSession): Unit = {
    val present =
      spark.conf.get(AttachedKey, "false") == "true" ||
        spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[EstimatedStatsRule])
    if (!present) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ EstimatedStatsRule(spark)
      spark.conf.set(AttachedKey, "true")
    }
    org.apache.spark.sql.graft.StatsAnnotated.ensureStrategy(spark)
  }

  /** Join-ORDER steering on the attach path: a `withExtensions` session
    * gets it for free (the preCBO slot runs the stats rule right before
    * Catalyst's CBO batch — JoinReorderSpec), but a pre-built session's
    * `extraOptimizations` run AFTER that batch, where the injected
    * rowCounts can no longer steer it. Fix: append Catalyst's OWN
    * `CostBasedJoinReorder` object rule after the stats rule in the
    * user batch — same rule, same DP search, reading the same injected
    * `Statistics`, just re-invoked in a slot that sees them. It is
    * conf-gated exactly like the builtin copy (`spark.sql.cbo.enabled`
    * && `spark.sql.cbo.joinReorder.enabled`, both default-off), so for
    * every other query the appended rule is a no-op.
    */
  def attachReorderIfMissing(spark: SparkSession): Unit = {
    attachIfMissing(spark)
    val reorder = org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder
    if (!spark.experimental.extraOptimizations.contains(reorder))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ reorder
  }
}

/** The other half of the optimizer-integration north star (the COUNT(*)
  * rewrite above ANSWERS queries from the model; this rule lets the
  * model STEER the planner): wraps `Filter[conj] <- scan(t)` in a
  * [[org.apache.spark.sql.graft.StatsAnnotated]] barrier carrying the
  * registered estimator's cardinality as `Statistics`, so Catalyst's
  * own `JoinSelection` flips broadcast-vs-shuffle on the learned
  * estimate instead of the scan's file size. Spark's size-only visitor
  * propagates the RELATION's size through a Filter unchanged — a
  * 0.01%-selective predicate over a terabyte table "looks like" a
  * terabyte and pays a shuffle join; and a small compressed file
  * under-reports its in-memory build size and gets broadcast at OOM
  * risk. A model estimate fixes both directions (both flips asserted
  * in JoinPlanSpec).
  *
  * Conservative like the count rewrite: fires only on all-supported
  * conjuncts over modeled columns of a registered scan; estimator
  * failures leave the plan untouched. Size = rows × (8 + Σ attr
  * defaultSize), Spark's own row-width convention.
  */
case class EstimatedStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.graft.StatsAnnotated

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.get(EstimatedStatsRule.EnabledKey, "false") != "true" ||
        ApproxCountRule.inEstimate.get()) plan
    else plan.transformUp {
      // Collapse a stale annotation around a freshly re-wrapped filter
      // (fixed-point batches re-run the rule): keep the inner, newer
      // one. Makes the rewrite converge on the second pass.
      case StatsAnnotated(inner: StatsAnnotated, _, _, _) => inner
      case f @ Filter(cond, child) =>
        // The condition parses as a bounded DNF (r17): an OR filter's
        // row count comes from inclusion–exclusion over the same
        // estimates, so learned stats steer broadcast/shuffle and join
        // order for disjunctive predicates too. Per-key ColumnStats
        // are conjunction-shaped and are injected only on the
        // single-disjunct (pure conjunction) path.
        (PredExtract.relationPaths(child),
            PredExtract.parseDnf(cond, strictNotNull = false)) match {
          case (Some(paths), Some(disjuncts)) =>
            GraftRuntime.lookup(paths) match {
              case Some(reg) if disjuncts.forall(
                  _.forall(p => reg.columns.contains(p.col))) =>
                val preds =
                  if (disjuncts.size == 1) disjuncts.head else Nil
                ApproxCountRule.inEstimate.set(true)
                val estOpt =
                  try PredExtract.estimateDnf(reg.estimate, disjuncts)
                  finally ApproxCountRule.inEstimate.set(false)
                estOpt match {
                  case None => f // I-E overflow: leave the plan alone
                  case Some(est) =>
                val rowBytes =
                  8L + f.output.map(_.dataType.defaultSize.toLong).sum
                // Learned per-key ColumnStats for whichever output
                // columns the registration can estimate (join keys,
                // typically): JoinEstimation requires distinctCount,
                // nullCount, AND a non-empty value interval on both key
                // sides before it abandons the cartesian-product
                // fallback (min/max-less numeric stats read as the
                // EMPTY interval → every join estimates 0 rows).
                // nullCount comes from the registrant (who can read the
                // dictionary's null slot); absent that, 0 is injected
                // ONLY when a null-excluding predicate on the column
                // makes it exact — an unpredicated key on a
                // possibly-null column keeps nullCount=None rather than
                // overstating matchable rows (ADVICE r15). min/max
                // arrive as external JVM values and convert to Catalyst
                // internal form here (Timestamp → µs long, etc.).
                // Per-key stats are CONJUNCTION-shaped: under a real
                // disjunction (preds = Nil) an unconditioned ndv is an
                // upper bound that, paired with the I-E row count,
                // could UNDERestimate a join — inject none instead.
                val colStats = if (disjuncts.size > 1) Nil
                else f.output.flatMap { a =>
                  reg.keyStats(a.name, preds).map { ks =>
                    val nulls = ks.nullCount
                      .map(BigInt(_))
                      .orElse {
                        val excluded = preds.exists(p => p.col == a.name &&
                          (p.op.isScalar || p.op == graft.query.Op.In ||
                            p.op == graft.query.Op.NotIn ||
                            p.op == graft.query.Op.NotNull ||
                            p.op == graft.query.Op.PrefixLike))
                        if (excluded) Some(BigInt(0)) else None
                      }
                    def cat(v: Any): Any = org.apache.spark.sql.catalyst
                      .CatalystTypeConverters.convertToCatalyst(v)
                    a ->
                      org.apache.spark.sql.catalyst.plans.logical.ColumnStat(
                        distinctCount = Some(BigInt(ks.ndv)),
                        min = ks.min.map(cat),
                        max = ks.max.map(cat),
                        nullCount = nulls,
                        avgLen = Some(a.dataType.defaultSize.toLong),
                        maxLen = Some(a.dataType.defaultSize.toLong))
                  }
                }
                StatsAnnotated(f, BigInt(est), BigInt(est) * rowBytes,
                  colStats)
                }
              case _ => f
            }
          case _ => f
        }
    }
  }
}

/** Catalyst-expression → 5-op-Pred extraction shared by the two
  * optimizer-integration rules ([[ApproxCountRule]],
  * [[EstimatedStatsRule]]). */
private[plans] object PredExtract {

  /** [[canonKey]]'s marker for non-finite float/double key values —
    * equality by canonical bit pattern (case-class Long equality), a
    * type no genuine domain value can collide with. */
  private[plans] final case class NonFiniteKey(bits: Long)

  /** Canonical form of a join-key value for cross-type domain
    * intersection: numerics normalize through a scale-stripped
    * BigDecimal (Int 1, Long 1L, and Double 1.0 all meet), everything
    * else is itself. Used only as a map key — probes always carry a
    * side's own representative. */
  def canonKey(v: Any): Any = v match {
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      java.math.BigDecimal.valueOf(n.asInstanceOf[Number].longValue)
        .stripTrailingZeros
    // Non-finite floats have no BigDecimal form (the constructor
    // throws, ADVICE r17) — canonicalize NaN/±Inf by bit pattern so a
    // float-keyed domain containing them intersects instead of
    // crashing the optimizer. doubleToLongBits collapses every NaN to
    // one canonical pattern, matching Spark's NaN = NaN join
    // semantics (boxed NaN would NOT equal itself under Scala ==).
    case f: Float if f.isNaN || f.isInfinite =>
      NonFiniteKey(java.lang.Double.doubleToLongBits(f.toDouble))
    case d: Double if d.isNaN || d.isInfinite =>
      NonFiniteKey(java.lang.Double.doubleToLongBits(d))
    case f: Float => new java.math.BigDecimal(f.toDouble).stripTrailingZeros
    case d: Double => new java.math.BigDecimal(d).stripTrailingZeros
    case b: java.math.BigDecimal => b.stripTrailingZeros
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros
    case other => other
  }

  /** Strip attribute-only projections/aliases (column pruning inserts
    * them between the aggregate, the filter, and the scan). */
  def stripProjects(plan: LogicalPlan): LogicalPlan = plan match {
    case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
      stripProjects(child)
    case SubqueryAlias(_, child) => stripProjects(child)
    case other => other
  }

  /** The parquet paths under a plain scan (through projections), and
    * through `persist()`: CacheManager swaps the scan for an
    * InMemoryRelation at analysis, but the registration is keyed by
    * the FILE paths — a user who cached the table still gets the
    * rewrite (the cached builder keeps the original logical plan). */
  def relationPaths(plan: LogicalPlan): Option[Seq[String]] =
    stripProjects(plan) match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(fs.location.rootPaths.map(_.toString))
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        relationPaths(imr.cacheBuilder.logicalPlan)
      case _ => None
    }

  /** The conjuncts of an And tree, left to right. */
  def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Conjunction of vocabulary conjuncts -> Preds; None if anything
    * else. The accepted surface is the FULL r15/r16 mask vocabulary, so
    * the optimizer rules speak the same language as the SQL front-end:
    *
    *   - `attr op literal` (either operand order), op ∈ {=,<,>,<=,>=}
    *   - `attr IN (literals)` — also its post-OptimizeIn `InSet` form
    *     (lists past `spark.sql.optimizer.inSetConversionThreshold`
    *     reach a last-batch rule already converted; the hset carries
    *     Catalyst-internal values, converted back here)
    *   - `NOT IN` / `attr != literal` (Catalyst has no NotEqualTo — `!=`
    *     parses to `Not(EqualTo)`; both map to the complement mask,
    *     [[Op.NotIn]])
    *   - `attr IS NULL` — the null-slot mask
    *   - `attr IS NOT NULL`: in strict mode (the COUNT(*) rewrite) it
    *     parses to [[Op.NotNull]] — exact, whether user-written or
    *     inferred by InferFiltersFromConstraints (a NotNull mask ANDed
    *     onto a comparison mask is a no-op, so inferred conjuncts never
    *     change an estimate). With `strictNotNull = false` (stats
    *     injection) bare `isnotnull` conjuncts are IGNORED instead:
    *     they only shrink the true cardinality, so the estimate over
    *     the remaining conjuncts stays a sound upper bound — the right
    *     direction for a broadcast-safety decision — and estimators
    *     registered over join keys don't lose the rewrite to inferred
    *     conjuncts on columns they never modeled.
    *
    * NULL literals inside IN/NOT IN lists bail (SQL three-valued logic
    * makes `x NOT IN (NULL, …)` never true — not a complement mask). */
  def parseConjunction(e: Expression,
      strictNotNull: Boolean = true): Option[Seq[Pred]] = {
    val conjuncts = splitAnd(e)
    val parsed = conjuncts.map(parseLeaf(_, strictNotNull))
    if (parsed.exists(_.isEmpty)) None
    else {
      val preds = parsed.flatten.flatten
      if (preds.nonEmpty) Some(preds) else None
    }
  }

  /** Cap on the disjunct count the DNF parse will produce: each extra
    * disjunct doubles the inclusion–exclusion probe count (2^k − 1
    * probes — 255 at the cap, still trivially cheap next to a scan). */
  val maxDisjuncts = 8

  /** Bounded disjunctive normal form of an And/Or tree over vocabulary
    * leaves (r17): `WHERE a=1 OR b=2` — the single most common SQL
    * shape the conjunction-only parse refused — becomes
    * `Seq(Seq(a=1), Seq(b=2))`, answered by inclusion–exclusion over
    * registered estimates (exact for exact registrations: it is the
    * identity |⋃Dᵢ| = Σ(−1)^(|S|+1)|⋂_{i∈S}Dᵢ|, and a conjunction of
    * disjuncts is just pred-list concatenation — multiple preds on one
    * column AND their masks). None when any leaf is outside the
    * vocabulary OR the expansion exceeds [[maxDisjuncts]] (nested
    * And-of-Or crossproducts grow exponentially — the cap makes them
    * fall through to the exact plan, spec-pinned). Single-disjunct
    * results are exactly [[parseConjunction]]'s answer. */
  def parseDnf(e: Expression,
      strictNotNull: Boolean = true): Option[Seq[Seq[Pred]]] = {
    def expand(x: Expression): Option[Seq[Seq[Expression]]] = x match {
      case Or(l, r) =>
        for {
          ls <- expand(l); rs <- expand(r)
          if ls.size + rs.size <= maxDisjuncts
        } yield ls ++ rs
      case And(l, r) =>
        for {
          ls <- expand(l); rs <- expand(r)
          if ls.size * rs.size <= maxDisjuncts
        } yield for (a <- ls; b <- rs) yield a ++ b
      case leaf => Some(Seq(Seq(leaf)))
    }
    expand(e).flatMap { disjuncts =>
      val parsed: Seq[Option[Seq[Pred]]] = disjuncts.map { leaves =>
        val ps = leaves.map(parseLeaf(_, strictNotNull))
        if (ps.exists(_.isEmpty)) None else Some(ps.flatten.flatten)
      }
      if (parsed.exists(_.isEmpty)) None
      else {
        val ds = parsed.map(_.get)
        // An all-no-op disjunct (tolerated isnotnull only) would make
        // the union trivially "everything" — only meaningful parses
        // qualify, mirroring parseConjunction's nonEmpty rule.
        if (ds.forall(_.nonEmpty)) Some(ds) else None
      }
    }
  }

  /** COUNT over a union of disjuncts by inclusion–exclusion, shared by
    * both optimizer rules: |⋃Dᵢ| = Σ_{∅≠S}(−1)^(|S|+1)·est(⋀_{i∈S}Dᵢ),
    * where a conjunction of disjuncts is pred-list concatenation.
    * Exact for exact estimators (set identity); learned ones inherit
    * per-term fidelity (negative totals clamp to 0). 2^k − 1 terms,
    * k ≤ [[maxDisjuncts]]. None on Long overflow in the signed sum.
    * Callers hold the re-entrancy guard. */
  def estimateDnf(est: Seq[Pred] => Long,
      disjuncts: Seq[Seq[Pred]]): Option[Long] = {
    if (disjuncts.size == 1) Some(est(disjuncts.head))
    else try {
      val k = disjuncts.size
      var acc = 0L
      var s = 1
      while (s < (1 << k)) {
        val conj = Seq.newBuilder[Pred]
        var bits = 0
        var i = 0
        while (i < k) {
          if ((s & (1 << i)) != 0) { conj ++= disjuncts(i); bits += 1 }
          i += 1
        }
        val term = est(conj.result())
        acc =
          if (bits % 2 == 1) Math.addExact(acc, term)
          else Math.subtractExact(acc, term)
        s += 1
      }
      Some(math.max(acc, 0L))
    } catch { case _: ArithmeticException => None }
  }

  /** One vocabulary leaf -> Some(Some(pred)) parsed, Some(None)
    * tolerated no-op (non-strict isnotnull), None unsupported. */
  private def parseLeaf(x: Expression,
      strictNotNull: Boolean): Option[Option[Pred]] = {
    def scala(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, dt)
    // IN-list literals; None when any element is non-literal or NULL.
    def lits(vs: Seq[Expression]): Option[Seq[Any]] =
      if (vs.nonEmpty && vs.forall {
        case Literal(v, _) => v != null
        case _ => false
      }) Some(vs.map { case Literal(v, dt) => scala(v, dt) })
      else None
    x match {
      case cmp: BinaryComparison => parseCmp(cmp).map(Some(_))
      case In(a: AttributeReference, vs) =>
        lits(vs).map(ls => Some(Pred(a.name, Op.In, ls)))
      case Not(In(a: AttributeReference, vs)) =>
        lits(vs).map(ls => Some(Pred(a.name, Op.NotIn, ls)))
      case InSet(a: AttributeReference, hset) if hset.nonEmpty &&
          !hset.contains(null) =>
        Some(Some(Pred(a.name, Op.In,
          hset.toSeq.map(v => scala(v, a.dataType)))))
      case Not(InSet(a: AttributeReference, hset)) if hset.nonEmpty &&
          !hset.contains(null) =>
        Some(Some(Pred(a.name, Op.NotIn,
          hset.toSeq.map(v => scala(v, a.dataType)))))
      case Not(EqualTo(a: AttributeReference, Literal(v, dt)))
          if v != null =>
        Some(Some(Pred(a.name, Op.NotIn, Seq(scala(v, dt)))))
      case Not(EqualTo(Literal(v, dt), a: AttributeReference))
          if v != null =>
        Some(Some(Pred(a.name, Op.NotIn, Seq(scala(v, dt)))))
      // LIKE 'abc%' (r17): LikeSimplification (main batches, so it has
      // always run by the time either rule fires) rewrites a prefix
      // pattern to StartsWith; the raw Like is matched too for
      // robustness (e.g. likeSimplification disabled by conf), with the
      // same prefix-only conservatism as the SQL front-end — non-prefix
      // patterns fall through to the exact plan.
      case StartsWith(a: AttributeReference, Literal(v, _)) if v != null =>
        Some(Some(Pred(a.name, Op.PrefixLike, v.toString)))
      case Like(a: AttributeReference, Literal(v, _), esc) if v != null =>
        graft.query.SqlFront.likePrefix(v.toString, esc)
          .map(prefix => Some(Pred(a.name, Op.PrefixLike, prefix)))
      case IsNull(a: AttributeReference) =>
        Some(Some(Pred(a.name, Op.IsNull, null)))
      case IsNotNull(a: AttributeReference) =>
        if (strictNotNull) Some(Some(Pred(a.name, Op.NotNull, null)))
        else Some(None)
      case _ => None // unsupported leaf
    }
  }

  private def parseCmp(e: BinaryComparison): Option[Pred] = {
    def lit(x: Expression): Option[Any] = x match {
      case Literal(v, dt) =>
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(v, dt))
      case _ => None
    }
    (e.left, e.right) match {
      case (a: AttributeReference, v) =>
        lit(v).map(value => Pred(a.name, opOf(e, flipped = false), value))
      case (v, a: AttributeReference) =>
        lit(v).map(value => Pred(a.name, opOf(e, flipped = true), value))
      case _ => None
    }
  }

  private def opOf(e: BinaryComparison, flipped: Boolean): Op = e match {
    case _: EqualTo => Op.Eq
    case _: LessThan => if (flipped) Op.Gt else Op.Lt
    case _: GreaterThan => if (flipped) Op.Lt else Op.Gt
    case _: LessThanOrEqual => if (flipped) Op.Geq else Op.Leq
    case _: GreaterThanOrEqual => if (flipped) Op.Leq else Op.Geq
  }
}
