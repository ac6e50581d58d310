package graft.plans

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{count, lit, max, min, sum}

/** Materialized-view query rewrite — the reference's scheduled rollup
  * views (`scheduler/`'s 15-minute daily-summary rebuilds) made USEFUL to
  * ad-hoc queries: a registered MV is not just a table someone may
  * remember to query; the optimizer rewrites any matching aggregate over
  * the BASE data into a re-aggregation of the (much smaller) materialized
  * rollup automatically. At 100 TB this is the difference between a
  * dashboard query scanning the fact and it scanning a few thousand
  * pre-aggregated rows — the classic OLAP answer (Goldstein & Larson,
  * SIGMOD 2001's view-matching lineage) expressed as a Catalyst
  * `Rule[LogicalPlan]`.
  *
  * Soundness model (conservative — no match leaves the plan untouched):
  *
  *  - The MV is created BY this module (`create`), so its structure is
  *    recorded exactly: base plan, group expressions, measure inputs, and
  *    an always-added `count(1)` roll-up column.
  *  - A candidate `Aggregate(g, a, child)` matches when `child` PEELS
  *    (inlining deterministic Projects, collecting deterministic Filters,
  *    dropping SubqueryAliases) to a base plan `sameResult` as the MV's;
  *    peeled expressions are then compared SEMANTICALLY after renaming
  *    base outputs by position.
  *  - Every query grouping expression must equal one of the MV's group
  *    expressions (a SUBSET of groups is fine — that is re-aggregation);
  *    every filter conjunct must be expressible over group expressions
  *    alone (a residual reference to a non-group column refuses the
  *    rewrite: the MV cannot filter what it aggregated away).
  *  - sum(x) re-aggregates as sum(sum_x); min/max as min(min_x)/
  *    max(max_x); count(1)/count(*) as sum(cnt) (coalesced to 0 to keep
  *    count's non-null type). DISTINCT and filtered aggregates refuse.
  *    Decimal sums refuse (re-summing widens the precision a second time
  *    — the rewritten type would not match the original plan's).
  *  - Rewritten output attributes keep the ORIGINAL exprIds (Alias with
  *    pinned id), so parent operators resolve unchanged.
  */
object MaterializedViews {

  /** The roll-up count column every MV carries (needed to re-aggregate
    * count(*), and the standard carrier for average decomposition).
    */
  val CntCol = "__graft_cnt"

  /** One registered view: the PEELED base plan, group/measure expressions
    * rewritten over that base's output, and the analyzed scan of the
    * materialized parquet.
    */
  final case class MvDef(name: String, path: String,
                         base: LogicalPlan,
                         groups: Seq[(String, Expression)],
                         measures: Seq[(String, String, Expression)],
                         mvRelation: LogicalPlan) {
    /** A fresh-exprId instance of the MV scan (safe to appear twice in one
      * query tree), with its output resolved by column name.
      */
    def freshScan(): (LogicalPlan, Map[String, Attribute]) = {
      val fresh = mvRelation match {
        case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
        case other => other
      }
      (fresh, fresh.output.map(a => a.name -> a).toMap)
    }
  }

  private val registry = TrieMap.empty[(SparkSession, String), MvDef]

  /** True while `create` is extracting a definition's optimized structure
    * — the rewrite rule must not fire there, or defining a second MV whose
    * aggregate matches an existing one extracts the REWRITTEN plan and
    * aborts on its unexpected shape.
    */
  private[plans] val extracting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def defsFor(spark: SparkSession): Seq[MvDef] =
    registry.collect { case ((s, _), d) if s eq spark => d }.toSeq

  def drop(spark: SparkSession, name: String): Unit =
    registry.remove((spark, name))

  /** Materialize `base.groupBy(groups).agg(measures + count(1))` to
    * `path` and register it for rewriting. `measures` are
    * (outputName, op, input) with op ∈ sum|min|max. Returns the MV frame
    * (read back from the written parquet).
    */
  def create(spark: SparkSession, name: String, base: DataFrame,
             groups: Seq[(String, Column)],
             measures: Seq[(String, String, Column)],
             path: String): DataFrame = {
    require(groups.nonEmpty, "an MV needs at least one group column")
    val aggCols = measures.map {
      case (n, "sum", c) => sum(c).as(n)
      case (n, "min", c) => min(c).as(n)
      case (n, "max", c) => max(c).as(n)
      case (_, op, _) => throw new IllegalArgumentException(
        s"unsupported MV measure op '$op' (sum|min|max)")
    } :+ count(lit(1)).as(CntCol)
    val aggDf = base.groupBy(groups.map { case (n, c) => c.as(n) }: _*)
      .agg(aggCols.head, aggCols.tail: _*)

    // extract the recorded structure from the OPTIMIZED plan — the same
    // normal form (collapsed projects, pruned columns) a candidate query
    // reaches the rule in, so peeled comparison is like-for-like
    val optimized =
      try { extracting.set(true); aggDf.queryExecution.optimizedPlan }
      finally extracting.set(false)
    val (groupExprs: Seq[(String, Expression)],
         measureExprs: Seq[(String, String, Expression)],
         child: LogicalPlan) = optimized match {
      case Aggregate(_, ae, child, _) =>
        // RemoveRedundantAliases strips `col AS col`, so group outputs may
        // surface as bare attributes
        val byName = ae.map {
          case al: Alias    => al.name -> al.child
          case ne           => ne.name -> (ne: Expression)
        }.toMap
        val g = groups.map { case (n, _) =>
          n -> byName.getOrElse(n, throw new IllegalStateException(s"MV group $n not in plan"))
        }
        val m = (measures.map(t => (t._1, t._2)) :+ (CntCol, "cnt")).map { case (n, op) =>
          byName(n) match {
            case AggregateExpression(fn, _, false, None, _) =>
              (n, op, fn.children.headOption.getOrElse(Literal(1)))
            case other => throw new IllegalStateException(
              s"MV measure $n has unexpected shape $other")
          }
        }
        (g, m, child)
      case other => throw new IllegalStateException(
        s"MV definition did not optimize to an Aggregate: ${other.nodeName}")
    }
    val exprs = groupExprs.map(_._2) ++ measureExprs.map(_._3)
    val (peeledBase, peeled, conds) = peel(child, exprs)
    require(conds.isEmpty,
      "an MV definition must be an unfiltered aggregate over its base")
    val (gPeeled, mPeeled) = peeled.splitAt(groupExprs.size)

    aggDf.write.mode(SaveMode.Overwrite).parquet(path)
    val mvDf = spark.read.parquet(path)
    registry.update((spark, name), MvDef(name, path, peeledBase,
      groupExprs.map(_._1).zip(gPeeled),
      measureExprs.zip(mPeeled).map { case ((n, op, _), e) => (n, op, e) },
      mvDf.queryExecution.analyzed))
    mvDf
  }

  /** Inline deterministic Projects (substituting aliases into the carried
    * expressions), collect deterministic Filter conjuncts (substituted the
    * same way as they descend), and drop SubqueryAliases, until a
    * non-Project/Filter base remains. Returns (base, exprs over base's
    * output, conds over base's output).
    */
  @tailrec
  private[graft] def peel(plan: LogicalPlan, exprs: Seq[Expression],
                          conds: Seq[Expression] = Nil): (LogicalPlan, Seq[Expression], Seq[Expression]) =
    plan match {
      case Project(list, child) if list.forall(_.deterministic) =>
        val subst = list.collect { case al: Alias => al.exprId -> al.child }.toMap
        def sub(e: Expression): Expression = e.transform {
          case a: Attribute if subst.contains(a.exprId) => subst(a.exprId)
        }
        peel(child, exprs.map(sub), conds.map(sub))
      case Filter(cond, child) if cond.deterministic =>
        peel(child, exprs, conds ++ splitConj(cond))
      case SubqueryAlias(_, child) =>
        peel(child, exprs, conds)
      case other => (other, exprs, conds)
    }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other     => Seq(other)
  }
}

/** The rewrite rule. Injected at session build by [[GraftExtensions]];
  * consults the session's MV registry on every application (MV
  * registration is dynamic).
  */
object RewriteAggregateToMv extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MaterializedViews.extracting.get()) return plan
    val defs = SparkSession.getActiveSession.map(defsFor).getOrElse(Nil)
    if (defs.isEmpty) plan
    else plan.transform {
      case agg: Aggregate =>
        defs.view.flatMap(d => tryRewrite(agg, d)).headOption.getOrElse(agg)
    }
  }

  private val dbg = sys.env.contains("GRAFT_MV_DEBUG")
  private def tryRewrite(agg: Aggregate, d: MvDef): Option[LogicalPlan] = {
    def fail(msg: => String): Option[LogicalPlan] = { if (dbg) println(s"[mv-refuse] $msg"); None }
    // peel the candidate's child the same way the definition was peeled,
    // carrying the aggregate's own expressions so Project aliases inline
    // into them before comparison
    val carried = agg.groupingExpressions ++ agg.aggregateExpressions
    val (qBase, normExprs, normConds) = peel(agg.child, carried)
    if (!qBase.sameResult(d.base)) return fail("base sameResult false")
    if (qBase.output.size != d.base.output.size) return fail("base output size")
    // rename candidate base outputs to the definition's (sameResult ⇒
    // positionally aligned canonical outputs); refuse on any type drift
    val rename = qBase.output.zip(d.base.output).map { case (q, r) =>
      if (q.dataType != r.dataType) return None
      q.exprId -> r
    }.toMap
    def normalized(e: Expression): Option[Expression] = {
      var ok = true
      val n = e.transform {
        case a: Attribute =>
          rename.get(a.exprId) match {
            case Some(r) => r
            case None    => ok = false; a
          }
      }
      if (ok) Some(n) else None
    }
    val (normGroups, normAggs) =
      normExprs.splitAt(agg.groupingExpressions.size)

    val (scan, mvAttrByName) = d.freshScan()
    val groupAttr: Map[String, Attribute] =
      d.groups.map { case (n, _) => n -> mvAttrByName(n) }.toMap

    // a query expression equal to an MV group expression maps to that
    // group's scan attribute
    def asGroupAttr(e: Expression): Option[Attribute] = normalized(e).flatMap { n =>
      d.groups.collectFirst { case (name, ge) if n.semanticEquals(ge) => groupAttr(name) }
    }
    // the date group (if any) a raw column underlies: group expressions of
    // the form cast(...cast(a)...) to DateType through timestamp/date
    // casts only — the shape Catalyst's own date-filter lowering unwraps
    def dateGroupOf(a: Attribute): Option[Attribute] = {
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      @tailrec def strip(e: Expression): Option[Attribute] = e match {
        case c: Cast if c.child.dataType == TimestampType ||
            c.child.dataType == TimestampNTZType ||
            c.child.dataType == DateType => strip(c.child)
        case at: Attribute => Some(at)
        case _ => None
      }
      d.groups.collectFirst {
        case (name, g) if g.dataType == org.apache.spark.sql.types.DateType &&
          strip(g).exists(_.exprId == a.exprId) => groupAttr(name)
      }
    }
    // a timestamp literal that is exactly midnight — in the session zone
    // for TIMESTAMP, in its own wall clock for TIMESTAMP_NTZ — maps to its
    // date; anything else cannot be expressed on a day column
    def midnightDate(micros: Long, ntz: Boolean): Option[Literal] = {
      val zone =
        if (ntz) java.time.ZoneOffset.UTC
        else java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val zdt = java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
        .atZone(zone)
      if (zdt.toLocalTime == java.time.LocalTime.MIDNIGHT)
        Some(Literal(zdt.toLocalDate.toEpochDay.toInt,
          org.apache.spark.sql.types.DateType))
      else None
    }
    object TsLit {
      def unapply(e: Expression): Option[(Long, Boolean)] = e match {
        case Literal(t: Long, org.apache.spark.sql.types.TimestampType) => Some((t, false))
        case Literal(t: Long, org.apache.spark.sql.types.TimestampNTZType) => Some((t, true))
        case _ => None
      }
    }
    // invert Catalyst's date-filter lowering: `to_date(ts) >= D` reaches
    // the rule as `ts >= midnight(D)`, `to_date(ts) <= D` as
    // `ts < midnight(D+1)`, plus an `isnotnull(ts)` guard — each maps
    // exactly back onto the MV's day column (>=/< only: a strict `>` on a
    // midnight bound has no day-granular equivalent)
    def unwrapDateCond(n: Expression): Option[Expression] = n match {
      case GreaterThanOrEqual(a: Attribute, TsLit(t, ntz)) =>
        for (day <- dateGroupOf(a); l <- midnightDate(t, ntz))
          yield GreaterThanOrEqual(day, l)
      case LessThan(a: Attribute, TsLit(t, ntz)) =>
        for (day <- dateGroupOf(a); l <- midnightDate(t, ntz))
          yield LessThan(day, l)
      case LessThanOrEqual(TsLit(t, ntz), a: Attribute) =>
        for (day <- dateGroupOf(a); l <- midnightDate(t, ntz))
          yield GreaterThanOrEqual(day, l)
      case GreaterThan(TsLit(t, ntz), a: Attribute) =>
        for (day <- dateGroupOf(a); l <- midnightDate(t, ntz))
          yield LessThan(day, l)
      case IsNotNull(a: Attribute) =>
        // null maps bijectively through the cast chain
        dateGroupOf(a).map(IsNotNull(_))
      case _ => None
    }
    // filters must become expressions over group attributes alone
    def mapCond(c: Expression): Option[Expression] = normalized(c).flatMap { n =>
      unwrapDateCond(n).orElse {
        val mapped = n.transformDown {
          case e if d.groups.exists(_._2.semanticEquals(e)) =>
            groupAttr(d.groups.find(_._2.semanticEquals(e)).get._1)
        }
        if (mapped.references.forall(a => groupAttr.values.exists(_.exprId == a.exprId)))
          Some(mapped)
        else None
      }
    }
    def mapAggFn(fn: AggregateFunction): Option[Expression] = fn match {
      case s: Sum if !s.child.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        normalized(s.child).flatMap { n =>
          d.measures.collectFirst { case (name, "sum", me) if n.semanticEquals(me) =>
            s.copy(child = mvAttrByName(name)).toAggregateExpression()
          }
        }
      case m: Min =>
        normalized(m.child).flatMap { n =>
          d.measures.collectFirst { case (name, "min", me) if n.semanticEquals(me) =>
            m.copy(child = mvAttrByName(name)).toAggregateExpression()
          }
        }
      case m: Max =>
        normalized(m.child).flatMap { n =>
          d.measures.collectFirst { case (name, "max", me) if n.semanticEquals(me) =>
            m.copy(child = mvAttrByName(name)).toAggregateExpression()
          }
        }
      case c: Count if c.children.forall(ch =>
          ch.foldable && ch.eval(null) != null) =>
        // count over a foldable NON-NULL argument is count(*); count(NULL)
        // is 0 per group and must NOT become sum(cnt)
        val cnt = mvAttrByName(CntCol)
        Some(Coalesce(Seq(Sum(cnt).toAggregateExpression(), Literal(0L))))
      case _ => None
    }

    // grouping expressions: each must be an MV group (subset = roll-up)
    val newGroups: Seq[Expression] = normGroups.map { g =>
      asGroupAttr(g).getOrElse(return fail(s"group no-match: $g"))
    }
    // output expressions: grouping refs and supported aggregates, rebuilt
    // from their PEELED form, with ORIGINAL exprIds pinned so parents
    // resolve unchanged
    val newAggs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(normAggs).map {
        case (orig: NamedExpression, peeledE) =>
          val rebuilt = stripAlias(peeledE) match {
            case AggregateExpression(fn, _, false, None, _) => mapAggFn(fn)
            case other => asGroupAttr(other)
          }
          rebuilt match {
            case Some(n) => Alias(n, orig.name)(exprId = orig.exprId)
            case None    => return fail(s"agg no-match: $peeledE")
          }
      }
    val newConds = normConds.map(c => mapCond(c).getOrElse(return fail(s"cond no-match: $c")))
    val newChild = newConds.reduceOption(And).map(Filter(_, scan)).getOrElse(scan)
    Some(Aggregate(newGroups, newAggs, newChild))
  }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }
}
