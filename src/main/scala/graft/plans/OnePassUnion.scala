package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNION
import org.apache.spark.sql.types.IntegerType

/** One pass over a shared base for the branches of a `Union`.
  *
  * An error-channel split (`ErrorChannel.split` → `records.unionByName(
  * errors)`) or a `DagTopology` diamond is a `Union` whose children are
  * chains of `Project`/`Filter` over one common subtree. Catalyst plans
  * each child on its own, so the shared scan, and every parse in it,
  * runs once per branch. This rule rewrites such a group to
  *
  * {{{
  * Project(CASE tag … p_i) ← Filter(CASE tag … c_i)
  *   ← Expand(base.output :+ i) ← Filter(c_1 OR … OR c_n) ← base
  * }}}
  *
  * where `c_i` and `p_i` are child i's filters and projections collapsed
  * onto the base's output, a lower filter's condition first. A row
  * meeting k branch conditions is still emitted k times, so the result
  * is the same bag. The disjunction below the Expand drops rows no
  * branch keeps before they are copied and is what the optimizer pushes
  * to the scan, so partition pruning and pushed data filters still
  * apply; it is left out when it always holds (a branch without a
  * filter, or a null/not-null split).
  *
  * The base of a child is the topmost node of its chain of deterministic
  * `Project`/`Filter` nodes that is `canonicalized`-equal to a node of
  * another child's chain (the analyzer re-instances a union's repeated
  * relation, so plain equality misses it); the other children's base
  * attributes map positionally onto the first's. A group is left alone
  * when
  *  - its base holds a nondeterministic expression other than the
  *    per-file ones (`input_file_name()` and the block offsets depend only
  *    on the row's file), since branches would no longer see independent
  *    draws;
  *  - a chain would inline a non-cheap alias (a `from_json` struct, say)
  *    more than once, judged by `CollapseProject.canCollapseExpressions`;
  *  - a chain holds a subquery, or the branch outputs do not merge into
  *    one CASE type.
  * Streaming plans are never touched. Children outside any group stay in
  * a smaller `Union`. Nested unions are flattened only where a group
  * fuses, so the rule is idempotent.
  *
  * The rule is not registered with the session: only `Connection.start`
  * (through [[onePass]]) applies it. Any other frame with such a union,
  * a `DagTopology.output` or a bare `unionByName`, runs its base once
  * per branch.
  */
object OnePassUnion extends Rule[LogicalPlan] with AliasHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformDownWithPruning(_.containsPattern(UNION)) {
      case u: Union => fuse(u)
    }

  /** The analyzed plan of `df` through this rule, as a frame again;
    * `df` itself when nothing fuses. */
  def onePass(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val fused = apply(plan)
    if (fused eq plan) df else GraftSqlBridge.ofRows(df.sparkSession, fused)
  }

  /** A union child's chain: itself, then through deterministic
    * subquery-free `Project`/`Filter` nodes down to the first other
    * node, which ends it. */
  private def chain(p: LogicalPlan): List[LogicalPlan] = p match {
    case _: Project | _: Filter if p.expressions.forall(e =>
        e.deterministic && !SubqueryExpression.hasSubquery(e)) =>
      p :: chain(p.children.head)
    case _ => p :: Nil
  }

  private def fileScoped(e: Expression): Boolean = e match {
    case _: InputFileName | _: InputFileBlockStart | _: InputFileBlockLength => true
    case _ => false
  }

  /** No source of nondeterminism in `base` but the per-file ones. */
  private def safeBase(base: LogicalPlan): Boolean =
    !base.exists(_.expressions.exists(_.exists(e =>
      !e.deterministic && e.children.forall(_.deterministic) && !fileScoped(e))))

  /** A disjunction of `cs` that holds for every row: a branch without a
    * filter, or an error-channel split's `isnull(r)` and `isnotnull(r)`
    * sides. A filter on it would only evaluate (and, pushed below the
    * base's projection, recompute) the conditions once more. */
  private def alwaysTrue(cs: Seq[Expression]): Boolean =
    cs.contains(Literal.TrueLiteral) || cs.exists {
      case IsNull(e) => cs.exists {
        case IsNotNull(f) => f.semanticEquals(e)
        case _ => false
      }
      case _ => false
    }

  private final case class Branch(conds: Seq[Expression], outs: Seq[Expression])

  /** The nodes of `chain` above `base`, collapsed onto `base.output`.
    * None if that inlines a non-cheap alias twice. */
  private def collapse(chain: List[LogicalPlan], base: LogicalPlan): Option[Branch] = {
    var outs: Seq[Expression] = chain.head.output
    var conds: Seq[Expression] = Nil
    chain.takeWhile(_ ne base).foreach {
      case Project(list, _) =>
        if (!CollapseProject.canCollapseExpressions(outs ++ conds, list,
            alwaysInline = false)) return None
        val aliases = getAliasMap(list)
        outs = outs.map(e => trimAliases(replaceAlias(e, aliases)))
        conds = conds.map(e => trimAliases(replaceAlias(e, aliases)))
      // the chain runs top-down: a lower filter's condition goes first,
      // so a guard (`d != 0`) still shields the filter above it (`a / d`)
      // under ANSI, as in CombineFilters
      case Filter(cond, _) => conds = cond +: conds
    }
    Some(Branch(conds, outs))
  }

  private def fuse(u: Union): LogicalPlan = {
    val kids = flatten(u)
    val chains = kids.map(chain)
    val canon = chains.map(_.map(_.canonicalized))
    val taken = Array.fill(kids.size)(false)
    val fusedAt = scala.collection.mutable.Map.empty[Int, LogicalPlan]
    for (i <- kids.indices if !taken(i)) {
      // the topmost node of i's chain that another free child's chain holds
      val shared = canon(i).iterator.map { key =>
        key -> kids.indices.filter(j => j != i && !taken(j) && canon(j).contains(key))
      }.find(_._2.nonEmpty)
      for ((key, others) <- shared; members = i +: others;
           plan <- group(u, chains, canon, members, key)) {
        members.foreach(taken(_) = true)
        fusedAt(members.min) = plan
      }
    }
    if (fusedAt.isEmpty) u
    else {
      val rest = kids.indices.collect {
        case i if fusedAt.contains(i) => fusedAt(i)
        case i if !taken(i) => kids(i)
      }
      if (rest.size == 1) rest.head else u.copy(children = rest)
    }
  }

  /** A union's children, with resolved nested unions spliced in. */
  private def flatten(u: Union): Seq[LogicalPlan] = u.children.flatMap {
    case c: Union if !c.byName && !c.allowMissingCol => flatten(c)
    case c => Seq(c)
  }

  /** The fused plan of children `members` over the node whose canonical
    * form is `key`, or None when a safety condition fails. */
  private def group(u: Union, chains: Seq[List[LogicalPlan]],
      canon: Seq[List[LogicalPlan]], members: Seq[Int], key: LogicalPlan)
      : Option[LogicalPlan] = {
    val bases = members.map(j => chains(j)(canon(j).indexOf(key)))
    val base = bases.head
    if (!safeBase(base)) return None
    val branches = members.zip(bases).map { case (j, b) =>
      val toFirst = AttributeMap(b.output.zip(base.output))
      def remap(e: Expression) = e.transform {
        case a: Attribute => toFirst.getOrElse(a, a)
      }
      collapse(chains(j), b).map(br => Branch(br.conds.map(remap), br.outs.map(remap)))
    }
    if (branches.exists(_.isEmpty)) return None
    val bs = branches.flatten
    val tag = AttributeReference("__graft_branch", IntegerType, nullable = false)()
    def byTag(vs: Seq[Expression]): Expression =
      CaseWhen(vs.init.zipWithIndex.map { case (v, i) =>
        (EqualTo(tag, Literal(i)), v) }, Some(vs.last))
    // the group that holds the union's first child keeps its exprIds
    val ids = members.contains(0)
    val out = u.output.zipWithIndex.map { case (a, k) =>
      val e = byTag(bs.map(_.outs(k)))
      if (ids) Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = Some(a.metadata))
      else Alias(e, a.name)()
    }
    val conds = bs.map(_.conds.reduceOption(And).getOrElse(Literal.TrueLiteral))
    val cond = byTag(conds)
    if (!(cond +: out).forall(_.resolved)) return None
    // rows no branch keeps are dropped before Expand copies them, and the
    // disjunction still reaches the scan (partition pruning, pushed filters)
    val kept = if (alwaysTrue(conds)) base else Filter(conds.reduce(Or), base)
    val expand = Expand(members.indices.map(i => base.output :+ Literal(i)),
      base.output :+ tag, kept)
    Some(Project(out, Filter(cond, expand)))
  }
}
