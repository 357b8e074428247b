package graft.cypher

/**
 * Hand-written front-end for the openCypher subset the reference consumes:
 * `MATCH <pattern>(, <pattern>)* RETURN <binding>(, <binding>)*` where a
 * pattern is a chain of node patterns `(name:Label)` connected by directed
 * relationship patterns `-[:TYPE]->` / `<-[:TYPE]-` / `-[:TYPE]-`.
 *
 * The reference delegates this to the Neo4j openCypher parser and keeps only
 * the first label, ignoring property maps and WHERE
 * (reference: g4s-optimizer/.../optim/QueryGraph.scala:29-85). That
 * dependency is unavailable offline, so this is a ~150-line recursive-descent
 * parser over the same grammar, extended (beyond the reference, for the
 * relational surface Spark gives us for free) with optional
 * `WHERE <binding>.<prop> <op> <literal>` conjunctions and
 * `RETURN DISTINCT`/`LIMIT n`.
 */
object Ast {
  final case class NodePat(name: Option[String], label: Option[String])
  sealed trait Dir
  case object Out extends Dir      // -[:T]->
  case object In extends Dir       // <-[:T]-
  case object Both extends Dir     // -[:T]-  (undirected; matched as either)
  /** `hops = None` is a plain 1-hop relationship; `Some((lo, hi))` is a
    * bounded variable-length pattern `*lo..hi` (beyond the reference, which
    * consumes fixed chains only — QueryGraph.scala:54-67). Semantics are
    * WALKS (matrix powers: endpoint pairs connected by a walk of length
    * lo..hi), consistent with the engine's Boolean-algebra set semantics;
    * an upper bound is required — unbounded `*` is rejected at parse.
    * `name` is the relationship variable (`-[r:T]->`) — referenceable in
    * WHERE as `r.prop` (edge-property predicate, beyond the reference which
    * keeps no relationship variables at all — QueryGraph.scala:54-67). */
  final case class RelPat(types: Seq[String], dir: Dir, hops: Option[(Int, Int)] = None,
                          name: Option[String] = None)
  final case class Path(first: NodePat, hops: Seq[(RelPat, NodePat)]) {
    /** The node patterns in path order. */
    def nodes: Seq[NodePat] = first +: hops.map(_._2)
    /** The named nodes' bindings in path order (anonymous nodes skipped). */
    def names: Seq[String] = nodes.flatMap(_.name)
  }
  /** An expression or predicate — the unit [[children]] and [[collect]]
    * walk. */
  sealed trait Node
  /** WHERE predicate tree. A bare `Cmp` conjunct compiles to a pushed-down
    * per-binding semi-join (PropFilter / edge-scan filter); boolean
    * structure (`Or`/`Not`/nested `And`) and `IsNull` become a RESIDUAL
    * filter over the matched rows with the referenced property columns
    * joined back (GraphDB.run) — the split mirrors how Spark itself pushes
    * conjuncts to scans and keeps disjunctions at the Filter node.
    * `Cmp.op` ∈ { = <> < <= > >=, STARTS WITH, ENDS WITH, CONTAINS, IN }
    * (IN carries a Seq[Any] of literals). */
  sealed trait Pred extends Node
  final case class Cmp(binding: String, prop: String, op: String, value: Any) extends Pred
  final case class And(l: Pred, r: Pred) extends Pred
  final case class Or(l: Pred, r: Pred) extends Pred
  final case class Not(p: Pred) extends Pred
  /** `b.prop IS NULL` / `b.prop IS NOT NULL`. */
  final case class IsNull(binding: String, prop: String, negated: Boolean) extends Pred
  /** Pattern predicate: `WHERE (a)-[:T]->(b)` / `EXISTS((a)-[:T]->(b))` —
    * existential: a match row survives iff the pattern has at least one
    * completion from the row's bound endpoints. Composes with NOT/AND/OR
    * like any predicate (a bare conjunct compiles to a semi-join, a negated
    * conjunct to an anti-join, and a disjunction member to an exists-flag
    * left join — GraphDB.run). Named nodes must be bound in the required
    * MATCH; anonymous nodes are existential. `preds` carries the equality
    * conjuncts of property maps written INSIDE the predicate's own pattern
    * (`(a)-->({x: 1})`) — they constrain the existential match, not the
    * outer one. */
  final case class PatPred(path: Path, preds: Seq[Pred] = Seq.empty) extends Pred
  /** Comparison between two EXPRESSIONS (`a.x > b.y`, `a.p + 1 < 10`,
    * `toUpper(a.name) STARTS WITH 'X'`) — always residual: the referenced
    * property columns join back over the matched rows and the comparison
    * filters there. A plain `<ref> <op> <literal>` conjunct never reaches
    * this node — the parser keeps emitting [[Cmp]] so the pushdown
    * classification is untouched. */
  final case class CmpE(l: Expr, op: String, r: Expr) extends Pred

  /** Value expression over bindings/properties (match context) or bare
    * stage columns (post-WITH context): arithmetic, literals, value
    * functions, `coalesce`, and `CASE`. Compiled per-row to one Catalyst
    * Column ([[graft.operators.Preds.exprColumn]]) — stays inside
    * whole-stage codegen. Beyond the reference (ids-only surface); the
    * relational expression algebra Spark gives us for free. */
  sealed trait Expr extends Node
  /** `b` (binding id / bare post-WITH column when prop empty) or `b.prop`. */
  final case class ERef(binding: String, prop: Option[String]) extends Expr
  /** Number (Long when written integral, Double otherwise) or String. */
  final case class ELit(v: Any) extends Expr
  /** `+ - * / %` (numeric; `/` follows SQL and yields double on integers). */
  final case class EBin(op: String, l: Expr, r: Expr) extends Expr
  final case class ENeg(e: Expr) extends Expr
  /** Value-function application: the [[graft.plans.Pattern.ValueFnNames]]
    * single-arg functions plus variadic `coalesce`. */
  final case class EFn(name: String, args: Seq[Expr]) extends Expr
  /** Searched CASE: `CASE WHEN p THEN v … [ELSE d] END` (no ELSE → NULL,
    * openCypher). The simple form `CASE x WHEN a THEN v …` desugars at
    * parse into equality predicates on the scrutinee. */
  final case class ECase(whens: Seq[(Pred, Expr)], default: Option[Expr]) extends Expr
  /** List predicate `any|all|none|single(x IN list WHERE p)` — boolean-
    * valued; compiles to Spark's codegen'd higher-order exists/forall. */
  final case class EListPred(kind: String, v: String, list: Expr, pred: Pred) extends Expr
  /** List comprehension `[x IN list WHERE p | e]` (filter and projection
    * each optional, not both absent) → filter()/transform(). */
  final case class EListComp(v: String, list: Expr, pred: Option[Pred],
                             proj: Option[Expr]) extends Expr
  /** `reduce(acc = init, x IN list | body)` → aggregate(). */
  final case class EReduce(acc: String, init: Expr, v: String, list: Expr,
                           body: Expr) extends Expr
  /** Literal list in a value-expression position (`[1, 2, 3]`). */
  final case class EListLit(vs: Seq[Any]) extends Expr
  /** Pattern-valued expression: `size((a)-[:T]->(b))` (kind "count") or a
    * pattern comprehension `[(a)-[:T]->(b) WHERE p | e]` (kind "collect",
    * `map` = the projection). Evaluated per outer row over the DISTINCT
    * matches of the pattern (the engine-wide set semantics: named-binding
    * assignments, no edge multiplicities); no matches → 0 / []. Anonymous
    * pattern nodes are auto-named before the sub-match so each distinct
    * intermediate assignment counts. MATCH-stage only (items + WHERE);
    * rejected after WITH with a targeted error. */
  final case class EPatAgg(kind: String, pat: PatPred, map: Option[Expr]) extends Expr

  object Expr {
    /** Every (binding, prop) pair the expression reads; bare refs carry
      * prop "" (same encoding as post-WITH predicate refs). Recurses into
      * CASE predicates. */
    def refs(e: Expr): Seq[(String, String)] = e match {
      case ERef(b, p)     => Seq(b -> p.getOrElse(""))
      case ELit(_)        => Seq.empty
      case EListLit(_)    => Seq.empty
      case EBin(_, l, r)  => refs(l) ++ refs(r)
      case ENeg(x)        => refs(x)
      case EFn(_, args)   => args.flatMap(refs)
      case ECase(ws, d)   =>
        ws.flatMap { case (p, v) => Pred.refs(p) ++ refs(v) } ++ d.toSeq.flatMap(refs)
      // lambda-bound variables are NOT outer references
      case EListPred(_, v, l, p) =>
        refs(l) ++ Pred.refs(p).filterNot(_._1 == v)
      case EListComp(v, l, p, pr) =>
        refs(l) ++ (p.toSeq.flatMap(Pred.refs) ++ pr.toSeq.flatMap(refs)).filterNot(_._1 == v)
      case EReduce(a, init, v, l, body) =>
        refs(init) ++ refs(l) ++ refs(body).filterNot(r => r._1 == v || r._1 == a)
      // sub-pattern scope: anchors surface via the match compiler's own
      // carry (patAggs), never as outer property refs
      case EPatAgg(_, _, _) => Seq.empty
    }
    /** Bottom-up structural rewrite: children first, then `f` on the
      * rebuilt node. Nested predicates (CASE conditions, lambda bodies)
      * rewrite their expression operands too. */
    def transform(e: Expr)(f: Expr => Expr): Expr = {
      def rec(x: Expr): Expr = transform(x)(f)
      val e2 = e match {
        case EBin(op, l, r) => EBin(op, rec(l), rec(r))
        case ENeg(x)        => ENeg(rec(x))
        case EFn(n, args)   => EFn(n, args.map(rec))
        case ECase(ws, d)   =>
          ECase(ws.map { case (p, v) => (Pred.transformExprs(p)(f), rec(v)) }, d.map(rec))
        case EListPred(k, v, l, p)  => EListPred(k, v, rec(l), Pred.transformExprs(p)(f))
        case EListComp(v, l, p, pr) =>
          EListComp(v, rec(l), p.map(Pred.transformExprs(_)(f)), pr.map(rec))
        case EReduce(a, init, v, l, body) => EReduce(a, rec(init), v, rec(l), rec(body))
        case other => other
      }
      f(e2)
    }
  }

  object Pred {
    /** Flatten top-level conjunctions into the conjunct list the planner
      * classifies (pushdown vs residual). */
    def conjuncts(p: Pred): Seq[Pred] = p match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    /** Every (binding, prop) pair the predicate reads. Pattern predicates
      * read no property COLUMNS of the outer match (their anchor bindings
      * are surfaced by [[Ast.patterns]] instead). */
    def refs(p: Pred): Seq[(String, String)] = p match {
      case Cmp(b, pr, _, _)  => Seq(b -> pr)
      case IsNull(b, pr, _)  => Seq(b -> pr)
      case CmpE(l, _, r)     => Expr.refs(l) ++ Expr.refs(r)
      case And(l, r)         => refs(l) ++ refs(r)
      case Or(l, r)          => refs(l) ++ refs(r)
      case Not(x)            => refs(x)
      case PatPred(_, _)     => Seq.empty
    }
    /** Rewrite every expression operand in the predicate tree with
      * [[Expr.transform]]'s `f`. Pattern predicates are left as-is (their
      * nested preds anchor a different scope). */
    def transformExprs(p: Pred)(f: Expr => Expr): Pred = p match {
      case CmpE(l, op, r) => CmpE(Expr.transform(l)(f), op, Expr.transform(r)(f))
      case And(l, r)      => And(transformExprs(l)(f), transformExprs(r)(f))
      case Or(l, r)       => Or(transformExprs(l)(f), transformExprs(r)(f))
      case Not(x)         => Not(transformExprs(x)(f))
      case other          => other
    }
  }

  /** The direct sub-expressions and sub-predicates of `n`, in source order
    * (CASE: p0, v0, p1, v1, …, default). A pattern predicate and a
    * pattern-valued expression are scope boundaries: their own preds and
    * projection belong to the sub-match, so they have no children here. */
  def children(n: Node): Seq[Node] = n match {
    case EBin(_, l, r)                => Seq(l, r)
    case ENeg(x)                      => Seq(x)
    case EFn(_, args)                 => args
    case ECase(ws, d)                 => ws.flatMap { case (p, v) => Seq(p, v) } ++ d
    case EListPred(_, _, l, p)        => Seq(l, p)
    case EListComp(_, l, p, pr)       => l +: (p.toSeq ++ pr)
    case EReduce(_, init, _, l, body) => Seq(init, l, body)
    case And(l, r)                    => Seq(l, r)
    case Or(l, r)                     => Seq(l, r)
    case Not(x)                       => Seq(x)
    case CmpE(l, _, r)                => Seq(l, r)
    case _                            => Seq.empty
  }
  /** Pre-order walk of `n` and its descendants ([[children]]), keeping
    * every node `pf` matches. The order is stable: generated column names
    * (`__paggN`, `__ppN`) are numbered by it. */
  def collect[A](n: Node)(pf: PartialFunction[Node, A]): Seq[A] =
    pf.lift(n).toSeq ++ children(n).flatMap(collect(_)(pf))
  /** Pattern-valued expressions ([[EPatAgg]]) at this scope level. */
  def patAggs(n: Node): Seq[EPatAgg] = collect(n) { case pa: EPatAgg => pa }
  /** Pattern predicates at this scope level. */
  def patterns(n: Node): Seq[PatPred] = collect(n) { case pp: PatPred => pp }
  /** Function applications, nested ones included — scanned for keys()
    * (which needs the whole property set joined back), length() and
    * scope validation. */
  def fns(n: Node): Seq[EFn] = collect(n) { case f: EFn => f }
  /** (key, ascending) — ORDER BY keys; `key` is the OUTPUT column name of a
    * returned item (`a`, `a_prop`, `count_a`, `sum_a_prop`). `parts` keeps
    * the raw `(binding, prop)` split of a dotted key so a NON-returned
    * property of a returned binding can be resolved (joined in just for the
    * sort, then dropped). */
  final case class SortKey(binding: String, asc: Boolean,
                           parts: Option[(String, String)] = None)
  /** A RETURN item over the engine's set semantics (one logical row per
    * DISTINCT match, consistent with the Boolean-matrix model where
    * multiplicities don't exist):
    *  - `a`            → the binding's node id           (column `a`)
    *  - `a.prop`       → a node property value           (column `a_prop`)
    *  - `count(a)`     → distinct matches per group      (column `count_a`)
    *  - `sum(a.prop)`  → sum over distinct matches       (column `sum_a_prop`)
    *    (same for min/max/avg)
    * Property access and aggregates are beyond the reference (it returns ids
    * only and delegates rendering to DataStore.getVs) — relational surface
    * Spark gives us for free. */
  final case class Ret(binding: String, prop: Option[String] = None,
                       agg: Option[String] = None,
                       alias: Option[String] = None,
                       /** `agg(DISTINCT x)` — post-WITH only (over a match,
                         * aggregates already fold DISTINCT matches). */
                       aggDistinct: Boolean = false,
                       /** General value expression (arithmetic / CASE /
                         * coalesce …). When set, `binding`/`prop` are unused
                         * ("" / None), an AS alias is mandatory (the parser
                         * enforces it — expressions have no default output
                         * name), and `agg` may wrap the expression
                         * (`sum(a.x * a.y)`). */
                       expr: Option[Expr] = None,
                       /** The percentile of `percentileCont`/`percentileDisc`
                         * (their second argument, a literal in [0, 1]). */
                       aggParam: Option[Double] = None) {
    def outName: String = alias.getOrElse(defaultName)
    /** The pre-alias output name — ORDER BY accepts either this or the
      * alias (openCypher lets you order by the underlying expression even
      * when the item is renamed with AS). */
    def defaultName: String = {
      // percentile aggregates fold their percentile into the default name
      // so two percentiles of one property don't collide unaliased
      val suffix = aggParam.fold("")(d => "_" + d.toString.replace('.', 'p'))
      (agg, prop) match {
        case (Some(a), Some(p)) => s"${a}_${binding}_$p$suffix"
        case (Some(a), None)    =>
          (if (binding == "*") s"${a}_star" else s"${a}_$binding") + suffix
        case (None, Some(p))    => s"${binding}_$p"
        case (None, None)       => binding
      }
    }
  }
  object Ret {
    /** ORDER BY key resolution for an item list: every output name maps to
      * itself, and an AS-renamed item's pre-alias default name also resolves
      * to the alias (openCypher lets you order by the underlying expression
      * of a renamed item; aliases own name collisions). The ONE shared
      * resolution — every query form (pattern, WITH stage, shortestPath,
      * UNION trailing modifiers) must agree on it. */
    def sortKeyMap(items: Seq[Ret]): Map[String, String] =
      (items.filter(r => r.alias.isDefined && r.expr.isEmpty)
        .map(r => r.defaultName -> r.outName) ++
        items.map(_.outName).map(n => n -> n)).toMap
  }
  /** `MATCH … WITH <items> [WHERE <preds>] [ORDER BY …] [SKIP n] [LIMIT n]
    * (WITH …)* RETURN …` — one pipeline stage per WITH: the items
    * project/aggregate the incoming rows (same grammar and set semantics as
    * RETURN), the optional WHERE filters the stage's OUTPUT rows (Cypher's
    * post-aggregation filter, SQL's HAVING) and refers to items by their
    * output name (`n`, `count_c`, or an AS alias) — bare names, no dots:
    * after a WITH only the projected columns exist. ORDER BY/SKIP/LIMIT
    * bound the stage's output (openCypher's top-k-then-continue idiom);
    * sort keys resolve like RETURN's (output name or pre-alias default).
    * The FIRST stage's items may read match bindings and properties; every
    * later stage (and the final RETURN) reads the previous stage's output
    * columns. */
  final case class WithClause(items: Seq[Ret], distinct: Boolean, where: Seq[Pred],
                              orderBy: Seq[SortKey] = Seq.empty,
                              skip: Option[Int] = None, limit: Option[Int] = None,
                              /** WHERE written AFTER ORDER BY/SKIP/LIMIT
                                * (openCypher's clause order) filters the
                                * top-k result; written before, it filters
                                * first. Applied in textual order. */
                              whereAfterMods: Boolean = false,
                              /** `UNWIND <col> AS <alias>` after this
                                * stage's modifiers: each row fans out per
                                * element of the (array) column — the inverse
                                * of collect(). The source column stays in
                                * scope; an empty/NULL list yields no rows
                                * (openCypher). */
                              unwind: Option[(String, String)] = None)

  /** `MATCH p = shortestPath((a)-[:T*]->(b))` — per endpoint pair (a, b),
    * the minimum-length path over the typed edges; `length(p)` in RETURN
    * projects that length. The variable-length bound MAY be unbounded here
    * (`*`, `*..hi`) because BFS converges level by level — unlike the plain
    * varlen Expand, which must unroll to its upper bound. */
  final case class Shortest(pathVar: String, src: NodePat, rel: RelPat, dst: NodePat)
  final case class Query(
      paths: Seq[Path],
      optional: Seq[Seq[Path]],   // one entry per OPTIONAL MATCH clause
      where: Seq[Pred],
      returns: Seq[Ret],
      distinct: Boolean,
      orderBy: Seq[SortKey],
      limit: Option[Int],
      skip: Option[Int] = None,       // `SKIP n` — rows dropped before LIMIT
      shortest: Option[Shortest] = None,
      withClauses: Seq[WithClause] = Seq.empty,
      /** `UNWIND [lit, …] AS x` at the query start (instead of MATCH): a
        * literal-list row source; the pipeline (WITH stages, RETURN) then
        * reads bare columns exactly like post-WITH scope. */
      unwindLit: Option[(Seq[Any], String)] = None,
      /** `UNWIND range(start, end[, step]) AS x` at the query start: the
        * distributed numeric row source (spark.range, never a driver-side
        * list — range(1, 10^9) must not materialize on the driver).
        * Bounds are inclusive (openCypher). */
      unwindRange: Option[(Long, Long, Long, String)] = None,
      /** One entry per OPTIONAL MATCH clause (parallel to `optional`):
        * its property-map conjuncts + its own WHERE — filtered INSIDE the
        * left join (openCypher: the WHERE is part of the OPTIONAL MATCH).
        * Bare equality/comparison conjuncts only (enforced downstream). */
      optionalWhere: Seq[Seq[Pred]] = Seq.empty,
      /** `MATCH p = (a)-[r:T]->(b)-…` — general path variables: pathVar →
        * (node bindings in path order, relationship bindings in path order;
        * anonymous elements are auto-named at parse). `nodes(p)` renders
        * the node-id list, `relationships(p)` the relationship-type list,
        * `length(p)` the hop count. A BOUNDED variable-length hop in a
        * named path is expanded by GraphDB into one fixed-length branch per
        * length (union of enumerable paths); as parsed, this map holds ONE
        * rel entry for the varlen hop, which the expansion rewrites per
        * branch. shortestPath() remains the unbounded/minimal path form. */
      namedPaths: Map[String, (Seq[String], Seq[String])] = Map.empty,
      /** Path variables declared `p = allShortestPaths((a)-[:T*lo..hi]->(b))`:
        * the varlen expansion keeps, per (src, dst) pair, only the branches
        * of MINIMUM length — every minimal path, not one. Bounded form only
        * (the enumeration is the varlen union); the unbounded minimal-LENGTH
        * query remains shortestPath(). */
      allShortest: Set[String] = Set.empty)

  /** Write surface (reference mutation API §2.5, insertVertex /
    * insertEdge, ConcurrentDirectedGraph.scala:109-153; delete/update are
    * beyond the reference). `name` is the element's binding (auto-generated
    * when anonymous); `props` are literal key/value pairs in declaration
    * order. */
  final case class CreateNode(name: String, label: String, props: Seq[(String, Any)])
  final case class CreateEdge(src: String, dst: String, etype: String,
                              props: Seq[(String, Any)])
  /** `SET b.prop = <expr>` — the value expression may read the SAME
    * binding's properties (plus literals); other bindings are rejected. */
  final case class SetItem(binding: String, prop: String, value: Expr)
  /** One write statement:
    *  - `[MATCH …] CREATE|MERGE pat (, pat)*` → `nodes`/`edges` (+`merge`)
    *  - `MATCH … SET b.p = e (, …)*`          → `sets`
    *  - `MATCH … [DETACH] DELETE x (, …)*`    → `deletes` (+`detach`)
    * `matchPaths`/`where` empty for the literal CREATE/MERGE form; CREATE
    * edge endpoints resolve against created-node names or match bindings
    * (validated at execution). */
  final case class WriteStmt(matchPaths: Seq[Path], where: Seq[Pred],
                             nodes: Seq[CreateNode], edges: Seq[CreateEdge],
                             merge: Boolean = false,
                             sets: Seq[SetItem] = Seq.empty,
                             deletes: Seq[String] = Seq.empty,
                             detach: Boolean = false,
                             /** MERGE upsert clauses: applied to each merge
                               * node depending on whether IT was created or
                               * matched this statement. */
                             onCreateSets: Seq[SetItem] = Seq.empty,
                             onMatchSets: Seq[SetItem] = Seq.empty)
}

final class ParseException(msg: String) extends RuntimeException(msg)

/** A runtime write conflict — the statement parsed and validated fine, but
  * the DATA state rejects it (duplicate explicit ids in one CREATE, an
  * explicit id already stored). Deliberately NOT a ParseException: callers
  * catching ParseException to mean "bad query text" must not misclassify a
  * data-state conflict. */
final class WriteConflictException(msg: String) extends RuntimeException(msg)

object CypherParser {
  import Ast._

  /** Parse a single query (no UNION). Pattern-plan callers (GraphDB.plan,
    * tests) use this; a UNION combinator here is a "trailing input" error —
    * go through [[parseUnion]] for the full query surface. */
  def parse(text: String): Query = parse(text, Map.empty)

  /** Parameterized form: `$name` is legal wherever a literal is —
    * comparison operands, expression atoms, property-map values, IN lists
    * (a whole-list `IN $xs` or per-element), UNWIND lists. Values resolve
    * at parse, so a `ref op $param` conjunct still classifies as a
    * pushdown predicate. Allowed types: String, Int/Long, Float/Double,
    * and Seq of those for lists. */
  def parse(text: String, params: Map[String, Any]): Query = {
    val p = new P(text, params)
    val q = p.query()
    p.end()
    q
  }

  /** `q1 UNION [ALL] q2 (UNION [ALL] q3)*` — the query-surface analogue of
    * the kernel's eWiseAdd (§2.3): each branch is a full query; UNION
    * dedups the combined rows, UNION ALL keeps them. Mixing UNION and
    * UNION ALL in one statement is rejected (openCypher).
    *
    * ORDER BY / SKIP / LIMIT placement (resolved by GraphDB.query): a
    * trailing ORDER BY/SKIP/LIMIT after the LAST branch applies to the
    * WHOLE union (openCypher, where branches cannot carry their own
    * ORDER BY); on EARLIER branches they apply to that branch — an
    * extension that keeps top-k-per-branch expressible.
    *
    * @return the branches plus the combinator (true = UNION ALL)
    */
  def parseUnion(text: String): (Seq[Query], Boolean) = parseUnion(text, Map.empty)

  /** Parameterized [[parseUnion]] — see [[parse(text:String,params:Map[String,Any])*]]. */
  def parseUnion(text: String, params: Map[String, Any]): (Seq[Query], Boolean) = {
    val p = new P(text, params)
    val qs = scala.collection.mutable.ArrayBuffer(p.query())
    var all: Option[Boolean] = None
    var c = p.unionConnector()
    while (c.isDefined) {
      if (all.exists(_ != c.get))
        p.fail("cannot mix UNION and UNION ALL in one query")
      all = Some(c.get)
      qs += p.query()
      c = p.unionConnector()
    }
    p.end()
    (qs.toSeq, all.getOrElse(false))
  }

  /** Parse a write statement (CREATE/MERGE/SET/DELETE — [[Ast.WriteStmt]]).
    * Executed by GraphDB.execute, which returns a NEW GraphDB. */
  def parseWrite(text: String, params: Map[String, Any] = Map.empty): WriteStmt = {
    val p = new P(text, params)
    val c = p.writeStmt()
    p.end()
    c
  }

  private final class P(s: String, params: Map[String, Any] = Map.empty) {
    private var i = 0
    // inside shortestPath(...) an unbounded `*` is legal (BFS converges
    // level by level); the plain varlen Expand must unroll, so it is not
    private var allowUnbounded = false
    private def err(msg: String): Nothing =
      throw new ParseException(s"$msg at pos $i in: $s")
    def fail(msg: String): Nothing = err(msg)
    /** Reject unconsumed input (called by the top-level entry points after
      * the last query so UNION branches can share one cursor). */
    def end(): Unit = { ws(); if (i < s.length) err("trailing input") }
    /** Consume a `UNION [ALL]` connector if present. */
    def unionConnector(): Option[Boolean] =
      if (kw("UNION")) Some(kw("ALL")) else None
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    private def eat(c: Char): Unit = { ws(); if (peek == c) i += 1 else err(s"expected '$c'") }
    private def tryEat(c: Char): Boolean = { ws(); if (peek == c) { i += 1; true } else false }
    private def kw(k: String): Boolean = {
      ws()
      // '_' is an identifier char, so it must also end the keyword-boundary
      // check: `not_x` is an identifier, not NOT + `_x`
      def identChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
      if (s.regionMatches(true, i, k, 0, k.length) &&
          (i + k.length >= s.length || !identChar(s.charAt(i + k.length)))) {
        i += k.length; true
      } else false
    }
    private def ident(): String = {
      ws()
      if (peek == '`') { // backtick-quoted (reference labels look like `fix.A`)
        i += 1
        val start = i
        while (i < s.length && s.charAt(i) != '`') i += 1
        if (i >= s.length) err("unterminated backtick identifier")
        val r = s.substring(start, i); i += 1; r
      } else {
        val start = i
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        if (i == start) err("expected identifier")
        s.substring(start, i)
      }
    }

    // `{k: v, …}` pattern property maps — standard Cypher sugar for WHERE
    // equality conjuncts (the reference DROPS property maps silently,
    // QueryGraph.scala:54-67; we compile them into the same pushdown the
    // explicit WHERE uses). An anonymous node/rel carrying a map gets an
    // auto binding (`__m1`, …) for the predicate to anchor on.
    private val mapPreds = scala.collection.mutable.ArrayBuffer[Pred]()
    private var autoBound = 0
    private def freshMapBinding(): String = { autoBound += 1; s"__m$autoBound" }
    private def propMapInto(binding: String): Unit = {
      // caller has seen '{'
      eat('{')
      if (tryEat('}')) return // `{}` constrains nothing (openCypher: matches all)
      var more = true
      while (more) {
        val k = ident(); eat(':'); ws()
        val v: Any =
          if (peek == '\'' || peek == '"') stringLit()
          else if (peek == '$') { i += 1; paramValue(ident()) }
          else if (peek.isDigit || peek == '-') number()
          else err("property-map values must be string or number literals")
        mapPreds += Cmp(binding, k, "=", v)
        more = tryEat(',')
      }
      eat('}')
    }

    /** `{k: v, …}` as literal VALUES (CREATE position) — same value grammar
      * as [[propMapInto]] but collected instead of compiled to predicates. */
    private def literalMap(): Seq[(String, Any)] = {
      eat('{')
      if (tryEat('}')) return Seq.empty
      val buf = scala.collection.mutable.ArrayBuffer[(String, Any)]()
      var more = true
      while (more) {
        val k = ident(); eat(':'); ws()
        val v: Any =
          if (peek == '\'' || peek == '"') stringLit()
          else if (peek == '$') { i += 1; paramValue(ident()) }
          else if (peek.isDigit || peek == '-') {
            // integral literals stay Long (number() widens to Double, which
            // would turn a created id/count column into DOUBLE)
            val start = i
            if (peek == '-') i += 1
            while (i < s.length && s.charAt(i).isDigit) i += 1
            val isFloat = i < s.length && s.charAt(i) == '.'
            if (isFloat) { i += 1; while (i < s.length && s.charAt(i).isDigit) i += 1 }
            val txt = s.substring(start, i)
            if (isFloat) txt.toDouble else txt.toLong
          }
          else err("property values must be string or number literals")
        buf += (k -> v)
        more = tryEat(',')
      }
      eat('}')
      buf.toSeq
    }

    /** `[MATCH … [WHERE …]] CREATE|MERGE pat (, pat)*` — plus the
      * MATCH-required `SET b.p = e` and `[DETACH] DELETE x` forms.
      * A parenthesized element WITH a label creates a node (literal props);
      * one WITHOUT a label references a bound variable (match binding or a
      * created node named earlier in the same statement). Relationships are
      * directed with exactly one type: `(a)-[:T {props}]->(b)`. */
    def writeStmt(): WriteStmt = {
      val paths = scala.collection.mutable.ArrayBuffer[Path]()
      val preds = scala.collection.mutable.ArrayBuffer[Pred]()
      val mapsBefore = mapPreds.size
      if (kw("MATCH")) {
        paths += path(); while (tryEat(',')) paths += path()
        var more = true
        while (more) {
          if (kw("WHERE")) preds ++= Pred.conjuncts(orExpr())
          if (kw("MATCH")) { paths += path(); while (tryEat(',')) paths += path() }
          else more = false
        }
      }
      preds ++= mapPreds.drop(mapsBefore)
      mapPreds.remove(mapsBefore, mapPreds.size - mapsBefore)
      // --- SET form ---
      if (kw("SET")) {
        if (paths.isEmpty) err("SET requires a MATCH clause")
        val items = scala.collection.mutable.ArrayBuffer[SetItem]()
        var more = true
        while (more) {
          val b = ident(); eat('.'); val p = ident(); eat('=')
          items += SetItem(b, p, exprP(false))
          more = tryEat(',')
        }
        return WriteStmt(paths.toSeq, preds.toSeq, Seq.empty, Seq.empty, sets = items.toSeq)
      }
      // --- REMOVE form: property removal = SET to null (openCypher;
      // removing an absent property is a no-op, enforced at execution) ---
      if (kw("REMOVE")) {
        if (paths.isEmpty) err("REMOVE requires a MATCH clause")
        val items = scala.collection.mutable.ArrayBuffer[SetItem]()
        var more = true
        while (more) {
          val b = ident(); eat('.'); val p = ident()
          items += SetItem(b, p, ELit(null))
          more = tryEat(',')
        }
        return WriteStmt(paths.toSeq, preds.toSeq, Seq.empty, Seq.empty, sets = items.toSeq)
      }
      // --- DELETE form ---
      val detach = kw("DETACH")
      if (detach || kw("DELETE")) {
        if (detach && !kw("DELETE")) err("expected DELETE after DETACH")
        if (paths.isEmpty) err("DELETE requires a MATCH clause")
        val targets = scala.collection.mutable.ArrayBuffer(ident())
        while (tryEat(',')) targets += ident()
        return WriteStmt(paths.toSeq, preds.toSeq, Seq.empty, Seq.empty,
          deletes = targets.toSeq, detach = detach)
      }
      // --- CREATE / MERGE form ---
      val merge = kw("MERGE")
      if (!merge && !kw("CREATE")) err("expected CREATE, MERGE, SET or DELETE")
      val nodes = scala.collection.mutable.ArrayBuffer[CreateNode]()
      val edges = scala.collection.mutable.ArrayBuffer[CreateEdge]()
      def elem(): String = {
        eat('(')
        ws()
        val name = if (peek != ':' && peek != ')' && peek != '{') Some(ident()) else None
        val label = if (tryEat(':')) Some(ident()) else None
        ws()
        val props = if (peek == '{') literalMap() else Seq.empty
        eat(')')
        label match {
          case Some(l) =>
            val n = name.getOrElse(freshMapBinding())
            nodes += CreateNode(n, l, props)
            n
          case None =>
            if (props.nonEmpty) err(
              "a CREATE endpoint without a label references a bound variable " +
                "and cannot carry properties")
            name.getOrElse(err("a CREATE endpoint without a label must name a bound variable"))
        }
      }
      def onePat(): Unit = {
        val a = elem()
        ws()
        if (peek == '-') {
          eat('-'); eat('[')
          if (!tryEat(':')) err("CREATE relationship requires a type: -[:T]->")
          val t = ident()
          ws()
          val eprops = if (peek == '{') literalMap() else Seq.empty
          eat(']'); eat('-')
          ws()
          if (peek != '>') err("CREATE relationships must be directed: -[:T]->")
          i += 1
          val b = elem()
          edges += CreateEdge(a, b, t, eprops)
        }
      }
      onePat(); while (tryEat(',')) onePat()
      // MERGE upsert clauses: ON CREATE SET … / ON MATCH SET …, each at
      // most once, either order (openCypher)
      var onCreate = Seq.empty[SetItem]
      var onMatch = Seq.empty[SetItem]
      def setItems(): Seq[SetItem] = {
        val items = scala.collection.mutable.ArrayBuffer[SetItem]()
        var more = true
        while (more) {
          val b = ident(); eat('.'); val p = ident(); eat('=')
          items += SetItem(b, p, exprP(false))
          more = tryEat(',')
        }
        items.toSeq
      }
      while (kw("ON")) {
        if (!merge) err("ON CREATE/ON MATCH SET requires MERGE")
        val isCreate = kw("CREATE")
        if (!isCreate && !kw("MATCH")) err("expected CREATE or MATCH after ON")
        if (!kw("SET")) err("expected SET after ON " + (if (isCreate) "CREATE" else "MATCH"))
        if (isCreate) {
          if (onCreate.nonEmpty) err("duplicate ON CREATE SET clause")
          onCreate = setItems()
        } else {
          if (onMatch.nonEmpty) err("duplicate ON MATCH SET clause")
          onMatch = setItems()
        }
      }
      WriteStmt(paths.toSeq, preds.toSeq, nodes.toSeq, edges.toSeq, merge = merge,
        onCreateSets = onCreate, onMatchSets = onMatch)
    }

    def query(): Query = {
      // `UNWIND [lit, …] AS x` instead of MATCH: literal-list row source;
      // everything after it reads bare columns (post-WITH scope)
      var unwindRange: Option[(Long, Long, Long, String)] = None
      val unwindLit: Option[(Seq[Any], String)] =
        if (kw("UNWIND")) {
          ws()
          if (kw("range")) { // kw() is case-insensitive + word-bounded
            // `UNWIND range(start, end[, step]) AS x` — the distributed
            // numeric row source; args are integer literals or $params
            eat('(')
            val a = rangeArg(); eat(',')
            val b = rangeArg()
            val st = { ws(); if (peek == ',') { i += 1; rangeArg() } else 1L }
            eat(')')
            if (st == 0L) err("range() step must be nonzero")
            if (!kw("AS")) err("expected AS after the UNWIND range()")
            unwindRange = Some((a, b, st, ident()))
            None
          } else {
            val vs =
              if (peek == '$') { // `UNWIND $xs AS x` — list parameter
                i += 1
                val n = ident()
                paramValue(n, seq = true) match {
                  case xs: Seq[_] => xs.asInstanceOf[Seq[Any]]
                  case _ => err(s"$$$n must be a list in an UNWIND position")
                }
              } else literalList()
            if (!kw("AS")) err("expected AS after the UNWIND list")
            Some((vs, ident()))
          }
        } else None
      if (unwindLit.isEmpty && unwindRange.isEmpty && !kw("MATCH")) err("expected MATCH")
      ws()
      val mapPredsAtStart = mapPreds.size
      // `MATCH p = shortestPath((a)-[:T*]->(b))` — a path variable instead
      // of an opening '(' selects the shortest-path form
      var shortest: Option[Shortest] = None
      val paths = scala.collection.mutable.ArrayBuffer[Path]()
      // general fixed-length path variables of this query slice
      var namedPaths = Map.empty[String, (Seq[String], Seq[String])]
      var allShortestVars = Set.empty[String]
      // WHERE conjuncts attached to individual MATCH clauses (sequential
      // MATCH form); merged with the pattern-level WHERE below
      val earlyPreds = scala.collection.mutable.ArrayBuffer[Pred]()
      if (unwindLit.isDefined || unwindRange.isDefined) {
        // no pattern clauses; fall through to WITH/RETURN
      } else if (peek != '(') {
        val pv = ident()
        eat('=')
        ws()
        if (kw("shortestPath")) {
          eat('(')
          val src = nodePat()
          allowUnbounded = true
          val rel = try relPat() finally { allowUnbounded = false }
          val dst = nodePat()
          eat(')')
          shortest = Some(Shortest(pv, src, rel, dst))
          ws()
          if (peek == ',') err("shortestPath cannot be combined with other patterns")
          if (mapPreds.size > mapPredsAtStart)
            err("property maps are not supported with shortestPath (WHERE is not either)")
        } else if (kw("allShortestPaths")) {
          // bounded enumeration of EVERY minimal path per endpoint pair:
          // parses like a general named path (the inner varlen hop must be
          // bounded — the expansion is the branch union), flagged so the
          // expansion applies the per-pair minimum-length filter
          eat('(')
          var k = 0
          def nodeNamedA(n: NodePat): NodePat =
            if (n.name.isDefined) n
            else { k += 1; n.copy(name = Some(s"__pn_${pv}_$k")) }
          def relNamedA(r: RelPat): RelPat =
            if (r.name.isDefined) r
            else { k += 1; r.copy(name = Some(s"__pr_${pv}_$k")) }
          val p0 = path()
          eat(')')
          val named = Path(nodeNamedA(p0.first),
            p0.hops.map { case (r, n) => (relNamedA(r), nodeNamedA(n)) })
          namedPaths += pv -> ((named.names, named.hops.map(_._1.name.get)))
          allShortestVars += pv
          paths += named
          var more = true
          while (more) {
            if (kw("WHERE")) earlyPreds ++= Pred.conjuncts(orExpr())
            if (kw("MATCH")) { paths += path(); while (tryEat(',')) paths += path() }
            else more = false
          }
        } else {
          // general (fixed-length) named path: anonymous elements are
          // auto-named so nodes(p)/relationships(p) can render them; a
          // varlen hop binds endpoint PAIRS (walk semantics), not an
          // enumerable node sequence — shortestPath is the varlen form
          var k = 0
          def nodeNamed(n: NodePat): NodePat =
            if (n.name.isDefined) n
            else { k += 1; n.copy(name = Some(s"__pn_${pv}_$k")) }
          // a bounded variable-length hop is allowed: GraphDB expands the
          // query into one fixed-length branch per length in [lo, hi]
          // (a union), each with enumerable nodes(p)/relationships(p)
          def relNamed(r: RelPat): RelPat = {
            if (r.name.isDefined) r
            else { k += 1; r.copy(name = Some(s"__pr_${pv}_$k")) }
          }
          val p0 = path()
          val named = Path(nodeNamed(p0.first),
            p0.hops.map { case (r, n) => (relNamed(r), nodeNamed(n)) })
          namedPaths += pv -> ((named.names, named.hops.map(_._1.name.get)))
          paths += named
          while (tryEat(',')) paths += path()
          var more = true
          while (more) {
            if (kw("WHERE")) earlyPreds ++= Pred.conjuncts(orExpr())
            if (kw("MATCH")) { paths += path(); while (tryEat(',')) paths += path() }
            else more = false
          }
        }
      } else {
        paths += path()
        while (tryEat(',')) paths += path()
        // sequential MATCH clauses (openCypher): pattern conjunction over
        // one shared binding scope; each clause may carry its own WHERE and
        // all conjuncts merge (a WHERE belongs to the MATCH it follows,
        // which also lets WHERE precede OPTIONAL MATCH as openCypher does)
        var more = true
        while (more) {
          if (kw("WHERE")) earlyPreds ++= Pred.conjuncts(orExpr())
          if (kw("MATCH")) { paths += path(); while (tryEat(',')) paths += path() }
          else more = false
        }
      }
      val mapPredsAfterRequired = mapPreds.size
      // OPTIONAL MATCH clauses: each keeps its own path group (left-join
      // semantics; must share ≥1 binding with the required pattern)
      val optional = scala.collection.mutable.ArrayBuffer[Seq[Path]]()
      val optionalWhere = scala.collection.mutable.ArrayBuffer[Seq[Pred]]()
      while (kw("OPTIONAL")) {
        if (!kw("MATCH")) err("expected MATCH after OPTIONAL")
        if (shortest.isDefined) err("OPTIONAL MATCH is not supported with shortestPath")
        if (unwindLit.isDefined || unwindRange.isDefined)
          err("OPTIONAL MATCH is not supported after UNWIND")
        val mapsBefore = mapPreds.size
        val g = scala.collection.mutable.ArrayBuffer(path())
        while (tryEat(',')) g += path()
        optional += g.toSeq
        // property maps inside the clause + its own WHERE both filter
        // INSIDE the left join (openCypher: the WHERE is part of the
        // OPTIONAL MATCH — unmatched rows keep nulls instead of dropping)
        val clauseMaps = mapPreds.drop(mapsBefore).toSeq
        if (mapPreds.size > mapsBefore)
          mapPreds.remove(mapsBefore, mapPreds.size - mapsBefore)
        val clauseWhere =
          if (kw("WHERE")) Pred.conjuncts(orExpr()) else Seq.empty
        optionalWhere += (clauseMaps ++ clauseWhere)
      }
      require(mapPreds.size == mapPredsAfterRequired)
      // the single WHERE applies to the REQUIRED pattern (enforced in
      // Pattern.fromQuery: predicates may not reference optional bindings).
      // Grammar: orExpr := andExpr (OR andExpr)*; andExpr := unary (AND unary)*;
      // unary := NOT unary | '(' orExpr ')' | atom. The parsed tree is split
      // into top-level conjuncts here — Pattern.fromQuery classifies each as
      // pushdown (bare Cmp) or residual (boolean structure / IS NULL).
      val preds = scala.collection.mutable.ArrayBuffer[Pred]()
      // pattern property maps desugar to leading WHERE equality conjuncts
      // (this query's slice only — UNION branches share the parser state)
      preds ++= mapPreds.drop(mapPredsAtStart)
      preds ++= earlyPreds
      if (kw("WHERE")) {
        if (shortest.isDefined) err("WHERE is not supported with shortestPath")
        if (unwindLit.isDefined || unwindRange.isDefined)
          err("WHERE after UNWIND is not supported (filter in a WITH stage instead)")
        preds ++= Pred.conjuncts(orExpr())
      }
      // the FULL openCypher aggregate set: count, sum, min, max, avg,
      // collect, stDev, stDevP, percentileCont, percentileDisc
      val aggNames = Set("count", "sum", "min", "max", "avg", "collect",
        "stdev", "stdevp", "percentilecont", "percentiledisc")
      val percentileAggs = Set("percentilecont", "percentiledisc")
      // per-row scalar functions (not aggregates): id(n) = the node binding's
      // id, type(r) = the matched relationship's type, labels(n) = the node's
      // label list (this model is single-label, so a 1-element array) —
      // carried in Ret.agg but classified scalar by Pattern.ScalarFns
      val scalarFns = Set("id", "type", "labels", "startnode", "endnode", "keys",
        "nodes", "relationships")
      // openCypher value functions: `fn(b.prop)` over a match, `fn(col)`
      // over a post-WITH column (Column impls: operators.Preds.valueFn) —
      // the single shared list the expression parser also consults
      val valueFns = valueFnNames
      // validation shared by expression items: no pattern predicates inside
      // CASE conditions (the exists-flag machinery is residual-WHERE-only),
      // no property access in post-WITH scope
      def checkItemExpr(e: Expr, afterWith: Boolean, what: String): Unit = {
        if (patterns(e).nonEmpty)
          err(s"pattern predicates are not supported inside $what (use WHERE)")
        if (afterWith && fns(e).exists(_.name == "keys"))
          err("keys() is not available after WITH (project it in the WITH items instead)")
        if (afterWith)
          Expr.refs(e).collectFirst { case (b, p) if p.nonEmpty => s"$b.$p" }.foreach { r =>
            err(s"$r: property access is not available after WITH " +
              "(project the property in the WITH items instead)")
          }
      }
      // `afterWith`: items reference the WITH output columns by bare name,
      // so aggregates over a bare column (`sum(n)`) are legal and property
      // access is not
      def retItem(afterWith: Boolean = false): Ret = {
        ws()
        val save = i
        // special item forms that are NOT value expressions: length(p),
        // id/type scalars, aggregates (which may now wrap an expression)
        def specialForm(): Option[Ret] = {
          if (!(peek.isLetter || peek == '_' || peek == '`')) return None
          val name = ident()
          ws()
          val nl = name.toLowerCase
          if (nl == "length" && peek == '(') {
            eat('('); val b = ident(); eat(')')
            ws()
            // an operator after length(p) means it is part of a larger
            // value expression — backtrack so the expression parser sees it
            // (the constant substitutes at query preprocessing)
            if ("+-*/%".indexOf(peek.toInt) >= 0) { i = save; None }
            else {
              // post-WITH rows have no path in scope (same rule as the
              // other path/entity scalar functions below)
              if (afterWith) err("length() is not available after WITH " +
                "(project it in the first WITH items instead)")
              Some(Ret(b, None, Some("length"))) // path length projection (shortestPath)
            }
          } else if (scalarFns(nl) && peek == '(') {
            eat('('); val b = ident(); eat(')')
            if (afterWith) err(s"$nl() is not available after WITH " +
              "(project it in the WITH items instead)")
            Some(Ret(b, None, Some(nl)))
          } else if (aggNames(nl) && tryEat('(')) {
            val a = nl
            ws()
            if (peek == '*') {
              // `count(*)` — row count of the incoming stage. Post-WITH rows
              // are plain rows, so this is openCypher's count(*); over a raw
              // match the engine's set semantics make count(binding) the
              // meaningful form, so `*` is only accepted after WITH.
              i += 1; eat(')')
              if (a != "count") err(s"$a(*) is not supported (only count(*))")
              if (!afterWith) err(
                "count(*) is only supported after WITH (over a match, use " +
                  "count(binding): set semantics counts distinct matches)")
              Some(Ret("*", None, Some("count")))
            } else {
              val adist = kw("DISTINCT")
              val arg = exprP(afterWith)
              // `percentileCont(x, p)` / `percentileDisc(x, p)` — the
              // percentile is a literal second argument in [0, 1]
              val param: Option[Double] =
                if (percentileAggs(a)) {
                  if (!tryEat(',')) err(s"$a() takes two arguments: $a(value, percentile)")
                  val p = number()
                  if (p < 0 || p > 1) err(s"$a() percentile must be in [0, 1], got $p")
                  Some(p)
                } else None
              eat(')')
              if (adist && !afterWith)
                err(s"$a(DISTINCT …) applies to post-WITH rows; over a match, " +
                  "aggregates already fold DISTINCT matches")
              if (adist && (a == "stdev" || a == "stdevp" || percentileAggs(a)))
                err(s"$a(DISTINCT …) is not supported")
              arg match {
                case ERef(b, p) =>
                  if (p.isDefined && afterWith)
                    err(s"$a($b.${p.get}): property access is not available after WITH")
                  if (a == "count" && p.isDefined)
                    err("count() takes a binding, not a property (set semantics counts matches)")
                  // collect(b) over a match collects the binding's ids (one
                  // per distinct match) — a property argument is optional
                  if (a != "count" && a != "collect" && p.isEmpty && !afterWith)
                    err(s"$a() requires a property argument: $a(binding.prop)")
                  Some(Ret(b, p, Some(a), aggDistinct = adist, aggParam = param))
                case e =>
                  // aggregate over an expression: `sum(a.x * a.y)` — the
                  // expression evaluates per distinct match (or per
                  // post-WITH row) and the aggregate folds it
                  if (a == "count") err(
                    "count() takes a binding, not an expression (set semantics counts matches)")
                  if (adist && a == "avg") err(
                    "avg(DISTINCT …) over an expression is not supported " +
                      "(project the expression in a WITH item first)")
                  checkItemExpr(e, afterWith, s"$a(…)")
                  Some(Ret("", None, Some(a), aggDistinct = adist, expr = Some(e),
                    aggParam = param))
              }
            }
          } else { i = save; None }
        }
        val base = specialForm().getOrElse {
          exprP(afterWith) match {
            // legacy shapes keep their legacy Ret (default output names,
            // ORDER BY pre-alias resolution, pushdown classification)
            case ERef(b, p) => Ret(b, p, None)
            case EFn(f, Seq(ERef(b, p))) if valueFns(f) =>
              if (afterWith && p.isDefined)
                err(s"$f($b.${p.get}): property access is not available after WITH " +
                  "(project the property in the WITH items instead)")
              Ret(b, p, Some(f))
            case e =>
              checkItemExpr(e, afterWith, "expression")
              Ret("", None, None, expr = Some(e))
          }
        }
        // `AS alias` renames the output column; ORDER BY refers to it.
        // Expression items have no default name — the alias is mandatory.
        if (kw("AS")) base.copy(alias = Some(ident()))
        else if (base.expr.isDefined)
          err("an expression item requires an AS alias (it has no default output name)")
        else base
      }
      // WITH pipeline stages (items + HAVING-style WHERE over output names).
      // The first stage's items read match bindings (property access legal);
      // every later stage reads the PREVIOUS stage's bare output columns —
      // the same scope rule the final RETURN follows.
      // `[ORDER BY k [ASC|DESC], …]` — keys are output names: `b`,
      // `b.prop` → b_prop, or an aggregate alias typed directly (count_b)
      def orderKeys(): Seq[SortKey] = {
        val order = scala.collection.mutable.ArrayBuffer[SortKey]()
        if (kw("ORDER")) {
          if (!kw("BY")) err("expected BY after ORDER")
          do {
            val b = ident()
            val parts = if (tryEat('.')) Some((b, ident())) else None
            val key = parts.fold(b) { case (n, p) => s"${n}_$p" }
            val asc = if (kw("DESC")) false else { kw("ASC"); true }
            order += SortKey(key, asc, parts)
          } while (tryEat(','))
        }
        order.toSeq
      }
      val withClauses = scala.collection.mutable.ArrayBuffer[WithClause]()
      // names in scope for `WITH *`: the previous stage's output columns
      // (+ its UNWIND alias), or — for the first stage — the match's named
      // bindings / the UNWIND-literal alias
      def withStarScope(): Seq[String] =
        if (withClauses.nonEmpty)
          withClauses.last.items.map(_.outName) ++ withClauses.last.unwind.map(_._2)
        else unwindLit.map(u => Seq(u._2))
          .orElse(unwindRange.map(u => Seq(u._4))).getOrElse(
          (paths.toSeq ++ optional.toSeq.flatten)
            .flatMap(_.names)
            .filterNot(_.startsWith("__")).distinct)
      while (kw("WITH")) {
        if (shortest.isDefined) err("WITH is not supported with shortestPath")
        val after = withClauses.nonEmpty || unwindLit.isDefined || unwindRange.isDefined
        val wDistinct = kw("DISTINCT")
        ws()
        // `WITH * [, item …]` — carry everything in scope, plus extras
        // (openCypher); an extra whose output name collides is rejected
        val wItems = scala.collection.mutable.ArrayBuffer[Ret]()
        if (peek == '*') {
          i += 1
          val scope = withStarScope()
          if (scope.isEmpty) err("WITH *: no named bindings in scope")
          wItems ++= scope.map(n => Ret(n))
          while (tryEat(',')) {
            val it = retItem(after)
            if (scope.contains(it.outName))
              err(s"WITH *, ${it.outName}: duplicate output column (already in *)")
            wItems += it
          }
        } else {
          wItems += retItem(after)
          while (tryEat(',')) wItems += retItem(after)
        }
        // WHERE may come before the modifiers (filters first) or after them
        // (openCypher clause order — filters the top-k result); applied in
        // textual order either way
        val predsBefore =
          if (kw("WHERE")) Pred.conjuncts(orExpr(bareAtoms = true)) else Seq.empty
        val wOrder = orderKeys()
        val wSkip = if (kw("SKIP")) Some(nonNegInt("SKIP")) else None
        val wLimit = if (kw("LIMIT")) Some(nonNegInt("LIMIT")) else None
        val predsAfter =
          if (predsBefore.isEmpty && kw("WHERE")) Pred.conjuncts(orExpr(bareAtoms = true))
          else Seq.empty
        var wc = WithClause(wItems.toSeq, wDistinct, predsBefore ++ predsAfter,
          wOrder, wSkip, wLimit, whereAfterMods = predsAfter.nonEmpty)
        // `UNWIND <col> AS <alias>` after the stage: fans each row out per
        // element of the (collect()ed) array column — collect's inverse
        if (kw("UNWIND")) {
          val src = ident()
          if (!kw("AS")) err("expected AS after UNWIND")
          val al = ident()
          val outs = wc.items.map(_.outName)
          if (!outs.contains(src))
            err(s"UNWIND references $src, not among the WITH items: ${outs.mkString(",")}")
          if (outs.contains(al) || al == src)
            err(s"UNWIND alias $al collides with a column in scope")
          wc = wc.copy(unwind = Some((src, al)))
        }
        withClauses += wc
      }
      if (!kw("RETURN")) err("expected RETURN")
      val distinct = kw("DISTINCT")
      val afterWith = withClauses.nonEmpty || unwindLit.isDefined || unwindRange.isDefined
      // `RETURN *` — every named binding in scope, in first-appearance
      // order: post-WITH that is the last stage's output columns; over a
      // match it is the user-named node bindings (auto `__` names and
      // relationship variables excluded — relationships have no entity
      // rendering here)
      ws()
      val rets =
        if (peek == '*') {
          i += 1
          if (shortest.isDefined) err("RETURN * is not supported with shortestPath")
          val names =
            if (withClauses.nonEmpty)
              withClauses.last.items.map(_.outName) ++ withClauses.last.unwind.map(_._2)
            else if (unwindLit.isDefined) Seq(unwindLit.get._2)
            else if (unwindRange.isDefined) Seq(unwindRange.get._4)
            else (paths.toSeq ++ optional.toSeq.flatten)
              .flatMap(_.names)
              .filterNot(_.startsWith("__")).distinct
          if (names.isEmpty) err("RETURN *: no named bindings in scope")
          scala.collection.mutable.ArrayBuffer(names.map(n => Ret(n)): _*)
        } else {
          val r = scala.collection.mutable.ArrayBuffer(retItem(afterWith))
          while (tryEat(',')) r += retItem(afterWith)
          r
        }
      val order = orderKeys()
      val skip = if (kw("SKIP")) Some(nonNegInt("SKIP")) else None
      val limit = if (kw("LIMIT")) Some(nonNegInt("LIMIT")) else None
      // trailing-input enforcement lives in the entry points (end()) so a
      // UNION connector after this query is the caller's to consume
      // Path functions in the FIRST WITH clause materialize the path as a
      // VALUE column at the stage boundary (nodes(p) → its id array) —
      // which is exactly what WITH means: the path decays to a value.
      // Later clauses are post-match scope, where retItem(afterWith=true)
      // already rejects them.
      Query(paths.toSeq, optional.toSeq, preds.toSeq, rets.toSeq, distinct, order.toSeq,
        limit, skip, shortest, withClauses.toSeq, unwindLit, unwindRange, optionalWhere.toSeq,
        namedPaths, allShortestVars)
    }

    private def path(): Path = {
      val first = nodePat()
      val hops = scala.collection.mutable.ArrayBuffer[(RelPat, NodePat)]()
      var continue = true
      while (continue) {
        ws()
        if (peek == '-' || peek == '<') hops += ((relPat(), nodePat()))
        else continue = false
      }
      Path(first, hops.toSeq)
    }

    private def nodePat(): NodePat = {
      eat('(')
      ws()
      var name = if (peek != ':' && peek != ')' && peek != '{') Some(ident()) else None
      val label = if (tryEat(':')) Some(ident()) else None
      ws()
      if (peek == '{') { // `(a:A {x: 1})` — equality-conjunct sugar
        val b = name.getOrElse(freshMapBinding())
        name = Some(b)
        propMapInto(b)
      }
      eat(')')
      NodePat(name, label)
    }

    private def relPat(): RelPat = {
      ws()
      val incoming = tryEat('<')
      eat('-')
      var types: Seq[String] = Nil
      var hops: Option[(Int, Int)] = None
      var name: Option[String] = None
      if (tryEat('[')) {
        ws()
        if (peek != ':' && peek != '*' && peek != ']' && peek != '{') name = Some(ident())
        if (tryEat(':')) {
          val ts = scala.collection.mutable.ArrayBuffer(ident())
          while (tryEat('|')) ts += ident()
          types = ts.toSeq
        }
        if (tryEat('*')) hops = Some(hopRange())
        ws()
        if (peek == '{') { // `-[r:T {w: 5}]->` — edge-property equality sugar
          val b = name.getOrElse(freshMapBinding())
          name = Some(b)
          propMapInto(b)
        }
        eat(']')
      }
      eat('-')
      val outgoing = tryEat('>')
      if (incoming && outgoing) err("relationship cannot be both directions")
      RelPat(types, if (incoming) In else if (outgoing) Out else Both, hops, name)
    }

    /** `*n`, `*lo..hi`, `*..hi` (lo defaults to 1). An upper bound is
      * mandatory: bare `*` / `*lo..` would be an unbounded iteration. */
    private def hopRange(): (Int, Int) = {
      ws()
      val lo = if (peek.isDigit) Some(intLit()) else None
      ws()
      val hi =
        if (s.regionMatches(false, i, "..", 0, 2)) {
          i += 2; ws()
          if (peek.isDigit) Some(intLit()) else None
        } else lo
      (lo.getOrElse(1), hi.getOrElse(
        if (allowUnbounded) Int.MaxValue
        else err("unbounded variable-length pattern: an upper bound is required (*lo..hi)")
      )) match {
        case (a, b) if a < 1 || b < a => err(s"invalid variable-length range *$lo..$hi")
        case ok => ok
      }
    }

    /** One range() bound: an optionally-negative integer literal or a
      * numeric $param (longs only — range is the integer row generator). */
    private def rangeArg(): Long = {
      ws()
      if (peek == '$') {
        i += 1
        val n = ident()
        paramValue(n) match {
          case l: Long => l
          case v: Int  => v.toLong
          case other => err(s"$$$n must be an integer in a range() bound, got $other")
        }
      } else {
        val neg = peek == '-'
        if (neg) i += 1
        val start = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        if (i == start) err("expected integer in range()")
        val v = s.substring(start, i).toLong
        if (neg) -v else v
      }
    }

    private def intLit(): Int = {
      ws()
      val start = i
      while (i < s.length && s.charAt(i).isDigit) i += 1
      if (i == start) err("expected integer")
      s.substring(start, i).toInt
    }

    /** `bareAtoms`: WITH…WHERE filters the WITH output, where atoms are bare
      * output-column names (`n_cust > 2`), not `binding.prop` — encoded as
      * Cmp/IsNull with prop = "" (the compiler resolves "" to the column
      * itself). */
    private def orExpr(bareAtoms: Boolean = false): Pred = {
      var l = andExpr(bareAtoms)
      while (kw("OR")) l = Or(l, andExpr(bareAtoms))
      l
    }

    private def andExpr(bareAtoms: Boolean): Pred = {
      var l = unaryPred(bareAtoms)
      while (kw("AND")) l = And(l, unaryPred(bareAtoms))
      l
    }

    private def unaryPred(bareAtoms: Boolean): Pred = {
      ws()
      if (kw("NOT")) Not(unaryPred(bareAtoms))
      else if (kw("EXISTS")) {
        // `EXISTS((a)-[:T]->(b))` — explicit pattern form; openCypher's
        // property-existence `exists(a.prop)` ≡ `a.prop IS NOT NULL`; or
        // the modern subquery form `EXISTS { [MATCH] (a)-[:T]->(b)
        // [WHERE p] }` — same existential semantics as the pattern form
        ws()
        if (peek == '{') {
          eat('{')
          kw("MATCH") // optional
          val mapsAt = mapPreds.size
          val p = path()
          if (p.hops.isEmpty) err("EXISTS { … } needs a relationship pattern")
          // property maps inside the subquery constrain the EXISTENTIAL
          // match — slice them out of the outer query's buffer
          val sliced = mapPreds.drop(mapsAt).toSeq
          if (mapPreds.size > mapsAt) mapPreds.remove(mapsAt, mapPreds.size - mapsAt)
          val wp = if (kw("WHERE")) Pred.conjuncts(orExpr(bareAtoms)) else Seq.empty
          ws(); eat('}')
          PatPred(p, sliced ++ wp)
        } else {
          eat('(')
          patternPred() match {
            case Some(pp) => eat(')'); pp
            case None =>
              val b = ident()
              val p = if (bareAtoms) "" else { eat('.'); ident() }
              eat(')')
              IsNull(b, p, negated = true)
          }
        }
      } else if (peek == '(') {
        // ambiguous: `(a)-[:T]->(b)` pattern predicate vs parenthesized
        // boolean `(a.x = 1 OR …)`. Try the pattern first — a zero-hop
        // parse (`(a)` alone is not a predicate) or a parse failure
        // restores the cursor and falls through to the boolean read.
        patternPred() match {
          case Some(pp) => pp
          case None => eat('('); val p = orExpr(bareAtoms); eat(')'); p
        }
      }
      else pred(bareAtoms)
    }

    /** Attempt `(a)-[:T]->(b)…` as a pattern predicate; None restores the
      * cursor (and un-slices any property maps the attempt consumed). */
    private def patternPred(): Option[PatPred] = {
      ws()
      val save = i
      val savedMaps = mapPreds.size
      def restore(): None.type = {
        i = save
        if (mapPreds.size > savedMaps) mapPreds.remove(savedMaps, mapPreds.size - savedMaps)
        None
      }
      try {
        val p = path()
        if (p.hops.isEmpty) restore()
        else {
          // property maps inside the predicate's pattern constrain the
          // EXISTENTIAL match — slice them out of the outer query's buffer
          val sliced = mapPreds.drop(savedMaps).toSeq
          if (mapPreds.size > savedMaps) mapPreds.remove(savedMaps, mapPreds.size - savedMaps)
          Some(PatPred(p, sliced))
        }
      } catch { case _: ParseException => restore() }
    }

    private def pred(bareAtoms: Boolean = false): Pred = {
      val l = exprP(bareAtoms)
      ws()
      // IS NULL / IN bind to a plain reference (legacy forms — the pushdown
      // classification and null semantics are theirs alone)
      val lref: Option[(String, String)] = l match {
        case ERef(b, p) =>
          if (p.isEmpty && !bareAtoms) None // bare binding: id comparison via CmpE below
          else Some(b -> p.getOrElse(""))
        case _ => None
      }
      if (kw("IS")) {
        val neg = kw("NOT")
        if (!kw("NULL")) err("expected NULL after IS" + (if (neg) " NOT" else ""))
        val (b, p) = lref.getOrElse(err("IS NULL applies to a property/column reference"))
        return IsNull(b, p, neg)
      }
      // `x IN [lit, …]` — list membership; an empty list matches nothing
      // (Cypher: `x IN []` is false). NOT IN is spelled `NOT (x IN [...])`.
      if (kw("IN")) {
        val (b, p) = lref.getOrElse(err("IN applies to a property/column reference"))
        ws()
        // `x IN $xs` — a whole-list parameter
        if (peek == '$') {
          i += 1
          val n = ident()
          paramValue(n, seq = true) match {
            case xs: Seq[_] => return Cmp(b, p, "IN", xs)
            case _ => err(s"$$$n must be a list in an IN position")
          }
        }
        eat('[')
        val vs = scala.collection.mutable.ArrayBuffer[Any]()
        ws()
        if (peek != ']') {
          var more = true
          while (more) {
            ws()
            vs += (if (peek == '\'' || peek == '"') stringLit()
                   else if (peek == '$') { i += 1; paramValue(ident()) }
                   else if (peek.isDigit || peek == '-') number()
                   else err("IN list elements must be string or number literals"))
            more = tryEat(',')
          }
        }
        eat(']')
        return Cmp(b, p, "IN", vs.toSeq)
      }
      // keyword string operators before symbol operators
      val op =
        if (kw("STARTS")) { if (!kw("WITH")) err("expected WITH after STARTS"); "STARTS WITH" }
        else if (kw("ENDS")) { if (!kw("WITH")) err("expected WITH after ENDS"); "ENDS WITH" }
        else if (kw("CONTAINS")) "CONTAINS"
        else {
          // `=~` (regex) before `=` — longest match wins
          val ops = Seq("<=", ">=", "<>", "=~", "=", "<", ">")
          ops.find(o => s.regionMatches(false, i, o, 0, o.length)) match {
            case Some(o) => i += o.length; o
            case None => l match {
              // a bare boolean-valued list predicate stands alone as a
              // WHERE conjunct: `WHERE any(x IN vs WHERE x > 5)`
              case _: EListPred => return CmpE(l, "=", ELit(true))
              case _ => err("expected comparison operator")
            }
          }
        }
      val r = exprP(bareAtoms)
      val strOp = Set("STARTS WITH", "ENDS WITH", "CONTAINS", "=~")(op)
      (lref, r) match {
        // `<ref> <op> <literal>` keeps the legacy Cmp (pushdown
        // classification; numeric literals normalize to Double there —
        // comparison literals never surface in the output schema)
        case (Some((b, p)), ELit(v)) =>
          if (strOp && !v.isInstanceOf[String]) err(s"$op requires a string literal")
          Cmp(b, p, op, numAsDouble(v))
        case _ =>
          // expression comparison (`a.x > b.y`, `a.p + 1 < 10`) — residual:
          // the referenced columns join back over the matched rows
          r match {
            case ELit(v) if strOp && !v.isInstanceOf[String] =>
              err(s"$op requires a string literal")
            case _ => ()
          }
          CmpE(l, op, r)
      }
    }

    // ---- value expressions (RETURN/WITH items, aggregate args, WHERE) ----
    // expr := mul (('+'|'-') mul)* ; mul := unary (('*'|'/'|'%') unary)* ;
    // unary := '-' unary | atom ;
    // atom := literal | CASE … END | fn '(' … ')' | ref | '(' expr ')'
    // `bare` = post-WITH context: refs are bare stage columns (validated by
    // the caller), CASE predicates parse with bare atoms too.
    private val valueFnNames = Set(
      "toupper", "tolower", "trim", "ltrim", "rtrim", "size", "abs", "ceil", "floor",
      "round", "sqrt", "sign", "exp", "log", "log10", "tointeger", "tofloat",
      "tostring", "toboolean", "reverse", "head", "last")
    // multi-arg openCypher string functions: name -> (min args, max args).
    // substring is 0-based (openCypher); the compiler shifts to Spark's
    // 1-based substr.
    private val multiArgFns = Map(
      "substring" -> (2, 3), "replace" -> (3, 3), "left" -> (2, 2), "right" -> (2, 2),
      "split" -> (2, 2), "range" -> (2, 3),
      // join(list, sep) renders a list as one string; keys(b) here covers
      // the EXPRESSION position (e.g. join(keys(n), ',')) — the bare item
      // form keys(n) still takes the scalarFns fast path above
      "join" -> (2, 2), "keys" -> (1, 1))
    private def exprP(bare: Boolean): Expr = addE(bare)
    private def addE(bare: Boolean): Expr = {
      var l = mulE(bare)
      var more = true
      while (more) {
        ws()
        if (peek == '+') { i += 1; l = EBin("+", l, mulE(bare)) }
        // `-` here is unambiguous: relationship patterns never appear where
        // a value expression continues
        else if (peek == '-') { i += 1; l = EBin("-", l, mulE(bare)) }
        else more = false
      }
      l
    }
    private def mulE(bare: Boolean): Expr = {
      var l = unaryE(bare)
      var more = true
      while (more) {
        ws()
        if (peek == '*') { i += 1; l = EBin("*", l, unaryE(bare)) }
        else if (peek == '/') { i += 1; l = EBin("/", l, unaryE(bare)) }
        else if (peek == '%') { i += 1; l = EBin("%", l, unaryE(bare)) }
        else more = false
      }
      l
    }
    private def unaryE(bare: Boolean): Expr = {
      ws()
      if (peek == '-') { i += 1; ENeg(unaryE(bare)) } else atomE(bare)
    }
    private def peekKw(k: String): Boolean = { val save = i; val r = kw(k); i = save; r }
    private val listPredNames = Set("any", "all", "none", "single")
    private def atomE(bare: Boolean): Expr = {
      ws()
      if (peek == '\'' || peek == '"') ELit(stringLit())
      else if (peek == '$') { i += 1; ELit(paramValue(ident())) }
      else if (peek.isDigit) ELit(numberLit())
      else if (peek == '[') listCompOrLit(bare)
      else if (peek == '(') { eat('('); val e = addE(bare); eat(')'); e }
      else if (peekKw("CASE")) { kw("CASE"); caseE(bare) }
      else {
        val name = ident()
        ws()
        val nl = name.toLowerCase
        if (peek == '{' && nl == "count") {
          // modern subquery form `COUNT { [MATCH] (a)-[:T]->(b) [WHERE p] }`
          // ≡ size((a)-[:T]->(b)) — the pattern-count expression
          eat('{')
          kw("MATCH") // optional
          val mapsAt = mapPreds.size
          val p = path()
          if (p.hops.isEmpty) err("COUNT { … } needs a relationship pattern")
          val sliced = mapPreds.drop(mapsAt).toSeq
          if (mapPreds.size > mapsAt) mapPreds.remove(mapsAt, mapPreds.size - mapsAt)
          val wp = if (kw("WHERE")) Pred.conjuncts(orExpr(bare)) else Seq.empty
          ws(); eat('}')
          EPatAgg("count", PatPred(p, sliced ++ wp), None)
        } else if (peek == '(' && listPredNames(nl)) {
          // any|all|none|single(x IN list WHERE p) — x scopes the predicate
          eat('(')
          val v = ident()
          if (!kw("IN")) err(s"expected IN in $nl()")
          val le = addE(bare)
          if (!kw("WHERE")) err(s"expected WHERE in $nl()")
          val p = orExpr(bare)
          eat(')')
          EListPred(nl, v, le, p)
        } else if (peek == '(' && nl == "reduce") {
          // reduce(acc = init, x IN list | body)
          eat('(')
          val acc = ident()
          eat('=')
          val init = addE(bare)
          eat(',')
          val v = ident()
          if (!kw("IN")) err("expected IN in reduce()")
          val le = addE(bare)
          ws(); eat('|')
          val body = addE(bare)
          eat(')')
          EReduce(acc, init, v, le, body)
        } else if (peek == '(' && nl == "coalesce") {
          eat('(')
          val args = scala.collection.mutable.ArrayBuffer(addE(bare))
          while (tryEat(',')) args += addE(bare)
          eat(')')
          if (args.size < 2) err("coalesce() takes at least two arguments")
          EFn("coalesce", args.toSeq)
        } else if (peek == '(' && nl == "size") {
          // size((a)-[:T]->(b)) — pattern-count expression (distinct
          // matches per outer row); falls back to size(list/string)
          eat('(')
          patternPred() match {
            case Some(pp) => eat(')'); EPatAgg("count", pp, None)
            case None     => val a = addE(bare); eat(')'); EFn(nl, Seq(a))
          }
        } else if (peek == '(' && valueFnNames(nl)) {
          eat('('); val a = addE(bare); eat(')')
          EFn(nl, Seq(a))
        } else if (peek == '(' && nl == "length") {
          // length(p) of a named path in an expression/WHERE position —
          // GraphDB substitutes the path's constant hop count before
          // planning (per branch for varlen paths) and rejects unknown
          // path variables there
          eat('('); val b = ident(); eat(')')
          EFn("length", Seq(ERef(b, None)))
        } else if (peek == '(' && multiArgFns.contains(nl)) {
          eat('(')
          val args = scala.collection.mutable.ArrayBuffer(addE(bare))
          while (tryEat(',')) args += addE(bare)
          eat(')')
          val (lo, hi) = multiArgFns(nl)
          if (args.size < lo || args.size > hi)
            err(s"$nl() takes ${if (hi != lo) s"$lo to $hi" else s"$lo"} arguments")
          EFn(nl, args.toSeq)
        } else if (peek == '(') {
          err(s"unknown function $name in a value expression")
        } else {
          val p = if (tryEat('.')) Some(ident()) else None
          ERef(name, p)
        }
      }
    }
    /** `[` in an expression position: a comprehension `[x IN list
      * [WHERE p] [| e]]` when `ident IN` follows the bracket, else a
      * literal list (string XOR number elements, like UNWIND's). */
    private def listCompOrLit(bare: Boolean): Expr = {
      val save = i
      eat('[')
      ws()
      if (peek == '(') {
        // pattern comprehension `[(a)-[:T]->(b) [WHERE p] | e]` — the
        // pattern parse restores the cursor on failure, falling through to
        // a parenthesized-expression list element error path below
        patternPred() match {
          case Some(pp) =>
            val wp = if (kw("WHERE")) Some(orExpr(bare)) else None
            ws(); eat('|')
            val proj = addE(bare)
            eat(']')
            return EPatAgg("collect", pp.copy(preds = pp.preds ++ wp.toSeq), Some(proj))
          case None => // not a pattern: literal-list handling below
        }
      }
      if (peek.isLetter || peek == '_') {
        val v = ident()
        if (kw("IN")) {
          val le = addE(bare)
          val p = if (kw("WHERE")) Some(orExpr(bare)) else None
          ws()
          val proj = if (peek == '|') { i += 1; Some(addE(bare)) } else None
          if (p.isEmpty && proj.isEmpty)
            err("a list comprehension needs a WHERE filter or a | projection")
          eat(']')
          return EListComp(v, le, p, proj)
        }
      }
      i = save
      EListLit(literalList())
    }

    /** CASE body (the CASE keyword is consumed). Searched form WHENs are
      * full boolean predicates; the simple form desugars each WHEN value
      * into an equality on the scrutinee. No ELSE → NULL (openCypher). */
    private def caseE(bare: Boolean): Expr = {
      ws()
      val scrut: Option[Expr] = if (peekKw("WHEN")) None else Some(addE(bare))
      val whens = scala.collection.mutable.ArrayBuffer[(Pred, Expr)]()
      while (kw("WHEN")) {
        val p: Pred = scrut match {
          case None => orExpr(bare)
          case Some(sc) =>
            val v = addE(bare)
            (sc, v) match {
              case (ERef(b, pr), ELit(lv)) => Cmp(b, pr.getOrElse(""), "=", numAsDouble(lv))
              case _                       => CmpE(sc, "=", v)
            }
        }
        if (!kw("THEN")) err("expected THEN in CASE")
        whens += ((p, addE(bare)))
      }
      if (whens.isEmpty) err("CASE requires at least one WHEN")
      val dflt = if (kw("ELSE")) Some(addE(bare)) else None
      if (!kw("END")) err("expected END to close CASE")
      ECase(whens.toSeq, dflt)
    }
    /** `[lit, …]` for UNWIND: string XOR number elements (a mixed list has
      * no single Spark array type); numbers keep Long/Double like
      * [[numberLit]] (Spark's array() coerces long+double to double). */
    private def literalList(): Seq[Any] = {
      eat('[')
      val vs = scala.collection.mutable.ArrayBuffer[Any]()
      ws()
      if (peek != ']') {
        var more = true
        while (more) {
          ws()
          vs += (if (peek == '\'' || peek == '"') stringLit()
                 else if (peek.isDigit) numberLit()
                 else if (peek == '-') {
                   i += 1
                   numberLit() match { case l: Long => -l; case d: Double => -d }
                 }
                 else err("UNWIND list elements must be string or number literals"))
          more = tryEat(',')
        }
      }
      eat(']')
      if (vs.exists(_.isInstanceOf[String]) && vs.exists(!_.isInstanceOf[String]))
        err("UNWIND list mixes string and number literals")
      vs.toSeq
    }

    private def numAsDouble(v: Any): Any = v match {
      case l: Long => l.toDouble
      case other   => other
    }

    /** `$name` → the caller-supplied value, numerics normalized to
      * Long/Double (the two numeric shapes literals produce). `seq` allows
      * a Seq value (IN / UNWIND list positions). */
    private def paramValue(n: String, seq: Boolean = false): Any =
      params.get(n) match {
        case None => err(s"missing query parameter $$$n" +
          (if (params.isEmpty) " (no parameters were supplied)" else ""))
        case Some(v) =>
          def scalar(x: Any): Any = x match {
            case i: Int    => i.toLong
            case f: Float  => f.toDouble
            case s: String => s
            case l: Long   => l
            case d: Double => d
            case other => err(
              s"unsupported parameter type for $$$n: ${other.getClass.getSimpleName} " +
                "(String, Int/Long, Float/Double" + (if (seq) ", Seq of those" else "") + ")")
          }
          v match {
            case xs: Seq[_] if seq => xs.map(scalar)
            case xs: Seq[_] => err(s"$$$n is a list; lists are only legal in IN/UNWIND positions")
            case x => scalar(x)
          }
      }
    /** Number literal for value expressions: integral text stays Long (so
      * `n.a + 1` keeps BIGINT arithmetic), fractional becomes Double. */
    private def numberLit(): Any = {
      ws()
      val start = i
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      if (i == start) err("expected number")
      val t = s.substring(start, i)
      if (t.contains('.')) t.toDouble else t.toLong
    }

    private def stringLit(): String = {
      val q = peek; i += 1
      val start = i
      while (i < s.length && s.charAt(i) != q) i += 1
      if (i >= s.length) err("unterminated string")
      val r = s.substring(start, i); i += 1; r
    }

    /** SKIP/LIMIT operand: reject negatives and fractions at parse time —
      * `SKIP -5` would otherwise only fail deep inside Spark's Offset
      * analysis and `LIMIT 2.9` would silently truncate. */
    private def nonNegInt(clause: String): Int = {
      val v = number()
      if (v < 0 || v != math.floor(v) || v > Int.MaxValue)
        err(s"$clause requires a non-negative integer")
      v.toInt
    }

    private def number(): Double = {
      ws()
      val start = i
      if (peek == '-') i += 1
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      if (i == start) err("expected number")
      s.substring(start, i).toDouble
    }
  }
}
