package graft.plans

import graft.cypher.Ast

/**
 * Pattern graph + logical plan for graph pattern matching.
 *
 * Mirrors the reference's two IRs:
 *  - `PatternGraph` ≙ QueryGraph (g4s-optimizer/.../optim/QueryGraph.scala:15-22):
 *    bindings with optional labels, directed typed edges between them,
 *    INCOMING normalized by endpoint swap (QueryGraph.scala:76-82), unnamed
 *    nodes get fresh names (optim/Name.scala:3-5).
 *  - `LogicNode` ≙ the reference's logical operators
 *    (g4s-optimizer/.../optim/logic/LogicNode.scala:41-98): GetNodes,
 *    GetEdges, Expand, Filter, Join. Spark adaptation: every node knows its
 *    *head binding* and the set of bindings its DataFrame carries as columns,
 *    because the relational executor keeps all still-needed bindings instead
 *    of the reference's (branch-start × head) Boolean matrix.
 */
object Pattern {

  /** openCypher value functions over a property (or a post-WITH column):
    * per-row, grouping keys under aggregation. The Column implementations
    * live in [[graft.operators.Preds.valueFn]]. */
  val ValueFnNames: Set[String] = Set(
    "toupper", "tolower", "trim", "size", "abs", "ceil", "floor", "round",
    "sqrt", "sign", "tointeger", "tofloat", "tostring", "reverse", "head", "last")

  /** Per-row scalar functions carried in Ret.agg: `id(n)` projects the node
    * binding's id, `type(r)` the matched relationship's type (rendered via
    * the same edge-identity join-back as relationship properties),
    * `labels(n)` the node's label list (single-label model → 1-element
    * array), plus the [[ValueFnNames]] value functions. They are grouping
    * keys under aggregation, not aggregates. */
  val ScalarFns: Set[String] = Set("id", "type", "labels", "startnode", "endnode", "keys",
    "nodes", "relationships", "length") ++ ValueFnNames

  /** minHops/maxHops > 1 = bounded variable-length pattern (walk semantics,
    * see Ast.RelPat); (1, 1) is a plain relationship. `name` is the
    * relationship variable when the query bound one (`-[r:T]->`), the anchor
    * for WHERE edge-property predicates. */
  final case class PatternEdge(src: String, dst: String, types: Seq[String], undirected: Boolean,
                               minHops: Int = 1, maxHops: Int = 1,
                               name: Option[String] = None)

  /** One OPTIONAL MATCH clause: its own label scope + edges, left-joined to
    * the required match on `shared` (the bindings it has in common with it).
    * `preds`/`edgePreds` are the clause's own WHERE conjuncts (+ property
    * maps) — filtered INSIDE the left join, openCypher's OPTIONAL MATCH
    * WHERE attachment: unmatched-or-filtered rows keep nulls. Bare
    * conjuncts only (they push down into the fragment's scans). */
  final case class OptionalGroup(
      labels: Map[String, Option[String]],
      edges: Vector[PatternEdge],
      shared: Seq[String],
      preds: Seq[Ast.Cmp] = Seq.empty,
      edgePreds: Seq[Ast.Cmp] = Seq.empty) {
    def bindings: Set[String] = labels.keySet
  }

  final case class PatternGraph(
      labels: Map[String, Option[String]],           // REQUIRED-pattern bindings -> label
      edges: Vector[PatternEdge],
      predicates: Seq[Ast.Cmp],                      // WHERE conjuncts per binding
      items: Seq[Ast.Ret],                           // RETURN items (see Ast.Ret)
      distinct: Boolean,
      orderBy: Seq[Ast.SortKey],
      limit: Option[Int],
      skip: Option[Int] = None,
      optional: Seq[OptionalGroup] = Seq.empty,
      edgePredicates: Seq[Ast.Cmp] = Seq.empty,        // WHERE conjuncts on rel variables
      /** WHERE conjuncts with boolean structure (OR / NOT / nested AND) or
        * IS NULL — not pushable to a single binding's scan; GraphDB.run
        * applies them over the matched rows with the referenced property
        * columns joined back, then restores set-semantics granularity. */
      residual: Seq[Ast.Pred] = Seq.empty,
      /** ORDER BY keys naming a NON-returned property of a RETURNED bare
        * binding (`RETURN b ORDER BY b.name`): the property is joined on
        * the output binding column as `__sort_<b>_<p>` purely for the
        * sort, then dropped — functionally dependent on the returned id,
        * so set-semantics granularity is untouched. */
      extraSortProps: Seq[(String, String)] = Seq.empty,
      /** Fixed-length path variables: pathVar → (node bindings in path
        * order, relationship bindings in path order). nodes(p) renders the
        * node-id array, relationships(p) the type array (via the rels'
        * identity join-back), length(p) the constant hop count. */
      namedPaths: Map[String, (Seq[String], Seq[String])] = Map.empty) {
    def bindings: Set[String] = labels.keySet
    /** Non-aggregated items — the grouping keys when aggregates are present.
      * Per-row scalar functions (id/type) group, they don't aggregate. */
    def groupItems: Seq[Ast.Ret] = items.filterNot(isAgg)
    def aggItems: Seq[Ast.Ret] = items.filter(isAgg)
    private def isAgg(i: Ast.Ret): Boolean =
      i.agg.exists(a => !Pattern.ScalarFns(a))
    /** Plain id-only returned bindings (the reference's whole surface). */
    def returns: Seq[String] =
      items.collect { case r if r.prop.isEmpty && r.agg.isEmpty && r.expr.isEmpty => r.binding }
    /** Every binding the result depends on (distinct, in first-use order).
      * Expression items contribute every binding their refs read (incl.
      * CASE-predicate refs); their placeholder "" binding never surfaces. */
    def referenced: Seq[String] =
      items.flatMap(i => i.expr.fold(Seq(i.binding))(e => Ast.Expr.refs(e).map(_._1)))
        .distinct
  }

  /** Fold the parsed paths into a pattern graph (≙ QueryGraph.fromAST).
    * OPTIONAL MATCH groups build their own label scopes (seeded from the
    * required pattern's constraints for shared bindings, so conflicts are
    * caught across scopes). */
  def fromQuery(q: Ast.Query): PatternGraph = {
    require(q.shortest.isEmpty,
      "shortestPath queries compile to a per-source BFS (GraphDB.query), not a pattern plan")
    require(q.unwindLit.isEmpty,
      "UNWIND-literal queries compile to an explode pipeline (GraphDB.query), not a pattern plan")
    var fresh = 0
    def freshName(): String = { fresh += 1; s"__v$fresh" }

    def buildScope(paths: Seq[Ast.Path], inherited: Map[String, Option[String]])
        : (Map[String, Option[String]], Vector[PatternEdge]) = {
      val labels = scala.collection.mutable.LinkedHashMap[String, Option[String]]()
      val edges = Vector.newBuilder[PatternEdge]
      def addNode(n: Ast.NodePat): String = {
        val name = n.name.getOrElse(freshName())
        // first mention in this scope inherits the outer constraint
        val current = labels.get(name).orElse(inherited.get(name)).flatten
        (current, n.label) match {
          case (Some(existing), Some(l)) if l != existing =>
            throw new graft.cypher.ParseException(
              s"binding $name has conflicting labels $existing and $l")
          case _ => labels(name) = n.label.orElse(current)
        }
        name
      }
      paths.foreach { p =>
        var prev = addNode(p.first)
        p.hops.foreach { case (rel, node) =>
          val cur = addNode(node)
          val (mn, mx) = rel.hops.getOrElse((1, 1))
          rel.dir match {
            case Ast.Out  => edges += PatternEdge(prev, cur, rel.types, undirected = false, mn, mx, rel.name)
            case Ast.In   => edges += PatternEdge(cur, prev, rel.types, undirected = false, mn, mx, rel.name)
            case Ast.Both => edges += PatternEdge(prev, cur, rel.types, undirected = true, mn, mx, rel.name)
          }
          prev = cur
        }
      }
      (labels.toMap, edges.result())
    }

    val (mainLabels, mainEdges) = buildScope(q.paths, Map.empty)
    // pad for programmatically-built queries that predate optionalWhere
    val optWhere =
      if (q.optionalWhere.size == q.optional.size) q.optionalWhere
      else q.optional.map(_ => Seq.empty[Ast.Pred])
    val groups = q.optional.zip(optWhere).map { case (paths, where) =>
      val (gl, ge) = buildScope(paths, mainLabels)
      val shared = gl.keys.filter(mainLabels.contains).toSeq
      if (shared.isEmpty)
        throw new graft.cypher.ParseException(
          "OPTIONAL MATCH must share at least one binding with MATCH")
      // the clause's WHERE filters INSIDE the left join; the fragment
      // compiles standalone (no residual machinery there), so only bare
      // conjuncts — which push down into the fragment's scans — are legal
      val geNames = ge.flatMap(_.name).toSet
      val cs = where.map {
        case c: Ast.Cmp => c
        case _ => throw new graft.cypher.ParseException(
          "OPTIONAL MATCH … WHERE supports bare comparison conjuncts only " +
            "(boolean structure, IS NULL, and pattern predicates are not " +
            "supported inside the left join)")
      }
      cs.foreach { c =>
        if (!gl.contains(c.binding) && !geNames(c.binding))
          throw new graft.cypher.ParseException(
            s"OPTIONAL MATCH … WHERE references ${c.binding}, not bound in this clause")
      }
      val (ecs, ncs) = cs.partition(c => geNames(c.binding))
      ecs.foreach { c =>
        if (ge.exists(e => e.name.contains(c.binding) && e.maxHops > 1))
          throw new graft.cypher.ParseException(
            s"edge predicate on variable-length relationship ${c.binding} is not supported " +
              "(a varlen variable binds a list of relationships)")
      }
      OptionalGroup(gl, ge, shared, ncs, ecs)
    }
    // an optional-only binding may not span two groups (its null semantics
    // would depend on group evaluation order)
    val optOnly = groups.map(_.bindings -- mainLabels.keySet)
    for { i <- optOnly.indices; j <- 0 until i }
      if ((optOnly(i) & optOnly(j)).nonEmpty)
        throw new graft.cypher.ParseException(
          s"binding ${(optOnly(i) & optOnly(j)).head} appears in two OPTIONAL MATCH clauses")

    val allBindings = mainLabels.keySet ++ groups.flatMap(_.bindings)
    // relationship variables of the REQUIRED pattern (validated below) may
    // appear in RETURN as PROPERTY projections/aggregates — the value joins
    // back on the endpoint pair like residual edge refs. Bare `RETURN r`
    // (a relationship entity) has no relational rendering here.
    val returnableEdges = mainEdges.flatMap(_.name).toSet
    // path variables: must not shadow a binding; path functions are only
    // legal in RETURN (the WITH pipeline reads bare stage columns)
    q.namedPaths.keys.foreach { pv =>
      if (allBindings(pv) || returnableEdges(pv))
        throw new graft.cypher.ParseException(
          s"path variable $pv collides with a node/relationship binding")
    }
    // path functions are legal in the FIRST WITH clause (the path decays to
    // a value column at the stage boundary — GraphDB.runWith strips the
    // clauses before planning); later clauses are post-match scope
    q.withClauses.drop(1).foreach(_.items.foreach { i =>
      if (i.agg.exists(Set("nodes", "relationships", "length")))
        throw new graft.cypher.ParseException(
          s"${i.agg.get}(${i.binding}) is only available in the first WITH clause")
    })
    q.returns.foreach { r =>
      // expression items: every reference must resolve to a bound node
      // binding (bare or property) or a relationship variable's PROPERTY
      r.expr.foreach { e =>
        // a bare relationship ref is legal exactly when it is the argument
        // of keys() — keys(r) reads the edge's property columns, not an
        // entity value
        val keysArgs = Ast.fns(e)
          .collect { case Ast.EFn("keys", Seq(Ast.ERef(b, _))) => b }.toSet
        Ast.Expr.refs(e).foreach { case (b, p) =>
          if (!allBindings(b)) {
            if (returnableEdges(b)) {
              if (p.isEmpty && !keysArgs(b)) throw new graft.cypher.ParseException(
                s"$b: a relationship entity has no value in an expression — " +
                  s"use a property ($b.prop)")
            } else throw new graft.cypher.ParseException(
              s"RETURN references unbound: $b")
          }
        }
      }
      if (r.expr.isEmpty) r.agg match {
        case Some(f @ ("nodes" | "relationships" | "length"))
            if !q.namedPaths.contains(r.binding) =>
          throw new graft.cypher.ParseException(
            if (f == "length") s"length(${r.binding}) takes a path variable " +
              "(MATCH p = … or shortestPath)"
            else s"$f(${r.binding}): unknown path variable — bind one with MATCH p = …")
        case Some("nodes" | "relationships" | "length") => // named-path fn: ok
        case Some("id") =>
          if (!allBindings(r.binding)) throw new graft.cypher.ParseException(
            if (returnableEdges(r.binding))
              s"id(${r.binding}): relationships have no id — use type(${r.binding}) or a property"
            else s"id(${r.binding}): unknown binding")
        case Some("type") =>
          if (!returnableEdges(r.binding)) throw new graft.cypher.ParseException(
            if (allBindings(r.binding))
              s"type(${r.binding}): ${r.binding} is a node binding — type() takes a relationship variable"
            else s"type(${r.binding}): unknown relationship variable")
        case Some("labels") =>
          if (!allBindings(r.binding)) throw new graft.cypher.ParseException(
            if (returnableEdges(r.binding))
              s"labels(${r.binding}): ${r.binding} is a relationship — use type(${r.binding})"
            else s"labels(${r.binding}): unknown binding")
        case Some(f @ ("startnode" | "endnode")) =>
          if (!returnableEdges(r.binding)) throw new graft.cypher.ParseException(
            if (allBindings(r.binding))
              s"$f(${r.binding}): ${r.binding} is a node binding — " +
                s"$f() takes a relationship variable"
            else s"$f(${r.binding}): unknown relationship variable")
        case Some("keys") =>
          // keys() accepts node bindings AND single-hop relationship
          // variables (the edge's present property keys, per matched edge)
          if (!allBindings(r.binding) && !returnableEdges(r.binding))
            throw new graft.cypher.ParseException(
              s"keys(${r.binding}): unknown binding")
        case _ =>
          if (!allBindings(r.binding)) {
            if (returnableEdges(r.binding)) {
              if (r.prop.isEmpty) throw new graft.cypher.ParseException(
                s"RETURN ${r.binding}: returning a relationship entity is not supported — " +
                  s"project a property (${r.binding}.prop)")
            } else if (q.namedPaths.contains(r.binding)) throw new graft.cypher.ParseException(
              s"RETURN ${r.binding}: returning a path entity is not supported — " +
                s"use nodes(${r.binding}), relationships(${r.binding}) or length(${r.binding})")
            else throw new graft.cypher.ParseException(
              s"RETURN references unbound: ${r.binding}")
          }
      }
    }
    // sort keys name an output column (binding, b_prop, count_b, agg_b_prop)
    // either by its AS alias or by its pre-alias default name — openCypher
    // permits ordering by the underlying expression of a renamed item. A
    // pre-alias name shadowed by another item's alias resolves to the item
    // that OWNS the alias (aliases are the output schema; defaults only
    // fill the gaps).
    val sortKeyToOut = Ast.Ret.sortKeyMap(q.returns)
    // a dotted sort key that is NOT an output column may still name a
    // property of a RETURNED bare (unaliased) binding — openCypher's
    // "return ids, order by name". The property is functionally dependent
    // on the returned id, so it joins in post-projection as __sort_<b>_<p>
    // and drops after the sort (GraphDB.run).
    val extraSort = scala.collection.mutable.LinkedHashSet[(String, String)]()
    val orderByResolved = q.orderBy.map { k =>
      sortKeyToOut.get(k.binding) match {
        case Some(out) => k.copy(binding = out)
        case None => k.parts match {
          case Some((b, p)) if q.returns.exists(r =>
              r.binding == b && r.prop.isEmpty && r.agg.isEmpty && r.alias.isEmpty) =>
            extraSort += ((b, p))
            k.copy(binding = s"__sort_${b}_$p")
          case _ => throw new graft.cypher.ParseException(
            s"ORDER BY references non-returned columns: ${k.binding}")
        }
      }
    }
    // bare comparisons push down to the binding's scan; anything with
    // boolean structure or IS NULL is residual (filtered post-match)
    val cmps = q.where.collect { case c: Ast.Cmp => c }
    val residual = q.where.filterNot(_.isInstanceOf[Ast.Cmp])
    // relationship variables of the REQUIRED pattern: WHERE r.prop anchors
    // here. A name may not collide with a node binding or repeat.
    val edgeNames = mainEdges.flatMap(e => e.name.map(_ -> e))
    edgeNames.groupBy(_._1).foreach { case (n, es) =>
      if (es.size > 1) throw new graft.cypher.ParseException(
        s"relationship variable $n is bound more than once")
      if (mainLabels.contains(n)) throw new graft.cypher.ParseException(
        s"$n names both a node and a relationship")
    }
    val edgeByName = edgeNames.toMap
    val (edgeCmps, nodeCmps) = cmps.partition(c => edgeByName.contains(c.binding))
    edgeCmps.foreach { c =>
      if (edgeByName(c.binding).maxHops > 1) throw new graft.cypher.ParseException(
        s"edge predicate on variable-length relationship ${c.binding} is not supported " +
          "(a varlen variable binds a list of relationships)")
    }
    q.returns.filter(r => (r.prop.isDefined ||
        r.agg.exists(Set("type", "startnode", "endnode"))) &&
        edgeByName.get(r.binding).exists(_.maxHops > 1)).foreach { r =>
      throw new graft.cypher.ParseException(
        s"property of variable-length relationship ${r.binding} is not supported in RETURN " +
          "(a varlen variable binds a list of relationships)")
    }
    q.returns.flatMap(_.expr.toSeq.flatMap(Ast.Expr.refs)).foreach { case (b, _) =>
      if (edgeByName.get(b).exists(_.maxHops > 1)) throw new graft.cypher.ParseException(
        s"property of variable-length relationship $b is not supported in RETURN " +
          "(a varlen variable binds a list of relationships)")
    }
    val badPred = nodeCmps.map(_.binding).filterNot(mainLabels.contains)
    if (badPred.nonEmpty)
      throw new graft.cypher.ParseException(
        s"WHERE references optional/unbound bindings: ${badPred.mkString(",")} " +
          "(the single WHERE clause applies to the required pattern)")
    // residual predicates may reference required-pattern node bindings and
    // SINGLE-HOP relationship variables (GraphDB.run joins the edge's
    // property columns back on the endpoint pair — the (src,dst,etype)
    // uniqueness invariant makes that a 1:1 join per type). Varlen rel
    // variables (a list of relationships) and optional bindings (left-join
    // semantics would change) stay rejected loudly.
    // pattern predicates: named nodes must anchor on REQUIRED-pattern
    // bindings (existential endpoints are written anonymous — openCypher
    // pattern expressions introduce no new variables); relationship
    // variables inside the predicate have nothing to bind to outside it.
    // `__m*` names are the parser's own anonymous property-map bindings —
    // internal to the predicate's existential match.
    residual.flatMap(Ast.patterns).foreach { pp =>
      val names = pp.path.names.filterNot(_.startsWith("__m"))
      if (!names.exists(mainLabels.contains))
        throw new graft.cypher.ParseException(
          "a pattern predicate must anchor on at least one MATCH binding " +
            "(all its named nodes are unbound)")
      names.filterNot(mainLabels.contains).foreach { n =>
        throw new graft.cypher.ParseException(
          s"pattern predicate introduces new variable $n — only required-pattern " +
            "bindings may be named (use an anonymous node () for existential endpoints)")
      }
      pp.path.hops.foreach { case (rel, _) =>
        rel.name.filterNot(_.startsWith("__m")).foreach { n =>
          throw new graft.cypher.ParseException(
            s"relationship variable $n inside a pattern predicate is not supported " +
              "(it would be invisible outside the predicate)")
        }
      }
    }
    val resRefPairs = residual.flatMap(Ast.Pred.refs(_)).distinct
    resRefPairs.filterNot(r => mainLabels.contains(r._1)).foreach { case (b, p) =>
      edgeByName.get(b) match {
        case Some(e) =>
          if (e.maxHops > 1) throw new graft.cypher.ParseException(
            s"edge predicate on variable-length relationship $b is not supported " +
              "(a varlen variable binds a list of relationships)")
          // a BARE relationship ref can only come from a value expression —
          // there is no entity value to compute with
          if (p.isEmpty) throw new graft.cypher.ParseException(
            s"$b: a relationship entity has no value in an expression — " +
              s"use a property ($b.prop)")
        case None => throw new graft.cypher.ParseException(
          s"WHERE references optional/unbound bindings: $b " +
            "(the single WHERE clause applies to the required pattern)")
      }
    }
    PatternGraph(mainLabels, mainEdges, nodeCmps, q.returns, q.distinct, orderByResolved,
      q.limit, q.skip, groups, edgeCmps, residual, extraSort.toSeq, q.namedPaths)
  }
}

/**
 * Logical operators (≙ reference LogicNode.scala:41-98). The tree shape IS
 * the execution order — the planner emits an already-ordered tree and the
 * executor compiles it 1:1 to DataFrame ops, letting Catalyst do pushdown /
 * pruning / physical join selection (SURVEY §7.3 ledger).
 */
sealed trait LogicNode {
  /** The binding at the "head" of the frontier this node produces. */
  def head: String
  /** All bindings carried as columns by this node's DataFrame. */
  def carried: Set[String]
}

/** Vertex scan with optional label (≙ GetNodes, LogicNode.scala:41-49). */
final case class GetNodes(binding: String, label: Option[String]) extends LogicNode {
  def head: String = binding
  def carried: Set[String] = Set(binding)
}

/**
 * Edge scan, matrix-valued operand of Expand (≙ GetEdges,
 * LogicNode.scala:51-56). `transpose` = walk against edge direction; in Spark
 * it dissolves into swapping which endpoint is the join key — matching how
 * the reference stores pre-flipped transpose matrices rather than computing
 * them (ConcurrentDirectedGraph.scala:146-148). `preds` are WHERE
 * edge-property predicates on this relationship — applied to the scan BEFORE
 * the endpoint swap/join, so Catalyst pushes them into the parquet read.
 */
final case class GetEdges(types: Seq[String], transpose: Boolean, undirected: Boolean = false,
                          minHops: Int = 1, maxHops: Int = 1,
                          preds: Seq[Ast.Cmp] = Seq.empty)

/**
 * One-hop traversal frontier × edges (≙ Expand, LogicNode.scala:59-65).
 * `toLabel` pushed into the edge side = the reference's
 * FilterExpandCommutative rewrite `(A·X)·B ⇒ A·(X·B)`
 * (optim/rules/trans/FilterExpandCommutative.scala:11-34): filter the edge
 * scan's dst by label *before* the expand join.
 */
final case class Expand(
    from: LogicNode,
    fromBinding: String,
    edges: GetEdges,
    to: String,
    toLabelPushed: Option[String],
    keep: Set[String]) extends LogicNode {
  require(from.carried(fromBinding),
    s"Expand from $fromBinding not carried by frontier ${from.carried}")
  def head: String = to
  def carried: Set[String] = keep
}

/** Constrain the head binding to a label (≙ Filter, LogicNode.scala:68-74). */
final case class Filter(frontier: LogicNode, label: String) extends LogicNode {
  def head: String = frontier.head
  def carried: Set[String] = frontier.carried
}

/** Property predicate on a carried binding (beyond the reference: WHERE). */
final case class PropFilter(frontier: LogicNode, pred: Ast.Cmp) extends LogicNode {
  def head: String = frontier.head
  def carried: Set[String] = frontier.carried
}

/**
 * Close a cycle: both endpoints already bound; keep rows where the edge
 * exists (reference has no cyclic support — Readme.md:6; this is the
 * left-semi analogue of its Diag/FilterMul combination).
 */
final case class EdgePredicate(frontier: LogicNode, edges: GetEdges, src: String, dst: String)
    extends LogicNode {
  def head: String = frontier.head
  def carried: Set[String] = frontier.carried
}

/** Merge two branches on a shared binding (≙ Join, LogicNode.scala:77-86). */
final case class Join(left: LogicNode, right: LogicNode, on: String, keep: Set[String])
    extends LogicNode {
  def head: String = on
  def carried: Set[String] = keep
}

/** Disconnected pattern components (no reference analogue; rejected there). */
final case class CartesianProduct(left: LogicNode, right: LogicNode, keep: Set[String])
    extends LogicNode {
  def head: String = left.head
  def carried: Set[String] = keep
}
