package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{Delta, GraphStats, PropertyGraph}
import graft.graph.Delta.freeze
import graft.cypher.{Ast, CypherParser, ParseException, WriteConflictException}
import graft.plans.{LogicNode, Pattern, Planner}
import graft.operators.PatternExec

/**
 * Cypher-over-Spark pipeline: parse → pattern graph → stats-ordered logical
 * plan → DataFrame (≙ reference GraphDB "parsing / optimising / evaluating",
 * g4s-matrix-graph/.../graph/GraphDB.scala:10-33).
 *
 * Stats are snapshotted once per GraphDB, mirroring the reference's
 * `withStats(_.copy)` snapshot-before-plan (GraphDB.scala:25).
 *
 * Every query form (pattern match, WITH chain, UNWIND source, UNION,
 * variable-length named path, shortestPath) and write (CREATE, MERGE, SET,
 * DELETE) compiles through one set of rules, each stated once:
 *  - ORDER BY / SKIP / LIMIT: `orderSkipLimit` (`queryTail` for a query's
 *    own modifiers)
 *  - the WITH-stage loop: `runStages`; per stage `projectStage` and
 *    `stagePipe`
 *  - the aggregate-function table: `aggregate`
 *  - node-property join-back: `joinNodeProps`
 *  - SET items (SET and MERGE's ON CREATE / ON MATCH SET): `checkSetItem`
 *    and `setColumn`
 *  - MERGE's `(src, dst, etype)` anti-join: `unstoredEdges`
 *  - the match of a write statement: `matchFrame`; the rows it adds or
 *    removes are materialized once by `Delta.freeze`
 *  - a write's version: its tables are `PropertyGraph.apply` of the
 *    write's [[graft.graph.Delta]], its stats `Delta.foldInto` the parent's
 * The AST walks live in [[graft.cypher.Ast]]: `children`/`collect` (one
 * walk behind `patAggs`, `patterns` and `fns`) and `Path.names`.
 */
object GraphDB {
  /** Session conf: refuse a `shortestPath` whose (pruned) seed set exceeds
    * this many sources — the guard on per-source-BFS state explosion at
    * scale. 0 disables the bound (and skips the count job). */
  val ShortestMaxSourcesKey = "spark.graft.shortest.maxSources"
  val DefaultShortestMaxSources = 1000000L
}

final class GraphDB private (val graph: PropertyGraph, parent: Option[(GraphDB, Delta)]) {

  /** A GraphDB over `graph`, whose stats are one full distributed count. */
  def this(graph: PropertyGraph) = this(graph, None)

  /** Computed on first plan. A GraphDB built directly on a graph counts its
    * tables; a version that [[execute]] derived folds its write's delta into
    * its parent's stats ([[Delta.foldInto]]), the reference's per-insert
    * StatsStore contract (ConcurrentDirectedGraph.scala:121-124,151-152)
    * without a graph scan. Either way they are exact for this version's
    * graph, and the parent keeps its own snapshot, so in-flight plans are
    * unaffected. */
  lazy val stats: GraphStats =
    parent.fold(graph.computeStats()) { case (p, d) => d.foldInto(p.stats, p.graph.nodes) }

  /** Bulk appends: a new GraphDB over this graph plus `rows` (missing
    * property columns null-fill), whose stats are a full recompute. */
  def addNodes(rows: DataFrame): GraphDB = new GraphDB(graph(Delta(addedNodes = Some(rows))))
  def addEdges(rows: DataFrame): GraphDB = new GraphDB(graph(Delta(addedEdges = Some(rows))))

  /** The version `d` derives from this one. */
  private def write(d: Delta): GraphDB = new GraphDB(graph(d), Some((this, d)))

  def execute(text: String): GraphDB = execute(text, Map.empty[String, Any])

  /** Cypher write surface, compiled to the batch mutation API (reference
    * insertVertex/insertEdge, ConcurrentDirectedGraph.scala:109-153; the
    * delete/update forms are beyond the reference, whose matrices only
    * grow). Always returns a NEW GraphDB — immutable mutation contract:
    * the receiver and its stats snapshot are untouched.
    *
    *  - `CREATE (n:L {props})[, …]` — literal nodes and edges between them
    *  - `MATCH … [WHERE …] CREATE (a)-[:T {props}]->(b)` — one edge per
    *    DISTINCT match (the engine's set semantics), fully distributed
    *  - `MERGE …` — both CREATE forms made idempotent: literal nodes check
    *    existence (label + given props), edges anti-join the existing
    *    (src, dst, etype) keys before the append
    *  - `MATCH … SET b.prop = expr (, …)` — distributed column rewrite of
    *    the node table (expr may read the binding's own properties)
    *  - `MATCH … [DETACH] DELETE x (, …)` — anti-join removal of matched
    *    relationships and/or nodes; a non-DETACH node delete that would
    *    orphan relationships is refused (openCypher)
    *
    * Scale posture: literal node creation is driver-sized BY CONSTRUCTION
    * (the statement enumerates the rows), so id allocation is one tiny
    * max(id) job — the Spark analogue of the reference's AtomicLong id
    * counter (DataStore.scala:44-49); an explicit `id` property skips the
    * job. Per-match-row NODE creation is rejected loudly (bulk loads go
    * through addNodes with a real DataFrame); every per-match-row write
    * (edges, SET, DELETE) is one distributed match → projected ids, frozen,
    * then joined or anti-joined against the stored tables.
    *
    * A version is its parent plus a frozen delta: `execute` runs the
    * write's match once, eagerly, and materializes what the write adds,
    * removes or rewrites (a [[graft.graph.Delta]], see [[Delta.freeze]]);
    * the new version's tables join or union the parent's tables with it,
    * so no later read replays an earlier write's match. A match error
    * therefore surfaces at `execute`, not at the first read. A delta too
    * large to broadcast is a local checkpoint, whose blocks live as long as
    * a version that references it is reachable; a small one holds no
    * cache. */
  def execute(text: String, params: Map[String, Any]): GraphDB = {
    val stmt = CypherParser.parseWrite(text, params)
    if (stmt.sets.nonEmpty) runSet(stmt)
    else if (stmt.deletes.nonEmpty) runDelete(stmt)
    else runCreate(stmt)
  }

  /** The match of a write statement projected to `items` (distinct). */
  private def matchFrame(stmt: Ast.WriteStmt, items: Seq[Ast.Ret]): DataFrame =
    runQuery(Ast.Query(stmt.matchPaths, Seq.empty, stmt.where, items,
      distinct = true, Seq.empty, None))

  /** The rows of `df` whose (src, dst, etype) key is not stored yet —
    * MERGE's idempotent edge append (re-running it appends nothing). The
    * stored keys are first narrowed to `df`'s by a semi-join, which
    * broadcasts a small `df`, so the anti-join does not shuffle the whole
    * edge table. */
  private def unstoredEdges(df: DataFrame): DataFrame = {
    val key = Seq("src", "dst", "etype")
    val stored = graph.edges.select(key.map(col): _*)
      .join(df.select(key.map(col): _*), key, "left_semi")
    df.join(stored, key, "left_anti")
  }

  /** The checks every SET item passes (SET and MERGE's ON CREATE/ON MATCH
    * SET): the core columns are immutable, and the value reads only the
    * target binding's own properties. */
  private def checkSetItem(s: Ast.SetItem, clause: String): Unit = {
    if (s.prop == "id" || s.prop == "label") throw new ParseException(
      s"$clause cannot change the core column ${s.prop}")
    Ast.Expr.refs(s.value).foreach { case (b, _) =>
      if (b != s.binding) throw new ParseException(
        s"$clause ${s.binding}.${s.prop}: the value may only read " +
          s"${s.binding}'s own properties (found $b)")
    }
  }

  /** SET's per-row column rewrite: rows where `hit` holds take the item's
    * value (cast to the stored type, looked up in `stored`), the others
    * keep theirs; a new column is null outside the hit rows. */
  private def setColumn(df: DataFrame, stored: org.apache.spark.sql.types.StructType,
                        s: Ast.SetItem, hit: Column): DataFrame = {
    val existing = stored.find(_.name == s.prop).map(_.dataType)
    val raw = operators.Preds.exprColumn(s.value,
      (_, pp) => if (pp.isEmpty) col("id") else col(pp))
    val v = existing.fold(raw)(t => raw.cast(t))
    df.withColumn(s.prop,
      if (existing.isDefined) when(hit, v).otherwise(col(s.prop)) else when(hit, v))
  }

  private def runCreate(stmt: Ast.WriteStmt): GraphDB = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val spark = graph.nodes.sparkSession
    val created = stmt.nodes.map(_.name)
    if (created.distinct.size != created.size)
      throw new ParseException("duplicate created binding in CREATE")
    val matchBound: Set[String] = stmt.matchPaths.flatMap(_.names).toSet
    stmt.edges.flatMap(e => Seq(e.src, e.dst)).foreach { b =>
      if (!created.contains(b) && !matchBound(b)) throw new ParseException(
        s"CREATE endpoint $b is neither a created node nor a match binding")
    }
    if (stmt.matchPaths.nonEmpty && stmt.nodes.nonEmpty)
      throw new ParseException(
        "per-match-row node creation is not supported (CREATE after MATCH " +
          "creates relationships; bulk-load nodes with addNodes)")
    def norm(v: Any): Any = v match { case i: Int => i.toLong; case x => x }
    def sparkType(v: Any): DataType = norm(v) match {
      case _: String  => StringType
      case _: Long    => LongType
      case _: Double  => DoubleType
      case _: Boolean => BooleanType
      case other => throw new ParseException(
        s"unsupported CREATE property value: $other")
    }
    /** Literal rows → DataFrame whose shared columns are cast to `alignTo`'s
      * types (a LONG literal destined for a DOUBLE property column must not
      * fail the unionByName). */
    def literalDf(fixed: Seq[(String, DataType)], rows: Seq[Seq[Any]],
                  props: Seq[Seq[(String, Any)]], alignTo: DataFrame): DataFrame = {
      val keys = props.flatMap(_.map(_._1)).distinct
      val keyType = keys.map(k =>
        k -> sparkType(props.flatMap(_.collectFirst { case (`k`, v) => v }).head)).toMap
      val schema = StructType(
        fixed.map { case (n, t) => StructField(n, t, nullable = false) } ++
          keys.map(k => StructField(k, keyType(k), nullable = true)))
      val data = rows.zip(props).map { case (fx, ps) =>
        val m = ps.map { case (k, v) => k -> norm(v) }.toMap
        Row.fromSeq(fx.map(norm) ++ keys.map(m.get(_).orNull))
      }
      import scala.jdk.CollectionConverters._
      var df = spark.createDataFrame(data.asJava, schema)
      val existing = alignTo.schema.map(f => f.name -> f.dataType).toMap
      keys.foreach { k =>
        existing.get(k).foreach(t => if (t != keyType(k)) df = df.withColumn(k, col(k).cast(t)))
      }
      df
    }
    var idOf = Map.empty[String, Long]
    var createdNodes = Seq.empty[Ast.CreateNode]
    var addedNodes = Option.empty[DataFrame]
    if (stmt.nodes.nonEmpty) {
      val explicitId: Ast.CreateNode => Option[Long] =
        n => n.props.collectFirst { case ("id", v: Long) => v; case ("id", v: Int) => v.toLong }
      // MERGE: a literal node that already exists (same label, every given
      // prop equal) binds its EXISTING id (edges may reference it) and is
      // not re-created. One tiny lookup per literal element — driver-sized
      // by construction.
      val knownCols = graph.nodes.schema.fieldNames.toSet
      val toCreate = stmt.nodes.filter { n =>
        if (!stmt.merge) true
        // a prop key the node table has never stored can match no existing
        // node — skip the lookup (filtering on the missing column would be
        // an AnalysisException) and take the create branch, consistent with
        // CREATE's unionByName(allowMissingColumns) handling of new columns
        else if (!n.props.forall { case (k, _) => knownCols(k) }) true
        else {
          val pred = n.props.foldLeft(col("label") === lit(n.label)) {
            case (p, (k, v)) => p && col(k) === lit(norm(v))
          }
          // lowest id wins when several stored nodes satisfy (label, props):
          // repeated runs must bind the same node (determinism contract)
          val hit = graph.nodes.filter(pred).select(col("id"))
            .orderBy(col("id")).limit(1).collect()
          if (hit.nonEmpty) { idOf += n.name -> hit(0).getLong(0); false } else true
        }
      }
      createdNodes = toCreate
      if (toCreate.nonEmpty) {
        val explicitIds = toCreate.flatMap(explicitId)
        if (explicitIds.distinct.size != explicitIds.size)
          throw new WriteConflictException(
            s"duplicate explicit id in CREATE: ${explicitIds.diff(explicitIds.distinct).head}")
        // an explicit id colliding with a stored node would silently corrupt
        // id-keyed joins — fail loudly (one tiny lookup, driver-sized input)
        if (explicitIds.nonEmpty) {
          val clash = graph.nodes.filter(col("id").isin(explicitIds: _*))
            .select(col("id")).orderBy(col("id")).limit(1).collect()
          if (clash.nonEmpty) throw new WriteConflictException(
            s"CREATE explicit id ${clash(0).getLong(0)} already exists in the node table")
        }
        var next =
          if (toCreate.forall(explicitId(_).isDefined)) 0L
          else {
            val r = graph.nodes.agg(max(col("id"))).collect()(0)
            (if (r.isNullAt(0)) -1L else r.getLong(0)) + 1L
          }
        // the allocator must never re-mint one of the statement's own
        // explicit ids: CREATE (a:L {id: 100}), (b:L) over max(stored) = 99
        // would otherwise assign 100 twice
        val taken = explicitIds.toSet
        val withIds = toCreate.map { n =>
          val id = explicitId(n).getOrElse {
            while (taken(next)) next += 1
            val v = next; next += 1; v
          }
          idOf += n.name -> id
          (id, n)
        }
        addedNodes = Some(literalDf(
          Seq("id" -> LongType, "label" -> StringType),
          withIds.map { case (id, n) => Seq[Any](id, n.label) },
          withIds.map(_._2.props.filterNot(_._1 == "id")), graph.nodes))
      }
    }
    val (matchEdges, literalEdges) = stmt.edges.partition(
      e => matchBound(e.src) || matchBound(e.dst))
    var addedEdges = Seq.empty[DataFrame]
    if (literalEdges.nonEmpty) {
      val df0 = literalDf(
        Seq("src" -> LongType, "dst" -> LongType, "etype" -> StringType),
        literalEdges.map(e => Seq[Any](idOf(e.src), idOf(e.dst), e.etype)),
        literalEdges.map(_.props), graph.edges)
      // MERGE: only the keys not already stored are appended (idempotent)
      addedEdges :+= (if (!stmt.merge) df0 else freeze(unstoredEdges(df0)))
    }
    if (matchEdges.nonEmpty) {
      val ends = matchEdges.flatMap(e => Seq(e.src, e.dst)).distinct
      val m = freeze(matchFrame(stmt, ends.map(Ast.Ret(_))))
      matchEdges.foreach { e =>
        val pairs0 = m.select(col(e.src).as("src"), col(e.dst).as("dst"), lit(e.etype).as("etype"))
        // m is DISTINCT over `ends`, so an edge that binds all of them
        // already has distinct pairs
        val pairs = if (Set(e.src, e.dst) == ends.toSet) pairs0 else pairs0.dropDuplicates()
        val withProps = e.props.foldLeft(pairs) { case (df, (k, v)) =>
          val t = graph.edges.schema.find(_.name == k).map(_.dataType)
          df.withColumn(k, t.fold(lit(norm(v)))(tt => lit(norm(v)).cast(tt)))
        }
        addedEdges :+= freeze(if (!stmt.merge) withProps else unstoredEdges(withProps))
      }
    }
    // MERGE upsert clauses: each merge node takes ON CREATE SET when it was
    // created THIS statement, ON MATCH SET when it already existed — the
    // standard upsert. Values compile through the same per-row rewrite as
    // SET (own-property expressions); labels/ids are immutable.
    var rewrite: DataFrame => DataFrame = identity
    if (stmt.onCreateSets.nonEmpty || stmt.onMatchSets.nonEmpty) {
      val createdNames = createdNodes.map(_.name).toSet
      def validate(items: Seq[Ast.SetItem], clause: String): Unit = items.foreach { s =>
        if (!stmt.nodes.exists(_.name == s.binding)) throw new ParseException(
          s"$clause targets ${s.binding}, which is not a merged node in this statement")
        checkSetItem(s, clause)
      }
      validate(stmt.onCreateSets, "ON CREATE SET")
      validate(stmt.onMatchSets, "ON MATCH SET")
      val applicable =
        stmt.onCreateSets.filter(s => createdNames(s.binding)) ++
          stmt.onMatchSets.filter(s => !createdNames(s.binding))
      val ids = idOf
      rewrite = nodes => applicable.foldLeft(nodes)((df, s) =>
        setColumn(df, df.schema, s, col("id") === ids(s.binding)))
    }
    write(Delta(addedNodes, addedEdges.reduceOption(_.unionByName(_, allowMissingColumns = true)),
      rewrite = rewrite))
  }

  /** `MATCH … SET b.prop = expr (, …)`: a distributed column rewrite —
    * the frozen matched ids left-join the node table, each SET prop becomes
    * `when(matched, value).otherwise(old)` (new columns null-fill outside
    * the match). The value expression may read the binding's OWN joined
    * property columns. The delta has no rows (labels and topology are
    * untouched), so the new version's stats are the receiver's. */
  private def runSet(stmt: Ast.WriteStmt): GraphDB = {
    stmt.sets.foreach(checkSetItem(_, "SET"))
    val bindings = stmt.sets.map(_.binding).distinct
    val m = freeze(matchFrame(stmt, bindings.map(Ast.Ret(_))))
    val idsOf = bindings.map { b =>
      // m is DISTINCT over all the bindings, so one binding's ids are
      // distinct by themselves only when it is the sole binding
      val ids0 = m.select(col(b).as("__set_id"))
      b -> (if (bindings.lengthIs == 1) ids0 else freeze(ids0.dropDuplicates()))
    }
    write(Delta(rewrite = nodes => idsOf.foldLeft(nodes) { case (nodesDf, (b, ids)) =>
      val stored = nodesDf.schema
      // REMOVE (SET to null) of an absent property is a no-op (openCypher)
      val items = stmt.sets.filter(s => s.binding == b &&
        !(s.value == Ast.ELit(null) && !stored.fieldNames.contains(s.prop)))
      items.foldLeft(nodesDf.join(ids, nodesDf("id") === ids("__set_id"), "left"))(
        (df, s) => setColumn(df, stored, s, col("__set_id").isNotNull)).drop("__set_id")
    }))
  }

  /** `MATCH … [DETACH] DELETE x (, …)`: distributed anti-join removal.
    * A relationship target removes the matched (src, dst, etype) keys in
    * the pattern's stored orientation (undirected matches remove both); a
    * node target removes the matched ids — refusing (openCypher) when
    * relationships would be orphaned unless DETACH, which removes the
    * incident edges too. The delta's frozen removed rows carry the
    * multiplicity the stats fold needs, so no stats path rescans the
    * parent's edge table. */
  private def runDelete(stmt: Ast.WriteStmt): GraphDB = {
    // relationship name → (srcBinding, relPat, dstBinding), walking each path
    val relInfo: Map[String, (Option[String], Ast.RelPat, Option[String])] =
      stmt.matchPaths.flatMap { p =>
        var prev = p.first
        p.hops.flatMap { case (rp, np) =>
          val entry = rp.name.map(n => n -> ((prev.name, rp, np.name)))
          prev = np
          entry
        }
      }.toMap
    val nodeNames: Set[String] = stmt.matchPaths.flatMap(_.names).toSet
    val (relTargets, rest) = stmt.deletes.distinct.partition(relInfo.contains)
    val nodeTargets = rest.filter(nodeNames)
    rest.filterNot(nodeNames).foreach(t => throw new ParseException(
      s"DELETE target $t is not a bound node or relationship"))
    relTargets.map(relInfo).foreach { case (s, rp, d) =>
      if (rp.hops.isDefined) throw new ParseException(
        "DELETE of a variable-length relationship is not supported")
      if (s.isEmpty || d.isEmpty) throw new ParseException(
        "DELETE relationship requires named endpoints")
    }
    // The match carries each deleted relationship's IDENTITY out of the
    // query (startNode/endNode/type — the physical (src, dst, etype) of the
    // edge that matched, via the render path's identity join-back), so the
    // removal keys are EXACTLY the matched edges after the FULL WHERE. A
    // reconstruction from matched endpoint pairs would have to re-apply the
    // relationship's predicates to the stored table, and a conjunct mixing
    // the relationship's props with other bindings (e.g. WHERE x.w = 5 OR
    // b.v = 1) cannot be re-applied per-edge — it would over-delete a
    // declared-type edge whose own match row failed the WHERE while another
    // edge matched the same pair.
    val relRets = relTargets.flatMap(r => Seq(
      Ast.Ret(r, agg = Some("startnode"), alias = Some(s"__del_${r}_s")),
      Ast.Ret(r, agg = Some("endnode"), alias = Some(s"__del_${r}_d")),
      Ast.Ret(r, agg = Some("type"), alias = Some(s"__del_${r}_t"))))
    // removal keys and ids feed only anti-joins and membership tests,
    // which ignore duplicates: no dedup of the frozen match
    val m = freeze(matchFrame(stmt, relRets ++ nodeTargets.map(Ast.Ret(_))))
    val key = Seq(col("src"), col("dst"), col("etype"))
    val keys = relTargets.map(r => m.select(col(s"__del_${r}_s").as("src"),
      col(s"__del_${r}_d").as("dst"), col(s"__del_${r}_t").as("etype"))).reduceOption(_.unionByName(_))
    val ids = nodeTargets.map(n => m.select(col(n).as("id"))).reduceOption(_.unionByName(_))
    val incident = ids.map(i => col("src").isin(i) || col("dst").isin(i))
    if (!stmt.detach) incident.foreach { inc =>
      val kept = keys.fold(graph.edges)(k => graph.edges.join(k, Seq("src", "dst", "etype"), "left_anti"))
      if (kept.where(inc).limit(1).count() > 0) throw new ParseException(
        "DELETE would orphan relationships — use DETACH DELETE")
    }
    // one scan of the edge table freezes the stored rows that go, each copy
    // once (a multigraph's doubled edge twice, an edge between two removed
    // nodes or a self-loop once): the matched relationships and, under
    // DETACH, every row incident to a removed node
    val gone = (keys.map(k => struct(key: _*).isin(k)) ++
      incident.filter(_ => stmt.detach)).reduceOption(_ || _)
    write(Delta(removedIds = ids,
      removedEdges = gone.map(p => freeze(graph.edges.select(key: _*).where(p)))))
  }

  def plan(cypher: String): LogicNode =
    Planner.plan(Pattern.fromQuery(CypherParser.parse(cypher)), stats)

  /**
   * Run a Cypher query; result has one BIGINT id column per returned binding.
   * Set semantics (reference Boolean-matrix ANY_PAIR) → DISTINCT on the
   * returned bindings, but the final duplicate elimination is SKIPPED when
   * the compiled plan already guarantees it (PatternExec set-semantics
   * tracking) — the plan's own projection-shrink dedup usually lands exactly
   * on the returned bindings, and paying a second full shuffle for an
   * already-distinct million-row result was round 1's top plan defect.
   *
   * Laziness: construction is plan-only for every query form EXCEPT
   * `shortestPath`, whose seed-set guard runs one eager count job up front
   * (see [[runShortest]]) — the count doubles as the BFS seed-cache warm.
   */
  def query(cypherText: String): DataFrame = query(cypherText, Map.empty[String, Any])

  /** Parameterized form: `$name` placeholders resolve from `params` at
    * parse time (literal positions only — comparisons, expressions,
    * property maps, IN/UNWIND lists), so a `ref op $param` conjunct keeps
    * its pushdown classification. Types: String, Int/Long, Float/Double,
    * Seq of those for lists. */
  def query(cypherText: String, params: Map[String, Any]): DataFrame = {
    val (qs, all) = CypherParser.parseUnion(cypherText, params)
    if (qs.lengthIs == 1) return runQuery(qs.head)
    // openCypher: a trailing ORDER BY/SKIP/LIMIT after the LAST branch
    // applies to the WHOLE union (in openCypher a branch cannot carry its
    // own ORDER BY, so the conformant reading is unambiguous); earlier
    // branches keep the per-branch extension (top-k-per-branch).
    val last = qs.last
    val branches = qs.init :+ last.copy(orderBy = Seq.empty, limit = None, skip = None)
    val dfs = branches.map(runQuery)
    // UNION branches must agree on the output schema BY NAME (openCypher);
    // unionByName resolves each branch's internal projection order, so the
    // check is name-SET equality, not positional
    val names0 = dfs.head.columns.toSet
    dfs.tail.foreach { d =>
      if (d.columns.toSet != names0) throw new ParseException(
        s"UNION branches must return the same columns: " +
          s"${dfs.head.columns.mkString(",")} vs ${d.columns.mkString(",")}")
    }
    val u = dfs.reduce(_.unionByName(_))
    // UNION dedups across branches (the query-surface eWiseAdd over set
    // semantics); UNION ALL keeps every branch row
    val merged = if (all) u else u.dropDuplicates()
    // the final modifiers resolve sort keys exactly like a branch RETURN
    // (pre-alias default name or alias)
    queryTail(merged, last, "over a UNION")
  }

  private def runQuery(q0: Ast.Query): DataFrame =
    expandVarlenNamedPath(q0).getOrElse {
      val q = substPathLengths(q0)
      q.shortest match {
        case Some(sp) => runShortest(sp, q)
        case None =>
          if (q.unwindLit.isDefined) runUnwindLit(q)
          else if (q.unwindRange.isDefined) runUnwindRange(q)
          else if (q.withClauses.nonEmpty) runWith(q)
          else run(Pattern.fromQuery(q))
      }
    }

  /** `length(p)` in a WHERE / expression position resolves to the named
    * path's CONSTANT hop count — for a varlen path per branch, since the
    * expansion recurses through here with each branch's rewritten
    * `namedPaths` (so `WHERE length(p) = 2` keeps exactly the 2-hop
    * branch: the other branches' filters fold to constant-false and
    * Catalyst prunes them to empty relations). Leftover length()
    * applications (unknown variable, a shortestPath variable, a non-path
    * argument) are rejected loudly; the bare ITEM form `RETURN length(p)`
    * takes the scalar-function path instead and is untouched. */
  private def substPathLengths(q: Ast.Query): Ast.Query = {
    val f: Ast.Expr => Ast.Expr = {
      case Ast.EFn("length", Seq(Ast.ERef(pv, _))) if q.namedPaths.contains(pv) =>
        Ast.ELit(q.namedPaths(pv)._2.size.toLong)
      case e => e
    }
    val q2 = q.copy(
      where = q.where.map(Ast.Pred.transformExprs(_)(f)),
      returns = q.returns.map(r => r.copy(expr = r.expr.map(Ast.Expr.transform(_)(f)))),
      withClauses = q.withClauses.map(w => w.copy(
        items = w.items.map(r => r.copy(expr = r.expr.map(Ast.Expr.transform(_)(f)))),
        where = w.where.map(Ast.Pred.transformExprs(_)(f)))))
    val leftover = (q2.where ++ q2.returns.flatMap(_.expr) ++
      q2.withClauses.flatMap(w => w.items.flatMap(_.expr) ++ w.where))
      .flatMap(Ast.fns).exists(_.name == "length")
    if (leftover) throw new ParseException(
      "length() in an expression takes a named path variable (MATCH p = …)")
    q2
  }

  /**
   * `MATCH p = (a)-[:T*lo..hi]->(b)` — a BOUNDED variable-length hop inside
   * a named path enumerates paths, not endpoint pairs (the bare varlen
   * Expand's walk semantics bind pairs and are kept for unnamed patterns).
   * Expansion: one fixed-length branch per length L in [lo, hi], the hop
   * unrolled into L single-hop relationships over fresh intermediate
   * bindings, `namedPaths` rewritten so nodes(p)/relationships(p)/length(p)
   * render per branch; branches union (set semantics — one row per distinct
   * path) and the final ORDER BY/SKIP/LIMIT apply post-union, exactly like
   * a UNION query. hi − lo + 1 branches of an already-planned shape — the
   * plan grows linearly with the bound, never with the data.
   *
   * @return None when the query has no varlen hop inside a named path
   */
  private def expandVarlenNamedPath(q: Ast.Query): Option[DataFrame] = {
    if (q.namedPaths.isEmpty) return None
    val pathRels: Set[String] = q.namedPaths.values.flatMap(_._2).toSet
    val varlenHops = q.paths.flatMap(_.hops).collect {
      case (r, _) if r.hops.isDefined && r.name.exists(pathRels) => r
    }
    if (varlenHops.isEmpty) return None
    if (varlenHops.sizeIs > 1) throw new ParseException(
      "at most one variable-length hop per named path query is supported")
    if (q.withClauses.nonEmpty) throw new ParseException(
      "a variable-length named path does not compose with WITH " +
        "(aggregate per fixed length or drop the path variable)")
    if (q.returns.exists(r => r.agg.exists(a => !plans.Pattern.ScalarFns(a))))
      throw new ParseException(
        "aggregates over a variable-length named path are not supported " +
          "(each length is a separate branch; aggregate over a fixed-length path)")
    val vr = varlenHops.head
    val relName = vr.name.get
    val (lo, hi) = vr.hops.get
    // allShortestPaths(p): the expansion additionally carries the declared
    // path's endpoint bindings + the branch length, and keeps per (src,
    // dst) pair only the minimum-length branches — every minimal path
    val ownerPv = q.namedPaths.find(_._2._2.contains(relName)).map(_._1)
    val isAllShortest = ownerPv.exists(q.allShortest)
    val (aspSrc, aspDst) = ownerPv.map { pv =>
      val ns = q.namedPaths(pv)._1; (ns.head, ns.last)
    }.getOrElse(("", ""))
    val extraItems =
      if (!isAllShortest) Seq.empty
      else Seq(Ast.Ret(aspSrc, alias = Some("__asp_src")),
        Ast.Ret(aspDst, alias = Some("__asp_dst")))
    val branches = (lo to hi).map { len =>
      val midName = (k: Int) => s"__vp_${relName}_${len}_$k"
      val relNameAt = (k: Int) => s"__vr_${relName}_${len}_$k"
      val newPaths = q.paths.map { p =>
        val idx = p.hops.indexWhere(_._1.name.contains(relName))
        if (idx < 0) p
        else {
          val (_, endNode) = p.hops(idx)
          val mids = (1 until len).map(k => Ast.NodePat(Some(midName(k)), None))
          val rels = (1 to len).map(k => vr.copy(hops = None, name = Some(relNameAt(k))))
          val newHops = rels.zip(mids :+ endNode)
          Ast.Path(p.first, p.hops.take(idx) ++ newHops ++ p.hops.drop(idx + 1))
        }
      }
      val np = q.namedPaths.map { case (pv, (ns, rs)) =>
        val ri = rs.indexOf(relName)
        if (ri < 0) pv -> ((ns, rs))
        else pv -> ((
          ns.take(ri + 1) ++ (1 until len).map(midName) ++ ns.drop(ri + 1),
          rs.take(ri) ++ (1 to len).map(relNameAt) ++ rs.drop(ri + 1)))
      }
      (q.copy(paths = newPaths, namedPaths = np, returns = q.returns ++ extraItems,
        orderBy = Seq.empty, limit = None, skip = None), len)
    }
    val dfs = branches.map { case (bq, len) =>
      val df = runQuery(bq)
      if (isAllShortest) df.withColumn("__asp_len", lit(len)) else df
    }
    // distinct paths across branches can never collide (their lengths
    // differ), but endpoint-only projections can — set semantics dedups
    val u0 = dfs.reduce(_.unionByName(_)).dropDuplicates()
    val u =
      if (!isAllShortest) u0
      else {
        // per-pair minimum over the union: one endpoint-keyed window —
        // state O(pairs × branch count), no join back
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__asp_src", "__asp_dst")
        u0.withColumn("__asp_min", min(col("__asp_len")).over(w))
          .filter(col("__asp_len") === col("__asp_min"))
          .drop("__asp_len", "__asp_min", "__asp_src", "__asp_dst")
          .dropDuplicates()
      }
    Some(queryTail(u, q, "over a variable-length named path"))
  }

  /**
   * `MATCH … WITH <items> [WHERE …] (WITH …)* RETURN …`: the FIRST stage
   * runs the match with its WITH items as the projection (full pushdown /
   * residual WHERE machinery applies before the pipe); each stage's WHERE
   * then filters that stage's OUTPUT rows (post-aggregation — SQL's HAVING
   * — referencing items by output name); every LATER stage (and the final
   * RETURN) projects or re-aggregates the previous stage's bare columns.
   * Post-WITH rows are plain rows, so a later `count(x)` counts rows
   * (openCypher), not the pre-WITH distinct-match semantics. The whole
   * chain stays one declarative plan — Catalyst sees N chained
   * project/aggregate/filter blocks, no materialization between stages.
   */
  private def runWith(q: Ast.Query): DataFrame = {
    val first = q.withClauses.head
    val stage1 = run(Pattern.fromQuery(q.copy(returns = first.items, distinct = first.distinct,
      orderBy = Seq.empty, limit = None, skip = None, withClauses = Seq.empty)))
    runStages(stage1, first.items.map(_.outName), q, firstProjected = true)
  }

  /** `UNWIND [lit, …] AS x (WITH …)* RETURN …`: a literal-list row source —
    * one explode over a single driver-side row, then the same bare-column
    * pipeline a WITH chain runs. Lists come back out via collect(); UNWIND
    * is its inverse (openCypher). */
  private def runUnwindLit(q: Ast.Query): DataFrame = {
    val (vals, alias) = q.unwindLit.get
    val spark = graph.nodes.sparkSession
    // array() picks the least common type (long+double → double); the
    // parser already rejected string/number mixes
    val src = spark.range(1).select(explode(array(vals.map(lit): _*)).as(alias))
    runStages(src, Seq(alias), q, firstProjected = false)
  }

  /** `UNWIND range(start, end[, step]) AS x (WITH …)* RETURN …`: the
    * DISTRIBUTED numeric row source — spark.range partitions the interval
    * across executors, so `range(1, 10^9)` never materializes a driver-side
    * list (the literal-list form would). Bounds inclusive (openCypher);
    * an empty interval yields no rows. */
  private def runUnwindRange(q: Ast.Query): DataFrame = {
    val (start, end, step, alias) = q.unwindRange.get
    val spark = graph.nodes.sparkSession
    // spark.range is end-EXCLUSIVE; openCypher range() is end-inclusive.
    // A bound pointing away from `end` yields the empty range (openCypher).
    // The ±1 below would overflow at Long.MaxValue/MinValue and silently
    // produce an empty/inverted interval — reject those bounds loudly.
    if ((step > 0 && end == Long.MaxValue) || (step < 0 && end == Long.MinValue))
      throw new ParseException(
        s"range() end bound $end would overflow the inclusive-bound shift " +
          "(Long.MaxValue/MinValue ends are not supported)")
    val stop = if (step > 0) end + 1 else end - 1
    val empty = (step > 0 && start > end) || (step < 0 && start < end)
    val src =
      if (empty) spark.range(0).select(col("id").as(alias))
      else spark.range(start, stop, step).select(col("id").as(alias))
    runStages(src, Seq(alias), q, firstProjected = false)
  }

  /** The bare-column pipeline after a row source (a MATCH … WITH first
    * stage, an UNWIND list or range): each WITH stage projects or
    * re-aggregates the previous stage's columns ([[projectStage]]), filters
    * and bounds its output ([[stagePipe]]) and UNWINDs; then the final
    * RETURN over the last stage's columns and the query tail. A MATCH
    * source has already projected its first stage's items through the
    * match compiler (`firstProjected`). */
  private def runStages(src: DataFrame, srcCols: Seq[String], q: Ast.Query,
                        firstProjected: Boolean): DataFrame = {
    val (piped, cols) = q.withClauses.zipWithIndex.foldLeft((src, srcCols)) {
      case ((df, cols), (w, ix)) =>
        val out = w.items.map(_.outName)
        val projected =
          if (ix == 0 && firstProjected) df
          else projectStage(df, cols, w.items, w.distinct, "WITH")
        val staged = stagePipe(projected, out, w)
        w.unwind.fold((staged, out)) { case (arr, al) =>
          (staged.withColumn(al, explode(col(arr))), out :+ al)
        }
    }
    queryTail(projectStage(piped, cols, q.returns, q.distinct, "RETURN"), q,
      "over a WITH/UNWIND pipeline")
  }

  // HAVING-style filter over a stage's output columns (bare names only)
  private def havingFilter(df: DataFrame, cols: Seq[String],
                           where: Seq[Ast.Pred]): DataFrame = {
    val colSet = cols.toSet
    where.foreach { p =>
      if (Ast.patterns(p).nonEmpty) throw new ParseException(
        "pattern predicates are not supported in WITH … WHERE " +
          "(apply them in the MATCH WHERE, before the pipeline)")
      if (Ast.patAggs(p).nonEmpty) throw new ParseException(
        "pattern expressions (size(pattern) / pattern comprehensions) are " +
          "MATCH-stage only — compute them in the first WITH items or the MATCH WHERE")
    }
    where.flatMap(Ast.Pred.refs(_)).foreach { case (b, p) =>
      if (p.nonEmpty) throw new ParseException(
        s"WITH … WHERE refers to output columns by bare name; $b.$p is not visible after WITH")
      if (!colSet(b)) throw new ParseException(
        s"WITH … WHERE references $b, not among the WITH items: ${cols.mkString(",")}")
    }
    where.foldLeft(df)((acc, p) =>
      acc.filter(operators.Preds.column(p, (b, _) => col(b))))
  }

  // project or re-aggregate a stage's bare columns (WITH stages ≥ 2 and
  // the final RETURN share this scope rule)
  private def projectStage(df: DataFrame, cols: Seq[String], items: Seq[Ast.Ret],
                           distinct: Boolean, stage: String): DataFrame = {
    val colSet = cols.toSet
    items.foreach { r =>
      r.expr match {
        case Some(e) =>
          if (Ast.patAggs(e).nonEmpty) throw new ParseException(
            "pattern expressions (size(pattern) / pattern comprehensions) are " +
              "MATCH-stage only — compute them in the first WITH items " +
              s"(not in $stage over the pipeline)")
          Ast.Expr.refs(e).foreach { case (b, p) =>
            if (p.nonEmpty) throw new ParseException(
              s"$b.$p: property access is not available after WITH " +
                "(project the property in the WITH items instead)")
            if (!colSet(b)) throw new ParseException(
              s"$stage references $b, not among the WITH items: ${cols.mkString(",")}")
          }
        case None =>
          if (r.prop.isDefined) throw new ParseException(
            s"${r.binding}.${r.prop.get}: property access is not available after WITH " +
              "(project the property in the WITH items instead)")
          // "*" is count(*)'s pseudo-binding (parser only emits it under count)
          if (r.binding != "*" && !colSet(r.binding)) throw new ParseException(
            s"$stage references ${r.binding}, not among the WITH items: ${cols.mkString(",")}")
      }
    }
    // value functions and general expressions are per-row scalars over the
    // stage's bare columns — grouping keys, not aggregates (same split as
    // Pattern.ScalarFns)
    def bareValue(i: Ast.Ret): Column = i.expr match {
      case Some(e) => operators.Preds.exprColumn(e, (b, _) => col(b))
      case None => i.agg match {
        // openCypher size() covers both strings and lists; the stage's
        // schema is known here, so a collect()ed array column counts its
        // elements instead of erroring on length()
        case Some("size") if df.schema.fields.exists(f =>
            f.name == i.binding &&
              f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) =>
          size(col(i.binding)).cast("long")
        case Some(f) if operators.Preds.valueFn.contains(f) =>
          operators.Preds.valueFn(f)(col(i.binding))
        case _ => col(i.binding)
      }
    }
    val aggItems = items.filter(i =>
      i.agg.exists(a => !operators.Preds.valueFn.contains(a)))
    val groupItems = items.filterNot(aggItems.contains)
    val projected =
      if (aggItems.isEmpty) df.select(items.map(i => bareValue(i).as(i.outName)): _*)
      else {
        // the aggregate's argument: a bare stage column, or a general
        // expression over stage columns (`sum(a * b)`)
        val aggs = aggItems.map(i => aggregate(i, i.expr.fold(col(i.binding))(e =>
          operators.Preds.exprColumn(e, (b, _) => col(b))), overMatch = false))
        if (groupItems.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(groupItems.map(i => bareValue(i).as(i.outName)): _*)
          .agg(aggs.head, aggs.tail: _*)
      }
    if (distinct && aggItems.isEmpty) projected.dropDuplicates() else projected
  }

  // WHERE and the stage's ORDER BY/SKIP/LIMIT (openCypher
  // top-k-then-continue; sort keys resolve like RETURN's) apply in the
  // textual order the stage wrote them: WHERE-first filters before the
  // top-k, openCypher's trailing WHERE filters the top-k result
  private def stagePipe(df: DataFrame, cols: Seq[String], w: Ast.WithClause): DataFrame = {
    def mods(d: DataFrame) = orderSkipLimit(d, w.orderBy, w.skip, w.limit,
      Ast.Ret.sortKeyMap(w.items).get, "in a WITH stage")
    if (w.whereAfterMods) havingFilter(mods(df), cols, w.where)
    else mods(havingFilter(df, cols, w.where))
  }

  /** The aggregate-function table of every RETURN and WITH position; `arg`
    * is the item's per-row value. Only count differs by position: over a
    * match it counts DISTINCT matches (set semantics); after WITH rows are
    * plain rows, so it counts rows (`*`) or values (DISTINCT on request —
    * the parser admits DISTINCT aggregates only after WITH). */
  private def aggregate(i: Ast.Ret, arg: => Column, overMatch: Boolean): Column =
    (i.agg.get match {
      case "count" =>
        if (overMatch) countDistinct(col(i.binding))
        else if (i.binding == "*") count(lit(1))
        else if (i.aggDistinct) countDistinct(col(i.binding))
        else count(col(i.binding))
      case "sum" => if (i.aggDistinct) sum_distinct(arg) else sum(arg)
      // DISTINCT is a no-op under min/max; avg needs the SQL form
      case "min" => min(arg)
      case "max" => max(arg)
      case "avg" => if (i.aggDistinct) expr(s"avg(DISTINCT `${i.binding}`)") else avg(arg)
      // sorted array = deterministic rendering of the collection;
      // DISTINCT folds to the value set first
      case "collect" => sort_array(if (i.aggDistinct) collect_set(arg) else collect_list(arg))
      case "stdev"  => stddev_samp(arg)
      case "stdevp" => stddev_pop(arg)
      // exact linear-interpolated percentile (openCypher CONT); DISC returns
      // an actual element — percentile_approx at max accuracy is the exact
      // discrete sketch
      case "percentilecont" => percentile(arg, lit(i.aggParam.get))
      case "percentiledisc" => percentile_approx(arg, lit(i.aggParam.get), lit(Int.MaxValue))
      case other => throw new ParseException(
        s"$other() is not supported ${if (overMatch) "in this position" else "after WITH"}")
    }).as(i.outName)

  /** The query tail every form ends in: ORDER BY over output columns (a
    * TakeOrderedAndProject when LIMIT follows, so the sort never
    * materializes globally), then SKIP (Cypher's OFFSET: Spark plans
    * offset + limit together as one global take), then LIMIT. `keyToOut`
    * resolves a sort key to its output column; an unknown key is a
    * ParseException naming the query `form`, not a Spark unresolved-column
    * error. */
  private def orderSkipLimit(df: DataFrame, orderBy: Seq[Ast.SortKey], skip: Option[Int],
                             limit: Option[Int], keyToOut: String => Option[String],
                             form: String): DataFrame = {
    val unknown = orderBy.filter(k => keyToOut(k.binding).isEmpty)
    if (unknown.nonEmpty) throw new ParseException(
      s"ORDER BY $form references non-returned columns: ${unknown.map(_.binding).mkString(",")}" +
        (if (unknown.exists(_.parts.isDefined))
           s" (non-returned sort properties are not supported $form)" else ""))
    val ordered =
      if (orderBy.isEmpty) df
      else df.orderBy(orderBy.map { k =>
        val c = col(keyToOut(k.binding).get); if (k.asc) c.asc else c.desc
      }: _*)
    val skipped = skip.fold(ordered)(ordered.offset)
    limit.fold(skipped)(skipped.limit)
  }

  /** [[orderSkipLimit]] with the query's own modifiers; sort keys resolve
    * like any RETURN ([[Ast.Ret.sortKeyMap]]: output name or pre-alias
    * default). */
  private def queryTail(df: DataFrame, q: Ast.Query, form: String): DataFrame =
    orderSkipLimit(df, q.orderBy, q.skip, q.limit, Ast.Ret.sortKeyMap(q.returns).get, form)

  /** Joins each binding's node properties `ps` back on its id column, as
    * `<binding>_<prop>` columns (left join: ids always resolve — the
    * PropertyGraph invariant — but partial node tables stay safe). */
  private def joinNodeProps(df: DataFrame, props: Iterable[(String, Seq[String])]): DataFrame =
    props.foldLeft(df) { case (acc, (b, ps)) =>
      acc.join(graph.nodes.select((col("id").as(b) +: ps.map(p => col(p).as(s"${b}_$p"))): _*),
        Seq(b), "left")
    }

  /**
   * `MATCH p = shortestPath((a)-[:T*]->(b))`: per endpoint pair, the
   * minimum path length over the typed edges — compiled to a per-source
   * BFS ([[graft.algorithms.Algorithms.bfsPerSource]]) instead of the
   * pattern planner: BFS converges level by level, so the unbounded `*`
   * that the varlen Expand must reject is exactly what it handles, and the
   * level it first reaches a vertex at IS the shortest length (no min-agg
   * over an unrolled walk table). RETURN supports the endpoint bindings,
   * their properties, and `length(p)`.
   *
   * SOURCE-SET BOUND: per-source BFS state is O(|sources| × reachability) —
   * an unselective source label on a 100×-scale graph is a state explosion
   * no partitioning fixes. The seed set (after the out-edge semi-join
   * prune) is therefore counted up front and the query REFUSES loudly past
   * [[GraphDB.ShortestMaxSourcesKey]] (default 1,000,000) instead of
   * grinding the cluster down: narrow the source label, or raise/disable
   * the conf (0 = unbounded) when the state budget is a deliberate choice.
   * The count is one node-scan + semi-join job — noise next to the BFS it
   * guards, and the landmark estimator ([[graft.algorithms.Algorithms
   * .harmonicLandmark]]) is the sampled alternative when all-sources
   * distances were the goal.
   */
  private def runShortest(sp: Ast.Shortest, q: Ast.Query): DataFrame = {
    val srcName = sp.src.name.getOrElse("__src")
    val dstName = sp.dst.name.getOrElse("__dst")
    val lenName = s"length_${sp.pathVar}"
    q.returns.foreach { r =>
      if (r.expr.isDefined) throw new ParseException(
        "value expressions are not supported with shortestPath")
      r.agg match {
        case Some("length") =>
          if (r.binding != sp.pathVar) throw new ParseException(
            s"length(${r.binding}): unknown path variable (expected ${sp.pathVar})")
        case Some(a) => throw new ParseException(
          s"$a() is not supported with shortestPath")
        case None =>
          if (r.binding != srcName && r.binding != dstName)
            throw new ParseException(
              s"unknown binding ${r.binding} in shortestPath RETURN")
      }
    }
    val base = graph.edgesByType(sp.rel.types).select(col("src"), col("dst"))
    val e = sp.rel.dir match {
      case Ast.Out  => base
      case Ast.In   => base.select(col("dst").as("src"), col("src").as("dst"))
      case Ast.Both => base.unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
    }
    // only sources with a qualifying out-edge can ever reach anything at
    // level ≥ 1 — the semi-join prunes the level-0 seed state the BFS
    // carries through every round (an unlabeled source pattern otherwise
    // seeds EVERY node: 186k seeds for 16k movers at sf0.1)
    // persisted so the guard's count materializes the seed set ONCE and the
    // BFS below reuses it instead of re-running the node⋉edge semi-join
    // (r6 shipped this uncached: cy_shortest paid the semi-join twice, 3.3×);
    // released by the releaseOnFirstAction hook on the returned result
    val srcIds = sp.src.label.fold(graph.nodes)(graph.nodesByLabel).select(col("id"))
      .join(e.select(col("src").as("id")), Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = graph.nodes.sparkSession
    val maxSources = spark.conf.getOption(GraphDB.ShortestMaxSourcesKey)
      .map(v => try v.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"${GraphDB.ShortestMaxSourcesKey} must be a long, got '$v'") })
      .getOrElse(GraphDB.DefaultShortestMaxSources)
    if (maxSources > 0) {
      val nSrc = srcIds.count()
      if (nSrc > maxSources) {
        srcIds.unpersist(blocking = false)
        throw new IllegalStateException(
          s"shortestPath seeds $nSrc sources (label ${sp.src.label.getOrElse("<any>")}); " +
            s"per-source BFS state is O(sources × reachability) and the configured bound is " +
            s"$maxSources (${GraphDB.ShortestMaxSourcesKey}; 0 disables). Narrow the source " +
            "label, or raise the bound if this state budget is deliberate.")
      }
    }
    val dstIds = sp.dst.label.fold(graph.nodes)(graph.nodesByLabel).select(col("id"))
    val (lo, hi) = sp.rel.hops.getOrElse((1, 1))
    val matches = graft.algorithms.Algorithms.bfsPerSource(e, srcIds)
      .filter(col("level") >= lo && col("level") <= hi) // drops the level-0 seeds
      .join(dstIds, Seq("id"), "left_semi")
      .select(col("src").as(srcName), col("id").as(dstName),
        col("level").cast("long").as(lenName))
    val propsNeeded = q.returns.filter(r => r.agg.isEmpty && r.prop.isDefined)
      .groupBy(_.binding).view.mapValues(_.flatMap(_.prop).distinct).toMap
    val withProps = joinNodeProps(matches, propsNeeded)
    def valueOf(i: Ast.Ret): Column =
      if (i.agg.contains("length")) col(lenName)
      else i.prop.fold(col(i.binding))(p => col(s"${i.binding}_$p"))
    val projected = withProps.select(q.returns.map(i => valueOf(i).as(i.outName)): _*)
    val distincted = if (q.distinct) projected.dropDuplicates() else projected
    val result = queryTail(distincted, q, "over shortestPath")
    // first action on the result releases the seed cache (bfsPerSource has
    // already consumed it eagerly; the lineage of shallow BFS runs — fewer
    // iterations than the Cutter's checkpoint stride — may still read it)
    graft.util.CacheLifecycle.releaseOnFirstAction(result, srcIds)
  }

  private def run(pg0: Pattern.PatternGraph): DataFrame = {
    // pattern-valued expressions (size(pattern) / pattern comprehensions):
    // each DISTINCT one compiles as its own grouped sub-match (below,
    // patAggFrame) joined back on its anchor bindings; here the expression
    // trees are rewritten to read the joined column (a bare __paggN ref),
    // so every downstream compile stage sees ordinary references
    val patAggList =
      (pg0.items.flatMap(_.expr) ++ pg0.residual).flatMap(Ast.patAggs).distinct
    val patAggCol = patAggList.zipWithIndex
      .map { case (pa, ix) => pa -> s"__pagg$ix" }.toMap
    val patAggRewrite: Ast.Expr => Ast.Expr = {
      case pa: Ast.EPatAgg => Ast.ERef(patAggCol(pa), None)
      case other => other
    }
    val pg =
      if (patAggList.isEmpty) pg0
      else pg0.copy(
        items = pg0.items.map(i =>
          i.copy(expr = i.expr.map(Ast.Expr.transform(_)(patAggRewrite)))),
        residual = pg0.residual.map(Ast.Pred.transformExprs(_)(patAggRewrite)))
    // item-side pattern aggs anchor the RESULT granularity (they behave
    // like a property read of their anchors), so those anchors join
    // baseNeeded — the dedup keys — not just the carry set
    val itemPatAggAnchors = pg0.items.flatMap(_.expr).flatMap(Ast.patAggs)
      .flatMap(_.pat.path.names.distinct.filter(pg0.bindings))
    // the required pattern must carry everything the result needs from it,
    // plus every optional group's join keys, plus the bindings the residual
    // WHERE predicates read (possibly beyond the returned set). A residual
    // ref to a RELATIONSHIP variable carries the edge's two endpoint
    // bindings instead — the property value joins back on that pair.
    // path functions read through the path's member bindings: nodes(p)
    // carries every node binding on the path, relationships(p) every
    // relationship's identity columns (length(p) is a constant)
    val pathNodeNeeds = pg.items.filter(_.agg.contains("nodes"))
      .flatMap(i => pg.namedPaths.get(i.binding).toSeq.flatMap(_._1)).distinct
    val pathRelNames = pg.items.filter(_.agg.contains("relationships"))
      .flatMap(i => pg.namedPaths.get(i.binding).toSeq.flatMap(_._2)).distinct
    val baseNeeded =
      (pg.referenced.filter(pg.bindings) ++ pg.optional.flatMap(_.shared) ++
        pathNodeNeeds ++ itemPatAggAnchors).distinct
    val edgeByName = pg.edges.flatMap(e => e.name.map(_ -> e)).toMap
    // expression items read (binding, prop) pairs — node refs join like
    // item properties, edge refs like residual edge refs; bare refs (prop
    // "") resolve to the binding's id column, already carried
    val exprRefs = pg.items.flatMap(_.expr.toSeq.flatMap(Ast.Expr.refs)).distinct
    val (exprEdgeRefs, exprNodeRefs) = exprRefs.partition(r => edgeByName.contains(r._1))
    // RETURN r.prop / agg(r.prop) on a single-hop relationship variable:
    // rendered by the same endpoint-pair join-back as residual edge refs
    val itemEdgeRefs = (pg.items.filter(i => i.prop.isDefined && edgeByName.contains(i.binding))
      .map(i => i.binding -> i.prop.get) ++ exprEdgeRefs.filter(_._2.nonEmpty)).distinct
    // keys(b) bindings from every position: bare item form, expression
    // items, residual predicates. Node bindings join ALL node property
    // columns back (the present-key list reads their null-ness); a
    // RELATIONSHIP binding does the same over the edge table's property
    // columns via the identity join-back below.
    val allKeysBindings =
      (pg.items.filter(_.agg.contains("keys")).map(_.binding) ++
        (pg.items.flatMap(_.expr) ++ pg.residual).flatMap(Ast.fns)
          .collect { case Ast.EFn("keys", Seq(Ast.ERef(b, _))) => b }).distinct
    val keysEdgeNames = allKeysBindings.filter(edgeByName.contains)
    // type(r)/startNode(r)/endNode(r)/keys(r) project the matched
    // relationship's identity (and, for keys, property) columns — same
    // identity join-back; the dedup below keys on which edge matched
    val typeRefNames = (pg.items
      .filter(_.agg.exists(Set("type", "startnode", "endnode")))
      .map(_.binding) ++ pathRelNames ++ keysEdgeNames).distinct
    val resRefs = pg.residual.flatMap(Ast.Pred.refs(_)).distinct
    val (resEdgeRefs, resNodeRefs) = resRefs.partition(r => edgeByName.contains(r._1))
    val edgeRefNames =
      (resEdgeRefs.map(_._1) ++ itemEdgeRefs.map(_._1) ++ typeRefNames).distinct
    // pattern predicates anchor on main-pattern bindings — carried through
    // the match so the semi/anti/flag joins below have their key columns
    val patPreds = pg.residual.flatMap(Ast.patterns).distinct
    def patAnchors(pp: Ast.PatPred): Seq[String] = pp.path.names.distinct.filter(pg.bindings)
    // __paggN refs resolve to columns JOINED below, never to match
    // bindings; their sub-patterns' anchor bindings must be carried instead
    val resBindings = (resNodeRefs.map(_._1).filterNot(patAggCol.valuesIterator.toSet) ++
      edgeRefNames.map(edgeByName).flatMap(e => Seq(e.src, e.dst)) ++
      patPreds.flatMap(patAnchors) ++
      patAggList.flatMap(pa => patAnchors(pa.pat))).distinct
    val mainNeeded = (baseNeeded ++ resBindings).distinct
    val mainPg = pg.copy(items = mainNeeded.map(b => Ast.Ret(b)),
      optional = Seq.empty, distinct = false, orderBy = Seq.empty, limit = None,
      skip = None, residual = Seq.empty)
    val root = Planner.plan(mainPg, stats)
    val c = PatternExec.compileTracked(root, graph)
    val projected = c.df.select(mainNeeded.map(col): _*)
    val mainMatches =
      if (c.distinct && mainNeeded.toSet == root.carried) projected
      else projected.dropDuplicates()
    // OPTIONAL MATCH: each group plans + compiles as its own pattern
    // (stats-ordered like the main one), dedups to its distinct matches,
    // and LEFT-joins on the shared bindings — unmatched rows keep nulls,
    // multiple optional matches fan the row out (one row per distinct
    // combined match, the same set semantics as the required part)
    val matches = pg.optional.foldLeft(mainMatches) { (acc, g) =>
      val fragNeeded =
        (g.shared ++ pg.referenced.filter(b => g.bindings(b) && !pg.bindings(b))).distinct
      val fragPg = Pattern.PatternGraph(g.labels, g.edges, g.preds,
        fragNeeded.map(b => Ast.Ret(b)), distinct = false, Seq.empty, None,
        edgePredicates = g.edgePreds)
      val fr = Planner.plan(fragPg, stats)
      val fc = PatternExec.compileTracked(fr, graph)
      val fproj = fc.df.select(fragNeeded.map(col): _*)
      val fded =
        if (fc.distinct && fragNeeded.toSet == fr.carried) fproj
        else fproj.dropDuplicates()
      acc.join(fded, g.shared, "left")
    }
    // property access: one broadcast-friendly join per binding that needs
    // values — for RETURN items AND residual WHERE predicates — AFTER the
    // set-semantics dedup so each distinct match contributes its property
    // exactly once (left join: ids always resolve — PropertyGraph invariant
    // — but stay robust to partial node tables)
    // labels(n) renders the node's `label` column (single-label model) —
    // it rides the same property join-back as any node property
    val labelsRefs = pg.items.filter(_.agg.contains("labels"))
      .map(i => i.binding -> "label")
    // keys(n) needs EVERY property column of the node joined back (the
    // present-key list is computed per row from their null-ness) — both the
    // bare item form (Ret.agg) and the expression form (EFn("keys", …)
    // inside an item expression or a residual predicate)
    val nodePropCols = graph.nodes.columns.toSeq.filter(c => c != "id" && c != "label").sorted
    val edgePropCols = graph.edges.columns.toSeq
      .filterNot(Set("src", "dst", "etype")).sorted
    val keysRefs = allKeysBindings.filterNot(edgeByName.contains)
      .flatMap(b => nodePropCols.map(b -> _))
    val itemProps = pg.items
      .filter(i => i.prop.isDefined && !edgeByName.contains(i.binding))
      .map(i => i.binding -> i.prop.get) ++ exprNodeRefs.filter(_._2.nonEmpty) ++
      labelsRefs ++ keysRefs
    // bare refs (prop "") are id columns, not property joins
    val propsNeeded = (itemProps ++ resNodeRefs).distinct.filter(_._2.nonEmpty)
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val withNodeProps = joinNodeProps(matches, propsNeeded)
    // relationship properties referenced by residual predicates or RETURN
    // items join back on the edge's endpoint pair — 1:1 per type by the
    // (src,dst,etype) uniqueness invariant. Multi-type or undirected rels
    // can fan a pair out to one row per matching relationship. Each joined
    // row carries the relationship's IDENTITY (__rel_<r>_{s,d,t}: physical
    // src/dst/etype) so the granularity dedup below keys on which
    // relationship matched, never on property values (two distinct
    // relationships sharing a value must both contribute to aggregates).
    // keys(r) needs EVERY edge property column of the relationship
    val edgePropsNeeded0 =
      (resEdgeRefs.filter(_._2.nonEmpty) ++ itemEdgeRefs ++
        keysEdgeNames.flatMap(r => edgePropCols.map(r -> _)))
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    // type()-only relationships join just their identity columns back
    val edgePropsNeeded = edgePropsNeeded0 ++
      typeRefNames.filterNot(edgePropsNeeded0.contains).map(_ -> Seq.empty[String])
    val withAllProps = edgePropsNeeded.foldLeft(withNodeProps) { case (acc, (r, ps)) =>
      val e = edgeByName(r)
      // the relationship's PUSHED WHERE conjuncts re-apply here: the match
      // narrowed the endpoint PAIRS, but this join-back re-fans each pair
      // to every stored declared-type edge — without the filter, a parallel
      // edge that failed the predicate would resurface with its type/props
      // (e.g. MATCH (a)-[x:X|Z]->(b) WHERE x.w = 5 RETURN type(x) must not
      // render the Z edge of a pair whose X edge matched; runDelete keys
      // edge removal on these identity columns, so it would over-delete).
      val base = pg.edgePredicates.filter(_.binding == r)
        .foldLeft(graph.edgesByType(e.types))((df, p) =>
          df.filter(operators.Preds.column(p, (_, pr) => col(pr))))
      def sel(df: DataFrame, srcAs: String, dstAs: String) = df.select(
        (Seq(col("src").as(srcAs), col("dst").as(dstAs),
          col("src").as(s"__rel_${r}_s"), col("dst").as(s"__rel_${r}_d"),
          col("etype").as(s"__rel_${r}_t")) ++
          ps.map(p => col(p).as(s"${r}_$p"))): _*)
      val joined =
        if (!e.undirected) sel(base, e.src, e.dst)
        // reversed orientation excludes self-loops: (v,v) already matches
        // the forward copy, and a duplicate would fan the pair out twice
        else sel(base, e.src, e.dst)
          .unionByName(sel(base.filter(col("src") =!= col("dst")), e.dst, e.src))
      acc.join(joined, Seq(e.src, e.dst), "left")
    }
    // pattern predicates: each distinct pattern plans and compiles as its
    // own existential sub-pattern (stats-ordered, like an OPTIONAL MATCH
    // fragment), projected to its anchor bindings. A bare conjunct becomes
    // a LEFT SEMI join (exists), a NOT-ed conjunct a LEFT ANTI join (not
    // exists) — neither fans rows out nor widens the row, and Catalyst
    // broadcasts the (anchor-projected) build side when small. Only a
    // pattern nested deeper (under OR / inside a conjunction) pays the
    // exists-flag left join: distinct anchor keys, so strictly 1:1.
    def existsFrame(pp: Ast.PatPred): (DataFrame, Seq[String]) = {
      // an unlabeled anchor inherits the main pattern's label constraint —
      // narrows the existential scan for free (the anchor's VALUES are
      // already label-constrained by the outer match, so this is purely a
      // scan-size optimization, never a semantics change)
      def seed(n: Ast.NodePat): Ast.NodePat =
        if (n.label.isEmpty) n.copy(label = n.name.flatMap(pg.labels.get).flatten) else n
      val seeded = Ast.Path(seed(pp.path.first),
        pp.path.hops.map { case (r, n) => (r, seed(n)) })
      val anchors = patAnchors(pp)
      val sub = Ast.Query(Seq(seeded), Seq.empty, pp.preds,
        anchors.map(b => Ast.Ret(b)), distinct = false, Seq.empty, None)
      val sc = PatternExec.compileTracked(Planner.plan(Pattern.fromQuery(sub), stats), graph)
      (sc.df.select(anchors.map(col): _*), anchors)
    }
    val (bareSemi, rest0) = pg.residual.partition(_.isInstanceOf[Ast.PatPred])
    val (bareAnti, restResidual) = rest0.partition {
      case Ast.Not(_: Ast.PatPred) => true
      case _ => false
    }
    val withSemi = bareSemi.foldLeft(withAllProps) { (acc, p) =>
      val (df, keys) = existsFrame(p.asInstanceOf[Ast.PatPred])
      acc.join(df, keys, "left_semi")
    }
    val withAnti = bareAnti.foldLeft(withSemi) { (acc, p) =>
      val Ast.Not(pp: Ast.PatPred) = p: @unchecked
      val (df, keys) = existsFrame(pp)
      acc.join(df, keys, "left_anti")
    }
    val nestedPats = restResidual.flatMap(Ast.patterns).distinct
    val patFlag = nestedPats.zipWithIndex.map { case (pp, ix) => pp -> s"__pp$ix" }.toMap
    val withPatFlags = nestedPats.foldLeft(withAnti) { (acc, pp) =>
      val (df, keys) = existsFrame(pp)
      acc.join(df.dropDuplicates().withColumn(patFlag(pp), lit(true)), keys, "left")
    }
    // pattern-valued expressions: one grouped sub-match per distinct
    // size(pattern) / pattern comprehension, joined 1:1 on its anchors.
    // The sub-match compiles through the FULL pipeline recursively (its own
    // stats-ordered plan, predicate pushdown, property join-backs for the
    // projection), then one combinable groupBy per anchor set; an outer row
    // with no matches reads the default (0 / typed empty array). Anonymous
    // pattern nodes are auto-named first so every distinct intermediate
    // assignment counts as a match (the set-semantics analogue of
    // openCypher's per-path counting; parallel same-endpoint relationships
    // still collapse — the engine-wide Boolean-matrix contract).
    def patAggFrame(pa: Ast.EPatAgg, outCol: String): (DataFrame, Seq[String]) = {
      var n = 0
      def named(np: Ast.NodePat): Ast.NodePat =
        if (np.name.isDefined) np else { n += 1; np.copy(name = Some(s"__pae$n")) }
      def seedL(np: Ast.NodePat): Ast.NodePat =
        if (np.label.isEmpty) np.copy(label = np.name.flatMap(pg.labels.get).flatten)
        else np
      val p0 = pa.pat.path
      val path = Ast.Path(seedL(named(p0.first)),
        p0.hops.map { case (r, np) => (r, seedL(named(np))) })
      val anchors = patAnchors(pa.pat)
      val items = path.names.distinct.map(b => Ast.Ret(b)) ++
        pa.map.map(m => Ast.Ret("", expr = Some(m), alias = Some("__pv"))).toSeq
      val sub = Ast.Query(Seq(path), Seq.empty, pa.pat.preds, items,
        distinct = false, Seq.empty, None)
      val frame = run(Pattern.fromQuery(sub))
      val grouped = (pa.kind, anchors) match {
        case ("count", Seq()) => frame.agg(count(lit(1)).as(outCol))
        case ("count", as)    =>
          frame.groupBy(as.map(col): _*).agg(count(lit(1)).as(outCol))
        case (_, Seq())       =>
          frame.agg(sort_array(collect_list(col("__pv"))).as(outCol))
        case (_, as)          =>
          frame.groupBy(as.map(col): _*)
            .agg(sort_array(collect_list(col("__pv"))).as(outCol))
      }
      (grouped, anchors)
    }
    val withPatAggs = patAggList.foldLeft(withPatFlags) { (acc, pa) =>
      val name = patAggCol(pa)
      val (grouped, anchors) = patAggFrame(pa, name)
      // anchor-less pattern: a global one-row aggregate, broadcast
      val joined =
        if (anchors.isEmpty) acc.crossJoin(broadcast(grouped))
        else acc.join(grouped, anchors, "left")
      val default =
        if (pa.kind == "count") lit(0L)
        else array().cast(grouped.schema(name).dataType)
      joined.withColumn(name, coalesce(col(name), default))
    }
    // residual WHERE: boolean structure / IS NULL over `binding_prop`
    // columns. When a predicate reads a binding that is NOT returned, the
    // match granularity was widened to carry it — restore the returned
    // granularity afterwards (one dropDuplicates on the returned id
    // columns; their property columns are functionally dependent)
    // resolver shared by residual predicates and expression items: prop ""
    // (a bare reference in a value expression) is the binding's id column
    // keys(b): the node's present (non-null) property keys — computed per
    // row from the joined-back property columns. A property-less node table
    // yields a TYPED empty array (array() alone is array<null> and breaks
    // downstream union/array ops).
    def keysArray(b: String): Column = {
      // node binding → node property columns; relationship binding → the
      // matched edge's property columns (joined back above)
      val propCols = if (edgeByName.contains(b)) edgePropCols else nodePropCols
      if (propCols.isEmpty) array().cast("array<string>")
      else array_compact(array(
        propCols.map(p => when(col(s"${b}_$p").isNotNull, lit(p))): _*))
    }
    def matchResolve(b: String, pr: String): Column =
      if (pr.isEmpty) col(b)
      else if (pr == operators.Preds.KeysProp) keysArray(b)
      else col(s"${b}_$pr")
    val filtered = restResidual.foldLeft(withPatAggs)((acc, p) =>
      acc.filter(operators.Preds.column(p, matchResolve,
        pp => coalesce(col(patFlag(pp)), lit(false)))))
    val withProps =
      if (pg.residual.nonEmpty && (mainNeeded != baseNeeded || edgePropsNeeded.nonEmpty)) {
        val optCols = pg.optional.flatMap(g =>
          pg.referenced.filter(b => g.bindings(b) && !pg.bindings(b))).distinct
        // item-referenced relationships key the dedup by their IDENTITY
        // columns: per-relationship output rows survive (even when two
        // relationships share endpoints or property values), while
        // residual-only relationships still collapse to the returned
        // granularity (existential semantics)
        val relIdCols = (itemEdgeRefs.map(_._1) ++ typeRefNames).distinct
          .flatMap(r => Seq(s"__rel_${r}_s", s"__rel_${r}_d", s"__rel_${r}_t"))
        filtered.dropDuplicates(baseNeeded ++ optCols ++ relIdCols)
      } else filtered
    def valueOf(i: Ast.Ret): Column = i.expr match {
      // general value expression (arithmetic / CASE / coalesce …): one
      // codegen'd Column over the joined-back property columns
      case Some(e) => operators.Preds.exprColumn(e, matchResolve)
      case None => i.agg match {
        // scalar functions: id(n) is the binding's id column; type(r) is the
        // matched relationship's identity etype column (joined back above);
        // value functions wrap the property (or id) column per-row
        case Some("id")     => col(i.binding)
        case Some("type")   => col(s"__rel_${i.binding}_t")
        // openCypher labels() returns a list; this model is single-label
        case Some("labels") => array(col(s"${i.binding}_label"))
        // the relationship's endpoint ids in STORAGE orientation (openCypher:
        // an undirected match does not reorient the relationship)
        case Some("startnode") => col(s"__rel_${i.binding}_s")
        case Some("endnode")   => col(s"__rel_${i.binding}_d")
        // keys(n): see keysArray (shared with the expression position)
        case Some("keys") => keysArray(i.binding)
        // path functions: the path's node-id list / relationship-type list
        // (identity join-back) / constant hop count. Zero-hop paths emit a
        // TYPED empty array (bare array() is array<null>).
        case Some("nodes") if pg.namedPaths.contains(i.binding) =>
          array(pg.namedPaths(i.binding)._1.map(col): _*)
        case Some("relationships") if pg.namedPaths.contains(i.binding) =>
          val rels = pg.namedPaths(i.binding)._2
          if (rels.isEmpty) array().cast("array<string>")
          else array(rels.map(r => col(s"__rel_${r}_t")): _*)
        case Some("length") if pg.namedPaths.contains(i.binding) =>
          lit(pg.namedPaths(i.binding)._2.size.toLong)
        case Some(f) if operators.Preds.valueFn.contains(f) =>
          operators.Preds.valueFn(f)(
            i.prop.fold(col(i.binding))(p => col(s"${i.binding}_$p")))
        case _ => i.prop.fold(col(i.binding))(p => col(s"${i.binding}_$p"))
      }
    }
    // aggregates run over the distinct matches (set semantics): count(b) =
    // distinct matches per group; sum/min/max/avg fold each distinct match's
    // property once; collect folds each distinct match's value into a
    // SORTED array (deterministic rendering of an unordered collection).
    // All combinable — one map-side-partial groupBy.
    val aggregated =
      if (pg.aggItems.isEmpty)
        withProps.select(pg.groupItems.map(i => valueOf(i).as(i.outName)): _*)
      else {
        val aggs = pg.aggItems.map(i =>
          aggregate(i, valueOf(i), overMatch = true))
        if (pg.groupItems.isEmpty) withProps.agg(aggs.head, aggs.tail: _*)
        else withProps.groupBy(pg.groupItems.map(i => valueOf(i).as(i.outName)): _*)
          .agg(aggs.head, aggs.tail: _*)
      }
    // RETURN DISTINCT dedups the projected VALUES — distinct matches can
    // share a property value (or a type(r) value); id-only returns are
    // already distinct (no-op skipped). Aggregated results are one row per
    // group already.
    val distincted =
      if (pg.distinct && pg.aggItems.isEmpty &&
          pg.items.exists(i => i.prop.isDefined || i.agg.exists(Pattern.ScalarFns) ||
            i.expr.isDefined))
        aggregated.dropDuplicates()
      else aggregated
    // non-returned sort properties (RETURN b ORDER BY b.name): joined on the
    // output id column purely for the sort — functionally dependent on the
    // returned binding, so granularity is untouched — and dropped after
    val sortJoined = pg.extraSortProps.foldLeft(distincted) { case (acc, (b, p)) =>
      acc.join(graph.nodes.select(col("id").as(b), col(p).as(s"__sort_${b}_$p")),
        Seq(b), "left")
    }
    // sort keys arrive resolved to output columns (Pattern.fromQuery)
    val limited = orderSkipLimit(sortJoined, pg.orderBy, pg.skip, pg.limit, Some(_), "")
    if (pg.extraSortProps.isEmpty) limited
    else limited.drop(pg.extraSortProps.map { case (b, p) => s"__sort_${b}_$p" }: _*)
  }

  /** Like `query`, but joins each returned binding back to its node row for
    * property columns, prefixed `<binding>_` (reference MatrixTuples +
    * DataStore.getVs render step). Parses once; the binding ids come from
    * the same compiled plan `query` runs. */
  def queryNodes(cypher: String): DataFrame = {
    val pg = Pattern.fromQuery(CypherParser.parse(cypher))
    // key on each plain binding's OUTPUT name, so `RETURN c AS customer`
    // joins (and prefixes properties) as `customer`, matching run()'s columns
    val outs = pg.items.collect {
      case r if r.prop.isEmpty && r.agg.isEmpty && r.expr.isEmpty => r.outName
    }
    joinNodeProps(run(pg), outs.map(_ -> graph.nodes.columns.toSeq.filter(_ != "id")))
  }
}
