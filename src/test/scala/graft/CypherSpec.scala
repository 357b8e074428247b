package graft

import graft.cypher.{Ast, CypherParser}
import graft.graph.{Delta, PropertyGraph}
import graft.plans._

/**
 * Parser + planner + executor over the reference's own fixtures:
 * the Readme diamond graph (reference Readme.md:45-139) and the OptimSpec
 * scenarios (g4s-matrix-graph/src/test/scala/.../optim/OptimSpec.scala).
 */
class CypherSpec extends SparkSpec {

  test("parser: chain with labels, directions, types") {
    val q = CypherParser.parse("MATCH (a:A)-[:X]->(b)<-[:Y|Z]-(c:C) RETURN a, c")
    assert(q.paths.head.first == Ast.NodePat(Some("a"), Some("A")))
    val hops = q.paths.head.hops
    assert(hops(0)._1 == Ast.RelPat(Seq("X"), Ast.Out))
    assert(hops(1)._1 == Ast.RelPat(Seq("Y", "Z"), Ast.In))
    assert(q.returns == Seq(Ast.Ret("a"), Ast.Ret("c")))
  }

  test("parser: WHERE and LIMIT") {
    val q = CypherParser.parse(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.value > 10 AND b.name = 'x' RETURN DISTINCT b LIMIT 5")
    assert(q.where == Seq(Ast.Cmp("a", "value", ">", 10.0), Ast.Cmp("b", "name", "=", "x")))
    assert(q.distinct && q.limit.contains(5))
  }

  test("parser: ORDER BY with directions; unknown sort binding rejected") {
    val q = CypherParser.parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b ORDER BY b DESC, a LIMIT 3")
    assert(q.orderBy == Seq(Ast.SortKey("b", asc = false), Ast.SortKey("a", asc = true)))
    assert(q.limit.contains(3))
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse("MATCH (a:A)-[:X]->(b:B) RETURN a ORDER BY b"))
    }
  }

  test("count aggregation: per-group and global distinct counts") {
    val db = new GraphDB(diamond)
    val perA = db.query("MATCH (a:A)-[:X]->(b:B) RETURN a, count(b)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(perA.toSeq == Seq((1L, 2L)))
    val global = db.query("MATCH (a:A)-[:X]->(b:B) RETURN count(b)")
      .collect().map(_.getLong(0))
    assert(global.toSeq == Seq(2L))
    // set semantics: two b-paths (a→b1→c, a→b2→c) reach c, ONE distinct a
    val cnt = db.query("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c, count(a)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cnt.toSeq == Seq((4L, 1L)))
    // ORDER BY a count alias
    val ord = db.query("MATCH (a:A)-[:X]->(b:B) RETURN a, count(b) ORDER BY count_b DESC LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ord.toSeq == Seq((1L, 2L)))
  }

  test("ORDER BY executes: diamond 1-hop descending") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b DESC LIMIT 1")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L))
  }

  test("AS aliases rename output columns; ORDER BY and queryNodes use the alias") {
    val db = new GraphDB(diamond)
    val df = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b AS target, count(a) AS n ORDER BY target DESC")
    assert(df.columns.toSeq == Seq("target", "n"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, 1L), (2L, 1L)))
    // render path prefixes properties with the alias
    val rendered = db.queryNodes("MATCH (a:A)-[:X]->(b:B) RETURN b AS t")
    assert(rendered.columns.contains("t") && rendered.columns.contains("t_label"))
  }

  test("ORDER BY also accepts the pre-alias name of a renamed item") {
    val db = new GraphDB(diamond)
    // openCypher: ordering by the underlying expression of an AS-renamed item
    val got = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b AS target ORDER BY b DESC")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L, 2L))
    val agg = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b AS t, count(a) AS n ORDER BY count_a DESC, b ASC")
    assert(agg.columns.toSeq == Seq("t", "n"))
    assert(agg.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // a name that is neither an alias nor a pre-alias default still fails loudly
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse(
        "MATCH (a:A)-[:X]->(b:B) RETURN b AS t ORDER BY c"))
    }
  }

  test("SKIP/LIMIT operands validated at parse time") {
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN a SKIP -5")
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN a LIMIT 2.9")
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN a SKIP 1 LIMIT -1")
    }
  }

  test("SKIP pages past sorted rows, composes with LIMIT") {
    val db = new GraphDB(diamond)
    // sorted b's are [2, 3]; SKIP 1 drops the first
    val skipped = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b SKIP 1")
      .collect().map(_.getLong(0))
    assert(skipped.toSeq == Seq(3L))
    val paged = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b SKIP 1 LIMIT 1")
      .collect().map(_.getLong(0))
    assert(paged.toSeq == Seq(3L))
    val beyond = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b SKIP 5")
      .collect()
    assert(beyond.isEmpty)
    val q = CypherParser.parse("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b SKIP 2 LIMIT 4")
    assert(q.skip.contains(2) && q.limit.contains(4))
  }

  test("pattern graph: INCOMING normalized by endpoint swap") {
    val pg = Pattern.fromQuery(CypherParser.parse("MATCH (a:A)<-[:X]-(b:B) RETURN a"))
    assert(pg.edges == Vector(Pattern.PatternEdge("b", "a", Seq("X"), undirected = false)))
  }

  // Diamond fixture (reference Readme.md:45-139):
  //   a:A -X-> b1:B -Y-> c:C ; a -X-> b2:B -Y-> c
  def diamond: PropertyGraph = PropertyGraph.fromTuples(spark,
    nodes = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "C")),
    edges = Seq((1L, 2L, "X"), (2L, 4L, "Y"), (1L, 3L, "X"), (3L, 4L, "Y")))

  test("diamond: 1-hop returns {b1, b2}") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("diamond: 2-hop returns {c}") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(4L))
  }

  test("diamond: multi-binding return preserves pairing") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN b, c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((2L, 4L), (3L, 4L)))
  }

  test("diamond: incoming direction") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (c:C)<-[:Y]-(b:B) RETURN b").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("diamond: undirected hop matches both orientations") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH (b:B)-[:X]-(x) RETURN x").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L)) // only a, via the reversed orientation
  }

  // OptimSpec fork scenario (OptimSpec.scala:191-262): return the middle
  // binding of (a)-[:X]->(b)<-[:Y]-(c).
  test("fork: return middle binding") {
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "B"), (5L, "B"), (6L, "C"), (7L, "D")),
      edges = Seq((1L, 2L, "X"), (1L, 3L, "X"), (1L, 4L, "X"), (1L, 5L, "X"),
        (6L, 2L, "Y"), (6L, 3L, "Y")))
    val db = new GraphDB(g)
    val got = db.query("MATCH (a:A)-[:X]->(b:B)<-[:Y]-(c:C) RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  // Regression: second branch expands FROM an interior binding (n), not the
  // frontier head — Expand must join on its own fromBinding column.
  test("fork from interior binding: expand joins on fromBinding, not head") {
    val g = PropertyGraph.fromTuples(spark,
      // many customers so the planner starts at the small nation side and the
      // frontier head has moved past `n` when the supplier branch expands
      nodes = Seq((1L, "N"), (2L, "N")) ++ (10L to 30L).map(i => (i, "Cst")) ++
        Seq((40L, "Sup"), (41L, "Sup")),
      edges = (10L to 30L).map(i => (i, 1L + i % 2, "IN")) ++
        Seq((40L, 1L, "IN"), (41L, 2L, "IN")))
    val db = new GraphDB(g)
    val got = db.query("MATCH (c:Cst)-[:IN]->(n:N)<-[:IN]-(s:Sup) RETURN n")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("cycle: triangle pattern closes with edge predicate") {
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A")),
      edges = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 1L, "E"), (1L, 4L, "E")))
    val db = new GraphDB(g)
    val got = db.query("MATCH (x:A)-[:E]->(y:A)-[:E]->(z:A), (z)-[:E]->(x) RETURN x, y, z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)))
  }

  test("parser: variable-length ranges *n, *lo..hi, *..hi; unbounded rejected") {
    def hops(q: String) = CypherParser.parse(q).paths.head.hops.head._1.hops
    assert(hops("MATCH (a)-[:X*2]->(b) RETURN a") == Some((2, 2)))
    assert(hops("MATCH (a)-[:X*1..3]->(b) RETURN a") == Some((1, 3)))
    assert(hops("MATCH (a)-[:X*..4]->(b) RETURN a") == Some((1, 4)))
    assert(hops("MATCH (a)-[r:X|Y*2..3]-(b) RETURN a") == Some((2, 3)))
    assert(hops("MATCH (a)-[:X]->(b) RETURN a").isEmpty)
    intercept[graft.cypher.ParseException] { hops("MATCH (a)-[:X*]->(b) RETURN a") }
    intercept[graft.cypher.ParseException] { hops("MATCH (a)-[:X*2..]->(b) RETURN a") }
    intercept[graft.cypher.ParseException] { hops("MATCH (a)-[:X*3..2]->(b) RETURN a") }
    intercept[graft.cypher.ParseException] { hops("MATCH (a)-[:X*0..2]->(b) RETURN a") }
  }

  // chain fixture for varlen: 1 -E-> 2 -E-> 3 -E-> 4, plus 1 -E-> 3 shortcut
  private def varlenG: PropertyGraph = PropertyGraph.fromTuples(spark,
    nodes = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "B")),
    edges = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 4L, "E"), (1L, 3L, "E")))

  test("varlen: *1..2 walk reach from a labeled start") {
    val db = new GraphDB(varlenG)
    val got = db.query("MATCH (a:A)-[:E*1..2]->(x) RETURN x").collect().map(_.getLong(0)).sorted
    // 1 hop: {2, 3}; 2 hops: 1→2→3, 1→3→4 = {3, 4}
    assert(got.toSeq == Seq(2L, 3L, 4L))
  }

  test("varlen: minHops > 1 excludes shorter walks; pairing preserved") {
    val db = new GraphDB(varlenG)
    val got = db.query("MATCH (a:A)-[:E*2..3]->(x) RETURN a, x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // 2 hops: (1,3), (1,4); 3 hops: 1→2→3→4 = (1,4)
    assert(got.toSeq == Seq((1L, 3L), (1L, 4L)))
  }

  test("varlen: incoming direction and label filter on the walk endpoint") {
    val db = new GraphDB(varlenG)
    val got = db.query("MATCH (x:B)<-[:E*1..3]-(a:A) RETURN x").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(2L, 3L, 4L))
    // endpoint label excludes the A-labeled node even though walks reach it
    val got2 = db.query("MATCH (b)-[:E*1..2]->(x:B) RETURN b, x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got2.toSeq == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("varlen: undirected walks may bounce (documented walk semantics)") {
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "B")),
      edges = Seq((1L, 2L, "E")))
    val db = new GraphDB(g)
    val got = db.query("MATCH (a:A)-[:E*1..2]-(x) RETURN x").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L)) // 2-hop bounce 1-2-1 reaches a itself
  }

  test("WHERE property predicate") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 5.0), (2L, "B", 10.0), (3L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 2L, "X"), (1L, 3L, "X"))).toDF("src", "dst", "etype"))
    val db = new GraphDB(g)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) WHERE b.value > 15 RETURN b")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L))
  }

  test("WHERE conjunctions across bindings; edge-property predicates") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 5.0), (2L, "A", 9.0), (3L, "B", 10.0), (4L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X", 1.0), (1L, 4L, "X", 7.0),
        (2L, 3L, "X", 8.0), (2L, 4L, "X", 2.0))).toDF("src", "dst", "etype", "w"))
    val db = new GraphDB(g)
    // AND conjuncts on two different bindings stack as separate PropFilters
    val and = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.value > 6 AND b.value > 15 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(and.toSeq == Seq((2L, 4L)))
    // edge predicate filters the relationship rows themselves
    val ep = db.query("MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 7 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ep == Set((1L, 4L), (2L, 3L)))
    // node + edge predicates compose in one WHERE
    val both = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 7 AND b.value > 15 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(both.toSeq == Seq((1L, 4L)))
    // edge predicate against the walk direction (incoming): same edge rows
    val inc = db.query("MATCH (b:B)<-[r:X]-(a:A) WHERE r.w >= 7 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((1L, 4L), (2L, 3L)))
    // validation: varlen rel variable, duplicate rel variable, name collision
    intercept[graft.cypher.ParseException](Pattern.fromQuery(CypherParser.parse(
      "MATCH (a:A)-[r:X*1..2]->(b:B) WHERE r.w > 1 RETURN a")))
    intercept[graft.cypher.ParseException](Pattern.fromQuery(CypherParser.parse(
      "MATCH (a:A)-[r:X]->(b:B)-[r:X]->(c:B) RETURN a")))
    intercept[graft.cypher.ParseException](Pattern.fromQuery(CypherParser.parse(
      "MATCH (a:A)-[a:X]->(b:B) RETURN a")))
    // a predicate naming neither a node nor a rel variable still errors
    intercept[graft.cypher.ParseException](Pattern.fromQuery(CypherParser.parse(
      "MATCH (a:A)-[r:X]->(b:B) WHERE z.w > 1 RETURN a")))
  }

  test("parser: property returns and aggregates with output names") {
    val q = CypherParser.parse(
      "MATCH (a:A)-[:X]->(b:B) RETURN a.name, count(b), sum(b.value), avg(b.value) " +
      "ORDER BY a.name, sum_b_value DESC")
    assert(q.returns == Seq(
      Ast.Ret("a", Some("name")), Ast.Ret("b", agg = Some("count")),
      Ast.Ret("b", Some("value"), Some("sum")), Ast.Ret("b", Some("value"), Some("avg"))))
    assert(q.returns.map(_.outName) ==
      Seq("a_name", "count_b", "sum_b_value", "avg_b_value"))
    assert(q.orderBy == Seq(Ast.SortKey("a_name", asc = true, Some(("a", "name"))),
      Ast.SortKey("sum_b_value", asc = false)))
    // count() takes a binding (set semantics); sum() needs a property
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN count(a.name)")
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN sum(a)")
    }
  }

  // property fixture: a:A -X-> {b2 (x, 10), b3 (y, 20), b4 (x, 10)}
  private def propsG: PropertyGraph = PropertyGraph(
    spark.createDataFrame(Seq(
      (1L, "A", "a1", 1.0), (2L, "B", "x", 10.0), (3L, "B", "y", 20.0), (4L, "B", "x", 10.0)))
      .toDF("id", "label", "name", "value"),
    spark.createDataFrame(Seq((1L, 2L, "X"), (1L, 3L, "X"), (1L, 4L, "X")))
      .toDF("src", "dst", "etype"))

  test("property returns: values joined per distinct match; DISTINCT dedups values") {
    val db = new GraphDB(propsG)
    val rows = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b.name, b.value ORDER BY b.value DESC, b.name")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq(("y", 20.0), ("x", 10.0), ("x", 10.0)))
    val distinct = db.query("MATCH (a:A)-[:X]->(b:B) RETURN DISTINCT b.name ORDER BY b_name")
      .collect().map(_.getString(0))
    assert(distinct.toSeq == Seq("x", "y"))
  }

  test("property aggregates: sum/min/max/avg over distinct matches, grouped and global") {
    val db = new GraphDB(propsG)
    val grouped = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN a.name, count(b), sum(b.value), min(b.value), max(b.value)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(grouped.toSeq == Seq(("a1", 3L, 40.0, 10.0, 20.0)))
    val global = db.query("MATCH (a:A)-[:X]->(b:B) RETURN avg(b.value)")
      .collect().map(_.getDouble(0))
    assert(global.toSeq == Seq(40.0 / 3))
    // grouping by a VALUE merges bindings sharing it: two b's named x
    val byName = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b.name, count(b) ORDER BY b_name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(byName.toSeq == Seq(("x", 2L), ("y", 1L)))
  }

  test("WHERE boolean structure: OR/NOT/parens residual, string ops pushdown, IS NULL") {
    val db = new GraphDB(propsG)
    // disjunction across one binding's props — residual filter, both returned
    val or = db.query("MATCH (a:A)-[:X]->(b:B) WHERE b.value > 15 OR b.name = 'x' RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(or.toSeq == Seq(2L, 3L, 4L))
    // NOT over a disjunction; the pred binding is NOT returned → the match
    // is widened to carry b, then restored to distinct a's
    val not = db.query("MATCH (a:A)-[:X]->(b:B) WHERE NOT (b.value > 15 OR b.name = 'zzz') RETURN a")
      .collect().map(_.getLong(0))
    assert(not.toSeq == Seq(1L))
    // string predicates as bare conjuncts ride the pushdown path
    val sw = db.query("MATCH (b:B) WHERE b.name STARTS WITH 'x' RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(sw.toSeq == Seq(2L, 4L))
    val ct = db.query("MATCH (n) WHERE n.name CONTAINS '1' RETURN n")
      .collect().map(_.getLong(0))
    assert(ct.toSeq == Seq(1L))
    // AND binds tighter than OR: y OR (x AND value>15) → only y
    val prec = db.query(
      "MATCH (b:B) WHERE b.name = 'y' OR b.name = 'x' AND b.value > 15 RETURN b")
      .collect().map(_.getLong(0))
    assert(prec.toSeq == Seq(3L))
    // parens override: (y OR x) AND value<15 → the two x's
    val par = db.query(
      "MATCH (b:B) WHERE (b.name = 'y' OR b.name = 'x') AND b.value < 15 RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(par.toSeq == Seq(2L, 4L))
    // IS NULL / IS NOT NULL inside a disjunction
    val nn = db.query(
      "MATCH (n) WHERE n.name IS NULL OR n.name ENDS WITH '1' RETURN n")
      .collect().map(_.getLong(0))
    assert(nn.toSeq == Seq(1L))
    // mixed: pushdown conjunct + residual disjunction in one WHERE
    val mixed = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.name = 'a1' AND (b.value > 15 OR b.name = 'x') RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(mixed.toSeq == Seq(2L, 3L, 4L))
    // aggregation over residual-filtered matches keeps returned granularity
    val agg = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE b.value < 15 OR b.name = 'y' RETURN a, count(b)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(agg.toSeq == Seq((1L, 3L)))
    // residual may not reference a varlen rel variable or an optional binding
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse(
        "MATCH (a:A)-[r:X*1..2]->(b:B) WHERE r.w > 1 OR b.value > 1 RETURN b"))
    }
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse(
        "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.value > 1 OR a.value > 1 RETURN a, b"))
    }
  }

  test("residual WHERE over relationship properties: OR/NOT join edge values back") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 5.0), (2L, "A", 9.0), (3L, "B", 10.0), (4L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X", 1.0), (1L, 4L, "X", 7.0),
        (2L, 3L, "X", 8.0), (2L, 4L, "X", 2.0))).toDF("src", "dst", "etype", "w"))
    val db = new GraphDB(g)
    // edge prop OR node prop in one residual disjunction
    val or = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 7 OR b.value > 15 RETURN a, b")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(or == Set((1L, 4L), (2L, 3L), (2L, 4L)))
    // NOT over an edge-prop comparison
    val not = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE NOT (r.w >= 7) RETURN a, b")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(not == Set((1L, 3L), (2L, 4L)))
    // edge-prop-only residual with the rel binding not returned: granularity
    // restored to the returned set
    val only = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 7 OR r.w <= 1 RETURN a")
      .collect().map(_.getLong(0)).toSet
    assert(only == Set(1L, 2L))
    // undirected rel: property joins back whichever orientation matched
    val undir = db.query(
      "MATCH (b:B)-[r:X]-(x) WHERE r.w >= 7 OR r.w <= 1 RETURN b, x")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(undir == Set((3L, 1L), (3L, 2L), (4L, 1L)))
  }

  test("WITH pipeline: project/aggregate, HAVING filter, second-stage aggregation") {
    val db = new GraphDB(propsG)
    // per-source aggregation piped into a HAVING filter
    val hav = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n WHERE n >= 2 " +
      "RETURN nm, n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hav.toSeq == Seq(("x", 2L)))
    // second aggregation stage over the piped columns (post-WITH rows are
    // plain rows: count counts them)
    val agg = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "RETURN sum(n), min(n), max(n), count(nm)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(agg.toSeq == Seq((3L, 1L, 2L, 2L)))
    // plain passthrough + ORDER BY/LIMIT on the second stage
    val top = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.value AS v, b.name AS nm " +
      "RETURN nm, v ORDER BY v DESC, nm LIMIT 1")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(top.toSeq == Seq(("y", 20.0)))
    // boolean HAVING over output names
    val bool = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "WHERE n >= 2 OR nm = 'y' RETURN nm ORDER BY nm")
      .collect().map(_.getString(0))
    assert(bool.toSeq == Seq("x", "y"))
    // errors: dotted refs after WITH, unknown columns
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WITH b RETURN b.name")
    }
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WITH b AS x WHERE y > 1 RETURN x")
    }
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WITH b AS x RETURN z")
    }
  }

  test("optional match: unmatched rows keep nulls; multiple matches fan out") {
    val db = new GraphDB(diamond)
    // every B reached from a; c:C has no X edge out → null b
    val rows = db.query("MATCH (n) OPTIONAL MATCH (n)-[:X]->(b:B) RETURN n, b")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    assert(rows.toSeq == Seq((1L, 2L), (1L, 3L), (2L, -1L), (3L, -1L), (4L, -1L)))
    // count over an optional binding skips nulls (openCypher count semantics)
    val counts = db.query("MATCH (n) OPTIONAL MATCH (n)-[:X]->(b:B) RETURN n, count(b) ORDER BY n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.toSeq == Seq((1L, 2L), (2L, 0L), (3L, 0L), (4L, 0L)))
  }

  test("optional match: two independent groups; label filter inside the group") {
    val db = new GraphDB(diamond)
    val rows = db.query(
      "MATCH (b:B) OPTIONAL MATCH (a:A)-[:X]->(b) OPTIONAL MATCH (b)-[:Y]->(c:C) RETURN b, a, c")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
    assert(rows.toSeq == Seq((2L, 1L, 4L), (3L, 1L, 4L)))
  }

  test("optional match: validation — disconnected group, WHERE on optional, cross-group binding") {
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse("MATCH (a:A) OPTIONAL MATCH (x:B)-[:Y]->(y:C) RETURN a"))
    }
    // (a WHERE after an OPTIONAL MATCH belongs to that clause — see the
    // "optional match WHERE" test; cross-group optional-only bindings stay
    // rejected)
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse(
        "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) OPTIONAL MATCH (b)-[:Y]->(c) RETURN a"))
    }
    // conflicting label across scopes is caught
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse("MATCH (a:A) OPTIONAL MATCH (a:B)-[:X]->(b) RETURN a"))
    }
  }

  test("tpch graph: 1-hop matches relational oracle") {
    val db = new GraphDB(sources.TpchGraph(spark, SF))
    val got = db.query("MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n").count()
    val expected = spark.read.parquet(s"$SF/customer.parquet")
      .select("c_nationkey").distinct().count()
    assert(got == expected)
  }

  test("shortestPath: min level per endpoint pair, shortcut beats long way") {
    import spark.implicits._
    // 1→2→3→4 chain plus a 1→4 shortcut: shortest 1⇝4 is 1, not 3
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "M"), (3L, "M"), (4L, "Z")),
      edges = Seq((1L, 2L, "T"), (2L, 3L, "T"), (3L, 4L, "T"), (1L, 4L, "T")))
    val db = new GraphDB(g)
    val got = db.query(
      "MATCH p = shortestPath((a:A)-[:T*]->(z)) RETURN a, z, length(p)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 1L)))
    // bounded upper limit prunes deeper matches
    val capped = db.query(
      "MATCH p = shortestPath((a:A)-[:T*..1]->(z)) RETURN a, z, length(p)")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((2L, 1L), (4L, 1L)))
    // incoming direction swaps the traversal
    val rev = db.query(
      "MATCH p = shortestPath((z:Z)<-[:T*]-(a)) RETURN z, a, length(p)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rev == Set((4L, 1L, 1L), (4L, 2L, 2L), (4L, 3L, 1L)))
  }

  test("shortestPath: seed-set bound refuses unselective source sets loudly") {
    import spark.implicits._
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "Z")),
      edges = Seq((1L, 4L, "T"), (2L, 4L, "T"), (3L, 4L, "T")))
    val db = new GraphDB(g)
    val q = "MATCH p = shortestPath((a:A)-[:T*]->(z:Z)) RETURN a, z, length(p)"
    spark.conf.set(GraphDB.ShortestMaxSourcesKey, "2")
    try {
      val e = intercept[IllegalStateException] { db.query(q) }
      assert(e.getMessage.contains("3 sources") &&
        e.getMessage.contains(GraphDB.ShortestMaxSourcesKey))
      // raising the bound (or disabling with 0) lets the same query run
      spark.conf.set(GraphDB.ShortestMaxSourcesKey, "0")
      assert(db.query(q).count() == 3)
    } finally spark.conf.unset(GraphDB.ShortestMaxSourcesKey)
  }

  test("shortestPath: parser accepts unbounded * only there; invalid forms rejected") {
    val q = CypherParser.parse(
      "MATCH p = shortestPath((a:A)-[:T*]->(b:B)) RETURN a, b, length(p)")
    assert(q.shortest.get.pathVar == "p")
    assert(q.shortest.get.rel.hops.contains((1, Int.MaxValue)))
    assert(q.returns.contains(Ast.Ret("p", None, Some("length"))))
    // plain varlen still requires an upper bound
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A)-[:T*]->(b:B) RETURN a, b")
    }
    // shortestPath cannot combine with other patterns or WHERE
    intercept[graft.cypher.ParseException] {
      CypherParser.parse(
        "MATCH p = shortestPath((a:A)-[:T*]->(b)), (c:C) RETURN a, b, c")
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse(
        "MATCH p = shortestPath((a:A)-[:T*]->(b)) WHERE a.value > 1 RETURN a, b")
    }
    // length() of an unknown path variable is rejected at compile
    intercept[graft.cypher.ParseException] {
      new GraphDB(diamond).query(
        "MATCH q = shortestPath((a:A)-[:X*]->(b:B)) RETURN a, b, length(p)")
    }
  }

  test("UNION dedups across branches; UNION ALL keeps branch rows") {
    val db = new GraphDB(diamond)
    // branch1 b's = {2,3}; branch2 (incoming to c) = {2,3}: UNION dedups
    val u = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b " +
      "UNION MATCH (c:C)<-[:Y]-(b:B) RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(u.toSeq == Seq(2L, 3L))
    // UNION ALL keeps each branch's (internally distinct) rows
    val ua = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b " +
      "UNION ALL MATCH (c:C)<-[:Y]-(b:B) RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(ua.toSeq == Seq(2L, 2L, 3L, 3L))
  }

  test("UNION validation: mixed connectors and mismatched columns rejected") {
    val db = new GraphDB(diamond)
    intercept[graft.cypher.ParseException] {
      CypherParser.parseUnion(
        "MATCH (a:A) RETURN a UNION MATCH (b:B) RETURN b " +
        "UNION ALL MATCH (c:C) RETURN c")
    }
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) RETURN a UNION MATCH (a:A)-[:X]->(b:B) RETURN a, b")
    }
  }

  test("UNION matches branch columns by NAME — projection order may differ") {
    val db = new GraphDB(diamond)
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN a, b " +
      "UNION MATCH (a:A)-[:X]->(b:B) RETURN b, a")
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).sorted
    assert(rows.toSeq == Seq((1L, 2L), (1L, 3L)))
  }

  test("UNION: trailing ORDER BY/LIMIT applies to the whole union; per-branch on earlier branches") {
    val db = new GraphDB(diamond)
    // union = {2,3} ∪ {4} = {2,3,4}; DESC LIMIT 2 over the WHOLE union
    val whole = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b AS id " +
      "UNION MATCH (b:B)-[:Y]->(c:C) RETURN c AS id " +
      "ORDER BY id DESC LIMIT 2")
      .collect().map(_.getLong(0))
    assert(whole.toSeq == Seq(4L, 3L))
    // an EARLIER branch keeps its own ORDER BY/LIMIT (top-k-per-branch)
    val per = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b AS id ORDER BY id LIMIT 1 " +
      "UNION ALL MATCH (b:B)-[:Y]->(c:C) RETURN c AS id")
      .collect().map(_.getLong(0)).sorted
    assert(per.toSeq == Seq(2L, 4L))
  }

  test("UNION composes with WITH pipelines and shortestPath branches") {
    val db = new GraphDB(diamond)
    // WITH pipeline inside each branch; columns match by name
    val piped = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH count(b) AS n RETURN n " +
      "UNION ALL MATCH (b:B)-[:Y]->(c:C) WITH count(c) AS n RETURN n")
      .collect().map(_.getLong(0)).sorted
    assert(piped.toSeq == Seq(1L, 2L))
    // shortestPath branch unioned with a pattern branch
    val mixed = db.query(
      "MATCH p = shortestPath((a:A)-[:X*]->(b:B)) RETURN a AS src, b AS dst " +
      "UNION MATCH (b:B)-[:Y]->(c:C) RETURN b AS src, c AS dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mixed == Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("property maps: named/anonymous node and relationship maps desugar to pushdown") {
    val dbP = new GraphDB(propsG)
    // named node map ≡ WHERE b.name = 'x'
    val named = dbP.query("MATCH (b:B {name: 'x'}) RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(named.toSeq == Seq(2L, 4L))
    // anonymous node with a map gets an auto binding; filter still applies
    val anon = dbP.query("MATCH (a:A)-[:X]->(:B {name: 'y'}) RETURN a")
      .collect().map(_.getLong(0))
    assert(anon.toSeq == Seq(1L))
    // empty map constrains nothing (openCypher)
    val empty = dbP.query("MATCH (b:B {}) RETURN b").collect().map(_.getLong(0)).sorted
    assert(empty.toSeq == Seq(2L, 3L, 4L))
    // relationship maps, named and anonymous
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 5.0), (2L, "A", 9.0), (3L, "B", 10.0), (4L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X", 1.0), (1L, 4L, "X", 7.0),
        (2L, 3L, "X", 8.0), (2L, 4L, "X", 2.0))).toDF("src", "dst", "etype", "w"))
    val dbE = new GraphDB(g)
    val relNamed = dbE.query("MATCH (a:A)-[r:X {w: 7}]->(b:B) RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(relNamed.toSeq == Seq((1L, 4L)))
    val relAnon = dbE.query("MATCH (a:A)-[:X {w: 8}]->(b:B) RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(relAnon.toSeq == Seq((2L, 3L)))
  }

  test("property maps: per-branch slicing under UNION (parser state does not leak)") {
    val db = new GraphDB(propsG)
    // if branch1's map pred leaked into branch2, 'y' would also require
    // name='x' and branch2 would come back empty
    val rows = db.query(
      "MATCH (b:B {name: 'x'}) RETURN b UNION MATCH (b:B {name: 'y'}) RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(2L, 3L, 4L))
  }

  test("property maps: rejected on shortestPath; bad literals") {
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH p = shortestPath((a:A {name: 'a1'})-[:X*]->(b)) RETURN a, b")
    }
    val e = intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (b:B {flag: true}) RETURN b")
    }
    assert(e.getMessage.contains("string or number"))
  }

  test("count(*): row count after WITH; rejected over a raw match") {
    val db = new GraphDB(propsG)
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "RETURN count(*) AS groups, sum(n) AS total")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((2L, 3L)))
    // count(*) in a second WITH stage counts the prior stage's rows: one row
    // per distinct match (x, y, x) without DISTINCT, distinct values with it
    val staged = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm WITH count(*) AS c RETURN c")
      .collect().map(_.getLong(0))
    assert(staged.toSeq == Seq(3L))
    val stagedD = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH DISTINCT b.name AS nm WITH count(*) AS c RETURN c")
      .collect().map(_.getLong(0))
    assert(stagedD.toSeq == Seq(2L))
    val e = intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN count(*)")
    }
    assert(e.getMessage.contains("after WITH"))
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) WITH a AS x RETURN sum(*)")
    }
  }

  test("WITH stage ORDER BY/SKIP/LIMIT: top-k-then-continue") {
    val db = new GraphDB(propsG)
    // keep only the most frequent name, then re-aggregate downstream
    val topk = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "ORDER BY n DESC, nm LIMIT 1 RETURN nm, n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(topk.toSeq == Seq(("x", 2L)))
    // SKIP past the top group; pre-alias sort key accepted
    val skip = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS cnt " +
      "ORDER BY count_b DESC, nm SKIP 1 RETURN nm, cnt")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(skip.toSeq == Seq(("y", 1L)))
    // stage LIMIT bounds what the NEXT aggregation sees
    val bounded = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "ORDER BY n DESC, nm LIMIT 1 WITH sum(n) AS total RETURN total")
      .collect().map(_.getLong(0))
    assert(bounded.toSeq == Seq(2L))
    // WHERE filters before the stage's ORDER BY/LIMIT
    val filteredFirst = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n WHERE n < 2 " +
      "ORDER BY n DESC LIMIT 5 RETURN nm, n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(filteredFirst.toSeq == Seq(("y", 1L)))
    // unknown stage sort key rejected loudly
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm ORDER BY zzz RETURN nm")
    }
  }

  test("edge-prop aggregates keep distinct relationships sharing a value (identity dedup)") {
    // two edges from the same source with the SAME weight: the residual
    // dedup must key on relationship identity, not the property value
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 0.0), (3L, "B", 10.0), (4L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X", 5.0), (1L, 4L, "X", 5.0)))
        .toDF("src", "dst", "etype", "w"))
    val db = new GraphDB(g)
    val agg = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 0 OR b.value > 100 RETURN a, sum(r.w)")
      .collect().map(row => (row.getLong(0), row.getDouble(1)))
    assert(agg.toSeq == Seq((1L, 10.0))) // both relationships contribute
    // self-loop under an undirected rel: matched once, not twice
    val loop = PropertyGraph(
      spark.createDataFrame(Seq((5L, "A", 0.0))).toDF("id", "label", "value"),
      spark.createDataFrame(Seq((5L, 5L, "X", 3.0))).toDF("src", "dst", "etype", "w"))
    val rows = new GraphDB(loop).query("MATCH (a)-[r:X]-(b) RETURN a, b, r.w").collect()
    assert(rows.length == 1)
  }

  test("UNION trailing ORDER BY validates keys at parse level") {
    val db = new GraphDB(diamond)
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A) RETURN a UNION MATCH (b:B) RETURN b AS a ORDER BY bogus")
    }
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A) RETURN a UNION MATCH (b:B) RETURN b AS a ORDER BY a.name")
    }
  }

  test("WITH WHERE placement: before mods filters first, after mods filters the top-k") {
    val db = new GraphDB(propsG)
    // openCypher clause order: LIMIT first, then WHERE over the top-k —
    // top-1 by count is (x, 2); WHERE n < 2 then leaves nothing
    val after = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n " +
      "ORDER BY n DESC, nm LIMIT 1 WHERE n < 2 RETURN nm, n").collect()
    assert(after.isEmpty)
    // WHERE-first order: filter to n < 2 first, then take the top-1 → (y, 1)
    val before = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n WHERE n < 2 " +
      "ORDER BY n DESC, nm LIMIT 1 RETURN nm, n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(before.toSeq == Seq(("y", 1L)))
  }

  test("ORDER BY a non-returned property of a returned binding") {
    val db = new GraphDB(propsG)
    // plain: ids ordered by a property that is not projected
    val plain = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY b.value DESC, b")
      .collect().map(_.getLong(0))
    assert(plain.toSeq == Seq(3L, 2L, 4L))
    // aggregated: the sort property rides the group-key binding
    val agg = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, count(a) ORDER BY b.name DESC, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(agg.toSeq == Seq((3L, 1L), (2L, 1L), (4L, 1L)))
    // the sort column does not leak into the output schema
    assert(db.query("MATCH (b:B) RETURN b ORDER BY b.name LIMIT 1").columns.toSeq == Seq("b"))
    // non-returned BINDING still rejected
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse(
        "MATCH (a:A)-[:X]->(b:B) RETURN b ORDER BY a.name"))
    }
  }

  test("sequential MATCH clauses: shared scope, per-clause WHERE, disconnected product") {
    val dbD = new GraphDB(diamond)
    // conjunction over the shared binding scope == the comma form
    val seq = dbD.query("MATCH (a:A) MATCH (a)-[:X]->(b:B) RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(seq.toSeq == Seq((1L, 2L), (1L, 3L)))
    // disconnected clauses → bounded product of the component matches
    val prod = dbD.query("MATCH (a:A) MATCH (c:C) RETURN a, c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(prod.toSeq == Seq((1L, 4L)))
    // per-clause WHERE conjuncts merge
    val dbP = new GraphDB(propsG)
    val perClause = dbP.query(
      "MATCH (a:A) WHERE a.name = 'a1' MATCH (a)-[:X]->(b:B) WHERE b.value > 15 RETURN b")
      .collect().map(_.getLong(0))
    assert(perClause.toSeq == Seq(3L))
    // WHERE may precede OPTIONAL MATCH (openCypher clause attachment)
    val whereFirst = dbP.query(
      "MATCH (b:B) WHERE b.value < 15 OPTIONAL MATCH (a:A)-[:X]->(b) RETURN b, count(a) ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(whereFirst.toSeq == Seq((2L, 1L), (4L, 1L)))
    // property maps in different MATCH clauses all bind to the required
    // pattern (mapPreds slicing spans the clause sequence)
    val maps = dbP.query(
      "MATCH (b:B {name: 'x'}) MATCH (a:A {name: 'a1'})-[:X]->(b) RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(maps.toSeq == Seq((1L, 2L), (1L, 4L)))
  }

  test("IN list predicates: pushdown, residual, empty list") {
    val db = new GraphDB(propsG)
    val in = db.query("MATCH (b:B) WHERE b.name IN ['x', 'zzz'] RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(in.toSeq == Seq(2L, 4L))
    assert(db.query("MATCH (b:B) WHERE b.name IN [] RETURN b").collect().isEmpty)
    // IN inside a disjunction rides the residual path
    val res = db.query("MATCH (b:B) WHERE b.name IN ['y'] OR b.value IN [10] RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(res.toSeq == Seq(2L, 3L, 4L))
    // NOT (x IN [...])
    val not = db.query("MATCH (b:B) WHERE NOT (b.name IN ['x']) RETURN b")
      .collect().map(_.getLong(0))
    assert(not.toSeq == Seq(3L))
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (b:B) WHERE b.name IN [true] RETURN b")
    }
  }

  test("RETURN *: named bindings in scope, anonymous excluded, post-WITH columns") {
    val db = new GraphDB(propsG)
    val star = db.query("MATCH (a:A)-[:X]->(b:B) RETURN *")
    assert(star.columns.toSeq == Seq("a", "b"))
    assert(star.count() == 3)
    val anon = db.query("MATCH (a:A)-[:X]->() RETURN *")
    assert(anon.columns.toSeq == Seq("a"))
    val withStar = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, count(b) AS n RETURN * ORDER BY nm")
    assert(withStar.columns.toSeq == Seq("nm", "n"))
    assert(withStar.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 2L), ("y", 1L)))
  }

  test("agg(DISTINCT …) after WITH; rejected over a raw match") {
    val db = new GraphDB(propsG)
    // post-WITH rows are (x, 10), (y, 20), (x, 10): DISTINCT folds values
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS nm, b.value AS v " +
      "RETURN count(nm) AS rows, count(DISTINCT nm) AS names, " +
      "sum(v) AS total, sum(DISTINCT v) AS dtotal, avg(DISTINCT v) AS davg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq((3L, 2L, 40.0, 30.0, 15.0)))
    val e = intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A)-[:X]->(b:B) RETURN count(DISTINCT b)")
    }
    assert(e.getMessage.contains("post-WITH"))
  }

  test("RETURN r.prop: edge property projection, aggregation, residual combination") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 5.0), (2L, "A", 9.0), (3L, "B", 10.0), (4L, "B", 20.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X", 1.0), (1L, 4L, "X", 7.0),
        (2L, 3L, "X", 8.0), (2L, 4L, "X", 2.0))).toDF("src", "dst", "etype", "w"))
    val db = new GraphDB(g)
    val proj = db.query("MATCH (a:A)-[r:X]->(b:B) RETURN a, b, r.w")
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2))).toSet
    assert(proj == Set((1L, 3L, 1.0), (1L, 4L, 7.0), (2L, 3L, 8.0), (2L, 4L, 2.0)))
    // aggregates over the relationship property, grouped by an endpoint
    val agg = db.query(
      "MATCH (a:A)-[r:X]->(b:B) RETURN a, sum(r.w), max(r.w) ORDER BY a")
      .collect().map(row => (row.getLong(0), row.getDouble(1), row.getDouble(2)))
    assert(agg.toSeq == Seq((1L, 8.0, 7.0), (2L, 10.0, 8.0)))
    // combined with a residual WHERE that also reads the edge property:
    // surviving rows keep their per-relationship value
    val mixed = db.query(
      "MATCH (a:A)-[r:X]->(b:B) WHERE r.w >= 7 OR b.value > 15 RETURN a, b, r.w")
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2))).toSet
    assert(mixed == Set((1L, 4L, 7.0), (2L, 3L, 8.0), (2L, 4L, 2.0)))
    // undirected: the property of whichever orientation matched
    val undir = db.query("MATCH (b:B)-[r:X]-(x) RETURN b, x, r.w")
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2))).toSet
    assert(undir == Set((3L, 1L, 1.0), (3L, 2L, 8.0), (4L, 1L, 7.0), (4L, 2L, 2.0)))
    // bare relationship entity and varlen rel properties stay rejected
    val bare = intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse("MATCH (a:A)-[r:X]->(b:B) RETURN r"))
    }
    assert(bare.getMessage.contains("relationship entity"))
    intercept[graft.cypher.ParseException] {
      Pattern.fromQuery(CypherParser.parse("MATCH (a:A)-[r:X*1..2]->(b:B) RETURN a, r.w"))
    }
  }

  test("tpch graph: entry smoke") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("mutation: addNodes/addEdges visible to subsequent queries") {
    import spark.implicits._
    val g1 = diamond(Delta(
      addedNodes = Some(Seq((5L, "C")).toDF("id", "label")),
      addedEdges = Some(Seq((2L, 5L, "Y")).toDF("src", "dst", "etype"))))
    val got = new GraphDB(g1).query("MATCH (b:B)-[:Y]->(c:C) RETURN c")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(4L, 5L))
    assert(g1.node(5L).count() == 1)
  }

  test("mutation: GraphDB.addNodes/addEdges plans with fresh stats") {
    import spark.implicits._
    val db0 = new GraphDB(diamond)
    val before = db0.stats // force the pre-mutation snapshot
    val db1 = db0
      .addNodes(Seq((5L, "C"), (6L, "C")).toDF("id", "label"))
      .addEdges(Seq((2L, 5L, "Y"), (2L, 6L, "Y")).toDF("src", "dst", "etype"))
    // the new GraphDB recomputes stats over the mutated graph...
    assert(db1.stats.nodeCounts("C") == before.nodeCounts("C") + 2)
    assert(db1.stats.edgeCounts("Y") == before.edgeCounts("Y") + 2)
    assert(db1.stats.tripletCount(Some("B"), Seq("Y"), Some("C")) ==
      before.tripletCount(Some("B"), Seq("Y"), Some("C")) + 2)
    // ...the old one keeps its snapshot (in-flight plans unaffected)
    assert(db0.stats eq before)
    // and the post-mutation plan sees the new rows
    val got = db1.query("MATCH (b:B)-[:Y]->(c:C) RETURN c")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(4L, 5L, 6L))
  }

  test("CREATE: literal nodes and edges visible to subsequent queries") {
    val db0 = new GraphDB(propsG)
    // literal nodes with props (explicit + allocated id) plus an inline edge
    val db1 = db0.execute(
      "CREATE (p:B {id: 9, name: 'z', value: 30}), " +
      "(q:A {name: 'a2'})-[:X]->(p)")
    // allocated id = max(id)+1 = 5 (the reference's AtomicLong counter analogue)
    val names = db1.query("MATCH (a:A) RETURN a, a.name ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(names.toSeq == Seq((1L, "a1"), (5L, "a2")))
    val hop = db1.query("MATCH (a:A)-[:X]->(b:B) WHERE b.value > 25 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hop.toSeq == Seq((5L, 9L)))
    // the receiver is untouched (immutable mutation contract)
    assert(db0.query("MATCH (a:A) RETURN a").collect().length == 1)
    // stats refreshed on the new GraphDB
    assert(db1.stats.nodeCounts("B") == db0.stats.nodeCounts("B") + 1)
    assert(db1.stats.edgeCounts("X") == db0.stats.edgeCounts("X") + 1)
    // incremental delta ≡ full recompute over the mutated graph
    assert(db1.stats == new GraphDB(db1.graph).stats)
  }

  test("CREATE after MATCH: one edge per distinct match; rejections") {
    val db0 = new GraphDB(diamond)
    // connect every (a:A, c:C) pair reachable through the diamond — the
    // distributed write path: match plan → projected id pairs → addEdges
    val db1 = db0.execute(
      "MATCH (a:A)-[:X]->(:B)-[:Y]->(c:C) CREATE (a)-[:SHORTCUT {w: 2}]->(c)")
    val sc = db1.query("MATCH (a:A)-[r:SHORTCUT]->(c:C) RETURN a, c, r.w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sc.toSeq == Seq((1L, 4L, 2L))) // two paths, ONE distinct (a, c) pair
    // the INCREMENTAL stats (per-insert StatsStore contract: base + delta,
    // no graph scan) must equal a full recompute over the mutated graph
    assert(db1.stats.tripletCount(Some("A"), Seq("SHORTCUT"), Some("C")) == 1L)
    assert(db1.stats == new GraphDB(db1.graph).stats)
    // per-match-row node creation rejected loudly
    intercept[graft.cypher.ParseException] {
      db0.execute("MATCH (a:A) CREATE (x:Copy {name: 'c'})-[:OF]->(a)")
    }
    // unknown endpoint rejected
    intercept[graft.cypher.ParseException] {
      db0.execute("CREATE (a)-[:T]->(b)")
    }
    // undirected CREATE rejected
    intercept[graft.cypher.ParseException] {
      db0.execute("MATCH (a:A), (c:C) CREATE (a)-[:T]-(c)")
    }
  }

  test("MERGE: idempotent node and edge creation") {
    val db0 = new GraphDB(propsG)
    // first MERGE creates; re-running the SAME statements appends nothing
    val db1 = db0
      .execute("MERGE (p:B {id: 9, name: 'z', value: 30})")
      .execute("MATCH (a:A), (p:B) WHERE p.value > 25 MERGE (a)-[:X]->(p)")
    val db2 = db1
      .execute("MERGE (p:B {id: 9, name: 'z', value: 30})") // exists → no-op
      .execute("MATCH (a:A), (p:B) WHERE p.value > 25 MERGE (a)-[:X]->(p)")
    assert(db2.graph.nodes.count() == db1.graph.nodes.count())
    assert(db2.graph.edges.count() == db1.graph.edges.count())
    assert(db2.stats == db1.stats) // incremental deltas see zero creations
    // a MERGE edge between existing endpoints skips stored duplicates:
    // a-X->2 already exists, a-X->9 is new
    val db3 = db1.execute("MATCH (a:A), (b:B) WHERE b.value < 15 MERGE (a)-[:X]->(b)")
    assert(db3.graph.edges.count() == db1.graph.edges.count()) // 2 and 4 both stored
    // MERGE binds the EXISTING node's id for edges in the same statement
    val db4 = db0.execute("MERGE (a:A {name: 'a1'})-[:SELF]->(a2:B {name: 'x', value: 10})")
    val self = db4.query("MATCH (x:A)-[:SELF]->(y:B) RETURN x, y")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(self.toSeq == Seq((1L, 2L))) // both endpoints resolved, none created
    assert(db4.graph.nodes.count() == db0.graph.nodes.count())
    assert(db4.stats == new GraphDB(db4.graph).stats)
  }

  test("MERGE ON CREATE SET / ON MATCH SET: the upsert takes the right branch") {
    val db0 = new GraphDB(propsG)
    val upsert = "MERGE (p:B {name: 'x', value: 10}) " +
      "ON CREATE SET p.seen = 1 ON MATCH SET p.seen = p.seen + 1"
    // (name x, value 10) matches node 2 → ON MATCH fires on the existing row
    // … but seen doesn't exist yet: p.seen + 1 over null stays null, so
    // seed it with a fresh merge first
    val dbA = db0.execute(
      "MERGE (q:B {name: 'q0', value: 5}) ON CREATE SET q.seen = 1 ON MATCH SET q.seen = q.seen + 1")
    val seenNew = dbA.query("MATCH (b:B) WHERE b.name = 'q0' RETURN b.seen")
      .collect()(0).getLong(0)
    assert(seenNew == 1L) // created → ON CREATE branch
    val dbB = dbA.execute(
      "MERGE (q:B {name: 'q0', value: 5}) ON CREATE SET q.seen = 1 ON MATCH SET q.seen = q.seen + 1")
    val seenAgain = dbB.query("MATCH (b:B) WHERE b.name = 'q0' RETURN b.seen")
      .collect()(0).getLong(0)
    assert(seenAgain == 2L) // matched → ON MATCH branch increments
    assert(dbB.graph.nodes.count() == dbA.graph.nodes.count()) // no new row
    // other rows untouched by the targeted rewrite
    assert(dbB.query("MATCH (b:B) WHERE b.name = 'x' RETURN b").collect().length == 2)
    // ON clauses only bind merged nodes; non-merge statements reject at parse
    intercept[graft.cypher.ParseException] {
      db0.execute(upsert + " , (z:B {name: 'y'}) ON CREATE SET nope.x = 1")
    }
    intercept[graft.cypher.ParseException] {
      db0.execute("CREATE (p:B {name: 'w'}) ON CREATE SET p.seen = 1")
    }
  }

  test("SET: distributed column rewrite; unmatched rows keep their values") {
    val db0 = new GraphDB(propsG)
    val db1 = db0.execute(
      "MATCH (a:A)-[:X]->(b:B) WHERE b.value > 15 SET b.value = b.value * 2, b.tier = 'hi'")
    val rows = db1.query("MATCH (b:B) RETURN b, b.value, b.tier ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getDouble(1), if (r.isNullAt(2)) null else r.getString(2)))
    // b3 (20.0) matched → doubled + tier; b2/b4 (10.0) untouched, tier null
    assert(rows.toSeq == Seq((2L, 10.0, null), (3L, 40.0, "hi"), (4L, 10.0, null)))
    // receiver untouched; stats shared (SET never changes labels/topology)
    assert(db0.query("MATCH (b:B) WHERE b.value > 30 RETURN b").collect().isEmpty)
    assert(db1.stats == db0.stats)
    // value expressions may not read other bindings
    intercept[graft.cypher.ParseException] {
      db0.execute("MATCH (a:A)-[:X]->(b:B) SET b.value = a.value")
    }
    intercept[graft.cypher.ParseException] {
      db0.execute("MATCH (b:B) SET b.id = 99")
    }
  }

  test("REMOVE: matched rows drop the property; absent property is a no-op") {
    val db0 = new GraphDB(propsG)
    val db1 = db0.execute("MATCH (b:B) WHERE b.value > 15 REMOVE b.value")
    val vals = db1.query("MATCH (b:B) RETURN b, b.value ORDER BY b")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
    assert(vals.toSeq == Seq((2L, 10.0), (3L, -1.0), (4L, 10.0)))
    // keys() reflects the removal per row
    val ks = db1.query("MATCH (b:B) RETURN b, join(keys(b), ',') AS ks ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ks.toSeq == Seq((2L, "name,value"), (3L, "name"), (4L, "name,value")))
    // absent property → no-op, schema unchanged
    val db2 = db0.execute("MATCH (b:B) REMOVE b.nope")
    assert(db2.graph.nodes.columns.toSeq == db0.graph.nodes.columns.toSeq)
  }

  test("DELETE: relationship and node removal, DETACH semantics") {
    val db0 = new GraphDB(diamond)
    // delete one matched edge type; storage orientation respected
    val db1 = db0.execute("MATCH (a:A)-[r:X]->(b:B) WHERE b = 2 DELETE r")
    assert(db1.query("MATCH (a:A)-[:X]->(b:B) RETURN b").collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(db1.graph.edges.count() == 3)
    // non-DETACH node delete with live relationships is refused
    intercept[graft.cypher.ParseException] {
      db0.execute("MATCH (b:B) WHERE b = 2 DELETE b")
    }
    // DETACH DELETE removes the node and its incident edges
    val db2 = db0.execute("MATCH (b:B) WHERE b = 2 DETACH DELETE b")
    assert(db2.graph.nodes.count() == 3)
    assert(db2.graph.edges.count() == 2) // 1-X->2 and 2-Y->4 gone
    assert(db2.query("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN b")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // incremental stats (base − measured removed rows) ≡ full recompute
    assert(db2.stats.nodeCounts("B") == 1 && db2.stats.edgeCounts("X") == 1)
    assert(db2.stats == new GraphDB(db2.graph).stats)
    assert(db1.stats == new GraphDB(db1.graph).stats)
    // deleting via an undirected match removes the stored orientation
    val db3 = db0.execute("MATCH (b:B)-[r:X]-(a:A) DELETE r")
    assert(db3.graph.edges.filter(org.apache.spark.sql.functions.col("etype") === "X").count() == 0)
  }

  test("DELETE: multi-type pattern with edge predicate removes only matching edges") {
    // parallel X (w=5) and Z (w=3) edges on the same pair: a typed DELETE
    // whose predicate only the X edge satisfies must not sweep the Z edge
    // (removal keys derive from the edges that actually matched, not from
    // pairs × declared types)
    val pg = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A"), (2L, "B"))).toDF("id", "label"),
      spark.createDataFrame(Seq((1L, 2L, "X", 5L), (1L, 2L, "Z", 3L), (1L, 2L, "W", 5L)))
        .toDF("src", "dst", "etype", "w"))
    val db0 = new GraphDB(pg)
    val db1 = db0.execute("MATCH (a:A)-[x:X|Z]->(b:B) WHERE x.w = 5 DELETE x")
    val left = db1.graph.edges.collect().map(_.getString(2)).sorted
    assert(left.toSeq == Seq("W", "Z"), "only the X edge (w=5, declared type) goes")
    // incremental stats ≡ full recompute over the survivors
    assert(db1.stats == new GraphDB(db1.graph).stats)
    // without the predicate, both declared types on the matched pair go
    val db2 = db0.execute("MATCH (a:A)-[x:X|Z]->(b:B) DELETE x")
    assert(db2.graph.edges.collect().map(_.getString(2)).toSeq == Seq("W"))
    // a declared type with no stored edge removes nothing (and doesn't fail)
    val db3 = db0.execute("MATCH (a:A)-[x:X|NOPE]->(b:B) DELETE x")
    assert(db3.graph.edges.count() == 2)
  }

  test("pushed rel predicate re-applies at the identity join-back (parallel edges)") {
    // X (w=5) and Z (w=3) in parallel on one pair: the pushed x.w = 5
    // narrows the matched PAIR, but type(x)/x.w render via a join-back that
    // re-fans the pair to every declared-type edge — the predicate must
    // re-apply there or the failed Z edge resurfaces
    val pg = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A"), (2L, "B"))).toDF("id", "label"),
      spark.createDataFrame(Seq((1L, 2L, "X", 5L), (1L, 2L, "Z", 3L)))
        .toDF("src", "dst", "etype", "w"))
    val db = new GraphDB(pg)
    val t = db.query("MATCH (a:A)-[x:X|Z]->(b:B) WHERE x.w = 5 RETURN type(x)")
      .collect().map(_.getString(0))
    assert(t.toSeq == Seq("X"))
    val w = db.query("MATCH (a:A)-[x:X|Z]->(b:B) WHERE x.w = 5 RETURN a, b, x.w")
      .collect().map(_.getLong(2))
    assert(w.toSeq == Seq(5L))
  }

  test("DELETE: WHERE mixing the relationship's props with other bindings") {
    // parallel X (w=5) and Z (w=3) edges 1->2, plus X (w=3) 1->3. The OR
    // conjunct mixes x.w with b's id, so it cannot be re-applied per-edge —
    // removal keys must be the matched edges' identities: on pair (1,2)
    // only the X edge satisfies x.w = 5 (b=2 fails the other arm), so the
    // Z edge on the SAME pair must survive; on pair (1,3) the X edge
    // matches via b = 3 despite w = 3.
    val pg = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A"), (2L, "B"), (3L, "B"))).toDF("id", "label"),
      spark.createDataFrame(Seq(
        (1L, 2L, "X", 5L), (1L, 2L, "Z", 3L), (1L, 3L, "X", 3L)))
        .toDF("src", "dst", "etype", "w"))
    val db0 = new GraphDB(pg)
    val db1 = db0.execute("MATCH (a:A)-[x:X|Z]->(b:B) WHERE x.w = 5 OR b = 3 DELETE x")
    val left = db1.graph.edges.collect().map(r => (r.getLong(1), r.getString(2))).sorted
    assert(left.toSeq == Seq((2L, "Z")), "only the two WHERE-matched edges go")
    assert(db1.stats == new GraphDB(db1.graph).stats)
  }

  test("MERGE: a never-stored prop key takes the create branch (no AnalysisException)") {
    val db0 = new GraphDB(propsG)
    // `fresh` has never been a node column: no stored node can match, so the
    // merge must create — consistent with CREATE's allowMissingColumns union
    val db1 = db0.execute("MERGE (n:B {fresh: 1})")
    val got = db1.query("MATCH (n:B) WHERE n.fresh = 1 RETURN n").collect()
    assert(got.length == 1)
    // once the column exists, re-running the same MERGE is a no-op (idempotent)
    val db2 = db1.execute("MERGE (n:B {fresh: 1})")
    assert(db2.graph.nodes.count() == db1.graph.nodes.count())
    assert(db1.stats == new GraphDB(db1.graph).stats)
  }

  test("MERGE: deterministic bind — lowest id wins among several matches") {
    // propsG has b2 (x, 10) and b4 (x, 10): the merge must always bind id 2
    val db0 = new GraphDB(propsG)
    val db1 = db0.execute("MERGE (p:B {name: 'x'})-[:PICK]->(q:B {name: 'y'})")
    val picks = db1.graph.edges
      .filter(org.apache.spark.sql.functions.col("etype") === "PICK")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(picks.toSeq == Seq((2L, 3L)), "ambiguous merge binds the lowest id")
  }

  test("CREATE: explicit ids collision-checked; allocation clears explicit ids") {
    val db0 = new GraphDB(propsG) // stored ids 1..4
    // explicit id already stored → loud failure (silent duplicate ids would
    // corrupt every id-keyed join downstream)
    // a data-state conflict, not a syntax problem → WriteConflictException
    val e = intercept[graft.cypher.WriteConflictException] {
      db0.execute("CREATE (a:B {id: 2, name: 'dup'})")
    }
    assert(e.getMessage.contains("already exists"))
    // duplicate explicit ids within one statement → loud failure
    intercept[graft.cypher.WriteConflictException] {
      db0.execute("CREATE (a:B {id: 9}), (b:B {id: 9})")
    }
    // mixing explicit and allocated ids: the allocator (max(stored)+1 = 5)
    // skips the statement's explicit ids — no double-mint, and an explicit
    // id far above the stored range doesn't waste the id space below it
    val db1 = db0.execute("CREATE (a:B {id: 100, name: 'ex'}), (b:B {name: 'al'})")
    val ids = db1.query("MATCH (n:B) RETURN n ORDER BY n").collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(2L, 3L, 4L, 5L, 100L))
    // an explicit id equal to the next allocation slot is skipped over
    val db2 = db0.execute("CREATE (a:B {id: 5, name: 'ex'}), (b:B {name: 'al'})")
    val ids2 = db2.query("MATCH (n:B) RETURN n ORDER BY n").collect().map(_.getLong(0))
    assert(ids2.toSeq == Seq(2L, 3L, 4L, 5L, 6L))
    assert(db1.stats == new GraphDB(db1.graph).stats)
  }

  test("write surface: a small write holds no cache after its first read") {
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = cachedIds
    val db1 = new GraphDB(diamond)
      .execute("MATCH (a:A)-[:X]->(b:B) CREATE (a)-[:S]->(b)")
    assert(db1.query("MATCH (a:A)-[:S]->(b:B) RETURN b").collect().length == 2)
    // the appended pairs are a frozen local relation: nothing was persisted
    // (a subset check, so an earlier test's asynchronous release cannot
    // fail it)
    assert((cachedIds -- before).isEmpty, "a small write must not persist scratch")
  }

  /** The `read_write` benchmark chain in small: customers, suppliers and
    * parts, with one (supplier, part) edge stored twice (a multigraph). */
  private def chainGraph: PropertyGraph = PropertyGraph(
    spark.createDataFrame(Seq(
      (1L, "customer", "c1", 1.0), (2L, "customer", "c2", 2.0), (3L, "customer", "c3", 3.0),
      (10L, "supplier", "s1", 0.0), (11L, "supplier", "s2", 0.0),
      (20L, "part", "p1", 5.0), (21L, "part", "p2", 6.0), (22L, "part", "p3", 7.0)))
      .toDF("id", "label", "name", "value"),
    spark.createDataFrame(Seq(
      (10L, 20L, "SUPPLIES"), (10L, 21L, "SUPPLIES"), (10L, 21L, "SUPPLIES"),
      (11L, 21L, "SUPPLIES"), (11L, 22L, "SUPPLIES"),
      (1L, 21L, "LIKES"), (2L, 20L, "LIKES"), (3L, 10L, "KNOWS")))
      .toDF("src", "dst", "etype"))

  /** (write, read-your-write check) by depth: SET, DETACH DELETE, CREATE
    * edge, MERGE, SET — the chain of the `read_write` benchmark. */
  private val chain: Seq[(String, String)] = Seq(
    ("MATCH (c:customer) WHERE c.name = 'c2' SET c.value = 42.5",
      "MATCH (c:customer {name: 'c2'}) RETURN c.value"),
    ("MATCH (p:part {name: 'p2'}) DETACH DELETE p",
      "MATCH (p:part {name: 'p2'}) RETURN p"),
    ("MATCH (s:supplier {name: 's1'}), (c:customer {name: 'c3'}) CREATE (s)-[:SERVES {w: 4}]->(c)",
      "MATCH (s:supplier {name: 's1'})-[:SERVES]->(c:customer) RETURN c"),
    ("MATCH (c:customer {name: 'c1'}), (p:part {name: 'p3'}) MERGE (c)-[:LIKES]->(p)",
      "MATCH (c:customer {name: 'c1'})-[:LIKES]->(p:part) RETURN p"),
    ("MATCH (c:customer) WHERE c.name = 'c2' SET c.value = 7.25",
      "MATCH (c:customer {name: 'c2'}) RETURN c.value"))

  /** Applies `chain` from `db0`: the version and its check query per depth. */
  private def runChain(db0: GraphDB): Seq[(GraphDB, org.apache.spark.sql.DataFrame)] =
    chain.scanLeft((db0, spark.emptyDataFrame)) { case ((db, _), (w, check)) =>
      val next = db.execute(w)
      (next, next.query(check))
    }.tail

  test("write chain: a version's read plan does not grow with its depth") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = java.nio.file.Files.createTempDirectory("graft-write-chain").toString
    chainGraph.nodes.write.parquet(s"$dir/nodes")
    chainGraph.edges.write.parquet(s"$dir/edges")
    val db0 = new GraphDB(PropertyGraph(
      spark.read.parquet(s"$dir/nodes"), spark.read.parquet(s"$dir/edges")))
    val versions = runChain(db0)
    // base-table leaves of the read-your-write query: the same SET check at
    // depth 1 and depth 5 must scan the base tables equally often — each
    // write's delta is frozen, not a replay of its match over the parent
    def baseLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collectLeaves().count(_.isInstanceOf[LogicalRelation])
    val d1 = baseLeaves(versions.head._2)
    val d5 = baseLeaves(versions.last._2)
    assert(d1 > 0 && d5 == d1, s"base-table leaves: depth 1 = $d1, depth 5 = $d5")
    assert(versions.head._2.collect().map(_.getDouble(0)).toSeq == Seq(42.5))
    assert(versions.last._2.collect().map(_.getDouble(0)).toSeq == Seq(7.25))
  }

  test("write chain: local-relation and checkpoint deltas agree; stats stay exact") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    def trace(): Seq[(Seq[String], Seq[String], Seq[String])] =
      runChain(new GraphDB(chainGraph)).map { case (db, check) =>
        // incremental stats ≡ full recompute at every depth, including the
        // multigraph's doubled (s1, p2) edge under DETACH DELETE
        assert(db.stats == new GraphDB(db.graph).stats)
        (rows(check), rows(db.graph.nodes), rows(db.graph.edges))
      }
    val local = trace()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // every delta takes the checkpoint fallback
    val checkpointed = try {
      val set1 = new GraphDB(chainGraph).execute(chain.head._1)
      assert(set1.graph.nodes.queryExecution.analyzed.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      trace()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(local == checkpointed)
    assert(local.map(_._1) == Seq(Seq("42.5"), Seq(), Seq("3"), Seq("22"), Seq("7.25")))
    // DETACH DELETE removed p2 and its four incident edge rows (the doubled
    // one twice)
    assert(local(1)._3.size == chainGraph.edges.count() - 4)
  }

  /** `chain` past depth 9, adding the write kinds it lacks: an unlabelled
    * `MATCH … CREATE`, a CREATE that doubles a stored edge, a relationship
    * DELETE of both copies, a literal CREATE and a literal MERGE. */
  private val longChain: Seq[(String, String)] = chain ++ Seq(
    ("MATCH (a:supplier)-[:SUPPLIES]->(b) CREATE (a)-[:ALT]->(b)",
      "MATCH (a:supplier {name: 's1'})-[:ALT]->(b) RETURN b"),
    ("MATCH (s:supplier {name: 's2'}), (p:part {name: 'p3'}) CREATE (s)-[:SUPPLIES]->(p)",
      "MATCH (s:supplier {name: 's2'})-[:SUPPLIES]->(p:part) RETURN p"),
    ("MATCH (s:supplier)-[r:SUPPLIES]->(p:part {name: 'p3'}) DELETE r",
      "MATCH (s:supplier)-[:SUPPLIES]->(p:part {name: 'p3'}) RETURN s"),
    ("CREATE (x:customer {name: 'c9', value: 9.0})-[:LIKES]->(y:part {name: 'p9', value: 9.5})",
      "MATCH (c:customer {name: 'c9'})-[:LIKES]->(p:part) RETURN p"),
    ("MERGE (x:customer {name: 'c9'})-[:LIKES]->(y:part {name: 'p1'})",
      "MATCH (c:customer {name: 'c9'})-[:LIKES]->(p:part) RETURN p"),
    ("MATCH (c:customer) WHERE c.name = 'c2' SET c.value = 1.5",
      "MATCH (c:customer {name: 'c2'}) RETURN c.value"))

  // optimized-plan nodes of the SET check at each depth of `longChain` over
  // the parquet fixture: each write still stacks its anti-join, union or
  // rewrite on its parent's plan (the net-delta fold is to flatten this)
  private val chainPlanGolden: Map[Int, Int] = Map(1 -> 21, 2 -> 28, 3 -> 28, 4 -> 28, 5 -> 36,
    6 -> 36, 7 -> 36, 8 -> 36, 9 -> 53, 10 -> 53, 11 -> 64)

  test("long write chain: the check's plan size per depth; stats stay exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-long-chain").toString
    chainGraph.nodes.write.parquet(s"$dir/nodes")
    chainGraph.edges.write.parquet(s"$dir/edges")
    val base = PropertyGraph(spark.read.parquet(s"$dir/nodes"), spark.read.parquet(s"$dir/edges"))
    val check = "MATCH (c:customer {name: 'c2'}) RETURN c.value"
    def versions(): Seq[GraphDB] = longChain.scanLeft(new GraphDB(base))(_ execute _._1).tail
    val sizes = versions().zipWithIndex.map { case (db, i) =>
      assert(db.stats == new GraphDB(db.graph).stats, s"depth ${i + 1}")
      val rows = db.query(longChain(i)._2).collect().map(_.toSeq.mkString(",")).sorted.toSeq
      (i + 1, db.query(check).queryExecution.optimizedPlan.collect { case n => n }.size, rows)
    }
    assert(sizes.map(_._3) == Seq(Seq("42.5"), Seq(), Seq("3"), Seq("22"), Seq("7.25"),
      Seq("20"), Seq("22"), Seq(), Seq("24"), Seq("20", "24"), Seq("1.5")))
    val current = sizes.map(s => s._1 -> s._2).toMap
    if (sys.env.get("GRAFT_PLAN_DUMP").contains("1"))
      println(current.toSeq.sorted.map { case (d, n) => s"$d -> $n" }.mkString("CHAINGOLD Map(", ", ", ")"))
    else assert(current == chainPlanGolden, s"check plan nodes by depth moved: $current " +
      "(rerun with GRAFT_PLAN_DUMP=1 if intentional)")
    withoutBroadcast(versions().zipWithIndex.foreach { case (db, i) =>
      assert(db.stats == new GraphDB(db.graph).stats, s"depth ${i + 1}, checkpointed")
    })
  }

  /** `f` with `spark.sql.autoBroadcastJoinThreshold` at -1: every frozen
    * delta and label lookup is a checkpoint, not a local relation. */
  private def withoutBroadcast[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("write stats: exact for every write kind, and cheap to force") {
    val db0 = new GraphDB(chainGraph.cache())
    db0.stats
    // (write, most jobs forcing its version's stats may run)
    val writes: Seq[(String, Option[Int])] = Seq(
      "MATCH (s:supplier)-[r:SUPPLIES]->(p:part {name: 'p2'}) DELETE r" -> Some(6),
      "MATCH (p:part {name: 'p2'}) DETACH DELETE p" -> Some(6),
      "MATCH (a:supplier)-[:SUPPLIES]->(b) CREATE (a)-[:ALT]->(b)" -> Some(6),
      "MATCH (c:customer) WHERE c.name = 'c2' SET c.value = 42.5" -> Some(0),
      "CREATE (x:customer {name: 'c9', value: 9.0})-[:LIKES]->(y:part {name: 'p9', value: 9.5})" -> None,
      "MERGE (x:customer {name: 'c1'})-[:LIKES]->(y:part {name: 'p3'})" -> None)
    writes.foreach { case (w, bound) =>
      val db = db0.execute(w)
      val (jobs, stats) = jobsOf(db.stats)
      bound.foreach(b => assert(jobs <= b, s"$jobs jobs to force the stats after: $w"))
      assert(stats == new GraphDB(db.graph).stats, w)
    }
  }

  test("DELETE: an edge to a node with no node row leaves exact stats") {
    def deleteBoth(): Unit = {
      val db0 = new GraphDB(PropertyGraph(
        spark.createDataFrame(Seq((1L, "A"), (2L, "B"))).toDF("id", "label"),
        spark.createDataFrame(Seq((1L, 2L, "X"), (1L, 9L, "X"))).toDF("src", "dst", "etype")))
      db0.stats
      val db1 = db0.execute("MATCH (a:A)-[r:X]->(b) DELETE r")
      assert(db1.graph.edges.count() == 0)
      assert(db1.stats == new GraphDB(db1.graph).stats)
    }
    deleteBoth()
    withoutBroadcast(deleteBoth())
  }

  // --- round 8: pattern predicates, collect(), id()/type() ---

  /** A1,A2,A3 -X-> B10/B11; B10 -Y-> C20; A1 -Z-> C20; B11 -W-> C21. */
  private def social: PropertyGraph = PropertyGraph(
    spark.createDataFrame(Seq(
      (1L, "A", 5.0), (2L, "A", 9.0), (3L, "A", 7.0),
      (10L, "B", 1.0), (11L, "B", 2.0), (20L, "C", 30.0), (21L, "C", 40.0)))
      .toDF("id", "label", "value"),
    spark.createDataFrame(Seq(
      (1L, 10L, "X"), (2L, 11L, "X"), (3L, 10L, "X"),
      (10L, 20L, "Y"), (1L, 20L, "Z"), (11L, 21L, "W")))
      .toDF("src", "dst", "etype"))

  test("pattern predicate: bare conjunct compiles to a semi-join") {
    val db = new GraphDB(social)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) WHERE (b)-[:Y]->() RETURN a")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 3L))
    // EXISTS(...) is the explicit spelling of the same predicate
    val ex = db.query("MATCH (a:A)-[:X]->(b:B) WHERE EXISTS((b)-[:Y]->(:C)) RETURN a")
      .collect().map(_.getLong(0)).sorted
    assert(ex.toSeq == Seq(1L, 3L))
  }

  test("pattern predicate: NOT compiles to an anti-join") {
    val db = new GraphDB(social)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) WHERE NOT (b)-[:Y]->() RETURN a")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L))
  }

  test("pattern predicate: multi-hop path and two bound anchors") {
    val db = new GraphDB(social)
    val twoHop = db.query("MATCH (a:A) WHERE (a)-[:X]->()-[:Y]->() RETURN a")
      .collect().map(_.getLong(0)).sorted
    assert(twoHop.toSeq == Seq(1L, 3L))
    val viaZ = db.query("MATCH (a:A)-[:X]->(b:B) WHERE (a)-[:Z]->(:C) RETURN a")
      .collect().map(_.getLong(0))
    assert(viaZ.toSeq == Seq(1L))
  }

  test("pattern predicate: property map inside the pattern is existential") {
    val db = new GraphDB(social)
    val got = db.query("MATCH (a:A)-[:X]->(b:B) WHERE (b)-[:W]->({value: 40}) RETURN a")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L))
    // the map constrained the SUBQUERY only: a value=40 filter on the outer
    // match would have emptied the result (no A/B node has value 40)
  }

  test("pattern predicate nested under OR uses the exists-flag join") {
    val db = new GraphDB(social)
    val got = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.value > 8 OR (b)-[:Y]->() RETURN a")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
    val notOr = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.value > 8 OR NOT ((b)-[:Y]->()) RETURN a")
      .collect().map(_.getLong(0)).sorted
    assert(notOr.toSeq == Seq(2L))
    // AND mixes: the comparison pushes down, the pattern semi-joins
    val mixed = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE (b)-[:Y]->() AND a.value > 6 RETURN a")
      .collect().map(_.getLong(0))
    assert(mixed.toSeq == Seq(3L))
  }

  test("pattern predicate validation: anchors, new variables, rel vars, WITH") {
    val db = new GraphDB(social)
    intercept[graft.cypher.ParseException] { // all nodes anonymous
      db.query("MATCH (a:A) WHERE ()-[:Y]->() RETURN a")
    }
    intercept[graft.cypher.ParseException] { // introduces new variable
      db.query("MATCH (a:A) WHERE (a)-[:X]->(fresh) RETURN a")
    }
    intercept[graft.cypher.ParseException] { // rel variable inside
      db.query("MATCH (a:A) WHERE (a)-[r:X]->() RETURN a")
    }
    intercept[graft.cypher.ParseException] { // pattern after WITH
      db.query("MATCH (a:A) WITH a, count(a) AS n WHERE (a)-[:X]->() RETURN n")
    }
  }

  test("collect(): over a match folds distinct matches into a sorted array") {
    val db = new GraphDB(social)
    val perB = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b, collect(a) ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(perB.toSeq == Seq((10L, Seq(1L, 3L)), (11L, Seq(2L))))
    // set semantics: only b is referenced, so matches dedup to distinct b
    val global = db.query("MATCH (a:A)-[:X]->(b:B) RETURN collect(b)")
      .collect().map(_.getSeq[Long](0))
    assert(global.toSeq == Seq(Seq(10L, 11L)))
    // property collect folds each distinct match's value once
    val vals = db.query("MATCH (a:A)-[:X]->(b:B) RETURN b, collect(a.value) ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(vals.toSeq == Seq((10L, Seq(5.0, 7.0)), (11L, Seq(9.0))))
  }

  test("collect() after WITH: plain rows; DISTINCT folds to the value set") {
    val db = new GraphDB(social)
    val got = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b, count(a) AS n RETURN collect(n) AS ns")
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == Seq(Seq(1L, 2L)))
    val dist = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, b WITH b, count(a) AS n " +
      "RETURN collect(DISTINCT n) AS ns")
      .collect().map(_.getSeq[Long](0))
    assert(dist.toSeq == Seq(Seq(1L, 2L)))
  }

  test("type(r): matched relationship type; groups and DISTINCT dedup") {
    val db = new GraphDB(social)
    val grouped = db.query(
      "MATCH (a:A)-[r:X|Z]->(x) RETURN type(r), count(x) ORDER BY type_r")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(grouped.toSeq == Seq(("X", 2L), ("Z", 1L)))
    val single = db.query("MATCH (b:B)-[r:Y]->(c:C) RETURN b, type(r)")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(single.toSeq == Seq((10L, "Y")))
    val dist = db.query("MATCH (a:A)-[r:X]->(b) RETURN DISTINCT type(r)")
      .collect().map(_.getString(0))
    assert(dist.toSeq == Seq("X"))
  }

  test("id(n) projects the binding id; misuse rejected with targeted errors") {
    val db = new GraphDB(social)
    val got = db.query("MATCH (a:A)-[:X]->(b) RETURN id(a) AS aid ORDER BY aid")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L))
    intercept[graft.cypher.ParseException] { // type() of a node binding
      db.query("MATCH (a:A)-[:X]->(b) RETURN type(a)")
    }
    intercept[graft.cypher.ParseException] { // id() of a relationship
      db.query("MATCH (a:A)-[r:X]->(b) RETURN id(r)")
    }
    intercept[graft.cypher.ParseException] { // type() of a varlen rel
      db.query("MATCH (a:A)-[r:X*1..2]->(b) RETURN type(r)")
    }
    intercept[graft.cypher.ParseException] { // length() outside shortestPath
      db.query("MATCH (a:A)-[:X]->(b) RETURN length(a)")
    }
  }

  test("value functions: over properties, grouping keys, and post-WITH columns") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq(
        (1L, "A", "alpha", -2.5), (2L, "A", "Beta", 3.2), (3L, "B", "gamma", 9.0)))
        .toDF("id", "label", "name", "value"),
      spark.createDataFrame(Seq((1L, 3L, "X"), (2L, 3L, "X"))).toDF("src", "dst", "etype"))
    val db = new GraphDB(g)
    val fns = db.query(
      "MATCH (a:A) RETURN toUpper(a.name) AS u, abs(a.value) AS m, " +
      "floor(a.value) AS f, size(a.name) AS l ORDER BY u")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(fns.toSeq == Seq(("ALPHA", 2.5, -3L, 5L), ("BETA", 3.2, 3L, 4L)))
    // a value function is a GROUPING key under aggregation
    val grouped = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN toLower(b.name) AS n, count(a) ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(grouped.toSeq == Seq(("gamma", 2L)))
    // post-WITH: bare stage columns
    val piped = db.query(
      "MATCH (a:A) WITH a.name AS nm, a.value AS v " +
      "RETURN toUpper(nm) AS u, round(v) AS r ORDER BY u")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(piped.toSeq == Seq(("ALPHA", -3.0), ("BETA", 3.0)))
    // toString over an id; toInteger over a double
    val casts = db.query(
      "MATCH (a:A) RETURN toString(a) AS s, toInteger(a.value) AS i ORDER BY s")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(casts.toSeq == Seq(("1", -2L), ("2", 3L)))
    intercept[graft.cypher.ParseException] { // prop access after WITH
      db.query("MATCH (a:A) WITH a.name AS nm RETURN toUpper(a.name)")
    }
  }

  test("expressions: arithmetic over properties, precedence, literals") {
    val db = new GraphDB(propsG)
    // b.value ∈ {10, 20, 10}; precedence: * binds tighter than +
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, b.value * 2 + 1 AS v ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((2L, 21.0), (3L, 41.0), (4L, 21.0)))
    // mixed bindings in one expression; integer literal keeps long arith
    val mix = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, b.value - a.value AS d ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(mix.toSeq == Seq((2L, 9.0), (3L, 19.0), (4L, 9.0)))
    // parens + unary minus + division (SQL: yields double)
    val paren = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN DISTINCT (b.value + -10) / 2 AS h ORDER BY h")
      .collect().map(_.getDouble(0))
    assert(paren.toSeq == Seq(0.0, 5.0))
    // pure literal item
    val one = db.query("MATCH (a:A) RETURN 1 + 2 AS three").collect().map(_.getLong(0))
    assert(one.toSeq == Seq(3L))
    // an expression item REQUIRES an alias
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) RETURN a.value + 1")
    }
  }

  test("expressions: CASE searched and simple forms, no-ELSE is NULL") {
    val db = new GraphDB(propsG)
    val searched = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, CASE WHEN b.value > 15 THEN 'hi' " +
      "WHEN b.name = 'x' THEN 'ex' ELSE 'lo' END AS bucket ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(searched.toSeq == Seq((2L, "ex"), (3L, "hi"), (4L, "ex")))
    val simple = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, CASE b.name WHEN 'x' THEN 1 ELSE 0 END AS isx " +
      "ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(simple.toSeq == Seq((2L, 1L), (3L, 0L), (4L, 1L)))
    // no ELSE → NULL (openCypher)
    val noElse = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN b, CASE WHEN b.value > 15 THEN 'hi' END AS x ORDER BY b")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(noElse.toSeq == Seq((2L, None), (3L, Some("hi")), (4L, None)))
    // CASE as a GROUPING key under aggregation
    val grouped = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN CASE WHEN b.value > 15 THEN 'big' ELSE 'small' END " +
      "AS sz, count(b) ORDER BY sz")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(grouped.toSeq == Seq(("big", 1L), ("small", 2L)))
  }

  test("expressions: coalesce fills OPTIONAL MATCH nulls") {
    val db = new GraphDB(social)
    // b10 -Y-> c20 matches; b11 has no Y edge → coalesce default
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) OPTIONAL MATCH (b)-[:Y]->(c:C) " +
      "RETURN DISTINCT b, coalesce(c.value, 0 - 1) AS cv ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((10L, 30.0), (11L, -1.0)))
  }

  test("expressions: WHERE property-to-property and arithmetic comparisons") {
    val db = new GraphDB(social)
    // a.value < 10·1 always here; cross-binding comparison a.value > c.value never
    val cmp = db.query(
      "MATCH (a:A)-[:Z]->(c:C) WHERE a.value < c.value RETURN a, c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cmp.toSeq == Seq((1L, 20L)))
    val none = db.query(
      "MATCH (a:A)-[:Z]->(c:C) WHERE a.value > c.value RETURN a").count()
    assert(none == 0L)
    // arithmetic on both sides; value-function comparison
    val arith = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE a.value + b.value > 10 RETURN a ORDER BY a")
      .collect().map(_.getLong(0))
    assert(arith.toSeq == Seq(2L)) // 9+2 > 10; 5+1, 7+1 not
    val db2 = new GraphDB(propsG)
    val fn = db2.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE toUpper(b.name) = 'X' RETURN b ORDER BY b")
      .collect().map(_.getLong(0))
    assert(fn.toSeq == Seq(2L, 4L))
  }

  test("expressions: aggregates over expressions, match and post-WITH") {
    val db = new GraphDB(propsG)
    val s = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN sum(b.value * 2) AS s2, max(b.value - 5) AS m")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(s.toSeq == Seq((80.0, 15.0)))
    // post-WITH: expression over stage columns inside and outside aggregates
    val piped = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.value AS v, b.name AS n " +
      "RETURN sum(v + 1) AS sp, min(v * v) AS mn")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(piped.toSeq == Seq((43.0, 100.0)))
    // stage expression as a projected item then re-aggregated
    val staged = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.value * 10 AS v10 WITH v10, 1 AS one " +
      "RETURN sum(v10) AS t, count(*) AS n")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(staged.toSeq == Seq((400.0, 3L)))
  }

  test("expressions: CASE over post-WITH columns; WHERE on stage expressions") {
    val db = new GraphDB(propsG)
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS n, count(b) AS c " +
      "WHERE c * 2 >= 2 RETURN n, CASE WHEN c > 1 THEN 'dup' ELSE 'uniq' END AS k ORDER BY n")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("x", "dup"), ("y", "uniq")))
  }

  test("expressions: validation — unbound refs, rel entity, post-WITH props, varlen") {
    val db = new GraphDB(propsG)
    intercept[graft.cypher.ParseException] { // unbound binding in expression
      db.query("MATCH (a:A) RETURN a.value + z.value AS v")
    }
    intercept[graft.cypher.ParseException] { // relationship entity in expression
      db.query("MATCH (a:A)-[r:X]->(b:B) WHERE r + 1 > 0 RETURN a")
    }
    intercept[graft.cypher.ParseException] { // property access after WITH in expr
      db.query("MATCH (a:A) WITH a.value AS v RETURN v + a.value AS w")
    }
    intercept[graft.cypher.ParseException] { // count over an expression
      CypherParser.parse("MATCH (a:A) RETURN count(a.value + 1)")
    }
    intercept[graft.cypher.ParseException] { // avg(DISTINCT expr)
      CypherParser.parse("MATCH (a:A) WITH a.value AS v RETURN avg(DISTINCT v + 1)")
    }
    intercept[graft.cypher.ParseException] { // varlen rel property in expression
      db.query("MATCH (a:A)-[r:X*1..2]->(b:B) RETURN r.weight + 1 AS w")
    }
    intercept[graft.cypher.ParseException] { // unknown function
      CypherParser.parse("MATCH (a:A) RETURN frobnicate(a.value) AS v")
    }
    intercept[graft.cypher.ParseException] { // expressions with shortestPath
      db.query("MATCH p = shortestPath((a:A)-[:X*]->(b:B)) RETURN length(p) + 1 AS l")
    }
  }

  test("UNWIND: literal list source, pipeline, expressions over elements") {
    val db = new GraphDB(propsG)
    val plain = db.query("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(plain.toSeq == Seq(1L, 2L, 3L))
    // strings; DISTINCT over the elements
    val strs = db.query("UNWIND ['b', 'a', 'b'] AS s RETURN DISTINCT s ORDER BY s")
      .collect().map(_.getString(0))
    assert(strs.toSeq == Seq("a", "b"))
    // WITH pipeline over the unwound rows; expression per element
    val piped = db.query(
      "UNWIND [1, 2, 3, 4] AS x WITH x WHERE x > 1 RETURN sum(x * 10) AS s")
      .collect().map(_.getLong(0))
    assert(piped.toSeq == Seq(90L))
    // long+double list coerces to double (Spark array least common type)
    val mixed = db.query("UNWIND [1, 2.5] AS v RETURN v ORDER BY v")
      .collect().map(_.getDouble(0))
    assert(mixed.toSeq == Seq(1.0, 2.5))
    // empty list → no rows
    assert(db.query("UNWIND [] AS x RETURN x").count() == 0L)
    intercept[graft.cypher.ParseException] { // mixed string/number list
      CypherParser.parse("UNWIND [1, 'a'] AS x RETURN x")
    }
    intercept[graft.cypher.ParseException] { // WHERE directly after UNWIND
      CypherParser.parse("UNWIND [1, 2] AS x WHERE x > 1 RETURN x")
    }
  }

  test("UNWIND: collect() inverse — explode an array column mid-pipeline") {
    val db = new GraphDB(propsG)
    // collect the b's per a, unwind back, count per a
    val roundtrip = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b) AS bs UNWIND bs AS bid " +
      "RETURN a, count(bid) AS k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(roundtrip.toSeq == Seq((1L, 3L)))
    // unwound element participates in later stages and expressions
    val sums = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b.value) AS vs UNWIND vs AS v " +
      "WITH a, v WHERE v > 5 RETURN a, sum(v + 1) AS s")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(sums.toSeq == Seq((1L, 43.0)))
    // RETURN * includes the unwind alias
    val star = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b) AS bs UNWIND bs AS bid RETURN *")
    assert(star.columns.toSeq == Seq("a", "bs", "bid"))
    intercept[graft.cypher.ParseException] { // unknown source column
      CypherParser.parse("MATCH (a:A) WITH a UNWIND zs AS z RETURN z")
    }
    intercept[graft.cypher.ParseException] { // alias collides
      CypherParser.parse("MATCH (a:A) WITH a, collect(a) AS bs UNWIND bs AS a RETURN a")
    }
  }

  test("openCypher aggregates: stDev, stDevP, percentileCont, percentileDisc") {
    val db = new GraphDB(propsG)
    // b.value over distinct matches = {10, 20, 10}
    val stats = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN stDev(b.value) AS sd, stDevP(b.value) AS sp")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).head
    assert(math.abs(stats._1 - 5.773502691896258) < 1e-9)  // sqrt(100/3)
    assert(math.abs(stats._2 - 4.714045207910317) < 1e-9)  // sqrt(200/9)
    val pc = db.query(
      "MATCH (a:A)-[:X]->(b:B) RETURN percentileCont(b.value, 0.5) AS med, " +
      "percentileCont(b.value, 0.75) AS p75, percentileDisc(b.value, 0.5) AS dm")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).head
    assert(pc._1 == 10.0 && pc._2 == 15.0 && pc._3 == 10.0)
    // post-WITH over bare columns; grouped form
    val grouped = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH b.name AS n, b.value AS v " +
      "RETURN percentileCont(v, 1.0) AS mx ORDER BY mx")
      .collect().map(_.getDouble(0))
    assert(grouped.toSeq == Seq(20.0))
    intercept[graft.cypher.ParseException] { // percentile out of range
      CypherParser.parse("MATCH (a:A) RETURN percentileCont(a.value, 1.5) AS p")
    }
    intercept[graft.cypher.ParseException] { // missing percentile argument
      CypherParser.parse("MATCH (a:A) RETURN percentileCont(a.value) AS p")
    }
    intercept[graft.cypher.ParseException] { // DISTINCT not supported here
      CypherParser.parse("MATCH (a:A) WITH a.value AS v RETURN stDev(DISTINCT v) AS s")
    }
  }

  test("string functions: substring (0-based), replace, left, right, reverse") {
    val g = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", "alpha"), (2L, "A", "Beta")))
        .toDF("id", "label", "name"),
      spark.createDataFrame(Seq((1L, 2L, "X"))).toDF("src", "dst", "etype"))
    val db = new GraphDB(g)
    val rows = db.query(
      "MATCH (a:A) RETURN a.name, substring(a.name, 1, 3) AS sub, " +
      "substring(a.name, 2) AS tail, left(a.name, 2) AS l, right(a.name, 2) AS r, " +
      "reverse(a.name) AS rev, replace(a.name, 'a', 'o') AS rep ORDER BY a.name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6)))
    assert(rows.toSeq == Seq(
      ("Beta", "eta", "ta", "Be", "ta", "ateB", "Beto"),
      ("alpha", "lph", "pha", "al", "ha", "ahpla", "olpho")))
    // in WHERE; right() with n > length returns the whole string
    val w = db.query(
      "MATCH (a:A) WHERE substring(a.name, 0, 1) = 'B' RETURN right(a.name, 9) AS x")
      .collect().map(_.getString(0))
    assert(w.toSeq == Seq("Beta"))
    intercept[graft.cypher.ParseException] { // arg-count validation
      CypherParser.parse("MATCH (a:A) RETURN replace(a.name, 'a') AS x")
    }
  }

  test("optional match WHERE filters inside the left join (openCypher attachment)") {
    val db = new GraphDB(propsG)
    // b.value: b2=10, b3=20, b4=10 — WHERE b.value > 15 keeps only b3 in
    // the OPTIONAL side; a1 still appears (nulls), never dropped
    val rows = db.query(
      "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.value > 15 " +
      "RETURN a, b ORDER BY b")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.toSeq == Seq((1L, Some(3L))))
    // a fully filtered-out clause keeps the required row with nulls
    val nulls = db.query(
      "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.value > 999 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(nulls.toSeq == Seq((1L, true)))
    // property map inside OPTIONAL MATCH — same inside-the-join filter
    val viaMap = db.query(
      "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B {name: 'y'}) RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaMap.toSeq == Seq((1L, 3L)))
    // edge-property predicate inside the clause
    val g2 = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", 0.0), (2L, "B", 0.0), (3L, "B", 0.0)))
        .toDF("id", "label", "value"),
      spark.createDataFrame(Seq((1L, 2L, "X", 1.0), (1L, 3L, "X", 9.0)))
        .toDF("src", "dst", "etype", "w"))
    val edges = new GraphDB(g2).query(
      "MATCH (a:A) OPTIONAL MATCH (a)-[r:X]->(b:B) WHERE r.w > 5 RETURN a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.toSeq == Seq((1L, 3L)))
    // boolean structure inside the clause stays rejected loudly
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.value > 1 OR b.name = 'x' RETURN a")
    }
    // refs outside the clause's bindings rejected
    intercept[graft.cypher.ParseException] {
      CypherParser.parse(
        "MATCH (a:A)-[:X]->(c:B) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE c.value > 1 RETURN a") match {
        case q => Pattern.fromQuery(q)
      }
    }
  }

  test("labels(n) scalar and exists(n.prop) property existence") {
    val db = new GraphDB(propsG)
    val ls = db.query("MATCH (a:A)-[:X]->(b) RETURN DISTINCT labels(b) AS ls")
      .collect().map(_.getSeq[String](0))
    assert(ls.toSeq == Seq(Seq("B")))
    // labels as a grouping key; unlabeled binding resolves its actual label
    val grouped = db.query(
      "MATCH (a)-[:X]->(b) RETURN labels(a) AS la, count(b) AS k")
      .collect().map(r => (r.getSeq[String](0), r.getLong(1)))
    assert(grouped.toSeq == Seq((Seq("A"), 3L)))
    // exists() on properties: null name filtered out, NOT exists keeps it
    val g = PropertyGraph(
      spark.createDataFrame(Seq(
        (1L, "A", Option("x")), (2L, "A", Option.empty[String]), (3L, "A", Option("y"))))
        .toDF("id", "label", "name"),
      spark.createDataFrame(Seq((1L, 3L, "X"))).toDF("src", "dst", "etype"))
    val db2 = new GraphDB(g)
    val has = db2.query("MATCH (a:A) WHERE exists(a.name) RETURN a ORDER BY a")
      .collect().map(_.getLong(0))
    assert(has.toSeq == Seq(1L, 3L))
    val not = db2.query("MATCH (a:A) WHERE NOT exists(a.name) RETURN a")
      .collect().map(_.getLong(0))
    assert(not.toSeq == Seq(2L))
    intercept[graft.cypher.ParseException] { // labels on a relationship
      db.query("MATCH (a:A)-[r:X]->(b:B) RETURN labels(r) AS x")
    }
    intercept[graft.cypher.ParseException] { // labels on unknown binding
      db.query("MATCH (a:A) RETURN labels(z) AS x")
    }
  }

  test("WITH *: carries the scope, composes with extras and aggregation") {
    val db = new GraphDB(propsG)
    // first stage: named match bindings + a property extra
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH *, b.value AS v WITH b, v WHERE v > 15 " +
      "RETURN b, v")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((3L, 20.0)))
    // star + aggregate: star names become the grouping keys; post-WITH
    // rows are PLAIN rows, so two b's named x yield count 2 under (a, n)
    val agg = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, b.name AS n WITH *, count(a) AS k " +
      "RETURN n, k ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(agg.toSeq == Seq(("x", 2L), ("y", 1L)))
    intercept[graft.cypher.ParseException] { // duplicate output column
      CypherParser.parse("MATCH (a:A) WITH *, a RETURN a")
    }
  }

  test("query parameters: literals, pushdown, maps, IN and UNWIND lists") {
    val db = new GraphDB(propsG)
    // comparison operand — stays a pushdown Cmp (same tree as a literal)
    val q = CypherParser.parse(
      "MATCH (a:A)-[:X]->(b:B) WHERE b.value > $min RETURN b", Map("min" -> 15))
    assert(q.where == Seq(Ast.Cmp("b", "value", ">", 15.0)))
    val filtered = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE b.value > $min RETURN b", Map("min" -> 15))
      .collect().map(_.getLong(0))
    assert(filtered.toSeq == Seq(3L))
    // string param in a property map; numeric param in an expression
    val mapped = db.query(
      "MATCH (a:A)-[:X]->(b:B {name: $nm}) RETURN b, b.value * $f AS v ORDER BY b",
      Map("nm" -> "x", "f" -> 2.5))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(mapped.toSeq == Seq((2L, 25.0), (4L, 25.0)))
    // IN with a whole-list param; UNWIND a list param
    val inL = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE b.name IN $names RETURN DISTINCT b ORDER BY b",
      Map("names" -> Seq("y", "zz")))
      .collect().map(_.getLong(0))
    assert(inL.toSeq == Seq(3L))
    val unw = db.query("UNWIND $xs AS x RETURN sum(x) AS s", Map("xs" -> Seq(1, 2, 3)))
      .collect().map(_.getLong(0))
    assert(unw.toSeq == Seq(6L))
    // errors: missing, unsupported type, scalar in a list position
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) WHERE a.value > $nope RETURN a", Map("x" -> 1))
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) WHERE a.value > $b RETURN a", Map("b" -> true))
    }
    intercept[graft.cypher.ParseException] {
      CypherParser.parse("MATCH (a:A) WHERE a.name IN $v RETURN a", Map("v" -> "solo"))
    }
  }

  test("UNION branches: expressions, params, and map slicing stay branch-local") {
    val db = new GraphDB(propsG)
    // branch 1: expression over a's property with a numeric param;
    // branch 2: property map with a string param + its own expression —
    // the shared parser cursor must slice each branch's maps/params cleanly
    val rows = db.query(
      "MATCH (a:A) RETURN a.value * $m AS v " +
      "UNION MATCH (b:B {name: $nm}) RETURN b.value * 1 AS v ORDER BY v",
      Map("m" -> 100, "nm" -> "y"))
      .collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(20.0, 100.0))
  }

  test("list functions: size/head/last over collect()ed columns") {
    val db = new GraphDB(propsG)
    // collect is SORTED, so head/last are the min/max elements
    val rows = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b) AS bs " +
      "RETURN a, size(bs) AS sz, head(bs) AS h, last(bs) AS t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 3L, 2L, 4L)))
    // size on a string stage column still counts characters
    val s = db.query("MATCH (a:A) WITH a.name AS nm RETURN size(nm) AS l")
      .collect().map(_.getLong(0))
    assert(s.toSeq == Seq(2L)) // "a1"
  }

  test("UNWIND range(): inclusive bounds, step, empty interval, params") {
    val db = new GraphDB(diamond)
    val asc = db.query("UNWIND range(1, 5) AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(asc.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val stepped = db.query("UNWIND range(0, 10, 3) AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(stepped.toSeq == Seq(0L, 3L, 6L, 9L))
    val desc = db.query("UNWIND range(3, 1, -1) AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(desc.toSeq == Seq(1L, 2L, 3L))
    // bounds pointing away from end → empty (openCypher)
    assert(db.query("UNWIND range(5, 1) AS x RETURN x").collect().isEmpty)
    // parameterized bounds; pipeline aggregation over the source
    val agg = db.query("UNWIND range($lo, $hi) AS x RETURN count(x) AS n, sum(x) AS s",
      Map("lo" -> 1, "hi" -> 4)).collect()(0)
    assert(agg.getLong(0) == 4L && agg.getLong(1) == 10L)
    // step 0 rejected at parse
    intercept[graft.cypher.ParseException] {
      db.query("UNWIND range(1, 5, 0) AS x RETURN x")
    }
  }

  test("range() as a value expression pairs with mid-pipeline UNWIND") {
    val db = new GraphDB(diamond)
    val rows = db.query(
      "UNWIND range(1, 3) AS x WITH x, range(1, x) AS xs UNWIND xs AS y " +
      "RETURN x, count(y) AS n ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // size() counts elements over the statically-list-valued range()
    val sz = db.query("UNWIND range(2, 4) AS x RETURN x, size(range(1, x)) AS n ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sz.toSeq == Seq((2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("UNWIND range() composes with UNION branches") {
    val db = new GraphDB(diamond)
    val u = db.query(
      "UNWIND range(1, 3) AS x RETURN x UNION UNWIND range(2, 4) AS x RETURN x ORDER BY x")
      .collect().map(_.getLong(0))
    assert(u.toSeq == Seq(1L, 2L, 3L, 4L)) // UNION dedups the overlap
    val all = db.query(
      "UNWIND range(1, 2) AS x RETURN x UNION ALL UNWIND range(1, 2) AS x RETURN x")
      .collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(1L, 1L, 2L, 2L))
  }

  test("split(): literal delimiter, list accessors; expression delimiter rejected") {
    val db = new GraphDB(propsG)
    val rows = db.query(
      "MATCH (a:A) RETURN size(split(a.name, '1')) AS parts, head(split(a.name, '1')) AS h")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((2L, "a"))) // "a1" → ["a", ""]
    // the delimiter is regex-QUOTED: '.' splits on the literal dot, not any-char
    val dot = db.query("UNWIND ['a.b.c'] AS s RETURN size(split(s, '.')) AS n")
      .collect().map(_.getLong(0))
    assert(dot.toSeq == Seq(3L))
    intercept[IllegalArgumentException] {
      db.query("MATCH (a:A) RETURN split(a.name, a.name) AS x").collect()
    }
  }

  test("startNode/endNode: storage orientation, undirected match, rejections") {
    val db = new GraphDB(diamond)
    val fwd = db.query("MATCH (a:A)-[r:X]->(b:B) RETURN startNode(r) AS s, endNode(r) AS e " +
      "ORDER BY e").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fwd.toSeq == Seq((1L, 2L), (1L, 3L)))
    // undirected match must NOT reorient: both rows keep storage src=1
    val und = db.query("MATCH (a:A)-[r:X]-(b:B) RETURN startNode(r) AS s, endNode(r) AS e " +
      "ORDER BY e").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(und.toSeq == Seq((1L, 2L), (1L, 3L)))
    intercept[graft.cypher.ParseException] { // node binding
      db.query("MATCH (a:A)-[:X]->(b:B) RETURN startNode(a) AS s")
    }
    intercept[graft.cypher.ParseException] { // varlen binds a list
      db.query("MATCH (a:A)-[r:X*1..2]->(b) RETURN startNode(r) AS s")
    }
  }

  test("parser fuzz: junk token streams raise ParseException, never crash") {
    import graft.cypher.CypherParser
    val rnd = new scala.util.Random(1234)
    val toks = Seq("MATCH", "(", ")", "-", "[", "]", ">", "<", "RETURN", "WHERE",
      "a", "b", ":", "A", "X", ",", "'x'", "1", "*", "WITH", "UNWIND", "CREATE",
      "MERGE", "SET", "DELETE", ".", "=", "=~", "AS", "ORDER", "BY", "LIMIT",
      "{", "}", "|", "..", "$", "AND", "OR", "NOT", "count", "collect")
    var legal = 0
    for (i <- 1 to 800) {
      val s = Seq.fill(rnd.nextInt(14) + 1)(toks(rnd.nextInt(toks.size))).mkString(" ")
      try { CypherParser.parse(s); legal += 1 }
      catch {
        case _: graft.cypher.ParseException => ()
        case e: Throwable => fail(s"non-ParseException for [$s]: ${e.getClass} ${e.getMessage}")
      }
      try { CypherParser.parseWrite(s); legal += 1 }
      catch {
        case _: graft.cypher.ParseException => ()
        case e: Throwable => fail(s"parseWrite non-ParseException for [$s]: ${e.getClass}")
      }
    }
    // raw character noise exercises the lexical layer too (unterminated
    // strings/backticks, orphan operators, control chars)
    val chars = "MATCHRETURNabz(){}[]<>-.*,':`|=~$ \t1".toCharArray
    for (_ <- 1 to 400) {
      val s = Seq.fill(rnd.nextInt(24) + 1)(chars(rnd.nextInt(chars.length))).mkString
      try { CypherParser.parse(s); legal += 1 }
      catch {
        case _: graft.cypher.ParseException => ()
        case e: Throwable => fail(s"char-noise non-ParseException for [$s]: ${e.getClass}")
      }
    }
    // a few random streams happen to be legal — both outcomes are fine;
    // the property is the exception CHANNEL, not the accept rate
    assert(legal >= 0)
  }

  test("=~ regex: FULL-string match semantics, partial matches excluded") {
    val db = new GraphDB(propsG)
    // names: a1, x, y, x — 'a.' full-matches a1 only; bare 'a' matches none
    val full = db.query("MATCH (n:A) WHERE n.name =~ 'a.' RETURN n")
      .collect().map(_.getLong(0))
    assert(full.toSeq == Seq(1L))
    assert(db.query("MATCH (n:A) WHERE n.name =~ 'a' RETURN n").collect().isEmpty)
    // alternation stays intact under the anchoring wrapper
    val alt = db.query("MATCH (b:B) WHERE b.name =~ 'x|y' RETURN b ORDER BY b")
      .collect().map(_.getLong(0))
    assert(alt.toSeq == Seq(2L, 3L, 4L))
    // character classes + quantifiers; composes with other conjuncts
    val cc = db.query(
      "MATCH (b:B) WHERE b.name =~ '[xy]+' AND b.value > 15 RETURN b")
      .collect().map(_.getLong(0))
    assert(cc.toSeq == Seq(3L))
    // non-string literal RHS rejected at parse
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (b:B) WHERE b.name =~ 5 RETURN b")
    }
  }

  test("keys(n)/keys(r): present property keys, sorted, per matched element") {
    val db = new GraphDB(propsG)
    val ks = db.query("MATCH (a:A) RETURN keys(a) AS ks").collect()(0).getSeq[String](0)
    assert(ks == Seq("name", "value"))
    // a null property drops out of the key list per row
    val g2 = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A", null.asInstanceOf[String], 1.0)))
        .toDF("id", "label", "name", "value"),
      spark.createDataFrame(Seq.empty[(Long, Long, String)]).toDF("src", "dst", "etype"))
    val ks2 = new GraphDB(g2).query("MATCH (a:A) RETURN keys(a) AS ks")
      .collect()(0).getSeq[String](0)
    assert(ks2 == Seq("value"))
    // relationship keys over a property-less edge table: typed empty list
    val ek0 = db.query("MATCH (a:A)-[r:X]->(b:B) RETURN b, keys(r) AS ks")
      .collect().map(_.getSeq[String](1))
    assert(ek0.length == 3 && ek0.forall(_.isEmpty))
    // per-edge present keys: parallel edges on one pair each render THEIR
    // OWN non-null property set (identity join-back granularity)
    val g3 = PropertyGraph(
      spark.createDataFrame(Seq((1L, "A"), (2L, "B"))).toDF("id", "label"),
      spark.createDataFrame(Seq(
        (1L, 2L, "X", Some(5L), Option.empty[String]),
        (1L, 2L, "Z", Option.empty[Long], Some("u"))))
        .toDF("src", "dst", "etype", "w", "tag"))
    val ek = new GraphDB(g3).query(
      "MATCH (a:A)-[r:X|Z]->(b:B) RETURN type(r) AS t, join(keys(r), ',') AS ks")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ek == Set(("X", "w"), ("Z", "tag")))
  }

  test("join(list, sep): list rendering; keys() composes in expression position") {
    val db = new GraphDB(propsG)
    // keys() nested inside join(): the canonical engine-portable rendering
    val s = db.query("MATCH (a:A) RETURN join(keys(a), ',') AS ks")
      .collect()(0).getString(0)
    assert(s == "name,value")
    // join over a comprehension (elements stringify via cast); empty → ""
    val j = db.query(
      "UNWIND range(1, 5) AS x WITH collect(x) AS xs " +
      "RETURN join([y IN xs WHERE y > 3], '-') AS big, join([y IN xs WHERE y > 9], '-') AS none")
      .collect()(0)
    assert(j.getString(0) == "4-5" && j.getString(1) == "")
    // separator must be a literal (mirrors split())
    intercept[IllegalArgumentException] {
      db.query("MATCH (a:A) RETURN join(keys(a), a.name) AS ks").collect()
    }
    // keys() is match-scope only: rejected after WITH like the item form
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A) WITH a RETURN join(keys(a), ',') AS ks")
    }
  }

  test("expression-position range(): direction mismatch is empty, not reversed") {
    val db = new GraphDB(diamond)
    // openCypher: range(10, 1) = [] (Spark sequence() would auto-descend)
    val r = db.query(
      "UNWIND [1] AS x RETURN size(range(10, 1)) AS a, size(range(1, 10, -1)) AS b, " +
      "size(range(3, 1, -1)) AS c, size(range(1, 3)) AS d")
      .collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 3L && r.getLong(3) == 3L)
  }

  test("toBoolean(): unparseable input yields null (ANSI-safe), not an error") {
    val db = new GraphDB(diamond)
    val r = db.query(
      "UNWIND [1] AS x RETURN toBoolean('true') AS t, toBoolean('FALSE') AS f, " +
      "toBoolean('nope') AS n")
      .collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.isNullAt(2))
  }

  test("UNWIND range(): Long.MaxValue end bound rejected (would overflow)") {
    val db = new GraphDB(diamond)
    intercept[graft.cypher.ParseException] {
      db.query(s"UNWIND range(1, ${Long.MaxValue}) AS x RETURN count(x) AS n")
    }
  }

  test("list predicates: any/all/none/single over collected values") {
    val db = new GraphDB(propsG)
    // values collected per a: [10.0, 20.0, 10.0]
    val r = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b.value) AS vs " +
      "RETURN a, any(x IN vs WHERE x > 15) AS has_big, all(x IN vs WHERE x > 5) AS all_ok, " +
      "none(x IN vs WHERE x > 99) AS none_huge, single(x IN vs WHERE x > 15) AS one_big")
      .collect()(0)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4))
    // single is false when two elements match
    val two = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b.value) AS vs " +
      "RETURN single(x IN vs WHERE x > 5) AS s").collect()(0)
    assert(!two.getBoolean(0))
  }

  test("list comprehension and reduce over a collected range") {
    val db = new GraphDB(diamond)
    val r = db.query(
      "UNWIND range(1, 12) AS x WITH collect(x) AS xs " +
      "RETURN size([y IN xs WHERE y % 3 = 0 | y * y]) AS n, " +
      "reduce(s = 0, y IN xs | s + y) AS total, " +
      "[y IN xs WHERE y > 9] AS big, head([y IN xs | y + 100]) AS h")
      .collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 78L)
    assert(r.getSeq[Long](2) == Seq(10L, 11L, 12L))
    assert(r.getLong(3) == 101L)
  }

  test("bare list predicate as a WHERE conjunct; lambda scoping errors") {
    val db = new GraphDB(propsG)
    val names = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b.name) AS ns " +
      "WHERE any(x IN ns WHERE x = 'y') RETURN a").collect().map(_.getLong(0))
    assert(names.toSeq == Seq(1L))
    val empty = db.query(
      "MATCH (a:A)-[:X]->(b:B) WITH a, collect(b.name) AS ns " +
      "WHERE any(x IN ns WHERE x = 'zz') RETURN a").collect()
    assert(empty.isEmpty)
    // property access on a lambda variable is rejected at compile
    intercept[IllegalArgumentException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WITH a, collect(b) AS bs " +
        "RETURN a, any(x IN bs WHERE x.value > 1) AS f").collect()
    }
  }

  test("round-8 scalars: ltrim/rtrim, toBoolean, exp/log/log10") {
    val db = new GraphDB(diamond)
    val r = db.query(
      "UNWIND ['  pad  '] AS s RETURN ltrim(s) AS l, rtrim(s) AS r, ltrim(rtrim(s)) AS b")
      .collect()(0)
    assert(r.getString(0) == "pad  " && r.getString(1) == "  pad" && r.getString(2) == "pad")
    val m = db.query(
      "UNWIND range(1, 1) AS x RETURN toBoolean('true') AS t, round(exp(log(100))) AS e, " +
      "log10(1000) AS lg").collect()(0)
    assert(m.getBoolean(0) && m.getDouble(1) == 100.0 && m.getDouble(2) == 3.0)
  }

  // --- round 10: general (fixed-length) path variables ---

  test("path variable: nodes/relationships/length over a fixed chain") {
    val db = new GraphDB(diamond)
    val got = db.query(
      "MATCH p = (a:A)-[:X]->(b:B)-[:Y]->(c:C) " +
      "RETURN b, nodes(p) AS ns, relationships(p) AS rs, length(p) AS ln")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[String](2).toList, r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (2L, List(1L, 2L, 4L), List("X", "Y"), 2L),
      (3L, List(1L, 3L, 4L), List("X", "Y"), 2L)))
  }

  test("path variable: anonymous elements are auto-named and render") {
    val db = new GraphDB(diamond)
    val got = db.query("MATCH p = (a:A)-->()-->(c:C) RETURN nodes(p) AS ns, length(p) AS ln")
      .collect().map(r => (r.getSeq[Long](0).toList, r.getLong(1))).sortBy(_._1.toString)
    assert(got.toSeq == Seq((List(1L, 2L, 4L), 2L), (List(1L, 3L, 4L), 2L)))
    // RETURN * must not leak the auto-generated path bindings
    val cols = db.query("MATCH p = (a:A)-[:X]->(b:B) RETURN *").columns.toSet
    assert(cols == Set("a", "b"))
  }

  test("path variable: multi-type relationship fans one row per matched type") {
    // parallel X and Z edges on the same pair: two distinct one-hop paths
    val pg = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "B")),
      edges = Seq((1L, 2L, "X"), (1L, 2L, "Z")))
    val got = new GraphDB(pg).query(
      "MATCH p = (a:A)-[:X|Z]->(b:B) RETURN relationships(p) AS rs")
      .collect().map(_.getSeq[String](0).toList).sortBy(_.toString)
    assert(got.toSeq == Seq(List("X"), List("Z")))
  }

  test("path variable: zero-hop path; scalar path fns group under aggregation") {
    val db = new GraphDB(diamond)
    val z = db.query("MATCH p = (a:A) RETURN nodes(p) AS ns, relationships(p) AS rs, " +
      "length(p) AS ln").collect()(0)
    assert(z.getSeq[Long](0).toList == List(1L) && z.getSeq[String](1).isEmpty
      && z.getLong(2) == 0L)
    val agg = db.query("MATCH p = (a:A)-[:X]->(b:B) RETURN length(p) AS ln, count(b) AS k")
      .collect()(0)
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 2L)
  }

  test("path variable: named path composes with more patterns and WHERE") {
    val db = new GraphDB(propsG)
    // propsG: A1 -X-> B2(x,10), A1 -X-> B3(y,20), B2 -Y-> B4(x,10)…
    val got = db.query(
      "MATCH p = (a:A)-[:X]->(b:B) WHERE b.value >= 10 " +
      "RETURN b, length(p) AS ln ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.forall(_._2 == 1L))
  }

  test("path variable: rejections — bare RETURN p, unknown path, post-first-WITH") {
    val db = new GraphDB(diamond)
    val e2 = intercept[graft.cypher.ParseException] {
      db.query("MATCH p = (a:A)-[:X]->(b:B) RETURN p")
    }
    assert(e2.getMessage.contains("path entity"))
    val e3 = intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) RETURN nodes(q)")
    }
    assert(e3.getMessage.contains("unknown path variable"))
    // path fns are first-WITH-clause / RETURN only: post-WITH rows have no
    // path in scope
    val e4 = intercept[graft.cypher.ParseException] {
      db.query("MATCH p = (a:A)-[:X]->(b:B) WITH a AS a2 WITH nodes(p) AS ns RETURN ns")
    }
    assert(e4.getMessage.contains("not available after WITH"))
    intercept[graft.cypher.ParseException] {
      db.query("MATCH p = (a:A)-[:X]->(b:B) WITH a AS a2 RETURN length(p)")
    }
    // length() over a non-path binding stays rejected
    intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) RETURN length(a)")
    }
  }

  test("path variable: WITH-stage path functions decay the path to a value") {
    val db = new GraphDB(diamond)
    // nodes(p) materializes as an array column at the WITH boundary; the
    // later stage reads it as a plain value (size() etc.)
    val got = db.query(
      "MATCH p = (a:A)-[:X]->(b:B)-[:Y]->(c:C) " +
      "WITH b AS mid, nodes(p) AS ns, length(p) AS ln " +
      "WHERE ln = 2 RETURN mid, size(ns) AS n ORDER BY mid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((2L, 3L), (3L, 3L)))
    // aggregation over the decayed value: count paths per length
    val agg = db.query(
      "MATCH p = (a:A)-->(x) WITH length(p) AS ln, nodes(p) AS ns " +
      "RETURN ln, count(*) AS paths").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(agg.toSeq == Seq((1L, 2L)))
    // UNWIND over the decayed node list: one row per node per path
    val un = db.query(
      "MATCH p = (a:A)-->(x) WITH nodes(p) AS ns UNWIND ns AS nid " +
      "RETURN nid, count(*) AS k ORDER BY nid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(un.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("path variable: bounded varlen named path enumerates per-length branches") {
    // diamond: 1-X->2, 1-X->3, 2-Y->4, 3-Y->4
    val db = new GraphDB(diamond)
    val got = db.query(
      "MATCH p = (a:A)-[*1..2]->(c) RETURN nodes(p) AS ns, length(p) AS ln")
      .collect().map(r => (r.getSeq[Long](0).toList, r.getLong(1)))
      .sortBy(_._1.toString)
    assert(got.toSet == Set(
      (List(1L, 2L), 1L), (List(1L, 3L), 1L),
      (List(1L, 2L, 4L), 2L), (List(1L, 3L, 4L), 2L)))
    // typed varlen hop + relationships(p); minHops > 1 excludes short paths.
    // Both 2-hop paths render the same type list — set semantics (one row
    // per DISTINCT projection, engine-wide) collapse them to one row.
    val rs = db.query(
      "MATCH p = (a:A)-[:X|Y*2..2]->(c:C) RETURN relationships(p) AS rs")
      .collect().map(_.getSeq[String](0).toList)
    assert(rs.toSeq == Seq(List("X", "Y")))
    // composes with surrounding fixed hops and ORDER BY/LIMIT post-union
    val lim = db.query(
      "MATCH p = (a:A)-[*1..2]->(x) RETURN length(p) AS ln ORDER BY ln DESC LIMIT 1")
      .collect().map(_.getLong(0))
    assert(lim.toSeq == Seq(2L))
    // endpoint-only projection dedups across branches (set semantics):
    // node 4 is reachable at length 2 only; 2 and 3 at length 1 only
    val ends = db.query("MATCH p = (a:A)-[*1..2]->(x) RETURN x")
      .collect().map(_.getLong(0)).sorted
    assert(ends.toSeq == Seq(2L, 3L, 4L))
    // aggregates across branches are rejected loudly
    val e = intercept[graft.cypher.ParseException] {
      db.query("MATCH p = (a:A)-[*1..2]->(x) RETURN count(x)")
    }
    assert(e.getMessage.contains("variable-length named path"))
  }

  test("length(p) in WHERE and expressions: constant per path/branch") {
    val db = new GraphDB(diamond)
    // varlen: WHERE length(p) = 2 keeps exactly the 2-hop branch (the
    // 1-hop branch's filter folds to constant false)
    val two = db.query(
      "MATCH p = (a:A)-[*1..2]->(x) WHERE length(p) = 2 RETURN x, length(p) AS ln")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(two.toSeq == Seq((4L, 2L)))
    // expression position: arithmetic over the substituted constant
    val ex = db.query(
      "MATCH p = (a:A)-[:X]->(b:B) RETURN b, length(p) * 10 AS ln10 ORDER BY b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ex.toSeq == Seq((2L, 10L), (3L, 10L)))
    // combined with other conjuncts
    val mix = db.query(
      "MATCH p = (a:A)-[*1..2]->(x) WHERE length(p) = 1 AND x = 2 RETURN x")
      .collect().map(_.getLong(0))
    assert(mix.toSeq == Seq(2L))
    // a non-path argument is rejected loudly
    val e = intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A)-[:X]->(b:B) WHERE length(b) = 1 RETURN b")
    }
    assert(e.getMessage.contains("named path variable"))
  }

  test("varlen named path: branch expansion == brute-force walk enumeration (seeded)") {
    // random small graphs: the union-of-fixed-lengths expansion must equal
    // a direct DFS enumeration of typed walks (walk semantics: nodes may
    // repeat; one row per DISTINCT projection — engine set semantics)
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(4)
      val nodes = (0L until n.toLong).map(i =>
        (i, if (i % 2 == 0) "A" else "B"))
      val edges = (for {
        s <- 0L until n.toLong; d <- 0L until n.toLong
        if s != d && rnd.nextDouble() < 0.3
      } yield (s, d, if (rnd.nextBoolean()) "X" else "Y")).distinct
      if (edges.nonEmpty) {
        val pg = PropertyGraph.fromTuples(spark, nodes, edges)
        val lo = 1 + rnd.nextInt(2)
        val hi = lo + rnd.nextInt(2)
        val got = new GraphDB(pg).query(
          s"MATCH p = (a:A)-[:X|Y*$lo..$hi]->(b) RETURN a, b, nodes(p) AS ns")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
        val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        def walks(from: Long, len: Int): Seq[List[Long]] =
          if (len == 0) Seq(List(from))
          else adj.getOrElse(from, Seq.empty)
            .flatMap(nx => walks(nx, len - 1).map(from :: _))
        val expect = (for {
          a <- nodes.collect { case (i, "A") => i }
          len <- lo to hi
          w <- walks(a, len)
        } yield (a, w.last, w)).toSet
        assert(got == expect, s"trial $trial (n=$n lo=$lo hi=$hi)")
      }
    }
  }

  test("size(pattern): per-row distinct-match counts, zero default, incoming anchor") {
    val db = new GraphDB(diamond)
    val deg = db.query("MATCH (a:A) RETURN a, size((a)-[:X]->(b:B)) AS deg")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(deg.toSeq == Seq((1L, 2L)))
    // no matches → 0, not null
    val none = db.query("MATCH (c:C) RETURN c, size((c)-[:X]->()) AS deg")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(none.toSeq == Seq((4L, 0L)))
    // the anchor may sit anywhere in the sub-pattern
    val indeg = db.query("MATCH (b:B) RETURN b, size((a:A)-[:X]->(b)) AS indeg")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(indeg.toSeq == Seq((2L, 1L), (3L, 1L)))
    // anonymous middles are auto-named: each distinct assignment counts
    val twoHop = db.query("MATCH (a:A) RETURN a, size((a)-[:X]->()-[:Y]->(c:C)) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(twoHop.toSeq == Seq((1L, 2L)))
  }

  test("size(pattern): anchor-less pattern is a global count; WHERE position filters") {
    val db = new GraphDB(diamond)
    val tot = db.query("MATCH (c:C) RETURN c, size((x:B)-[:Y]->(y:C)) AS total")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tot.toSeq == Seq((4L, 2L)))
    val filtered = db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE size((b)-[:Y]->(z:C)) = 1 RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(filtered.toSeq == Seq(2L, 3L))
    assert(db.query(
      "MATCH (a:A)-[:X]->(b:B) WHERE size((b)-[:Y]->(z:C)) > 1 RETURN b").isEmpty)
  }

  test("pattern comprehension: sorted value list per row, empty default, WHERE filter") {
    val db = new GraphDB(diamond)
    val ls = db.query("MATCH (a:A) RETURN a, [(a)-[:X]->(b:B) | b] AS bs")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    assert(ls.toSeq == Seq((1L, List(2L, 3L))))
    // no matches → [], not null
    val empty = db.query("MATCH (c:C) RETURN c, [(c)-[:X]->(b) | b] AS bs")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    assert(empty.toSeq == Seq((4L, Nil)))
    // one value per distinct match: both 2-hop assignments render their c
    val paths = db.query("MATCH (a:A) RETURN a, [(a)-[:X]->(b:B)-[:Y]->(c) | c] AS cs")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    assert(paths.toSeq == Seq((1L, List(4L, 4L))))
    // pattern expressions compose with arithmetic like any value expression
    val arith = db.query(
      "MATCH (a:A) RETURN a, size((a)-[:X]->(b:B)) - 1 AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(arith.toSeq == Seq((1L, 1L)))
  }

  test("allShortestPaths: per-pair minimum keeps EVERY minimal path, drops longer") {
    // diamond + a direct shortcut a-X->c: (a,c) reachable at len 1 AND 2
    val g = PropertyGraph.fromTuples(spark,
      nodes = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "C")),
      edges = Seq((1L, 2L, "X"), (2L, 4L, "Y"), (1L, 3L, "X"), (3L, 4L, "Y"),
        (1L, 4L, "X")))
    val db = new GraphDB(g)
    val direct = db.query(
      "MATCH p = allShortestPaths((a:A)-[:X|Y*1..3]->(c:C)) RETURN a, c, nodes(p) AS ns")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    // only the len-1 shortcut survives for (1, 4)
    assert(direct == Set((1L, 4L, List(1L, 4L))))
    // without the shortcut BOTH len-2 paths are minimal — all kept
    val db2 = new GraphDB(diamond)
    val both = db2.query(
      "MATCH p = allShortestPaths((a:A)-[:X|Y*1..3]->(c:C)) RETURN a, c, nodes(p) AS ns")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    assert(both == Set((1L, 4L, List(1L, 2L, 4L)), (1L, 4L, List(1L, 3L, 4L))))
    // pairs minimize independently: b1→c len 1 coexists with a→c len 2
    val mixed = db2.query(
      "MATCH p = allShortestPaths((x)-[:Y*1..2]->(c:C)) RETURN x, length(p) AS l")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mixed == Set((2L, 1L), (3L, 1L)))
    // aggregates REJECT, not mis-compute: the expansion appends endpoint
    // carry columns and filters per-pair minima AFTER the per-branch
    // projection — an aggregate there would fold at the wrong granularity
    // and before the min-length filter, so it must be a ParseException
    for (q <- Seq(
      "MATCH p = allShortestPaths((a:A)-[:X|Y*1..3]->(c:C)) RETURN a, count(c) AS n",
      "MATCH p = allShortestPaths((a:A)-[:X|Y*1..3]->(c:C)) RETURN count(*) AS n",
      "MATCH p = allShortestPaths((a:A)-[:X|Y*1..3]->(c:C)) RETURN a, collect(nodes(p)) AS ps"))
      assertThrows[graft.cypher.ParseException](db2.query(q).collect())
  }

  test("COUNT { } and EXISTS { } subquery forms desugar to pattern expressions") {
    val db = new GraphDB(diamond)
    val cnt = db.query("MATCH (a:A) RETURN a, COUNT { (a)-[:X]->(b:B) } AS deg")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cnt.toSeq == Seq((1L, 2L)))
    // with the optional MATCH keyword and a WHERE
    val cntW = db.query(
      "MATCH (a:A) RETURN a, COUNT { MATCH (a)-[:X]->(b:B)-[:Y]->(c:C) } AS n2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cntW.toSeq == Seq((1L, 2L)))
    // existential endpoints follow the pattern-predicate contract: new
    // variables stay anonymous (same rule as the EXISTS(…) paren form)
    val ex = db.query("MATCH (b:B) WHERE EXISTS { (b)-[:Y]->(:C) } RETURN b")
      .collect().map(_.getLong(0)).sorted
    assert(ex.toSeq == Seq(2L, 3L))
    val exM = db.query("MATCH (c:C) WHERE EXISTS { MATCH (c)-[:Y]->() } RETURN c")
    assert(exM.isEmpty) // sink of the graph: no outgoing Y
  }

  test("pattern expressions are rejected after WITH with a targeted error") {
    val db = new GraphDB(diamond)
    val e = intercept[graft.cypher.ParseException] {
      db.query("MATCH (a:A) WITH a AS x, a AS y RETURN x, size((x)-[:X]->()) AS d")
    }
    assert(e.getMessage.contains("MATCH-stage only"))
  }
}
