package graft.relational

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Weighted PageRank (Page et al. 1999) on an edge relation, in EXACT
  * integer arithmetic so any SQL engine replays every iteration
  * bit-for-bit — the same determinism discipline as
  * [[graft.sim.Cluster]]'s k-means (floor-quantized state, no
  * float-sum order dependence). Rank mass lives in integer units of
  * `scale`; every per-edge contribution and every teleport/dangling
  * share is a floor division, so partial-sum ORDER cannot change a
  * result (long addition is associative-commutative) — the one thing a
  * floating-point PageRank can never promise on a cluster.
  *
  * Per iteration, per edge u→v:  c = (85 · ((r(u) · w) div W(u))) div 100
  * where W(u) is u's total out-weight (damping 0.85 as the 85/100
  * rational). Every node also receives
  * base = (15·scale) div (100·N)  +  (85 · (dang div N)) div 100,
  * `dang` = Σ rank over nodes with no out-edges (their mass teleports).
  * Floor rounding leaks a few units of mass per iteration — bounded by
  * edges + N per round, far below rank magnitudes, and both engines
  * leak identically.
  *
  * Shape at 100 TB: each of the four loops ([[pageRank]],
  * [[shortestPaths]], [[kCore]], [[labelPropagation]]) first takes its
  * normalized edges (the projection, casts and null/weight filter, before
  * any symmetrizing or dedup) through one guarded collect
  * ([[graft.util.Fixpoint.onDriver]], the 1 M-row driver bound). Under
  * it the loop runs on the driver over interned int ids, in the same
  * integer arithmetic, string order and stopping rule, and returns a
  * local relation: one job per call (two for BFS, whose sources take the
  * same guard). Over it, a [[graft.util.Fixpoint]] loop runs on the rows
  * that collect's job computed, reusing its shuffle outputs, so the guard
  * costs that one job (none when the edges are a local relation, whose
  * rows no job reads). For PageRank that loop persists the
  * edges on `dst`, plus one marker row per edge keyed on its SOURCE
  * (weight in `pw`): every node is a `dst` group whose Σ pw is its
  * out-weight — no node table, no out-weight join. An iteration is one
  * left join with the broadcast (node, ow, rank) state and one `dst`
  * aggregate with no exchange; its dangling mass is observed on that job
  * and enters the next iteration as an exact literal. Overflow bound:
  * needs scale · max(w) < 2^63 / 85 — at the default 1e9 scale that
  * allows per-edge weights up to ~10^8; past it both paths raise under
  * ANSI arithmetic (Spark's default) and wrap alike without it.
  */
object Graph {
  import graft.util.{Fixpoint, Materialize}

  /** PageRank over `(srcCol, dstCol, wCol)` edges (long weights > 0;
    * rows with w ≤ 0 or a null endpoint are dropped). Returns
    * `(node, rank)` with rank in integer `scale` units; Σ rank ≈ scale. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    require(scale >= 1000L, s"need scale >= 1000, got $scale")
    val norm = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), col(wCol).cast("long").as("w"))
      .filter(col("w") > 0L && col("src").isNotNull && col("dst").isNotNull)
    Fixpoint.onDriver(norm) match {
      case Right(rows) => relation(norm,
          ("node", StringType, nullable(norm, "src", "dst")),
          ("rank", LongType, false))(
        pageRankOnDriver(rows, iters, scale, ansi(norm)))
      case Left(e0) =>
        try pageRankLoop(e0, iters, scale) finally Materialize.release(e0)
    }
  }

  /** The distributed PageRank over the normalized `(src, dst, w)` edges. */
  private def pageRankLoop(e0: DataFrame, iters: Int, scale: Long)
      : DataFrame = {
    val e = Fixpoint.edges(e0.withColumn("pw", lit(null).cast("long"))
      .union(e0.select(lit(null).cast("string"), col("src"),
        lit(null).cast("long"), col("w"))), "dst", dedup = false)
    val seed = Materialize.checkpoint(
      e.groupBy(col("dst").as("node")).agg(sum("pw").as("ow")),
      count(lit(1)).as("nodes"), count(when(col("ow").isNull, 1)).as("sinks"))
    val n = math.max(seed("nodes"), 1L)
    val rank0 = Materialize.State(seed.df.withColumn("rank", lit(scale / n)),
      Map("dang" -> seed("sinks") * (scale / n)))
    Fixpoint.iterate("pageRank", e, rank0, iters, Fixpoint.overGuard())(
        _ => false) { r =>
      val base = 15L * scale / (100L * n) + 85L * (r.state("dang") / n) / 100L
      Materialize.checkpoint(e.join(r.broadcast(r.state.df.select(
            col("node").as("src"), col("ow").as("sow"), col("rank")), n),
          Seq("src"), "left")
        .groupBy(col("dst").as("node"))
        .agg(sum("pw").as("ow"),
          sum(expr("(85 * ((rank * w) div sow)) div 100")).as("inflow"))
        .select(col("node"), col("ow"),
          (coalesce(col("inflow"), lit(0L)) + lit(base)).as("rank")),
        sum(when(col("ow").isNull, col("rank"))).as("dang"))
    }.df.select("node", "rank")
  }

  /** EXACT triangle count over an undirected edge relation — the
    * clustering-structure metric (and the workload that goes quadratic
    * on hub nodes if joined naively). Degree-oriented node-iterator
    * (Schank & Wagner 2005): normalize to distinct `a < b` edges, orient
    * every edge from its (degree, id)-smaller endpoint — out-degrees are
    * then O(√E) for ANY degree distribution, so the wedge self-join
    * never explodes on hubs — and close wedges against the normalized
    * edge set. Three shuffles total (degree agg, wedge join, closing
    * join); each triangle counts exactly once (its rank-smallest vertex
    * owns the wedge). Returns one row `(n_triangles)`. */
  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("string"); val d = col(dstCol).cast("string")
    val und = edges.select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") <= col("db"), col("a")).otherwise(col("b"))
          .as("x"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("y"))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.x") === col("o2.x") &&
        col("o1.y") < col("o2.y"))
      .select(col("o1.y").as("p"), col("o2.y").as("q"))
    wedges.join(und, col("p") === col("a") && col("q") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distances: for every node reachable from
    * `sources` within `maxHops` directed hops, the minimum hop count —
    * pure integer iteration, deterministic in any engine (min hop
    * distance is unique; no weights, no floats). Returns (node, dist).
    *
    * Under the driver bound on both the edges and the sources (two
    * collects), a frontier BFS on the driver. Over it, a
    * [[graft.util.Fixpoint]] loop over the edges persisted on `dst`. The
    * visited set is a union of checkpointed frontiers, broadcast into two
    * lookups: an edge from a visited node to an unvisited one must leave
    * the last frontier (an older source's targets are visited by now), so
    * those edges' `dst` distinct — on the edge partitioning, no exchange —
    * IS the next frontier. Its size is observed on the round's job; an
    * empty frontier ends the loop. A null source is reached at distance 0
    * and leads nowhere. */
  def shortestPaths(
      edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20,
      s"need 1 <= maxHops <= 20, got $maxHops")
    val norm = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
    val from = sources.select(col(sources.columns.head).cast("string")
      .as("node"))
    Fixpoint.onDriver(norm) match {
      case Right(rows) => Fixpoint.onDriver(from) match {
        case Right(srcs) => relation(norm, ("node", StringType,
            nullable(from, "node") || srcs.nonEmpty && nullable(norm, "dst")),
            ("dist", LongType, false))(
          shortestPathsOnDriver(rows, srcs, maxHops))
        case Left(s) =>
          try shortestPathsLoop(norm.sparkSession.createDataFrame(
              java.util.Arrays.asList(rows: _*), norm.schema), s, maxHops,
            Fixpoint.overGuard(s"edges=${rows.length} sources"))
          finally Materialize.release(s)
      }
      case Left(e) =>
        try shortestPathsLoop(e, from, maxHops, Fixpoint.overGuard())
        finally Materialize.release(e)
    }
  }

  /** The distributed BFS over the normalized `(src, dst)` edges from the
    * `node` column of `from`. */
  private def shortestPathsLoop(norm: DataFrame, from: DataFrame,
      maxHops: Int, path: String): DataFrame = {
    val e = Fixpoint.edges(norm, "dst")
    val frontier = count(lit(1)).as("frontier")
    val seed = Materialize.checkpoint(from.distinct()
      .withColumn("dist", lit(0L)), frontier)
    Fixpoint.iterate("shortestPaths", e,
        seed + ("visited" -> seed("frontier")), maxHops, path)(
        _("frontier") == 0L) { r =>
      val visited = r.broadcast(r.state.df.select("node"), r.state("visited"))
      val next = Materialize.checkpoint(e
          .join(visited.withColumnRenamed("node", "src"), "src")
          .join(visited.withColumnRenamed("node", "dst"), Seq("dst"),
            "left_anti")
          .select(col("dst").as("node")).distinct()
          .withColumn("dist", lit(r.index.toLong)),
        frontier)
      Materialize.State(r.state.df.union(next.df),
        Map("frontier" -> next("frontier"),
          "visited" -> (r.state("visited") + next("frontier"))))
    }.df
  }

  /** Generated BFS oracle: the identical frontier replay as unrolled SQL
    * CTEs from the same `maxHops`. `edgesCte` must yield (src, dst);
    * `sourcesCte` one column `node`. (The SQL always unrolls all
    * `maxHops` rounds — an exhausted frontier just contributes empty
    * CTEs, matching the Spark short-circuit.) */
  def shortestPathsSql(edgesCte: String, sourcesCte: String,
      maxHops: Int): String = {
    val rounds = (1 to maxHops).map { k =>
      s"""f$k AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM e JOIN f${k - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM v${k - 1})),
         |v$k AS (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT node, $k FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS src,
       |        CAST(dst AS VARCHAR) AS dst
       |      FROM e0 WHERE CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)),
       |f0 AS (SELECT DISTINCT CAST(node AS VARCHAR) AS node
       |       FROM ($sourcesCte)),
       |v0 AS (SELECT node, 0 AS dist FROM f0),
       |$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM v$maxHops""".stripMargin
  }

  /** k-core decomposition by synchronous peeling: after `maxRounds`
    * rounds of "drop every node whose degree within the surviving set
    * is < k", the surviving nodes with their within-core degrees —
    * the standard dense-subgraph / spam-cluster / collaboration-core
    * extraction. Edges are symmetrized and deduped (undirected simple
    * graph); self-loops dropped.
    *
    * Peeling is monotone (the active set only shrinks), so a converged
    * round is a FIXPOINT: Spark short-circuits when a round removes
    * nothing, while the generated oracle ([[kCoreSql]]) always unrolls
    * all `maxRounds` — identical output either way, which is what makes
    * the early exit safe under the oracle. The state is the surviving
    * nodes' within-core degrees — the converged round's degrees ARE the
    * output, no final recount; a loop that hits `maxRounds` returns its
    * last degrees, deg < k nodes included. Under the driver bound the
    * peeling runs on the driver over the symmetric adjacency. Over it, a
    * [[graft.util.Fixpoint]] loop over the symmetric edges persisted on
    * `d`: per round the kept nodes (deg ≥ k) are broadcast into both
    * endpoint joins and one `d` count runs on the edge partitioning with
    * no exchange, observing the kept count that decides convergence; work
    * is edges-bound, never quadratic. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 30,
      s"need k >= 1, 1 <= maxRounds <= 30; got k=$k rounds=$maxRounds")
    val dir = directed(edges, srcCol, dstCol)
    Fixpoint.onDriver(dir) match {
      case Right(rows) => relation(dir,
          ("node", StringType, nullable(dir, "s", "d")),
          ("deg", LongType, false))(kCoreOnDriver(rows, k, maxRounds))
      case Left(d) => try kCoreLoop(d, k, maxRounds)
        finally Materialize.release(d)
    }
  }

  /** The distributed peeling over the directed `(s, d)` edges. */
  private def kCoreLoop(dir: DataFrame, k: Int, maxRounds: Int)
      : DataFrame = {
    val e = Fixpoint.edges(symmetric(dir), "d")
    def degrees(in: DataFrame) = Materialize.checkpoint(
      in.groupBy(col("d").as("node")).agg(count(lit(1)).as("deg")),
      count(lit(1)).as("nodes"), count(when(col("deg") >= k, 1)).as("kept"))
    // "active" is |active set|: a round converges when it keeps them all
    val seed = degrees(e)
    Fixpoint.iterate("kCore", e, seed + ("active" -> seed("nodes")),
        maxRounds, Fixpoint.overGuard())(s => s("kept") == s("active")) {
        r =>
      val kept = r.broadcast(
        r.state.df.filter(col("deg") >= k).select("node"), r.state("kept"))
      degrees(e.join(kept.withColumnRenamed("node", "s"), "s")
        .join(kept.withColumnRenamed("node", "d"), "d")) +
        ("active" -> r.state("kept"))
    }.df
  }

  /** `(s, d)` string edges made symmetric, self-loops dropped. */
  private[graft] def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = symmetric(directed(edges, srcCol, dstCol))

  /** `(s, d)` string edges, self-loops (and so null endpoints) dropped:
    * what [[kCore]] and [[labelPropagation]] take through the guard. */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame =
    edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("d"))
      .filter(col("s") =!= col("d"))

  private def symmetric(dir: DataFrame): DataFrame =
    dir.union(dir.select(col("d").as("s"), col("s").as("d")))

  /** Generated k-core oracle: the identical peeling replay as unrolled
    * SQL CTEs from the same (k, maxRounds). `edgesCte` must yield
    * (src, dst). */
  def kCoreSql(edgesCte: String, k: Int, maxRounds: Int): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""d$r AS (
         |  SELECT und.s AS node, count(*) AS deg
         |  FROM und JOIN a${r - 1} x ON und.s = x.node
         |           JOIN a${r - 1} y ON und.d = y.node
         |  GROUP BY 1),
         |a$r AS (SELECT node FROM d$r WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |dirn AS (SELECT CAST(src AS VARCHAR) AS s,
       |           CAST(dst AS VARCHAR) AS d FROM e0),
       |und AS (SELECT DISTINCT s, d FROM
       |  (SELECT s, d FROM dirn UNION ALL SELECT d, s FROM dirn)
       |  WHERE s <> d),
       |a0 AS (SELECT DISTINCT s AS node FROM und),
       |$rounds
       |SELECT und.s AS node, count(*) AS deg
       |FROM und JOIN a$maxRounds x ON und.s = x.node
       |         JOIN a$maxRounds y ON und.d = y.node
       |GROUP BY 1""".stripMargin
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007) with DETERMINISTIC rules, so any engine
    * replays the identical communities: labels start as the node id;
    * each round every node adopts the most frequent label among its
    * neighbors PLUS one self-vote (the self-vote removes the classic
    * 2-cycle oscillation of synchronous LPA on bipartite structure),
    * with ties broken by the LEXICOGRAPHICALLY SMALLEST label. Classic
    * LPA breaks ties randomly and is run-order dependent — useless for
    * a pipeline whose sampling/curation decisions must replay years
    * later; this variant is a pure integer/string fixpoint iteration.
    * Edges are symmetrized and deduped (undirected simple graph),
    * self-loops dropped. Returns `(node, community)` after `rounds`
    * rounds (or the earlier fixpoint — a converged labeling is
    * invariant under further rounds, so the short-circuit is safe
    * under the always-unrolled oracle, exactly like [[kCore]]).
    *
    * Round 1 is the seed: labels are still node ids, so every vote ties
    * at 1 and the smallest of the node and its neighbors wins. Labels
    * compare in UTF-8 byte order, Spark's (and DuckDB's) string order,
    * not Java's UTF-16 `String` order.
    *
    * Shape at 100 TB: under the driver bound the votes run on the driver
    * over ids interned in that byte order. Over it, a
    * [[graft.util.Fixpoint]] loop over the symmetric edges persisted on
    * `d`: the seed is one aggregate, and each later round
    * ([[labelPropagationVote]]) broadcasts the labels into the neighbor
    * (`s`) and own (`d`) joins and runs its count and argmax aggregates on
    * the edge partitioning with no exchange, observing the changed-label
    * count on the same job. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 30,
      s"need 1 <= rounds <= 30, got $rounds")
    val dir = directed(edges, srcCol, dstCol)
    val named = nullable(dir, "s", "d")
    Fixpoint.onDriver(dir) match {
      case Right(rows) => relation(dir, ("node", StringType, named),
          ("community", StringType, named))(
        labelPropagationOnDriver(rows, rounds))
      case Left(d) => try labelPropagationLoop(d, rounds)
        finally Materialize.release(d)
    }
  }

  /** The distributed label propagation over the directed `(s, d)`
    * edges. */
  private def labelPropagationLoop(dir: DataFrame, rounds: Int)
      : DataFrame = {
    val e = Fixpoint.edges(symmetric(dir), "d")
    def labels(df: DataFrame) = Materialize.checkpoint(df,
      count(lit(1)).as("nodes"),
      count(when(col("label") =!= col("own"), 1)).as("changed"))
    val seed = labels(e.groupBy(col("d").as("node"))
      .agg(least(col("d"), min("s")).as("label"))
      .select(col("node"), col("node").as("own"), col("label")))
    Fixpoint.iterate("labelPropagation", e, seed, rounds - 1,
        Fixpoint.overGuard())(_("changed") == 0L) { r =>
      labels(labelPropagationVote(e, r.broadcast(r.state.df, seed("nodes"))))
    }.df.select(col("node"), col("label").as("community"))
  }

  /** One vote round over symmetric edges `e` and the (node, label)
    * relation `labels`, joined on both endpoints. min(struct(-cnt, label))
    * is the oracle's (cnt DESC, label ASC) row_number order as an
    * aggregate (struct comparison is field-lexicographic, string order
    * bytewise); the self-vote adds 1 to the own label's neighbor count,
    * or competes alone at count 1. Output: (node, own, label). */
  private[graft] def labelPropagationVote(e: DataFrame, labels: DataFrame)
      : DataFrame = {
    val best = min(struct(
      (-col("cnt") - when(col("nbr") === col("own"), 1L).otherwise(0L))
        .as("nc"), col("nbr").as("label")))
    e.join(labels.select(col("node").as("s"), col("label").as("nbr")), "s")
      .join(labels.select(col("node").as("d"), col("label").as("own")), "d")
      .groupBy("d", "own", "nbr").agg(count(lit(1)).as("cnt"))
      .groupBy(col("d").as("node"), col("own")).agg(best.as("best"))
      .select(col("node"), col("own"), least(col("best"),
        struct(lit(-1L).as("nc"), col("own").as("label"))).getField("label")
        .as("label"))
  }

  /** Generated label-propagation oracle: the identical deterministic
    * vote replay as unrolled SQL CTEs from the same `rounds`.
    * `edgesCte` must yield (src, dst). (The SQL always unrolls all
    * rounds — past the fixpoint each round reproduces the previous
    * labeling, matching the Spark short-circuit.) */
  def labelPropagationSql(edgesCte: String, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT und.d AS node, l.label
         |  FROM und JOIN l${r - 1} l ON und.s = l.node
         |  UNION ALL SELECT node, label FROM l${r - 1}),
         |l$r AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT node, label, count(*) AS cnt
         |          FROM v$r GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |dirn AS (SELECT CAST(src AS VARCHAR) AS s,
       |           CAST(dst AS VARCHAR) AS d FROM e0),
       |und AS (SELECT DISTINCT s, d FROM
       |  (SELECT s, d FROM dirn UNION ALL SELECT d, s FROM dirn)
       |  WHERE s <> d),
       |l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
       |$steps
       |SELECT node, label AS community FROM l$rounds""".stripMargin
  }

  /** Generated oracle: the identical integer replay as unrolled SQL CTEs
    * (the [[graft.Round6Queries]] k-means convention — oracle SQL built
    * from the SAME parameters the Spark query runs with, so the sides
    * cannot drift). `edgesCte` must yield columns (src, dst, w). */
  def pageRankSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s"""dang$k AS (
         |  SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dang
         |  FROM $p WHERE node NOT IN (SELECT src FROM outw)),
         |base$k AS (
         |  SELECT (15 * CAST($scale AS BIGINT)) // (100 * n)
         |       + (85 * (dang // n)) // 100 AS b
         |  FROM nn, dang$k),
         |c$k AS (
         |  SELECT ew.dst AS node,
         |    CAST(sum((85 * ((r.rank * ew.w) // outw.W)) // 100)
         |      AS BIGINT) AS inflow
         |  FROM ew JOIN outw USING (src) JOIN $p r ON r.node = ew.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT nodes.node,
         |    coalesce(c.inflow, 0) + (SELECT b FROM base$k) AS rank
         |  FROM nodes LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |ew AS (SELECT CAST(src AS VARCHAR) AS src,
       |         CAST(dst AS VARCHAR) AS dst, CAST(w AS BIGINT) AS w
       |       FROM e0 WHERE w > 0),
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS W FROM ew GROUP BY 1),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, (SELECT $scale // n FROM nn) AS rank FROM nodes),
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters""".stripMargin
  }

  // ---- the driver path: the four loops over interned int ids ------------

  /** `rows` as a local relation with the loop's output columns. */
  private def relation(like: DataFrame, fields: (String, DataType, Boolean)*)
      (rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t, nulls) => StructField(n, t, nulls) }))

  private def nullable(df: DataFrame, cols: String*): Boolean =
    cols.exists(df.schema(_).nullable)

  private def ansi(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean

  /** Node names interned in UTF-8 byte order (Spark's string order), so
    * comparing two ids compares their names as `min` and `least` do. */
  private final class Nodes(names: Iterator[String]) {
    val name: Array[String] = {
      val seen = new java.util.HashSet[String]()
      names.foreach(seen.add)
      val bytes = seen.toArray(Array.empty[String]).map(UTF8String.fromString)
      java.util.Arrays.sort(bytes,
        (a: UTF8String, b: UTF8String) => a.compareTo(b))
      bytes.map(_.toString)
    }
    private val ids = new java.util.HashMap[String, Integer](2 * name.length)
    name.indices.foreach(i => ids.put(name(i), i))
    def apply(s: String): Int = ids.get(s)
    def size: Int = name.length
  }

  /** The nodes of `(from, to)` string rows (and of `extra`), and each
    * row's ids. */
  private def intern(rows: Array[Row], extra: Iterator[String] = Iterator())
      : (Nodes, Array[Int], Array[Int]) = {
    val v = new Nodes(rows.iterator.flatMap(r =>
      Iterator(r.getString(0), r.getString(1))) ++ extra)
    (v, rows.map(r => v(r.getString(0))), rows.map(r => v(r.getString(1))))
  }

  /** Each id's neighbors `to(off(u) until off(u + 1))`, in the order the
    * pairs come in (a stable counting sort on `from`). */
  private final class Adjacency(n: Int, from: Array[Int], dst: Array[Int]) {
    val off = new Array[Int](n + 1)
    from.foreach(u => off(u + 1) += 1)
    (0 until n).foreach(u => off(u + 1) += off(u))
    val to: Array[Int] = {
      val (t, at) = (new Array[Int](from.length), off.clone())
      from.indices.foreach { i => t(at(from(i))) = dst(i); at(from(i)) += 1 }
      t
    }
    def degree(u: Int): Int = off(u + 1) - off(u)
  }

  /** The symmetric simple graph of directed `(s, d)` rows (self-loops
    * already dropped): its nodes and their ascending neighbor lists. */
  private def undirectedOnDriver(rows: Array[Row]): (Nodes, Adjacency) = {
    val (v, s, d) = intern(rows)
    val keys = new Array[Long](2 * rows.length)
    rows.indices.foreach { i =>
      keys(2 * i) = s(i).toLong << 32 | d(i)
      keys(2 * i + 1) = d(i).toLong << 32 | s(i)
    }
    java.util.Arrays.sort(keys)
    val uniq = keys.indices.filter(i => i == 0 || keys(i) != keys(i - 1))
      .map(keys).toArray
    (v, new Adjacency(v.size, uniq.map(k => (k >>> 32).toInt),
      uniq.map(_.toInt)))
  }

  /** Spark's long `*` and `+`: overflow raises under ANSI mode and wraps
    * without it. */
  private def arithmetic(ansi: Boolean)
      : ((Long, Long) => Long, (Long, Long) => Long) =
    if (ansi) (Math.multiplyExact(_: Long, _: Long),
      Math.addExact(_: Long, _: Long))
    else (_ * _, _ + _)

  /** [[pageRank]] on the driver over the normalized `(src, dst, w)`
    * rows: the distributed path's arithmetic, term for term. */
  private def pageRankOnDriver(rows: Array[Row], iters: Int, scale: Long,
      ansi: Boolean): Seq[Row] = {
    val (mul, add) = arithmetic(ansi)
    val (v, src, dst) = intern(rows)
    val w = rows.map(_.getLong(2))
    val ow = new Array[Long](v.size)
    val sink = Array.fill(v.size)(true)
    src.indices.foreach { i =>
      ow(src(i)) = add(ow(src(i)), w(i)); sink(src(i)) = false }
    val n = math.max(v.size.toLong, 1L)
    def dang(rank: Array[Long]) = rank.indices.foldLeft(0L)((d, u) =>
      if (sink(u)) add(d, rank(u)) else d)
    val (rank, _) = Fixpoint.local("pageRank", (Array.fill(v.size)(scale / n),
        sink.count(identity) * (scale / n)), iters, rows.length)(
        s => Map("dang" -> s._2))(_ => false) { (_, s) =>
      val base = 15L * scale / (100L * n) + 85L * (s._2 / n) / 100L
      val in = new Array[Long](v.size)
      // only a wrapped sum is a zero out-weight: Spark divides it to null
      src.indices.foreach { i => if (ow(src(i)) != 0L)
        in(dst(i)) = add(in(dst(i)),
          mul(85L, mul(s._1(src(i)), w(i)) / ow(src(i))) / 100L) }
      val next = in.map(add(_, base))
      (next, dang(next))
    }
    v.name.indices.map(u => Row(v.name(u), rank(u)))
  }

  /** [[shortestPaths]] on the driver: a frontier BFS over the normalized
    * `(src, dst)` rows from the `node` of each source row. */
  private def shortestPathsOnDriver(rows: Array[Row], sources: Array[Row],
      maxHops: Int): Seq[Row] = {
    val named = sources.map(_.getString(0)).filter(_ != null)
    val (v, src, dst) = intern(rows, named.iterator)
    val adj = new Adjacency(v.size, src, dst)
    val dist = Array.fill(v.size)(-1L)
    val seeds = named.map(v(_)).distinct
    seeds.foreach(dist(_) = 0L)
    val nulls = if (named.length < sources.length) 1L else 0L
    // (frontier, its size, visited): a null source counts, but leads nowhere
    val seed = (seeds, seeds.length + nulls, seeds.length + nulls)
    Fixpoint.local("shortestPaths", seed, maxHops, rows.length)(
        s => Map("frontier" -> s._2, "visited" -> s._3))(_._2 == 0L) {
        (hop, s) =>
      val next = Array.newBuilder[Int]
      for (u <- s._1; i <- adj.off(u) until adj.off(u + 1)) {
        val x = adj.to(i)
        if (dist(x) < 0L) { dist(x) = hop.toLong; next += x }
      }
      val frontier = next.result()
      (frontier, frontier.length.toLong, s._3 + frontier.length)
    }
    (if (nulls > 0) Seq(Row(null, 0L)) else Nil) ++
      v.name.indices.filter(dist(_) >= 0L).map(u => Row(v.name(u), dist(u)))
  }

  /** [[kCore]] on the driver: synchronous peeling over the symmetric
    * adjacency of the directed `(s, d)` rows. */
  private def kCoreOnDriver(rows: Array[Row], k: Int, maxRounds: Int)
      : Seq[Row] = {
    val (v, adj) = undirectedOnDriver(rows)
    // the within-core degree of each id (0 once peeled), |active set|
    final case class Core(deg: Array[Int], active: Long) {
      val nodes: Long = deg.count(_ > 0).toLong
      val kept: Long = deg.count(_ >= k).toLong
    }
    val seed = Array.tabulate(v.size)(adj.degree)
    val core = Fixpoint.local("kCore", Core(seed, seed.length.toLong),
        maxRounds, rows.length)(c => Map("nodes" -> c.nodes,
        "kept" -> c.kept, "active" -> c.active))(c => c.kept == c.active) {
        (_, c) =>
      Core(Array.tabulate(v.size) { u =>
        var (kept, i) = (0, adj.off(u))
        if (c.deg(u) >= k) while (i < adj.off(u + 1)) {
          if (c.deg(adj.to(i)) >= k) kept += 1
          i += 1
        }
        kept
      }, c.kept)
    }
    v.name.indices.filter(core.deg(_) > 0)
      .map(u => Row(v.name(u), core.deg(u).toLong))
  }

  /** [[labelPropagation]] on the driver over the symmetric adjacency of
    * the directed `(s, d)` rows: ids are in byte order, so the smallest
    * id is the smallest label. */
  private def labelPropagationOnDriver(rows: Array[Row], rounds: Int)
      : Seq[Row] = {
    val (v, adj) = undirectedOnDriver(rows)
    def changed(from: Int => Int, to: Array[Int]) =
      to.indices.count(u => to(u) != from(u)).toLong
    // round 1: every vote ties at 1, the smallest of self and neighbors
    val seed = Array.tabulate(v.size)(u => math.min(u, adj.to(adj.off(u))))
    val votes = new Array[Int]((0 until v.size).foldLeft(0)((m, u) =>
      math.max(m, adj.degree(u))))
    val (label, _) = Fixpoint.local("labelPropagation",
        (seed, changed(u => u, seed)), rounds - 1, rows.length)(
        s => Map("nodes" -> v.size.toLong, "changed" -> s._2))(_._2 == 0L) {
        (_, s) =>
      val own = s._1
      val next = Array.tabulate(v.size) { u =>
        val n = adj.degree(u)
        (0 until n).foreach(j => votes(j) = own(adj.to(adj.off(u) + j)))
        java.util.Arrays.sort(votes, 0, n)
        // the most votes wins, ties to the smallest label; the own label
        // gets one self-vote, or competes alone with it
        var (best, most, i) = (own(u), 1, 0)
        while (i < n) {
          var j = i
          while (j < n && votes(j) == votes(i)) j += 1
          val c = j - i + (if (votes(i) == own(u)) 1 else 0)
          if (c > most || c == most && votes(i) < best) {
            best = votes(i); most = c
          }
          i = j
        }
        best
      }
      (next, changed(own(_), next))
    }
    v.name.indices.map(u => Row(v.name(u), v.name(label(u))))
  }
}
