package graft

import scala.collection.mutable

import graft.relational.Graph
import graft.text.Dedup
import graft.util.{Fixpoint, Joins, Materialize}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

/** The fixpoint loop runner behind the five iterative loops: each equals
  * a plain-Scala replay (integer PageRank, BFS, peeling, deterministic
  * LPA, min-label propagation / union-find) on a seeded hub graph and on
  * edge cases, and so do the counters it observes per round; a round is
  * one job plus a broadcast, and under the broadcast gate its executed
  * plan has no shuffle. Over the threshold the same loops shuffle and
  * still agree. The graph loops run here with their driver guard at 0, so
  * every non-empty edge set takes the distributed path (GraphPathsSpec
  * holds the driver path to it). */
class FixpointSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import FixpointSpec._

  // ---- tracing: jobs, executed plans and the loop's log line ------------

  private case class Trace(line: String, rounds: Int,
      counters: Seq[Map[String, Long]], jobs: Int, roundJobs: Seq[Int],
      roundPlans: Seq[SparkPlan])

  private val groups = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `body` (one loop call, nothing else) under its own job group. */
  private def traced[T](body: => T): (T, Trace) = {
    import scala.jdk.CollectionConverters._
    val group = s"fixpoint-spec-${groups.incrementAndGet()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.add(js.properties.getProperty("spark.sql.execution.id")); ()
        }
    }
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") { plans.add(qe.executedPlan); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val (out, lines) = logLines(Fixpoint.getClass.getName) {
      try body finally {
        spark.sparkContext.clearJobGroup()
        // listener events are async; poll until the counts are stable
        var last = (-1, -1)
        var same = 0
        while (same < 3) {
          val now = (jobs.size, plans.size)
          if (now == last) same += 1 else { same = 0; last = now }
          Thread.sleep(100)
        }
        spark.listenerManager.unregister(ql)
        spark.sparkContext.removeSparkListener(jl)
      }
    }
    val line = lines match {
      case Seq(l) => l
      case ls => fail(s"expected one Fixpoint line, got $ls")
    }
    val rounds = """rounds=(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    val counters = """\{([^}]*)\}""".r.findAllMatchIn(line).map(_.group(1))
      .map(_.split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong }.toMap).toSeq
    // jobs per SQL execution, in submission order: the last `rounds`
    // executions are the loop's rounds
    val perExec = jobs.asScala.toSeq.groupBy(identity).view
      .mapValues(_.size).toSeq.sortBy(_._1.toLong).map(_._2)
    (out, Trace(line, rounds, counters, jobs.size, perExec.takeRight(rounds),
      plans.asScala.toSeq.takeRight(rounds)))
  }

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case s: ShuffleExchangeLike => s }.size

  /** Fixpoint's contract on a traced loop under the broadcast gate. */
  private def assertShape(t: Trace, setupJobs: Int = 0): Unit = {
    assert(t.counters.size == t.rounds + 1, t.line)
    assert(t.jobs <= 3 * (t.rounds + 1) + setupJobs,
      s"${t.jobs} jobs for ${t.rounds} rounds: ${t.line}")
    // past the first round (which may also build the edge cache) a round
    // is its checkpoint job plus one broadcast
    assert(t.roundJobs.drop(1).forall(_ <= 2), s"${t.roundJobs} ${t.line}")
    assert(t.roundPlans.size == t.rounds)
    t.roundPlans.foreach(p => assert(shuffles(p) == 0, p.toString.take(3000)))
    assert(!t.line.contains("skipped"), t.line)
  }

  private def strEdges(es: Seq[(String, String)]) = es.toDF("src", "dst")

  /** A test whose graph loops take the distributed path. */
  private def distributedTest(name: String)(body: => Any): Unit =
    test(name)(Materialize.driverMaxRows.withValue(0L)(body))

  // ---- the five loops against plain-Scala replays ------------------------

  distributedTest("pageRank equals an integer replay on a hub graph and edge " +
      "cases, counters included; one job plus a broadcast per round, no " +
      "shuffle") {
    val cases = Seq(hub(300, 1), hub(120, 7),
      Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)),
      Seq(("a", "b", 1L)), Seq(("a", "b", 1L), ("a", "c", 0L), ("a", "d", -3L)),
      Seq(("s", "x", 9L), ("s", "y", 1L), ("x", "s", 1L), ("y", "s", 1L)),
      Seq(("a", "b", 2L), ("a", "b", 3L), ("b", "b", 1L)))
    for ((es, i) <- cases.zipWithIndex; iters <- Seq(1, 3)) {
      val (out, t) = traced(Graph.pageRank(es.toDF("src", "dst", "w"),
        "src", "dst", "w", iters))
      val (want, states) = Ref.pageRank(es, iters)
      assert(out.as[(String, Long)].collect().toMap == want, s"case $i")
      assert(t.counters == states, s"case $i: ${t.line}")
      assert(t.rounds == iters && t.line.contains(s"maxRounds=$iters hit"))
      assertShape(t)
    }
  }

  distributedTest("shortestPaths equals BFS on a hub graph and edge cases, " +
      "frontier counters included; one job plus a broadcast per round") {
    val hubE = hub(300, 3).map(e => (e._1, e._2))
    val cases = Seq(
      (hubE, Seq("0", "60", "120", "180", "240"), 3),
      (hubE, Seq("7"), 20),
      (Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")),
        Seq("a"), 10),
      (Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "d")), Seq("a", "e"), 10),
      (Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a"), 10),
      (Seq(("a", "b")), Seq("zz"), 3))
    for (((es, srcs, hops), i) <- cases.zipWithIndex) {
      val (out, t) = traced(Graph.shortestPaths(strEdges(es), "src", "dst",
        srcs.toDF("node"), hops))
      val (want, states) = Ref.bfs(es, srcs, hops)
      assert(out.as[(String, Long)].collect().toMap == want, s"case $i")
      assert(t.counters == states, s"case $i: ${t.line}")
      assertShape(t)
    }
  }

  distributedTest("kCore equals synchronous peeling on a hub graph and edge " +
      "cases, counters included; a converged loop reuses its last degrees") {
    val hubE = hub(300, 5).map(e => (e._1, e._2))
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"))
    val cases = Seq((hubE, 3, 2), (hubE, 4, 30), (hubE, 2, 1),
      (Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "t")), 2, 20),
      (k4, 3, 20), (k4.filterNot(_ == (("a", "b"))), 3, 20),
      (Seq(("a", "a")), 1, 5))
    for (((es, k, rounds), i) <- cases.zipWithIndex) {
      val (out, t) = traced(Graph.kCore(strEdges(es), "src", "dst", k, rounds))
      val (want, states) = Ref.kCore(es, k, rounds)
      assert(out.as[(String, Long)].collect().toMap == want, s"case $i")
      assert(t.counters == states, s"case $i: ${t.line}")
      assertShape(t)
    }
  }

  distributedTest("labelPropagation equals deterministic LPA on a hub graph " +
      "and edge cases, changed-label counters included") {
    val hubE = hub(300, 9).map(e => (e._1, e._2))
    val cases = Seq((hubE, 2), (hubE, 30),
      (Seq(("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"),
        ("z", "x")), 5),
      // a bipartite star: synchronous LPA without the self-vote oscillates
      ((1 to 6).map(i => ("hub", s"leaf$i")), 10),
      // ties broken by the smallest label, not by vote order
      (Seq(("m", "b"), ("m", "a"), ("b", "z"), ("a", "y")), 4),
      (Seq(("a", "a")), 3))
    for (((es, rounds), i) <- cases.zipWithIndex) {
      val (out, t) = traced(Graph.labelPropagation(strEdges(es), "src", "dst",
        rounds))
      val (want, states) = Ref.lpa(es, rounds)
      assert(out.as[(String, String)].collect().toMap == want, s"case $i")
      assert(t.counters == states, s"case $i: ${t.line}")
      assertShape(t)
    }
  }

  test("distributed duplicateComponents equals union-find and min-label " +
      "propagation, changed counters included; maxIter still caps a chain") {
    val hubE = hub(300, 11).map(e => (e._1.toLong, e._2.toLong))
    val chain = (1L to 12L).map(i => (i, i + 1))
    val cases = Seq((hubE, 20), (Seq((1L, 2L), (3L, 4L), (4L, 5L), (2L, 2L),
      (5L, 3L), (9L, 9L)), 20), (chain, 20), (chain, 3))
    for (((ps, maxIter), i) <- cases.zipWithIndex) {
      val (out, t) = traced(Dedup.duplicateComponents(
        ps.toDF("id_a", "id_b"), maxIter = maxIter, maxCollect = 0L))
      val (want, states) = Ref.components(ps, maxIter)
      val got = out.as[(Long, Long)].collect().toMap
      assert(got == want, s"case $i")
      assert(t.counters == states, s"case $i: ${t.line}")
      if (states.last("changed") == 0L)
        assert(got == Ref.unionFind(ps), s"case $i")
      // plus the job that materializes and counts the pairs
      assertShape(t, setupJobs = 1)
    }
  }

  // ---- the over-threshold path ---------------------------------------------

  distributedTest("over the gate threshold every loop shuffles its rounds " +
      "and still equals the replays") {
    val es = hub(120, 13)
    val un = es.map(e => (e._1, e._2))
    // the planner's own size-based broadcast off too: a checkpoint carries
    // its size, so the small test states would otherwise broadcast anyway
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(auto)
    spark.conf.set(auto, "-1")
    try Joins.threshold.withValue(0L) {
      val runs = Seq(
        traced(Graph.pageRank(es.toDF("src", "dst", "w"), "src", "dst", "w",
          2)) match { case (o, t) =>
          assert(o.as[(String, Long)].collect().toMap ==
            Ref.pageRank(es, 2)._1); t },
        traced(Graph.shortestPaths(strEdges(un), "src", "dst",
          Seq("0", "30").toDF("node"), 3)) match { case (o, t) =>
          assert(o.as[(String, Long)].collect().toMap ==
            Ref.bfs(un, Seq("0", "30"), 3)._1); t },
        traced(Graph.kCore(strEdges(un), "src", "dst", 3, 5)) match {
          case (o, t) =>
            assert(o.as[(String, Long)].collect().toMap ==
              Ref.kCore(un, 3, 5)._1); t },
        traced(Graph.labelPropagation(strEdges(un), "src", "dst", 3)) match {
          case (o, t) =>
            assert(o.as[(String, String)].collect().toMap ==
              Ref.lpa(un, 3)._1); t },
        traced(Dedup.duplicateComponents(un.map(e => (e._1.toLong,
            e._2.toLong)).toDF("id_a", "id_b"), maxCollect = 0L)) match {
          case (o, t) =>
            assert(o.as[(Long, Long)].collect().toMap == Ref.unionFind(
              un.map(e => (e._1.toLong, e._2.toLong)))); t })
      runs.foreach { t =>
        assert(t.rounds >= 1, t.line)
        assert(t.line.contains("threshold=0") && !t.line.contains("taken"),
          t.line)
        t.roundPlans.foreach(p => assert(shuffles(p) >= 1, p.toString))
      }
    } finally spark.conf.set(auto, was)
  }

  distributedTest("one INFO line per loop: name, rounds, how it stopped, " +
      "each gate decision with its node count") {
    val (_, lpa) = traced(Graph.labelPropagation(
      strEdges(Seq(("a", "b"), ("b", "c"), ("c", "a"))), "src", "dst", 5))
    // round 1 (the seed) labels every node "a"; round 2 changes nothing
    assert(lpa.line == "Fixpoint labelPropagation: rounds=1 converged " +
      s"gate=[taken:3] threshold=${Joins.threshold.value} " +
      "counters=[{changed=2,nodes=3}, {changed=0,nodes=3}] " +
      "path=distributed edges>0 guard=0", lpa.line)
    val (_, pr) = traced(Graph.pageRank(
      Seq(("a", "b", 1L)).toDF("s", "d", "w"), "s", "d", "w", 2))
    assert(pr.line.startsWith("Fixpoint pageRank: rounds=2 maxRounds=2 hit " +
      "gate=[taken:2, taken:2]"), pr.line)
  }
}

object FixpointSpec {
  /** The benchmark's link-graph shape: three links per page, 60% of them
    * to one of 20 hub pages, weights 1–5. */
  def hub(n: Int, seed: Long): Seq[(String, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until 3 * n).map { _ =>
      val src = rnd.nextInt(n)
      val dst = if (rnd.nextDouble() < 0.6) rnd.nextInt(20) * (n / 20)
        else rnd.nextInt(n)
      (src.toString, dst.toString, rnd.nextInt(5) + 1L)
    }
  }

  /** Plain-Scala replays: each returns the output and the counters of
    * every state the loop passes through (seed first). */
  object Ref {
    private val byteOrder: Ordering[(Int, UTF8String)] =
      Ordering.Tuple2(Ordering.Int, Ordering.fromLessThan[UTF8String](
        (a, b) => a.compareTo(b) < 0))

    private def undirected(es: Seq[(String, String)]) =
      es.flatMap(e => Seq(e, e.swap)).filter(e => e._1 != e._2).distinct

    def pageRank(es: Seq[(String, String, Long)], iters: Int,
        scale: Long = 1000000000L)
        : (Map[String, Long], Seq[Map[String, Long]]) = {
      val e = es.filter(_._3 > 0)
      val ow = e.groupMapReduce(_._1)(_._3)(_ + _)
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      val n = math.max(nodes.size.toLong, 1L)
      var r = nodes.map(_ -> scale / n).toMap
      def dang = nodes.filterNot(ow.contains).map(r).sum
      val states = mutable.ArrayBuffer(Map("dang" -> dang))
      for (_ <- 1 to iters) {
        val base = 15 * scale / (100 * n) + 85 * (dang / n) / 100
        val in = e.groupMapReduce(_._2)(x =>
          85 * ((r(x._1) * x._3) / ow(x._1)) / 100)(_ + _)
        r = nodes.map(v => v -> (in.getOrElse(v, 0L) + base)).toMap
        states += Map("dang" -> dang)
      }
      (r, states.toSeq)
    }

    def bfs(es: Seq[(String, String)], sources: Seq[String], maxHops: Int)
        : (Map[String, Long], Seq[Map[String, Long]]) = {
      val e = es.filter(x => x._1 != x._2).distinct
      var dist = sources.distinct.map(_ -> 0L).toMap
      var frontier = dist.keySet
      def state = Map("frontier" -> frontier.size.toLong,
        "visited" -> dist.size.toLong)
      val states = mutable.ArrayBuffer(state)
      var hop = 1
      while (hop <= maxHops && frontier.nonEmpty) {
        frontier = e.filter(x => frontier(x._1) && !dist.contains(x._2))
          .map(_._2).toSet
        dist ++= frontier.map(_ -> hop.toLong)
        states += state
        hop += 1
      }
      (dist, states.toSeq)
    }

    def kCore(es: Seq[(String, String)], k: Int, maxRounds: Int)
        : (Map[String, Long], Seq[Map[String, Long]]) = {
      val und = undirected(es)
      def degrees(a: Set[String]) = und.filter(x => a(x._1) && a(x._2))
        .groupBy(_._2).map { case (v, xs) => v -> xs.size.toLong }
      var active = und.map(_._2).toSet
      var deg = degrees(active)
      def state = Map("nodes" -> deg.size.toLong,
        "kept" -> deg.count(_._2 >= k).toLong, "active" -> active.size.toLong)
      val states = mutable.ArrayBuffer(state)
      var r = 0
      while (r < maxRounds && states.last("kept") != states.last("active")) {
        active = deg.filter(_._2 >= k).keySet
        deg = degrees(active)
        states += state
        r += 1
      }
      (deg, states.toSeq)
    }

    /** Synchronous LPA: neighbors' labels plus one self-vote, the most
      * frequent wins, ties to the smallest label in UTF-8 byte order
      * (Spark's and DuckDB's string order, not `String`'s UTF-16 order);
      * stops early when a round changes nothing. States are the rounds'
      * results. */
    def lpa(es: Seq[(String, String)], rounds: Int)
        : (Map[String, String], Seq[Map[String, Long]]) = {
      val nbrs = undirected(es).groupMap(_._2)(_._1)
      var label = nbrs.keys.map(v => v -> v).toMap
      val states = mutable.ArrayBuffer[Map[String, Long]]()
      var changed = -1L
      while (states.size < rounds && changed != 0L) {
        val next = nbrs.map { case (v, ns) =>
          v -> (ns.map(label) :+ label(v)).groupMapReduce(identity)(_ => 1)(
            _ + _).toSeq.minBy { case (l, c) =>
              (-c, UTF8String.fromString(l)) }(byteOrder)._1
        }
        changed = next.count { case (v, l) => label(v) != l }.toLong
        label = next
        states += Map("nodes" -> label.size.toLong, "changed" -> changed)
      }
      (label, states.toSeq)
    }

    /** Min-label propagation, round 1 (min of self and neighbors) being
      * the seed; stops when a round changes nothing or after `maxIter`. */
    def components(ps: Seq[(Long, Long)], maxIter: Int)
        : (Map[Long, Long], Seq[Map[String, Long]]) = {
      val nbrs = ps.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap))
        .distinct.groupMap(_._1)(_._2)
      var label = nbrs.map { case (v, ns) => v -> math.min(v, ns.min) }
      def state(prev: Map[Long, Long]) = Map("nodes" -> label.size.toLong,
        "changed" -> label.count { case (v, l) => prev(v) != l }.toLong)
      val states = mutable.ArrayBuffer(state(label.map(kv => kv._1 -> kv._1)))
      while (states.size <= maxIter && states.last("changed") != 0L) {
        val prev = label
        label = nbrs.map { case (v, ns) =>
          v -> math.min(prev(v), ns.map(prev).min) }
        states += state(prev)
      }
      (label, states.toSeq)
    }

    /** Each id in a pair with a different id, labeled by the smallest id
      * of its connected component. */
    def unionFind(ps: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      ps.filter(p => p._1 != p._2).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ps.filter(p => p._1 != p._2).flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v)).toMap
    }
  }
}
