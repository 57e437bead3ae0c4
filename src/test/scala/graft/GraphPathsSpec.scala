package graft

import graft.relational.Graph
import graft.util.{Fixpoint, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The two paths of the four graph loops agree: under the driver guard a
  * loop collects its normalized edges in one job and runs on the driver;
  * over it the distributed [[Fixpoint]] loop runs. Every graph input of
  * FixpointSpec and GraphSpec, plus the edge cases, gives equal rows,
  * equal schema, equal rounds and stopping rule, and equal counters on
  * both, and the rows of every input given as a Seq equal the plain-Scala
  * replay ([[FixpointSpec.Ref]]). The distributed side runs at a guard of
  * 0, so an input with no edges (after the null, weight and self-loop
  * filters) stays on the driver there too: those are held to the replay. */
class GraphPathsSpec extends SparkSpec {
  import spark.implicits._
  import FixpointSpec.{hub, Ref}

  /** One loop call: its rows (sorted), schema and loop line. */
  private case class Run(rows: Seq[String], schema: StructType, line: String) {
    /** Rounds, how it stopped and the counters: the line without the
      * path's own fields. */
    def loop: (String, Seq[String]) = (
      """rounds=\d+ (converged|maxRounds=\d+ hit)""".r.findFirstIn(line).get,
      """\{[^}]*\}""".r.findAllIn(line).toSeq)
  }

  private def run(guard: Long)(call: => DataFrame): Run = {
    val (df, lines) = logLines(Fixpoint.getClass.getName)(
      Materialize.driverMaxRows.withValue(guard)(call))
    assert(lines.size == 1, lines)
    Run(df.collect().map(_.toSeq.mkString("|")).sorted.toSeq, df.schema,
      lines.head)
  }

  /** `call` on both paths: the same result, and each took its path (at a
    * guard of 0 only a call with no edges stays on the driver). */
  private def bothPaths(what: String)(call: => DataFrame): Run = {
    val local = run(Materialize.DriverMaxRows)(call)
    val dist = run(0L)(call)
    assert(local.line.contains("path=driver edges="), local.line)
    assert(dist.line.contains("path=distributed edges") ||
      dist.line.endsWith("path=driver edges=0 guard=0"), dist.line)
    assert(local.rows == dist.rows, what)
    assert(local.schema == dist.schema, what)
    assert(local.loop == dist.loop, s"$what: ${local.line} / ${dist.line}")
    local
  }

  /** A replay's output as [[Run.rows]]. */
  private def rows(ref: Map[String, _]): Seq[String] =
    ref.toSeq.map { case (n, v) => s"$n|$v" }.sorted

  private def weighted(es: Seq[(String, String, Long)]) =
    es.toDF("src", "dst", "w")
  private def plain(es: Seq[(String, String)]) = es.toDF("src", "dst")

  private val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
    ("b", "d"), ("c", "d"))
  private val nulls = Seq[(String, String, java.lang.Long)](("a", "b", 1L),
    ("b", "c", 2L), (null, "a", 5L), ("c", null, 4L), ("c", "a", 1L),
    ("c", "d", null)).toDF("src", "dst", "w")
  /** GraphSpec's random k-core graphs, each with its k. */
  private val random = {
    val rnd = new scala.util.Random(42)
    (1 to 3).map { _ =>
      val es = (1 to 80).map(_ =>
        (s"n${rnd.nextInt(16)}", s"n${rnd.nextInt(16)}"))
      (es, rnd.nextInt(3) + 2)
    }
  }
  private val unicode = Seq(("Ａ", "😀"), ("😀", "x"), ("x", "Ａ"),
    ("😀", "y"))

  /** The weighted inputs given as Seqs; the last two have no edges. */
  private val weightedSeqs: Seq[Seq[(String, String, Long)]] = Seq(
    hub(300, 1), hub(120, 7),
    Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)), Seq(("a", "b", 1L)),
    Seq(("a", "b", 1L), ("a", "c", 0L), ("a", "d", -3L)),
    Seq(("s", "x", 9L), ("s", "y", 1L), ("x", "s", 1L), ("y", "s", 1L)),
    Seq(("a", "b", 2L), ("a", "b", 3L), ("b", "b", 1L)),
    (1 to 40).map(i => (s"n${i % 7}", s"n${(i * 3) % 7}", (i % 5 + 1).toLong)),
    Seq(("a", "a", 1L), ("b", "b", 2L)), Seq(("a", "b", 0L)), Nil)

  /** The unweighted inputs given as Seqs; the last two have no edges. */
  private val plainSeqs: Seq[Seq[(String, String)]] = Seq(
    hub(300, 3), hub(300, 5), hub(300, 9), hub(150, 21)).map(_.map(e =>
      (e._1, e._2))) ++ random.map(_._1) ++ Seq(k4,
    k4.filterNot(_ == (("a", "b"))),
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")),
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "d")),
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "t")),
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"),
      ("z", "x")),
    (1 to 6).map(i => ("hub", s"leaf$i")),
    Seq(("m", "b"), ("m", "a"), ("b", "z"), ("a", "y")),
    Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")),
    unicode, Seq(("a", "a"), ("b", "b")), Nil)

  /** Inputs only a DataFrame can give: null endpoints, and non-null long
    * ids (the outputs' columns are then not nullable). */
  private val weightedFrames = Seq(nulls,
    Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)).toDF("src", "dst", "w"))
  private val plainFrames = Seq(nulls.select($"src", $"dst"),
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))

  test("pageRank: both paths equal on every input, null endpoints, w <= 0, " +
      "duplicates, self-loops only and no edges included") {
    for ((es, i) <- weightedSeqs.zipWithIndex; iters <- Seq(1, 3)) {
      val got = bothPaths(s"case $i iters=$iters")(
        Graph.pageRank(weighted(es), "src", "dst", "w", iters))
      assert(got.rows == rows(Ref.pageRank(es, iters)._1), s"case $i")
    }
    for ((df, i) <- weightedFrames.zipWithIndex; iters <- Seq(1, 3))
      bothPaths(s"frame $i iters=$iters")(
        Graph.pageRank(df, "src", "dst", "w", iters))
  }

  test("shortestPaths: both paths equal on every input with null, " +
      "duplicate, absent and no sources") {
    val some = Seq("0", "60", "7", "a", "e", "Ａ", "zz")
    for ((es, i) <- plainSeqs.zipWithIndex) {
      val got = bothPaths(s"case $i")(
        Graph.shortestPaths(plain(es), "src", "dst", some.toDF("node"), 3))
      assert(got.rows == rows(Ref.bfs(es, some, 3)._1), s"case $i")
    }
    for ((df, i) <- plainFrames.zipWithIndex)
      bothPaths(s"frame $i")(
        Graph.shortestPaths(df, "src", "dst", some.toDF("node"), 3))
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y"))
    for ((s, j) <- Seq(Seq("a", null, null, "a"), Seq("zz"), Nil)
        .zipWithIndex; hops <- Seq(1, 10)) {
      val got = bothPaths(s"sources $j hops=$hops")(Graph.shortestPaths(
        plain(chain), "src", "dst", s.toDF("node"), hops))
      assert(got.rows == rows(Ref.bfs(chain, s, hops)._1), s"sources $j")
    }
    for ((s, j) <- Seq(Seq(1L, 2L), Nil).zipWithIndex)
      bothPaths(s"long sources $j")(Graph.shortestPaths(plain(chain), "src",
        "dst", s.toDF("node"), 3))
    for ((es, j) <- Seq(Seq((1L, 2L), (2L, 3L)), Nil).zipWithIndex)
      bothPaths(s"long ids $j")(Graph.shortestPaths(
        es.toDF("src", "dst"), "src", "dst", Seq(1L).toDF("node"), 3))
    // no edges and no sources: the driver path on both sides
    val none = bothPaths("no edges, no sources")(Graph.shortestPaths(
      plain(Nil), "src", "dst", Seq.empty[String].toDF("node"), 3))
    assert(none.rows == rows(Ref.bfs(Nil, Nil, 3)._1))
    val hubE = plainSeqs.head
    val far = bothPaths("hub, 20 hops")(Graph.shortestPaths(plain(hubE),
      "src", "dst", Seq("7").toDF("node"), 20))
    assert(far.rows == rows(Ref.bfs(hubE, Seq("7"), 20)._1))
  }

  test("kCore: both paths equal, maxRounds hit before convergence keeping " +
      "the deg < k nodes") {
    for ((es, i) <- plainSeqs.zipWithIndex) {
      val got = bothPaths(s"case $i")(Graph.kCore(plain(es), "src", "dst",
        3, 30))
      assert(got.rows == rows(Ref.kCore(es, 3, 30)._1), s"case $i")
    }
    for ((df, i) <- plainFrames.zipWithIndex)
      bothPaths(s"frame $i")(Graph.kCore(df, "src", "dst", 3, 30))
    for (((es, k), i) <- random.zipWithIndex) {
      val got = bothPaths(s"random $i")(Graph.kCore(plain(es), "src", "dst",
        k, 20))
      assert(got.rows == rows(Ref.kCore(es, k, 20)._1), s"random $i")
    }
    val hub5 = plainSeqs(1)
    for ((k, rounds) <- Seq((2, 1), (3, 2), (1, 5), (4, 1))) {
      val got = bothPaths(s"hub k=$k rounds=$rounds")(
        Graph.kCore(plain(hub5), "src", "dst", k, rounds))
      assert(got.rows == rows(Ref.kCore(hub5, k, rounds)._1))
      if (k == 4) {
        assert(got.line.contains("maxRounds=1 hit"), got.line)
        assert(got.rows.exists(_.split('|')(1).toLong < 4), got.rows.take(5))
      }
    }
  }

  test("labelPropagation: both paths equal, and ties go to the smallest " +
      "label in UTF-8 byte order") {
    for ((es, i) <- plainSeqs.zipWithIndex) {
      val got = bothPaths(s"case $i")(Graph.labelPropagation(plain(es),
        "src", "dst", 30))
      assert(got.rows == rows(Ref.lpa(es, 30)._1), s"case $i")
    }
    for ((df, i) <- plainFrames.zipWithIndex)
      bothPaths(s"frame $i")(Graph.labelPropagation(df, "src", "dst", 30))
    val hub9 = plainSeqs(2)
    for (rounds <- Seq(1, 2)) {
      val got = bothPaths(s"hub rounds=$rounds")(
        Graph.labelPropagation(plain(hub9), "src", "dst", rounds))
      assert(got.rows == rows(Ref.lpa(hub9, rounds)._1))
    }
    // "Ａ" (U+FF21) sorts before "😀" (U+1F600) in UTF-8 bytes, after it
    // in Java's UTF-16 order
    assert("😀" < "Ａ")
    for (es <- Seq(Seq(("Ａ", "😀")), unicode); rounds <- Seq(1, 4)) {
      val got = bothPaths(s"unicode rounds=$rounds")(
        Graph.labelPropagation(plain(es), "src", "dst", rounds))
      assert(got.rows == rows(Ref.lpa(es, rounds)._1))
      if (es.size == 1)
        assert(got.rows == Seq("Ａ|Ａ", "😀|Ａ").sorted, got.rows)
    }
  }

  test("pageRank overflow raises an ArithmeticException on both paths, " +
      "and wraps alike on both without ANSI mode") {
    val huge = weighted(Seq(("a", "b", Long.MaxValue / 2), ("b", "a", 1L)))
    for (guard <- Seq(Materialize.DriverMaxRows, 0L)) {
      val e = intercept[Throwable](Materialize.driverMaxRows.withValue(guard)(
        Graph.pageRank(huge, "src", "dst", "w", 2).collect()))
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"guard $guard: $e")
    }
    val (ansi, was) = ("spark.sql.ansi.enabled",
      spark.conf.get("spark.sql.ansi.enabled"))
    spark.conf.set(ansi, "false")
    try bothPaths("wrapped")(Graph.pageRank(huge, "src", "dst", "w", 2))
    finally spark.conf.set(ansi, was)
  }

  test("under the guard a loop is one job, BFS two, and none on a local " +
      "relation; over it the guard adds one job, and none on a local " +
      "relation; a guard of exactly the edge count takes the driver path, " +
      "one less the distributed") {
    val sc = spark.sparkContext
    val (wl, pl) = (hub(120, 7), hub(120, 7).map(e => (e._1, e._2)))
    val sl = Seq("0", "6")
    // RDD-backed inputs, whose rows only a job reads, and local relations
    val rdd = (sc.parallelize(wl, 3).toDF("src", "dst", "w"),
      sc.parallelize(pl, 3).toDF("src", "dst"),
      sc.parallelize(sl, 2).toDF("node"))
    val local = (weighted(wl), plain(pl), sl.toDF("node"))
    type Inputs = (DataFrame, DataFrame, DataFrame)
    val n = pl.count(e => e._1 != e._2).toLong
    val calls: Seq[(String, Long, Inputs => DataFrame, Int)] = Seq(
      ("pageRank", 360L, in => Graph.pageRank(in._1, "src", "dst", "w", 3),
        1),
      ("shortestPaths", n,
        in => Graph.shortestPaths(in._2, "src", "dst", in._3, 5), 2),
      ("kCore", n, in => Graph.kCore(in._2, "src", "dst", 3, 5), 1),
      ("labelPropagation", n,
        in => Graph.labelPropagation(in._2, "src", "dst", 5), 1))
    def jobs(guard: Long)(call: => DataFrame) =
      countJobs(Materialize.driverMaxRows.withValue(guard)(call).collect())
    for ((name, edges, call, under) <- calls) {
      val (_, lines) = logLines(Fixpoint.getClass.getName)(
        assert(jobs(edges)(call(rdd)) == under, name))
      assert(lines.size == 1 && lines.head.endsWith(
        s"path=driver edges=$edges guard=$edges"), lines)
      assert(jobs(edges)(call(local)) == 0, name)
      assert(jobs(edges - 1)(call(rdd)) == jobs(edges - 1)(call(local)) + 1,
        name)
      val over = run(edges - 1)(call(rdd))
      assert(over.line.endsWith(
        s"path=distributed edges>${edges - 1} guard=${edges - 1}"), over.line)
      assert(over.rows == run(edges)(call(rdd)).rows, name)
    }
    // BFS over the guard on its sources alone: the edges it collected run
    // the distributed loop
    val srcs = run(1L)(Graph.shortestPaths(plain(Seq(("a", "b"))), "src",
      "dst", Seq("a", "b").toDF("node"), 3))
    assert(srcs.line.endsWith("path=distributed edges=1 sources>1 guard=1"),
      srcs.line)
    assert(srcs.rows == Seq("a|0", "b|0"))
  }
}
