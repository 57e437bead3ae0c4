package graft

import org.apache.spark.sql.functions._

import graft.text.Ranking

class CollocationsSpec extends SparkSpec {
  import spark.implicits._

  test("PMI ranks the glued pair above independent pairs; minCount gates") {
    // "new york" always adjacent; "the cat"/"the dog" dilute "the"
    val docs = Seq.fill(6)("new york is big") ++
      Seq.fill(3)("the cat sat") ++ Seq.fill(3)("the dog sat") ++
      Seq.fill(3)("the bird sat") ++ Seq("rare pair")
    val df = docs.toDF("text")
    val got = Ranking.collocations(df, "text", minCount = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val pairs = got.map(t => (t._1, t._2))
    assert(!pairs.contains(("rare", "pair")), "minCount must gate")
    val ny = got.find(t => t._1 == "new" && t._2 == "york").get
    assert(ny._3 == 6L)
    // exact PMI: ln(c12*N/(c1*c2)); N=37 tokens, c(new)=c(york)=6
    val n = docs.map(_.split("\\s+").length).sum.toDouble
    assert(ny._4 == math.rint(math.log(6 * n / (6.0 * 6.0)) * 1e6) / 1e6)
    // "the cat" (3 of 6 "the") scores below "new york" (exclusive pair)
    val thecat = got.find(t => t._1 == "the" && t._2 == "cat").get
    assert(ny._4 > thecat._4)
  }

  test("final cut is a TakeOrderedAndProject, not a global sort") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val df = Seq("a b a b").toDF("text")
    // the result is a local checkpoint: its own plan is a scan of the
    // checkpoint, so read the executed plan of the job that wrote it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      Ranking.collocations(df, "text", 1, 5)
      val deadline = System.nanoTime() + 10000000000L
      while (!plans.toArray.exists(_.toString.contains("pair_cnt")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(ql)
    val plan = plans.toArray.map(_.toString).filter(_.contains("pair_cnt"))
      .lastOption.getOrElse("")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }
}

class DivergingTermsSpec extends SparkSpec {
  import spark.implicits._

  test("KL contributions: A-heavy token tops, shared token near zero") {
    val a = Seq.fill(5)("alpha alpha shared").toDF("text")
    val b = Seq.fill(5)("beta beta shared").toDF("text")
    val got = Ranking.divergingTerms(a, b, "text", topK = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("alpha")._1 == 10L && got("alpha")._2 == 0L)
    // exact replay: Na=Nb=15, V=3, add-one smoothing
    val pa = 11.0 / 18.0; val pb = 1.0 / 18.0
    assert(got("alpha")._3 ==
      math.rint(pa * math.log(pa / pb) * 1e9) / 1e9)
    assert(got("alpha")._3 > got("shared")._3)
    // shared token: equal counts -> identical p, exactly zero
    assert(got("shared")._3 == 0.0)
  }

  test("summing kl_term over the full vocabulary equals total KL") {
    val a = Seq("x x y z").toDF("text")
    val b = Seq("x y y w").toDF("text")
    val full = Ranking.divergingTerms(a, b, "text", topK = 1000)
      .agg(sum("kl_term")).head().getDouble(0)
    // direct computation over union vocab {x,y,z,w}, N=4 each, V=4
    def p(c: Long) = (c + 1.0) / 8.0
    val expect = Seq((2L, 1L), (1L, 2L), (1L, 0L), (0L, 1L))
      .map { case (ca, cb) => p(ca) * math.log(p(ca) / p(cb)) }
      .map(v => math.rint(v * 1e9) / 1e9).sum
    assert(math.abs(full - expect) < 1e-7)
    assert(full > 0, "KL of distinct distributions is positive")
  }
}
