package graft

import org.apache.spark.sql.functions._

/** Plan-shape pins for the round-7 additions (VERDICT r7 #8): the same
  * regression armor the CumulativeEngine family has — shuffle counts,
  * killer-node absences, and (new here) a generated-plan SIZE ceiling,
  * because round 7's PQ argmin cascades were CORRECT but emitted 9.9–19
  * MiB task binaries that taxed the whole suite through code-cache
  * churn. A plan can regress by bloating, not just by adding exchanges. */
class Round10PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int = p.sliding(9).count(_ == "Exchange ")

  private def vecs(n: Int, dim: Int) =
    (0 until n).map { i =>
      (i.toLong, (0 until dim).map(j =>
        ((i * 31 + j * 17) % 97).toFloat / 97f).toArray)
    }.toDF("vec_id", "embedding")

  test("PQ encode is a ZERO-exchange projection, and the argmin stays " +
      "array_min-shaped: plan size bounded (the when-cascade form " +
      "emitted MiB-scale trees at the same geometry)") {
    val df = vecs(20, 64)
    val model = graft.sim.Pq.fit(df, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, iters = 1)
    val p = plan(graft.sim.Pq.encode(df, "vec_id", "embedding", model))
    assert(exchanges(p) == 0, p.take(500))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(500))
    // 4 subspaces × 16 codewords × 16-dim distances, each distance
    // carried ONCE: comfortably under 400k chars. The O(k²)-duplication
    // cascade at this geometry blows far past this ceiling.
    assert(p.length < 400000, s"PQ encode plan bloated: ${p.length} chars")
  }

  test("LPA final plan is rounds-INDEPENDENT: per-round localCheckpoint " +
      "cuts lineage, so exchanges do not accumulate with rounds") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"),
      ("y", "z"), ("z", "x")).toDF("src", "dst")
    // the distributed loop: under its guard the result is a local relation
    def lpa(rounds: Int) = graft.util.Materialize.driverMaxRows.withValue(0L)(
      plan(graft.relational.Graph.labelPropagation(edges, "src", "dst",
        rounds)))
    val (p2, p5) = (lpa(2), lpa(5))
    assert(!p2.contains("LocalTableScan"), p2)
    assert(exchanges(p2) == exchanges(p5),
      s"rounds leak into the final plan: ${exchanges(p2)} vs " +
        s"${exchanges(p5)}")
  }

  test("q_curation's DSIR budget cut is a bounded TakeOrdered heap, " +
      "not a single-task global window") {
    // range leaf, not a LocalRelation — the optimizer constant-folds
    // tiny local relations straight past the physical operators the pin
    // is about. 400 rows, not 40: EliminateLimits removes a limit ≥ the
    // leaf's known maxRows, leaving a full global sort that the real
    // corpus-scale plan never has
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat(lit("the cat sat on mat number "), col("id"),
        lit(" and it is a fine day in the park that we all enjoy"))
        .as("text"),
      lit("src0").as("source"))
    val scored = graft.text.Corpus.dsirScore(
      docs, "text", "doc_id", docs, "text", buckets = 16)
      .orderBy(col("dsir_score").desc, col("doc_id")).limit(150)
    val p = plan(scored)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
  }

  test("RRF fuse: S-1 full-outer equi-joins, no cartesian; ungrouped " +
      "re-rank rides the bounded-window guard (inputs are top-k cuts " +
      "by contract)") {
    val r1 = Seq(("d1", 1L), ("d2", 2L)).toDF("doc", "rank")
    val r2 = Seq(("d2", 1L), ("d3", 2L)).toDF("doc", "rank")
    val r3 = Seq(("d1", 1L), ("d3", 2L)).toDF("doc", "rank")
    val p = plan(graft.text.Ranking.rrfFuse(Seq(r1, r2, r3), Nil, "doc"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.sliding(4).count(_ == "Join") >= 2, p.take(600))
  }

  // ---- round-9 ring (VERDICT r8 #7): finish the plan-pin armor ---------

  test("CUPED adjustment is ONE grouped aggregate over the unit relation" +
      ": no join, no window, a single exchange") {
    // theta comes from a separate driver-side scalar aggregate; the
    // returned per-variant frame must stay a plain partial+final agg —
    // a lookup-not-recompute regression would show up here as a join
    val units = spark.range(500).select(
      (col("id") % 2).cast("string").as("variant"),
      (col("id") % 97).as("metric"), (col("id") % 89).as("cov"))
    val p = plan(graft.relational.Analytics.cuped(
      units, "variant", "metric", "cov"))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(600))
    assert(exchanges(p) == 1, s"expected 1 exchange:\n${p.take(600)}")
  }

  test("grid DBSCAN never goes all-pairs: every join is an equi-join " +
      "(no cartesian / nested-loop anywhere in the plan)") {
    val pts = spark.range(300).select(col("id"),
      ((col("id") * 7919) % 2000 - 1000).as("lat"),
      ((col("id") * 104729) % 4000 - 2000).as("lon"))
    val p = plan(graft.relational.Geo.densityClusters(
      pts, "id", "lat", "lon", radiusCdeg = 50, minPts = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("grouped RRF windows per query group, never globally") {
    val mk = (o: Int) => spark.range(200).select(
      (col("id") % 10).cast("string").as("q"),
      concat(lit("d"), (col("id") + o) % 40).as("doc"),
      (col("id") % 20 + 1).as("rank"))
    val p = plan(graft.text.Ranking.rrfFuse(
      Seq(mk(0), mk(7), mk(13)), Seq("q"), "doc"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the re-rank window is PARTITIONED by the query column — a global
    // window here would single-task the whole fused relation at scale
    val winSection = p.substring(p.indexOf("Window"))
    assert(p.contains("Window"), p.take(600))
    assert(winSection.take(400).contains("partitionBy" ) ||
      winSection.take(400).contains("windowspecdefinition(q"),
      winSection.take(400))
  }

  test("selfRepeatedSpans is a ZERO-exchange scan projection: no " +
      "aggregate, no join, no window") {
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa row "), col("id")).as("text"))
    val p = plan(graft.text.Dedup.selfRepeatedSpans(
      docs, "text", "doc_id", k = 5))
    assert(exchanges(p) == 0, p.take(600))
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p.take(600))
  }

  test("dpQuantiles: one corpus aggregate, then bins-bounded finishing " +
      "(no cartesian beyond the broadcast scalar/quantile relations)") {
    val df = spark.range(5000).select((col("id") % 997).cast("double")
      .as("v"))
    val p = plan(graft.relational.Privacy.dpQuantiles(
      df, "v", Seq(0.5, 0.9), 0.0, 1000.0, 64, "pin"))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the only nested-loops are the broadcast cross joins of the
    // one-row total and the |qs|-row quantile relation onto <=bins rows
    val bnl = p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    assert(bnl <= 2, s"$bnl nested-loop joins:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("grouped dpQuantiles fans groups through the BROADCAST edge " +
      "relation — never a group x group cartesian") {
    val df = spark.range(4000).select(
      (col("id") % 4).cast("string").as("g"),
      (col("id") / 4).cast("double").as("v"))
    val p = plan(graft.relational.Privacy.dpQuantilesBy(
      df, Seq("g"), "v", Seq(0.5, 0.9), 0.0, 1000.0, 64, "pin"))
    assert(!p.contains("CartesianProduct"), p.take(800))
    val bnl = p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    assert(bnl <= 2, s"$bnl nested-loop joins:\n${p.take(800)}")
  }

  test("basketAffinity: the only nested-loop is the broadcast one-row " +
      "basket total; the cap window precedes the per-basket aggregate") {
    val df = spark.range(600).select(
      (col("id") % 60).as("basket"), concat(lit("i"), col("id") % 25)
        .as("item"))
    val p = plan(graft.relational.Analytics.basketAffinity(
      df, "basket", "item", maxBasket = 8))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // crossJoin(broadcast(one-row total)) is the single allowed
    // nested-loop: bounded by construction
    val bnl = p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    assert(bnl <= 1, s"$bnl nested-loop joins:\n${p.take(800)}")
  }
}
