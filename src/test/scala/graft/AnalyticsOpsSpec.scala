package graft

import org.apache.spark.sql.functions._

import graft.relational.Relational
import graft.sim.{Embeddings, Similarity}

class CorrMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("pairwise Pearson matches direct corr; one row per i<j pair") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.1, -2.0), (3.0, 5.9, -3.0),
      (4.0, 8.2, -4.0)).toDF("x", "y", "z")
    val got = Relational.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got.keySet == Set(("x", "y"), ("x", "z"), ("y", "z")))
    val direct = df.agg(corr("x", "y"), corr("x", "z"), corr("y", "z"))
      .head()
    assert(got(("x", "y")) == math.rint(direct.getDouble(0) * 1e6) / 1e6)
    assert(got(("x", "z")) == -1.0)
    assert(got(("y", "z")) == math.rint(direct.getDouble(2) * 1e6) / 1e6)
  }

  test("whole matrix is a single aggregation pass (one Aggregate pair)") {
    val df = Seq((1.0, 2.0, 3.0)).toDF("a", "b", "c")
    val plan = Relational.corrMatrix(df, Seq("a", "b", "c"))
      .queryExecution.optimizedPlan
    val nAgg = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.length
    assert(nAgg == 1, s"expected 1 Aggregate, got $nAgg")
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("per-column counts/nulls/distinct/min/max/mean; nulls excluded") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, 10.0), (2.0, 20.0), (4.0, null))
      .toDF("x", "y")
    val got = Relational.profile(df, Seq("x", "y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got("x") == ((4L, 4L, 3L, 1.0, 4.0, 2.25)))
    assert(got("y") == ((4L, 2L, 2L, 10.0, 20.0, 15.0)))
  }

  test("approx distinct mode still runs in one aggregate") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val row = Relational.profile(df, Seq("x"), exactDistinct = false).head()
    // HLL at default 5% rsd: allow 3σ
    assert(math.abs(row.getLong(3) - 1000L) <= 150)
  }
}

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("updates replace, base survives, new keys append") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val updates = Seq((2L, "B"), (9L, "new")).toDF("id", "v")
    val got = Relational.upsert(base, updates, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "new")))
  }

  test("composite keys and duplicate update rows are preserved") {
    val base = Seq((1L, "x", "old"), (1L, "y", "old")).toDF("k1", "k2", "v")
    val updates = Seq((1L, "x", "n1"), (1L, "x", "n2")).toDF("k1", "k2", "v")
    val got = Relational.upsert(base, updates, Seq("k1", "k2"))
      .orderBy("k1", "k2", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1L, "x", "n1"), (1L, "x", "n2"), (1L, "y", "old")))
  }
}

class GroupCentroidsSpec extends SparkSpec {
  import spark.implicits._

  test("per-group position-wise mean; null vectors ignored") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 6.0f)),
      ("b", Array(10.0f, 0.0f)), ("b", null))
      .toDF("g", "vec")
    val got = Embeddings.groupCentroids(df, Seq("g"), "vec")
      .orderBy("g").collect()
    assert(got.length == 2)
    assert(got(0).getString(0) == "a" && got(0).getLong(2) == 2L)
    assert(got(0).getSeq[Double](1) == Seq(2.0, 4.0))
    assert(got(1).getString(0) == "b" && got(1).getLong(2) == 1L)
    assert(got(1).getSeq[Double](1) == Seq(10.0, 0.0))
  }
}

class BuildVocabSpec extends SparkSpec {
  import spark.implicits._

  test("rank-ordered dense ids; count-desc then token-asc ties") {
    val df = Seq("b b b a a c", "a d d", "").toDF("text")
    val got = graft.text.Corpus.buildVocab(df, "text", 3)
      .orderBy("token_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // a:3, b:3, d:2, c:1 → top 3 with a before b (tie, lexicographic)
    assert(got == Seq(("a", 0L, 3L), ("b", 1L, 3L), ("d", 2L, 2L)))
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val df = Seq("x y z").toDF("text")
    val plan = graft.text.Corpus.buildVocab(df, "text", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }
}

class EncodeDocsSpec extends SparkSpec {
  import spark.implicits._

  test("ids in vocab rank order; OOV -> unkId; empty doc -> empty") {
    val df = Seq((1L, "b b b a a c"), (2L, "a zz d d"), (3L, ""))
      .toDF("doc_id", "text")
    val vocab = graft.text.Corpus.buildVocab(df, "text", 3)
    // vocab: a(0), b(1), d(2); c and zz are OOV
    val got = graft.text.Corpus.encodeDocs(df, "text", "doc_id", vocab)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      (6L, 1L, "1 1 1 0 0 -1"),
      (4L, 1L, "0 -1 2 2"),
      (0L, 0L, "")))
  }

  test("unkId colliding with a vocabulary id is rejected") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val vocab = graft.text.Corpus.buildVocab(df, "text", 2)
    intercept[IllegalArgumentException] {
      graft.text.Corpus.encodeDocs(df, "text", "doc_id", vocab, unkId = 0L)
    }
  }
}

class ScriptStatsSpec extends SparkSpec {
  import spark.implicits._

  test("per-script counts and dominant label with fixed tie precedence") {
    val df = Seq(
      (1L, "hello world"),
      (2L, "漢字文檔"),
      (3L, "русский текст"),
      (4L, "مرحبا بالعالم"),
      (5L, "ab 漢字"),     // tie 2-2 → latin precedence
      (6L, "12345 !!!"))
      .toDF("id", "t")
    val got = graft.text.TextFunctions.scriptStats(df, "t", "id")
      .orderBy("id").collect()
    assert(got.map(_.getString(5)).toSeq ==
      Seq("latin", "cjk", "cyrillic", "arabic", "latin", "none"))
    assert(got(1).getLong(2) == 4L) // n_cjk
    assert(got(2).getLong(3) == 12L) // n_cyrillic (spaces not counted)
  }
}

class SplitFractionsSpec extends SparkSpec {
  import spark.implicits._

  test("3-way split: fractions land, whole groups stay together, nulls → first") {
    val df = ((1 to 2000).map(i => (s"g${i % 500}", i)) :+
      (null.asInstanceOf[String], 0)).toDF("g", "x")
    val lbl = graft.text.Corpus.splitFractions(col("g"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val got = df.withColumn("split", lbl)
    val counts = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > counts.getOrElse("val", 0L))
    // every group maps to exactly one side
    assert(got.filter(col("g").isNotNull).groupBy("g")
      .agg(countDistinct("split").as("n")).filter(col("n") > 1)
      .count() == 0L)
    // null group takes the first label
    assert(got.filter(col("g").isNull).select("split").head()
      .getString(0) == "train")
    // deterministic across repartition
    val again = df.repartition(7).withColumn("split", lbl)
      .orderBy("x").select("split").collect().toSeq
    assert(again == got.orderBy("x").select("split").collect().toSeq)
  }

  test("fraction guards reject invalid specs") {
    intercept[IllegalArgumentException] {
      graft.text.Corpus.splitFractions(col("g"), Seq("a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      graft.text.Corpus.splitFractions(col("g"),
        Seq("a" -> 0.8, "b" -> 0.5))
    }
  }
}

class Md5Hash60Spec extends SparkSpec {
  import spark.implicits._

  test("fused digest-direct hash equals the composed conv(substr(md5)) form") {
    val df = (Seq("", "a", "hello world", "TöKen, with ünicode — 字",
      "plane:3:17") ++ (0 until 200).map(i => s"tok$i")).toDF("s")
    val composed = conv(substring(md5(col("s").cast("binary")), 1, 15),
      16, 10).cast("long")
    val mismatches = df.filter(
      graft.functions.GraftFunctions.md5_hash60(col("s")) =!= composed)
    assert(mismatches.count() == 0L)
    // non-negative by construction (60 bits)
    assert(df.filter(
      graft.functions.GraftFunctions.md5_hash60(col("s")) < 0).count() == 0L)
  }

  test("binary input hashes the raw bytes (same as string's UTF-8 bytes)") {
    val df = Seq("payload").toDF("s")
    val viaString = df.select(
      graft.functions.GraftFunctions.md5_hash60(col("s")).as("h")).head()
    val viaBinary = df.select(graft.functions.GraftFunctions.md5_hash60(
      col("s").cast("binary")).as("h")).head()
    assert(viaString.getLong(0) == viaBinary.getLong(0))
  }
}

class OverlapJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(
      l: Seq[(Long, Long, Long, String)],
      r: Seq[(Long, Long, Long, String)]): Set[(String, String)] =
    (for {
      (lk, ls, le, ln) <- l
      (rk, rs, re, rn) <- r
      if lk == rk && ls <= re && rs <= le
    } yield (ln, rn)).toSet

  test("matches brute-force overlap semantics, each pair exactly once") {
    val l = Seq((1L, 0L, 100L, "a"), (1L, 250L, 260L, "b"),
      (2L, 0L, 1000L, "c"), (1L, 90L, 210L, "d"))
    val r = Seq((1L, 50L, 150L, "x"), (1L, 200L, 300L, "y"),
      (2L, 999L, 2000L, "z"), (3L, 0L, 10L, "w"))
    val ldf = l.toDF("k", "l_start", "l_end", "l_name")
    val rdf = r.toDF("k", "r_start", "r_end", "r_name")
    // bin width much smaller than spans: pairs meet in MANY bins, the
    // overlap-start-bin rule must still emit each exactly once
    for (binUs <- Seq(7L, 100L, 1000L)) {
      val got = graft.relational.Relational.overlapJoin(
          ldf, rdf, "l_start", "l_end", "r_start", "r_end",
          Seq("k"), Seq("r_name"), binUs)
        .select("l_name", "r_name").collect()
        .map(x => (x.getString(0), x.getString(1))).toSeq
      assert(got.length == got.distinct.length, s"dups at binUs=$binUs")
      assert(got.toSet == brute(l, r), s"binUs=$binUs")
    }
  }

  test("inverted and null intervals are dropped, not errors") {
    val ldf = Seq((1L, 100L, 0L, "inv")).toDF("k", "l_start", "l_end", "ln")
    val rdf = Seq((1L, 0L, 200L, "x")).toDF("k", "r_start", "r_end", "rn")
    assert(graft.relational.Relational.overlapJoin(ldf, rdf,
      "l_start", "l_end", "r_start", "r_end", Seq("k"), Seq("rn"),
      50L).count() == 0L)
  }
}

class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  test("every row gets <= k neighbors, self excluded, best-first order") {
    // 3 tight clusters of 4 vectors: neighbors must come from the own
    // cluster (cosine ~1 within, ~orthogonal across)
    val vecs = for {
      c <- 0 until 3; i <- 0 until 4
    } yield {
      val v = Array.fill(8)(0.0f)
      v(c) = 1.0f
      v(3 + c) = 0.01f * i // tiny within-cluster jitter
      (c * 4 + i.toLong, v)
    }
    val df = vecs.toDF("id", "vec")
    val got = Similarity.knnJoin(df, "id", "vec", k = 3, dim = 8,
      nPlanes = 16, bands = 8) // 2-bit bands: high recall on 12 vectors
    val rows = got.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self excluded")
    val byId = rows.groupBy(_.getLong(0))
    byId.values.foreach { rs =>
      assert(rs.length <= 3)
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, "best-first by rank")
    }
    // within-cluster neighbors dominate: same-cluster pairs have sim >.99
    val sameCluster = rows.count(r =>
      r.getLong(0) / 4 == r.getLong(1) / 4)
    assert(sameCluster >= rows.length * 9 / 10, "clusters are neighbors")
  }

  test("portable mode matches the non-portable candidate machinery shape") {
    val df = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("id", "vec")
    val got = Similarity.knnJoin(df, "id", "vec", k = 2, dim = 8,
      portable = true)
    assert(got.count() > 0)
    assert(got.columns.toSeq == Seq("id", "nbr_id", "sim", "rank"))
  }
}

class RandomProjectionSpec extends SparkSpec {
  import spark.implicits._
  import graft.sim.Embeddings

  private def vecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  test("JL: pairwise distances preserved within 40% at 64 -> 16 dims") {
    val data = vecs(40, 64, 7L)
    val df = data.toDF("vec_id", "embedding")
    val proj = Embeddings.randomProjection(df, "vec_id", "embedding",
      64, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val in = data.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    val ratios = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
    } yield d2(proj(i), proj(j)) / d2(in(i), in(j))
    // 1/sqrt(dimOut) scaling makes the expected ratio 1; JL at k=16
    // keeps MOST pairs within a moderate band — check the median, not
    // the tails
    val med = ratios.sorted.apply(ratios.size / 2)
    assert(med > 0.6 && med < 1.4, s"median distance ratio $med")
  }

  test("portable projections are integral and deterministic") {
    val df = vecs(5, 64, 3L).toDF("vec_id", "embedding")
    val a = Embeddings.randomProjection(df, "vec_id", "embedding",
      64, 8, portable = true).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toSeq)
    assert(a.flatten.forall(v => v == math.rint(v))) // integer-exact
    val b = Embeddings.randomProjection(df, "vec_id", "embedding",
      64, 8, portable = true).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("whole map is one codegen'd Project — no shuffle, no join") {
    val df = vecs(3, 64, 1L).toDF("vec_id", "embedding")
    val plan = Embeddings.randomProjection(df, "vec_id", "embedding",
      64, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(400))
  }
}

class ProjectedTopKSpec extends SparkSpec {
  import spark.implicits._
  import graft.sim.{Embeddings, Similarity}

  private def vecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  test("shortlist-then-rescore recovers most brute-force neighbors") {
    val corpus = vecs(200, 64, 11L).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = Similarity.projectedTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, m = 100, dimIn = 64,
        dimOut = 16)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & two).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
  }

  test("m = corpus size degenerates to exact brute force") {
    val corpus = vecs(60, 64, 5L).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val two = Similarity.projectedTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, m = 60, dimIn = 64,
        dimOut = 16)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // same neighbor SETS per query (rank ties at equal rounded cosine
    // may order differently than the unrounded brute force)
    assert(two.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap ==
      exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
  }
}

/** Seeded randomized invariants for the round-4 analytics operators. */
class Round4PropsSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.{Layout, Relational}

  private val rnd = new scala.util.Random(20260813L)

  test("mortonKey stays in [0, 2^(bits*n)) for random in/out-of-range data") {
    val df = (1 to 500).map(_ =>
      (rnd.nextDouble() * 600 - 100, rnd.nextDouble() * 600 - 100))
      .toDF("x", "y")
    val keys = df.select(Layout.mortonKey(
      Seq((col("x"), 0.0, 400.0), (col("y"), 0.0, 400.0)), bits = 8))
      .collect().map(_.getLong(0))
    assert(keys.forall(k => k >= 0L && k < (1L << 16)))
  }

  test("histogram partitions exactly the in-range rows; edges tile [lo,hi)") {
    val df = (1 to 1000).map(_ => rnd.nextDouble() * 30 - 5).toDF("v")
    val h = Relational.histogram(df, "v", 0.0, 20.0, 7).collect()
    val inRange = df.filter(col("v") >= 0.0 && col("v") < 20.0).count()
    assert(h.map(_.getLong(3)).sum == inRange)
    h.foreach { r =>
      val (bin, lo, hi) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      assert(lo == 0.0 + bin * 20.0 / 7.0 && hi > lo)
    }
  }

  test("skewStats invariants: n_rows = total, ratio >= 1, top is argmax") {
    val df = (1 to 800).map(_ => rnd.nextInt(20).toLong).toDF("k")
    val r = Relational.skewStats(df, Seq("k")).head
    assert(r.getLong(0) == 800L)
    assert(r.getDouble(4) >= 1.0)
    val counts = df.groupBy("k").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(counts(r.getString(5).toLong) == r.getLong(2))
  }

  test("groupedQuantiles are monotone in q and bracketed by group min/max") {
    val df = (1 to 600).map(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextDouble() * 100)).toDF("g", "v")
    val q = Relational.groupedQuantiles(df, Seq("g"), "v",
      Seq(0.1, 0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val byG = q.groupBy(_._1)
    val ext = df.groupBy("g").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    byG.foreach { case (g, rows) =>
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.sameElements(sorted.sorted), s"non-monotone in $g")
      val (mn, mx) = ext(g)
      assert(sorted.head >= mn - 1e-6 && sorted.last <= mx + 1e-6)
    }
  }
}

class SampleNSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.Corpus

  test("exactly n rows, deterministic across repartitioning") {
    val df = (1 to 500).map(i => (i.toLong, s"d$i")).toDF("id", "v")
    val a = Corpus.sampleN(df, "id", 20).orderBy("sample_rank")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    val b = Corpus.sampleN(df.repartition(13), "id", 20)
      .orderBy("sample_rank")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(a.length == 20 && a == b)
    assert(a.map(_._2) == (1 to 20))
  }

  test("global cut plans as TakeOrderedAndProject (no full sort)") {
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("id", "v")
    val plan = Corpus.sampleN(df, "id", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }
}

class BasketAffinitySpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Analytics

  // u1: {a,b,c}, u2: {a,b}, u3: {a}, u4: {b,c} — with a duplicate
  // (u1,a) event and a null basket that must be ignored
  private def events = Seq(
    (Some(1L), "a"), (Some(1L), "a"), (Some(1L), "b"), (Some(1L), "c"),
    (Some(2L), "a"), (Some(2L), "b"),
    (Some(3L), "a"),
    (Some(4L), "b"), (Some(4L), "c"),
    (None, "a")
  ).toDF("bk", "it")

  test("counts: distinct co-occurrence, marginals, basket total; " +
      "ratios are exact divisions of those integers") {
    val got = Analytics.basketAffinity(events, "bk", "it")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(9)))
      .toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // n_ab=2 (u1,u2), n_a=3, n_b=3, n=4
    val (nab, na, nb, n, support, lift) = got(("a", "b"))
    assert((nab, na, nb, n) == (2L, 3L, 3L, 4L))
    assert(support == math.rint(2.0 / 4 * 1e6) / 1e6)
    assert(lift == math.rint(2.0 * 4 / (3.0 * 3) * 1e6) / 1e6)
    // b,c co-occur twice (u1, u4)
    assert(got(("b", "c"))._1 == 2L)
    assert(got(("a", "c"))._1 == 1L)
  }

  test("minPairs prunes singleton pairs") {
    val got = Analytics.basketAffinity(events, "bk", "it", minPairs = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("b", "c")))
  }

  test("cap keeps the smallest items and ALL counts derive from the " +
      "capped relation") {
    // u1 has 4 items {a,b,c,d}; cap=2 keeps {a,b} — d vanishes from
    // pairs AND marginals, the basket still counts in n_baskets
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "c"), (2L, "d")).toDF("bk", "it")
    val got = Analytics.basketAffinity(df, "bk", "it", maxBasket = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == Set(("a", "b"), ("c", "d")))
    assert(got(("a", "b")) == (1L, 1L, 1L, 2L))
    assert(got(("c", "d")) == (1L, 1L, 1L, 2L))
  }

  test("the basket total and the capped-basket count are read off the " +
      "checkpoint job: at most 8 jobs, the over-cap warning still fires") {
    // baskets 0..199 hold 13 distinct items (ids b + 400k, items id % 97)
    val df = spark.range(5000).select((col("id") % 400).as("bk"),
      concat(lit("i"), (col("id") % 97).cast("string")).as("it"))
      .localCheckpoint(true)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val (jobs, lines) = logLines(Analytics.getClass.getName) {
      countJobs { rows = Analytics.basketAffinity(df, "bk", "it",
        maxBasket = 12).collect() }
    }
    assert(jobs <= 8, s"$jobs jobs")
    assert(rows.nonEmpty && rows.forall(_.getLong(5) == 400L))
    assert(lines.exists(_.startsWith(
      "basketAffinity: 200 basket(s) over the 12-item cap")), lines)
  }

  test("pair explode + counts stay inside aggregates — no cartesian; " +
      "the only window is the basket-partitioned cap rank") {
    val df = Seq((1L, "a"), (1L, "b")).toDF("bk", "it")
    val p = Analytics.basketAffinity(df, "bk", "it")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the capped relation is checkpointed; the downstream plan (pairs,
    // marginals, totals) must not contain any window at all
    assert(!p.contains("Window"), p.take(800))
  }
}
