package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: per-query wall times on SPARK_GRAFT_SF_DIR, emitted
  * INCREMENTALLY. A full warmup pass runs first on sf0.001 (JIT,
  * whole-stage-codegen compilation, parquet footer caching, shuffle service
  * init) so the timed pass measures steady-state query execution, which is
  * what a long-lived cluster sees.
  *
  * Phase order is PROBE-GATED (VERDICT r8 #1) and, from round 10,
  * RE-GATED MID-RUN (VERDICT r9 #1): the bench box is a shared host whose
  * effective speed was measured to swing >1.6x within an hour, and round
  * 9's official run collapsed ~6.5x DURING the main phase while every
  * boundary probe read fast — the one-shot start-probe gate chose
  * main-first and then lost all 47 stress rows to the budget. The stress
  * RATIOS are box-insensitive (both sides of a ratio run minutes apart)
  * while raw main seconds are not, so the complete stress table always
  * outranks extra main passes:
  *
  *   1. warmup (sf0.001, untimed, parallel pool, budget-scaled timeout)
  *      -> EMIT
  *   1b. FIT phase (VERDICT r9 #2): every FitMemo-backed model is
  *      pre-fitted at the bench SF in a separately-timed phase
  *      (`phase_sec.fit`; pure fit seconds in `fit_sec`), so even an
  *      n_iters=1 artifact reports transform-only steady state instead
  *      of folding a one-time 300 s fit into a query's headline time.
  *   2. timed main iterations -> EMIT after EVERY iteration.
  *      Fast box (start probe <= 2.2 s): up to 3 iterations,
  *      budget-adaptive. Slow box: exactly ONE pass here. Re-gates:
  *      (a) INSIDE an iteration, a scalar+parallel probe fires every
  *          ~60 queries (recorded per window in BENCH_DETAIL.json so
  *          normalize_bench.py can correct per window and a mid-phase
  *          collapse is visible, not inferred); if the stress block has
  *          not run yet and elapsed passes the stress-reserve point, the
  *          iteration PAUSES, the full stress block runs, and the
  *          iteration resumes — a 6.5x collapse now costs main
  *          iterations, never the stress table;
  *      (b) AFTER each iteration, an iteration that overran the fast-box
  *          expectation (SPARK_GRAFT_MAIN_OVERRUN_SEC, default 900 s)
  *          falls through to stress before any further main iteration —
  *          symmetric to the slow-box path.
  *   3. online serving micro-bench -> EMIT
  *   4. stress rows one at a time (x1 then xscale per row) -> EMIT per row.
  *      Fast box: min-of-2 per cell; slow box: single pass (the ratio is
  *      the artifact, and one complete table beats half a min-of-2 one).
  *   5. leftover-budget main iterations (slow box, or a fast box that
  *      stopped early): re-run the full main suite while it fits, folding
  *      new minima into `queries` -> EMIT per iteration.
  *
  * Every probe point also snapshots cumulative JVM GC time and used heap
  * (`gc_ms` / `heap_mb` in BENCH_DETAIL.json): VERDICT r9 #3 — fast
  * boundary probes around a collapsed main phase cannot distinguish
  * co-tenant CPU theft from intra-JVM GC/heap pressure; the GC counters
  * can (theft inflates wall time with flat gc_ms, heap pressure shows up
  * as gc_ms growth between windows).
  *
  * Every emission rewrites BENCH_DETAIL.json ATOMICALLY (temp file +
  * ATOMIC_MOVE — a wall-clock kill mid-write must never truncate the
  * artifact, ADVICE r8) and prints the compact contract line, so a kill at
  * any point leaves the latest completed phase parseable.
  *
  * SPARK_GRAFT_BUDGET_SEC (default 2700 = 45 min) is the soft budget;
  * rows/iterations skipped for budget are REPORTED (never silent) in
  * `skipped_stress` / `n_iters`. */
object Bench {
  /** Deterministic single-thread CPU probe (~1e9 xorshift steps): the
    * box is a shared host whose effective CPU speed was MEASURED to
    * swing >1.6x within an hour (round-8 bisect of the round-7 "uniform
    * 1.47x drift" — an identical Python loop went 3.37 s -> 5.58 s in 38
    * minutes on an idle VM; an identical 14-query suite went 43 s -> 68 s
    * across four same-config runs). Emitting the probe at phase
    * boundaries makes every bench artifact self-normalizing: divide
    * totals by the calibration ratio before comparing rounds. */
  private def xorshiftSteps(steps: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    x
  }

  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    val x = xorshiftSteps(1000000000L)
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // defeat dead-code elimination
    dt
  }

  /** PARALLEL probe (VERDICT r8 #2): the same xorshift loop on one thread
    * per requested core, wall time until ALL finish. Round 8 proved the
    * scalar probe under-corrects a 32-way workload by up to ~10x on
    * fit-heavy queries — the shared host's parallel throughput collapses
    * far more than its scalar speed when co-tenants land. This probe IS a
    * 32-way workload, so its ratio tracks what the timed queries actually
    * experience; tools/normalize_bench.py prefers it when both artifacts
    * carry one. */
  private def calibratePar(threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val futs = (1 to threads).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = xorshiftSteps(1000000000L)
      })
    }
    var acc = 0L
    futs.foreach(f => acc ^= f.get())
    val dt = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    if (acc == 42L) println("") // defeat dead-code elimination
    dt
  }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    val budget = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "2700").toDouble

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run to those queries, stress
    // cells and `online` (iteration aid; unset, a run covers everything)
    val only = Only.parse(sys.env.get("SPARK_GRAFT_ONLY"),
      SparkEntry.queries.keySet ++ StressBench.queries.keySet + "online")
    val probeThreads =
      math.max(2, math.min(cpus.toInt, Runtime.getRuntime.availableProcessors))

    // named probe points: start, pre_main, pre_stress, end — each records
    // BOTH probes so normalize_bench.py can correct per-phase (r8's single
    // start/end pair could not distinguish "main ran fast, stress ran on a
    // collapsed box" from a uniformly slow run)
    val calibScalar = scala.collection.mutable.LinkedHashMap[String, Double]()
    val calibPar = scala.collection.mutable.LinkedHashMap[String, Double]()
    // GC/heap snapshots at every probe point (VERDICT r9 #3): cumulative
    // collection millis across all collectors + used heap MB. A collapsed
    // window with flat gc_ms is co-tenant CPU theft; gc_ms growth is
    // intra-JVM memory pressure — the distinction no CPU probe can make.
    val gcMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val heapMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    def gcSnapshot(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      gcMs(label) = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum
      heapMb(label) = java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    def probe(label: String): Unit = {
      calibScalar(label) = calibrate()
      calibPar(label) = calibratePar(probeThreads)
      gcSnapshot(label)
    }
    probe("start")
    // SPARK_GRAFT_FAST_BOX=0/1 pins the policy (testing aid; the driver
    // never sets it, so round benches always probe-gate)
    val fastBox = sys.env.get("SPARK_GRAFT_FAST_BOX")
      .map(_ == "1").getOrElse(calibScalar("start") <= 2.2)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
      // when the per-partition build side fits (AQE partition sizing keeps
      // build sides bounded) — skips the sort on both join inputs. Scale-
      // neutral planner preferences, parameterised for A/B
      // (SPARK_GRAFT_PREFER_SMJ=true restores the Spark default).
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "67108864"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the repo's global windows are all bounded-by-construction (audited
    // via graft.util.BoundedWindow — see its scaladoc); WindowExec's
    // per-execution warning for them is noise that camouflaged real
    // failures in round 4's bench tail
    graft.util.BoundedWindow.silenceBoundedWindowWarning()

    // noop sink: fully evaluates every output column (count() would let
    // Catalyst prune the projected expressions under count(*), silently
    // timing a plan that skips the work being benchmarked)
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val queries = SparkEntry.queries.filter(kv => only.forall(_(kv._1)))

    // A failed query must surface, never be timed as a fast success (the
    // round-4 failure mode: 18 broken queries "clocking" 0.06 s). Record
    // the first error per query; failed queries are excluded from timings,
    // reported in an `errors` map, and fail the process (rc != 0).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def jsonSafe(s: String): String =
      s.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
    def recordError(name: String, e: Throwable): Unit =
      if (!errors.contains(name))
        errors(name) = jsonSafe(
          e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))

    // Warmup failures are WARNINGS only (ADVICE r5): the warm dir is a
    // different scale factor, and fixture drift there (a warm-dir-only
    // schema mismatch) must not exclude a query whose timed iterations at
    // the bench scale all succeed — only timed-pass errors fail the run.
    val warmupErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    val warmDir = "/root/testdata/sf0.001"

    // ---- mutable result state shared by the emitters -------------------
    var results = Map.empty[String, Double]
    var nIters = 0
    var onlineRps = 0.0
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    val stressScale = sys.env.getOrElse("SPARK_GRAFT_STRESS", "16").toInt
    // min-of-2 by default (VERDICT r7 #1b): SCALE.md's two-run table marks
    // 28/35 rows stable under min-of-3, and the flagged rest are floor-
    // noisy sub-second rows that extra iterations don't stabilize either —
    // the third iteration bought little and cost ~1/3 of the block.
    // Probe-gated: on a measured SLOW box phase a full min-of-2 block
    // cannot fit the hour alongside the main pass, and a COMPLETE
    // single-pass stress table beats half a min-of-2 one — the ratio
    // column is what gates.
    val stressIters = sys.env.get("SPARK_GRAFT_STRESS_ITERS").map(_.toInt)
      .getOrElse(if (fastBox) 2 else 1)
    val stressScale0 = stressScale
    val stressSelected0 = StressBench.queries
      .filter(kv => only.forall(_(kv._1))).toSeq.sortBy(_._1)
    val stressBaseIters =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val stressBigIters =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val skippedStress = scala.collection.mutable.ArrayBuffer[String]()
    val phaseSec = scala.collection.mutable.LinkedHashMap[String, Double]()

    def fmt(entries: Iterable[(String, Double)]): String = entries
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def fmtErr(entries: Iterable[(String, String)]): String = entries
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    def fmtIters(entries: Iterable[(String, Seq[Double])]): String = entries
      .map { case (k, v) =>
        "\"" + k + "\":[" + v.map(t => f"$t%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    def fmtInt(entries: Iterable[(String, Int)]): String = entries
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def fmtStr(entries: Iterable[String]): String =
      entries.map("\"" + _ + "\"").mkString("[", ",", "]")

    /** Emit the current state: full detail to BENCH_DETAIL.json (atomic
      * temp-file + move — never a truncated artifact, ADVICE r8), compact
      * contract line (<~1 KB) to stdout. Called after every phase AND
      * every main iteration so a wall-clock kill always leaves the latest
      * completed unit parseable (the driver's tail capture keeps the LAST
      * line). */
    def emit(phase: String, stdout: Boolean = true,
        history: Boolean = false): Unit = {
      val total = if (results.nonEmpty) results.values.sum else 0.0
      val stressBase = stressBaseIters.map { case (k, v) => k -> v.min }
      val stressBig = stressBigIters.map { case (k, v) => k -> v.min }
      val scalesJson = fmtInt(StressBench.scaleOverride.toSeq.sortBy(_._1))
      val skippedJson = fmtStr(skippedStress)
      val stressJson =
        s""""stress":{"scale":$stressScale,"iters":$stressIters,"scales":$scalesJson,"skipped":$skippedJson,"base":${fmt(stressBase)},"scaled":${fmt(stressBig)},"base_iters":${fmtIters(stressBaseIters)},"scaled_iters":${fmtIters(stressBigIters)}},"online_rows_per_sec":${f"$onlineRps%.0f"}"""
      val calibJson =
        s""""calib_sec":${fmt(calibScalar)},"calib_par_sec":${fmt(calibPar)},"probe_threads":$probeThreads,"fast_box":$fastBox"""
      val fitJson = fmt(graft.util.FitMemo.fitSeconds.toSeq.sortBy(_._1))
      val notesJson = fmtStr(notes.map(jsonSafe))
      val gcJson =
        s""""gc_ms":${fmt(gcMs)},"heap_mb":${fmt(heapMb)}"""
      val detail = s"""{"phase":"$phase","elapsed_sec":${f"$elapsed%.1f"},"phase_sec":${fmt(phaseSec)},$calibJson,$gcJson,"fit_sec":$fitJson,"notes":$notesJson,"metric":"total","value":$total,"unit":"sec","n_iters":$nIters,"queries":${fmt(results)},"errors":${fmtErr(errors)},"warmup_errors":${fmtErr(warmupErrors)},$stressJson,"sf":"$sfDir"}"""
      try {
        val dir = java.nio.file.Paths.get(".")
        val tmp = java.nio.file.Files.createTempFile(dir, ".bench_detail", ".tmp")
        java.nio.file.Files.write(tmp, detail.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get("BENCH_DETAIL.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // append-only archive: BENCH_DETAIL.json is overwritten per run /
        // per phase; the final phase line per run is the durable record
        if (history)
          java.nio.file.Files.write(
            java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
            (detail + "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Throwable => () }
      if (stdout) {
        // Compact contract line (VERDICT r6 #5): top-20 slowest, first 10
        // errors (n_failed has the true count), the stress block BY COUNT
        // — full per-query stress minimums and per-iteration arrays live
        // in BENCH_DETAIL.json / BENCH_HISTORY.jsonl.
        val slowest = results.toSeq.sortBy(-_._2).take(20)
        val stressRef =
          s""""stress":{"scale":$stressScale,"iters":$stressIters,"n_base":${stressBase.size},"n_scaled":${stressBig.size},"n_skipped":${skippedStress.size},"detail":"BENCH_DETAIL.json"}"""
        println(s"""{"phase":"$phase","metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_iters":$nIters,"n_failed":${errors.size},"queries":${fmt(slowest)},"errors":${fmtErr(errors.take(10))},"n_warmup_errors":${warmupErrors.size},$stressRef,"online_rows_per_sec":${f"$onlineRps%.0f"},$calibJson,"elapsed_sec":${f"$elapsed%.1f"},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
      }
    }

    // ---- phase 1: warmup ------------------------------------------------
    // Untimed, so it runs PARALLEL (4 submitter threads): tiny sf0.001
    // jobs badly underutilize 32 cores one at a time — the serial pass
    // cost 546 s of the budget on a slow box phase. Spark's scheduler
    // multiplexes concurrent job submissions; warmup only needs the JIT/
    // codegen/footer caches touched, not timing isolation.
    {
      // submitter threads scale with the core count, capped at 16
      // (round 11; was fixed 8 in round 10, 4 before): warmup is untimed
      // and the sf0.001 jobs are tiny, so on 32 cores the 8-thread pool
      // still left cores idle — VERDICT r10 #4 counts warmup (406 s of
      // the 2516 s official budget) as the phase squeezing out the
      // second main iteration. Spark's scheduler multiplexes concurrent
      // submissions; the floor of 8 keeps small-core boxes unchanged.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(8, math.min(16, probeThreads)))
      def warm(name: String, thunk: () => org.apache.spark.sql.DataFrame)
          : Unit = {
        pool.submit(new Runnable {
          def run(): Unit =
            try thunk().write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              warmupErrors.synchronized {
                if (!warmupErrors.contains(name))
                  warmupErrors(name) = jsonSafe(
                    e.getClass.getSimpleName + ": " +
                      Option(e.getMessage).getOrElse(""))
              }
            }
        })
        ()
      }
      queries.foreach { case (name, fn) =>
        warm(name, () => fn(spark, warmDir))
      }
      // stress-row warmups ride the same pool (JIT/codegen caches persist
      // across phases, so the per-row serial warmup the stress phase used
      // to pay — ~2 s x 44 rows on a slow box — is covered here)
      if (stressScale0 > 1) stressSelected0.foreach { case (name, fn) =>
        warm(name, () => fn(spark, warmDir, 1))
      }
      pool.shutdown()
      // budget-scaled timeout, result CHECKED (ADVICE r8): a warmup still
      // running when the timed phase starts would contaminate every timed
      // measurement — cancel everything in flight and record it
      val warmCapSec = math.min(1800.0, budget * 0.33).toLong
      val done = pool.awaitTermination(
        warmCapSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        notes += s"warmup_timeout after ${warmCapSec}s: cancelled in-flight warmup jobs"
        spark.sparkContext.cancelAllJobs()
        pool.shutdownNow()
        // give cancellation a moment so no warmup task overlaps iteration 1
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
    }
    phaseSec("warmup") = elapsed
    emit("warmup", stdout = false)

    // ---- phase 1b: pre-fit FitMemo-backed models (VERDICT r9 #2) --------
    // One-time fits (langid profile, PQ codebooks, BPE merge table) used
    // to land inside main iteration 1 and ride a query's headline time
    // whenever min-of-N degraded to N=1 (r9 official: q_sim_pq 573 s of
    // which 295 s was the pq_model fit). Each memo's fit-trigger query
    // runs ONCE here at the bench SF: the fit memoizes, so main
    // iterations see transform-only steady state. Phase wall time is
    // phase_sec.fit; the pure fit seconds stay in fit_sec.
    val fit0 = elapsed
    // drop warm-dir (sf0.001) fit seconds: fit_sec in the artifact should
    // be the bench-SF fits this phase pays, not a cross-scale mixture
    graft.util.FitMemo.resetFitSeconds()
    val fitTriggers = Seq("q_langid_profile", "q_subword_bpe", "q_sim_pq")
    fitTriggers.filter(queries.contains).foreach { name =>
      try run(queries(name)(spark, sfDir))
      catch { case e: Throwable => recordError(name, e) }
    }
    phaseSec("fit") = elapsed - fit0
    emit("fit", stdout = false)

    // ---- stress block (phase 4 body; also runs from the mid-main pause) --
    var stressDone = false
    var stressSecAcc = 0.0
    def runStressBlock(): Unit = if (stressScale > 1 && !stressDone) {
      stressDone = true
      val s0 = elapsed
      probe("pre_stress")
      var sinceStdout = 0
      stressSelected0.foreach { case (name, fn) =>
        if (elapsed > budget * 0.90) {
          skippedStress += name
        } else {
          val rowScale = StressBench.scaleOverride.getOrElse(name, stressScale)
          def timeRow(reps: Int): Option[Seq[Double]] = {
            val times = (1 to stressIters).flatMap { _ =>
              spark.catalog.clearCache()
              val t0 = System.nanoTime()
              try { run(fn(spark, sfDir, reps))
                Some((System.nanoTime() - t0) / 1e9) }
              catch { case e: Throwable =>
                recordError(s"$name@x$reps", e); None }
            }
            // all iterations must succeed for the cell to count (a partial
            // min could mask an intermittent failure as a fast run)
            if (times.size == stressIters) Some(times) else None
          }
          timeRow(1).foreach(ts => stressBaseIters(name) = ts)
          timeRow(rowScale).foreach(ts => stressBigIters(name) = ts)
          sinceStdout += 1
          emit("stress", stdout = sinceStdout >= 8)
          if (sinceStdout >= 8) sinceStdout = 0
        }
      }
      if (skippedStress.nonEmpty)
        println(s"""{"note":"stress rows skipped for budget","skipped":${skippedStress.size},"elapsed_sec":${f"$elapsed%.1f"}}""")
      stressSecAcc += elapsed - s0
    }

    // ---- phase 2: timed main iterations ---------------------------------
    // min-per-query over iterations: steady-state time without GC/
    // scheduler/co-tenant noise (observed +/-40% between runs on this
    // box); cache cleared between so nothing rides a previous iteration's
    // persisted intermediates. Probe-gated (VERDICT r8 #1a): a fast box
    // runs up to 3 budget-adaptive iterations here; a slow box runs
    // exactly ONE — its extra iterations move behind the stress block so
    // the box-insensitive stress ratios are never the budget casualty.
    // Re-gated mid-run (VERDICT r9 #1): see the object scaladoc.
    val querySeq = queries.toIndexedSeq
    val iterations = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.LinkedHashMap[String, Option[Double]]]()
    var lastIterSec = 0.0
    var mainSecAcc = 0.0
    // intra-main probe cadence: ~6 windows per 341-query iteration at
    // ~4.5 s per scalar+parallel probe pair — <5% of a fast-box
    // iteration, and the per-window record is what lets a mid-phase
    // collapse be SEEN (r9's was only inferrable by subtraction)
    val probeEvery = 60
    // segment runner: times querySeq[from, size) into cur, probing every
    // probeEvery queries; returns the index it stopped at (size when it
    // ran to the end, the pause point when shouldPause() fired at a
    // probe window)
    def runSegment(
        cur: scala.collection.mutable.LinkedHashMap[String, Option[Double]],
        iterIdx: Int, from: Int, shouldPause: () => Boolean): Int = {
      var i = from
      while (i < querySeq.size) {
        val (name, fn) = querySeq(i)
        val t0 = System.nanoTime()
        val ok =
          try { run(fn(spark, sfDir)); true }
          catch { case e: Throwable => recordError(name, e); false }
        cur(name) = if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        i += 1
        if (i % probeEvery == 0 && i < querySeq.size) {
          probe(f"i${iterIdx}_q$i%03d")
          if (shouldPause()) return i
        }
      }
      querySeq.size
    }
    def finishIteration(): Unit = {
      nIters = iterations.size
      results = querySeq.iterator.map(_._1).flatMap { name =>
        val times = iterations.toSeq.flatMap(_.get(name).flatten)
        // only queries that succeeded every timed iteration count as timed
        if (times.size == iterations.size && !errors.contains(name))
          Some(name -> times.min)
        else None
      }.toMap
    }
    def runMainIteration(): Unit = {
      spark.catalog.clearCache()
      val it0 = elapsed
      val cur = scala.collection.mutable
        .LinkedHashMap[String, Option[Double]]()
      runSegment(cur, iterations.size + 1, 0, () => false)
      iterations += cur
      lastIterSec = elapsed - it0
      mainSecAcc += lastIterSec
      finishIteration()
    }
    probe("pre_main")
    // fast box: at most TWO up-front iterations (round 11; was 3) — the
    // third comes from the leftover-budget loop AFTER the stress block,
    // so the complete 48-row table is never the casualty of an extra
    // main pass (run-1/run-2 arithmetic in OPTIMIZATION_r11.md §7:
    // 3 up-front iterations left the stress tail 13 rows short; with
    // stress ~880–1100 s and an iteration ~430–470 s, 2 + stress +
    // leftover-3rd fits the default budget with margin)
    val maxItersUpFront = if (fastBox) 2 else 1
    // fast-box per-iteration expectation (VERDICT r9 #1a): an iteration
    // that overruns this fell onto a collapsed box mid-phase — fall
    // through to stress (the box-insensitive artifact) before any
    // further main iterations
    val mainOverrunSec =
      sys.env.getOrElse("SPARK_GRAFT_MAIN_OVERRUN_SEC", "900").toDouble
    // iteration 1 runs with a PAUSE point: if the stress block has not
    // run and elapsed passes the reserve, bank the stress table mid-
    // iteration and resume after (a collapse during main iteration 1 —
    // the r9 failure — now costs main iterations, never the stress rows)
    val stressReserve = budget * 0.62
    locally {
      spark.catalog.clearCache()
      val it0 = elapsed
      val cur = scala.collection.mutable
        .LinkedHashMap[String, Option[Double]]()
      val pausedAt = runSegment(cur, 1, 0,
        () => !stressDone && elapsed > stressReserve)
      if (pausedAt < querySeq.size) {
        notes += s"main iteration 1 paused at query $pausedAt/${querySeq.size} (${f"$elapsed%.0f"}s > stress reserve ${f"$stressReserve%.0f"}s): banking stress table first"
        println(s"""{"note":"main iteration 1 paused for stress reserve","at_query":$pausedAt,"elapsed_sec":${f"$elapsed%.1f"},"budget_sec":$budget}""")
        val sBefore = stressSecAcc
        runStressBlock()
        runSegment(cur, 1, pausedAt, () => false)
        lastIterSec = elapsed - it0 - (stressSecAcc - sBefore)
      } else lastIterSec = elapsed - it0
      iterations += cur
      mainSecAcc += lastIterSec
      finishIteration()
      emit("main_iter_1", stdout = false)
    }
    var continueIters = true
    def regate(): Unit = if (iterations.size < maxItersUpFront) {
      if (lastIterSec > mainOverrunSec) {
        notes += s"main iteration ${iterations.size} overran fast-box expectation (${f"$lastIterSec%.0f"}s > ${f"$mainOverrunSec%.0f"}s): falling through to stress"
        println(s"""{"note":"main iteration overran fast-box expectation: falling through to stress","iter_sec":${f"$lastIterSec%.1f"},"expect_sec":$mainOverrunSec}""")
        continueIters = false
      } else if (elapsed + lastIterSec * 1.15 > budget * 0.55) {
        // 0.55 of budget for warmup+fit+up-front main (round 11; was
        // 0.68): the full 48-row min-of-2 stress block measured ~880 s
        // ≈ 0.33 of the default budget on a clean 32-core run, so a
        // third up-front iteration at 0.68 pushed the stress tail past
        // the 0.90 skip gate (13 rows lost). Deferring behind stress
        // costs nothing: the leftover-budget loop re-runs main while it
        // fits, so a fast box still ends with n_iters=3 AND a complete
        // stress table — the artifact VERDICT r10 #4 asks for.
        notes += s"main iteration ${iterations.size + 1} deferred behind stress for budget at ${f"$elapsed%.0f"}s"
        println(s"""{"note":"main iteration ${iterations.size + 1} deferred behind stress for budget","elapsed_sec":${f"$elapsed%.1f"},"budget_sec":$budget}""")
        continueIters = false
      }
    }
    regate()
    while (iterations.size < maxItersUpFront && continueIters) {
      runMainIteration()
      emit(s"main_iter_${iterations.size}", stdout = false)
      regate()
    }
    phaseSec("main") = mainSecAcc
    emit("main")

    // ---- phase 3: online (row-at-a-time) serving micro-bench -------------
    // The reference's online deploy mode scores one-row frames through its
    // exported graph (RunBench.py:41,66-77); the analog here is
    // OnlineScorer's compiled closure chain over frozen fitted state. Fit
    // the OnlineScorerSpec pipeline (9 stages: concat/map/label/freq/
    // target/hash/agg/scaler/one-hot) once at the bench SF, then measure
    // single-row scoring throughput driver-side — no Spark job per call.
    // Runs BEFORE stress (VERDICT r7 #1): round 7 ran it last, inside the
    // killed window, and the round lost its online number entirely.
    val online0 = elapsed
    onlineRps =
      if (!only.forall(_.contains("online"))) 0.0
      else try {
        import graft.operators._
        val customer = spark.read.parquet(s"$sfDir/customer.parquet")
        val model = DFPipeline(
          new StringConcatenator(Seq(Seq("c_mktsegment", "c_nationkey")),
            Seq("ckey"), "_"),
          new MapTransformer(Seq("c_mktsegment"), Seq("seg_short"),
            Seq(("BUILDING", "B"), ("AUTOMOBILE", "A")),
            defaultValue = Some("other")),
          new ComplementLabelEncoder(Seq("ckey"), Seq("ckey_code")),
          new FrequencyEncoder(Seq("c_mktsegment"), Seq("seg_freq"),
            normalize = true),
          new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
            targetCol = "c_acctbal", idCol = "c_custkey",
            nFolds = 4, smoothing = 10.0),
          new HashingEncoder(Seq("c_name"), Seq("name_bucket"), 64),
          new Aggregator(Seq("c_acctbal"), Seq("bal_mean"), Nil, "mean"),
          new Scaler(Seq("c_acctbal"), Seq("bal_std"), "standard"),
          new OneHotEncoder(Seq("seg_short"))).fit(customer)
        val score = OnlineScorer.compile(model)
        val inputCols = customer.columns
        val rows = customer.limit(1000).collect()
          .map(r => inputCols.map(c => c -> r.getAs[Any](c)).toMap)
        rows.foreach(score) // JIT warmup
        val t0 = System.nanoTime()
        var reps = 0
        while (reps < 20) { rows.foreach(score); reps += 1 }
        (20.0 * rows.length) / ((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable => recordError("online_serving", e); 0.0
      }
    phaseSec("online") = elapsed - online0
    emit("online")

    // ---- phase 4: scale-stress block (VERDICT r5 #2, r6 #2) --------------
    // Each StressBench query runs at x1 and at xSPARK_GRAFT_STRESS
    // (default 16; per-row overrides in StressBench.scaleOverride shrink
    // the heaviest rows — the RATIO is the artifact, not the absolute
    // seconds) so every round's bench artifact carries the measured ratio
    // vs linear scaling for the banded/binned/distributed paths.
    // Rows run ONE AT A TIME (x1 iters -> xscale iters; the JIT/codegen
    // warmup already happened in the parallel phase-1 pool), detail
    // re-emitted after every row, so a wall-clock kill loses at most the
    // row in flight. Rows skipped when past 90% of budget are REPORTED in
    // skipped_stress. SPARK_GRAFT_STRESS=0 disables. Stress failures fail
    // the run like timed ones. (Body in runStressBlock above — a no-op
    // here when the mid-main pause already banked the table.)
    runStressBlock()
    phaseSec("stress") = stressSecAcc

    // ---- phase 5: leftover-budget main iterations ------------------------
    // The flip VERDICT r8 recommended: with the complete stress table
    // banked, any remaining budget buys back main-pass min-smoothing (the
    // slow-box path runs exactly one up-front iteration; a fast box that
    // deferred iteration 3 also lands here). Minima fold into the same
    // `results`/`n_iters` the contract line reports.
    val extra0 = elapsed
    val itersBeforeExtra = nIters
    while (nIters < 3 && lastIterSec > 0 &&
        elapsed + lastIterSec * 1.15 < budget * 0.95) {
      runMainIteration()
      notes += s"extra main iteration $nIters after stress at ${f"$elapsed%.0f"}s"
      emit(s"main_extra_$nIters", stdout = false)
    }
    if (nIters > itersBeforeExtra) phaseSec("main_extra") = elapsed - extra0

    probe("end")
    // legacy keys for pre-r9 tooling: calib_sec.start / calib_sec.end are
    // the first/last scalar probes (normalize_bench.py reads named points
    // and the parallel map directly now, but BENCH_HISTORY consumers may
    // not)
    emit("final", history = true)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
