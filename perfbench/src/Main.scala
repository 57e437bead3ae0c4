package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One pass of a workload in flight: names and times each library call,
  * and under tracing tags it with a Spark job group `p<pass>/<call>`. */
final class Pass(val spark: SparkSession, val index: Int,
    val traced: Boolean, val dir: String, val tiny: Boolean) {
  val wall = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Per-row latencies of the online scorer, nanoseconds. */
  val onlineNs = mutable.ArrayBuilder.make[Long]
  var start = 0L
  var end = 0L

  def call[T](name: String)(body: => T): T = {
    val group = s"p$index/$name"
    if (traced) spark.sparkContext.setJobGroup(group, name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      wall(name) = (System.nanoTime() - t0) / 1e9
      spans += Span(group, s"p$index", name, ms0, System.currentTimeMillis())
      if (traced) spark.sparkContext.clearJobGroup()
    }
  }
}

/** What a pass hands back: the output of each call whose digest must
  * repeat across passes, the checks to run on this pass's outputs (call
  * name → reason for every failed check), and the useful-work ratios the
  * traced run reports. Checks and ratios run outside the timed region. */
final case class PassOut(outputs: Seq[(String, DataFrame)],
    check: () => Seq[(String, String)],
    ratios: () => Seq[(String, Double)] = () => Nil)

trait Workload {
  def name: String
  /** Every call of one pass, in order. */
  def calls: Seq[String]
  /** Calls that learn a model from data; `fit_s` sums them. */
  def fitCalls: Seq[String]
  /** Calls that persist a fitted model and load it back. */
  def persistCalls: Seq[String]
  /** Writes the seeded inputs as parquet under `dir` and reads them back. */
  def generate(spark: SparkSession, seed: Long, tiny: Boolean,
      dir: String): Unit
  def pass(p: Pass): PassOut
}

object Main {
  private final case class Opts(workload: String, seed: Long,
      seconds: Double, trace: Boolean, tiny: Boolean, cores: Int,
      work: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      m.get("--size").contains("tiny"), need("--cores").toInt,
      need("--work"), need("--out"))
  }

  /** The pinned session: the join settings of the repo's own bench
    * harness, with every scratch path inside the run directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Two collections around a pause, so Spark's cleaner can release the
    * blocks and broadcasts of frames no longer referenced. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  private def heapAfterGcMb(): Double = {
    settle()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def percentile(sorted: Array[Long], q: Double): Double =
    sorted(math.min(sorted.length - 1,
      math.ceil(q * sorted.length).toInt - 1).max(0)).toDouble

  /** Order-independent digest of a frame: row count, xor and modular sum
    * of per-row hashes. Doubles are rounded to 6 places first, so the
    * last-bit noise of a floating-point aggregate merged in another order
    * does not read as a changed output. */
  def digests(outs: Seq[(String, DataFrame)]): Map[String, String] = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c, 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x, 6))
      case _ => c
    }
    val parts = outs.map { case (name, df) =>
      val cols = df.schema.fields.sortBy(_.name)
        .map(f => norm(col(s"`${f.name}`"), f.dataType))
      df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"),
          sum(pmod(col("h"), lit(1000000007L))).as("s"))
        .select(lit(name).as("call"),
          concat_ws(":", col("n"), col("x"), col("s")).as("d"))
    }
    if (parts.isEmpty) Map.empty
    else parts.reduce(_ union _).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** The parallel xorshift probe of the repo's bench harness, one thread
    * per core: seconds until all finish. Tells box drift apart from
    * program variance. */
  private def calibrate(threads: Int, steps: Long): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val futs = (1 to threads).map(_ => pool.submit(
      new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          var x = 88172645463325252L
          var i = 0L
          while (i < steps) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
          }
          x
        }
      }))
    val acc = futs.map(_.get()).foldLeft(0L)(_ ^ _)
    pool.shutdown()
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) println("")
    dt
  }

  private final case class PassStat(index: Int, traced: Boolean,
      start: Long, end: Long, wallS: Double, calls: Map[String, Double],
      ratios: Map[String, Double], gcS: Double, heapMb: Double,
      spans: Seq[Span], trace: Option[PassTrace])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val input = s"${o.work}/input"
    val reps = if (o.tiny) 1 else 3

    // ---- set-up: JVM start → session → seeded inputs → untimed warm-up
    // pass. Session and inputs are set up `reps` times (a fresh session
    // each time) and their median counts; the JVM start and the warm-up
    // pass happen once.
    var spark: SparkSession = null
    val sessionInputs = mutable.ArrayBuffer[Double]()
    val jvmS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    for (_ <- 0 until reps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(o.cores, o.work)
      wl.generate(spark, o.seed, o.tiny, input)
      sessionInputs += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    var warm = wl.pass(new Pass(spark, 0, false, o.work, o.tiny))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = jvmS + median(sessionInputs.toSeq) + warmS
    println(f"set-up: jvm $jvmS%.3f s, session+inputs " +
      sessionInputs.map(x => f"$x%.3f").mkString(", ") +
      f" s, warm-up pass $warmS%.3f s")

    // ---- checks on the warm-up pass, outside any timed region
    val failures = mutable.ArrayBuffer[(String, String)]()
    failures ++= warm.check()
    val base = digests(warm.outputs)
    warm = null // lets the cleaner drop the warm-up pass's blocks
    var attempted = wl.calls.size.toLong
    var failed = failures.map(_._1).distinct.size.toLong

    // ---- timed passes; under tracing every other pass is traced
    val stats = mutable.ArrayBuffer[PassStat]()
    val onlineNs = mutable.ArrayBuilder.make[Long]
    val minPasses = if (o.trace) 2 else 1
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var idx = 1
    while (idx <= minPasses || System.nanoTime() < deadline) {
      spark.catalog.clearCache()
      settle()
      val traced = o.trace && idx % 2 == 0
      val tr = if (traced) Some(new PassTrace(spark)) else None
      tr.foreach(_.start())
      val p = new Pass(spark, idx, traced, o.work, o.tiny)
      val gc0 = gcMs()
      p.start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Some(wl.pass(p)) catch {
        case e: Exception =>
          failures += (("pass", s"pass $idx: $e"))
          None
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      p.end = System.currentTimeMillis()
      val gcS = (gcMs() - gc0) / 1000.0
      tr.foreach(_.stop())
      val ratios = if (traced) out.toSeq.flatMap(_.ratios()).toMap
        else Map.empty[String, Double]
      attempted += wl.calls.size
      out match {
        case None => failed += wl.calls.size - p.wall.size + 1
        case Some(res) =>
          digests(res.outputs).foreach { case (c, d) =>
            if (!base.get(c).contains(d)) {
              failures += ((c, s"pass $idx digest $d != ${base.get(c)}"))
              failed += 1
            }
          }
      }
      onlineNs ++= p.onlineNs.result()
      stats += PassStat(idx, traced, p.start, p.end, wallS, p.wall.toMap,
        ratios, gcS, heapAfterGcMb(), p.spans.toSeq, tr)
      idx += 1
    }

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" ||
        k == "spark.local.dir"
    }
    val calib = if (o.trace) calibrate(o.cores, 200000000L) else 0.0
    spark.stop()

    // ---- metrics
    val plain = stats.filter(!_.traced).toSeq
    def callSum(cs: Seq[String]) = median(plain.map(s => cs.map(s.calls).sum))
    val metrics = mutable.LinkedHashMap[String, Double]()
    val online = onlineNs.result().sorted
    if (!o.trace) {
      metrics("setup_s") = setupS
      metrics("pass_s") = median(plain.map(_.wallS))
      metrics("heap_after_gc_mb") = stats.map(_.heapMb).max
      metrics("op_ok_ratio") = 1.0 - failed.toDouble / attempted
      metrics("fit_s") = callSum(wl.fitCalls)
      metrics("save_load_s") = callSum(wl.persistCalls)
    } else {
      // one caller thread, no Spark job: tracing does not touch it, so
      // every timed pass contributes samples
      if (online.nonEmpty) {
        metrics("operators.online.p50_us") = percentile(online, 0.50) / 1000.0
        metrics("operators.online.p99_us") = percentile(online, 0.99) / 1000.0
      }
      metrics ++= traceMetrics(wl, stats.filter(_.traced).toSeq)
      metrics("box.calib_s") = calib
      metrics("trace.overhead_ratio") =
        median(stats.filter(_.traced).map(_.wallS).toSeq) /
          median(plain.map(_.wallS))
    }

    val spanJson = stats.toSeq.flatMap { s =>
      val passSpan = Span(s"p${s.index}", "", "pass", s.start, s.end)
      val jobSpans = s.trace.toSeq.flatMap(_.jobs.jobs.map(j =>
        Span(s"${j.group}/job${j.id}", j.group, j.site, j.start, j.end)))
      (passSpan +: s.spans) ++ jobSpans
    }.map(sp => JObject("id" -> JString(sp.id),
      "parent" -> JString(sp.parent), "name" -> JString(sp.name),
      "start_ms" -> JLong(sp.start), "end_ms" -> JLong(sp.end)))

    val result = JObject(
      "workload" -> JString(wl.name),
      "metrics" -> JObject(metrics.toList.map { case (k, v) =>
        k -> JDouble(v) }),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "failures" -> JArray(failures.toList.map { case (c, why) =>
        JObject("call" -> JString(c), "why" -> JString(why)) }),
      "setup_s" -> JObject("jvm" -> JDouble(jvmS),
        "session_inputs" -> JArray(sessionInputs.toList.map(JDouble(_))),
        "warm_up_pass" -> JDouble(warmS)),
      "pass_s" -> JArray(stats.toList.map(s => JDouble(s.wallS))),
      "online_samples" -> JLong(online.length.toLong),
      "config" -> JObject(
        "cores" -> JLong(o.cores.toLong),
        "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory / (1 << 20)),
        "gc" -> JString(ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getName).mkString(", ")),
        "jvm" -> JString(System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "spark" -> JString(org.apache.spark.SPARK_VERSION),
        "spark_conf" -> JObject(conf.toList.sorted.map { case (k, v) =>
          k -> JString(v) })),
      "spans" -> JArray(spanJson.toList))
    Files.writeString(Paths.get(o.out), compact(render(result)))
  }

  /** Per-call and per-workload counters of the traced passes, each the
    * median over those passes. */
  private def traceMetrics(wl: Workload, traced: Seq[PassStat])
      : Seq[(String, Double)] = {
    val perPass = traced.map { s =>
      val t = s.trace.get
      val jobs = t.jobs.jobs.toSeq
      val callM = s.spans.flatMap { sp =>
        val mine = jobs.filter(_.group == sp.id)
        val agg = t.jobs.byGroup.getOrElse(sp.id, new TaskAgg)
        // driver time: the part of the call's span no job covers
        val covered = mine.map(j => (j.start max sp.start, j.end min sp.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach)
            else (acc + b - (a max reach), b)
          }._1
        val wall = s.calls(sp.name)
        // a loop's round count: the most repeated action site in library
        // code (AQE's per-stage jobs carry a Spark-internal site)
        val sites =
          mine.map(_.site).filter(_.matches(".* at \\w+\\.scala:\\d+"))
        val rounds = if (sites.isEmpty) 1
          else sites.groupBy(identity).values.map(_.size).max
        val c = sp.name
        if (c == "operators.online") Nil
        else Seq(s"$c.wall_s" -> wall,
          s"$c.driver_s" -> math.max(0.0, wall - covered / 1000.0),
          s"$c.jobs" -> mine.size.toDouble,
          s"$c.tasks" -> agg.tasks.toDouble,
          s"$c.shuffle_bytes" -> agg.shuffleBytes.toDouble,
          s"$c.spill_bytes" -> agg.spillBytes.toDouble) ++
          (if (c.startsWith("graph."))
            Seq(s"$c.jobs_per_round" -> mine.size.toDouble / rounds)
          else Nil)
      }
      val plan = t.plans.phases.collect {
        case (st, d) if st >= s.start && st <= s.end => d
      }.sum / 1000.0
      val failedTasks = t.jobs.byGroup.values.map(_.failed).sum
      callM ++ s.ratios ++ Seq("spark.plan_s" -> plan, "jvm.gc_s" -> s.gcS,
        "spark.task_failures" -> failedTasks.toDouble)
    }
    val keys = perPass.head.map(_._1)
    keys.map { k =>
      val vs = perPass.flatMap(_.find(_._1 == k).map(_._2))
      k -> (if (k == "spark.task_failures") vs.sum else median(vs))
    }
  }
}
