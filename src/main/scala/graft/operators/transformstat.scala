package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Missing-value fill. Reference: dfpipeline/Imputer.py:43-79.
  *
  * Deliberate reference quirk preserved (SURVEY §2.5.1): there is NO fit —
  * `mean`/`median` are computed on the frame being transformed, at transform
  * time. All per-column statistics are computed in ONE distributed aggregate
  * pass (`avg`/exact `percentile`), then applied as `coalesce(col, stat)`.
  * `strategy=None` fills the constant `value` (type-coerced like pandas
  * upcasting). Exact percentile (not approx) keeps oracle parity with
  * pandas/DuckDB `median`.
  */
class Imputer(
    val inputs: Seq[String],
    val outputs: Seq[String],
    val strategy: Option[String] = None,
    val value: Any = -1,
    val distributedMedian: Boolean = false)
    extends GraftTransformer with TransformTimeStats {
  require(inputs.length == outputs.length)

  override def transformDF(df: DataFrame): DataFrame = strategy match {
    case None =>
      inputs.zip(outputs).foldLeft(df) { case (d, (in, out)) =>
        d.withColumn(out, coalesce(col(in), lit(value)))
      }
    case Some(_) =>
      applyStats(df, computeStats(df))
  }

  /** The per-column statistics (validated strategy; honors
    * `distributedMedian` — SCALE.md limit #2). */
  private def computeStats(df: DataFrame): Seq[Any] = strategy.get match {
    case "median" if distributedMedian =>
      ExactStats.medians(df, inputs).map(_.orNull)
    case s @ ("mean" | "median") =>
      val aggs = inputs.map(c =>
        if (s == "mean") avg(col(c)) else percentile(col(c), lit(0.5)))
      val statRow = df.agg(aggs.head, aggs.tail: _*).head()
      inputs.indices.map(statRow.get)
    case other => throw new IllegalArgumentException(s"strategy $other")
  }

  private def applyStats(df: DataFrame, stats: Seq[Any]): DataFrame =
    inputs.zip(outputs).zip(stats).foldLeft(df) {
      case (d, ((in, out), v)) =>
        d.withColumn(out, coalesce(col(in), lit(v)))
    }

  /** Freeze the transform-time statistics against `train` into a stateless
    * stage (the streaming option, SURVEY §7.4: unbounded streams can't
    * aggregate their own transform input). Same validation and
    * `distributedMedian` behavior as the live path. */
  def freeze(train: DataFrame): FrozenStage = strategy match {
    case None =>
      val self = this
      new FrozenStage {
        override def transformDF(df: DataFrame) = self.transformDF(df)
      }
    case Some(_) =>
      val stats = computeStats(train)
      val self = this
      new FrozenStage {
        override def transformDF(df: DataFrame) = self.applyStats(df, stats)
      }
  }
}

/** Replace infrequent values. Reference: dfpipeline/MinorityTransformer.py:
  * 50-66 — counts are transform-time (`value_counts` on the incoming frame);
  * values with frequency < threshold (and nulls) become `replacedTo`.
  *
  * Implemented as aggregate + equi-join (not a `count(*) over (partition by
  * col)` window: a single-key window shuffles everything into per-value
  * partitions and dies on skewed hot keys at scale; the groupBy pre-combines
  * map-side and AQE broadcasts the small count table).
  */
class MinorityTransformer(
    val inputs: Seq[String],
    val outputs: Seq[String],
    val threshold: Long,
    val replacedTo: Any)
    extends GraftTransformer with TransformTimeStats {
  require(inputs.length == outputs.length)

  override def transformDF(df: DataFrame): DataFrame =
    applyWith(df, in => df.groupBy(col(in)).agg(count(lit(1))))

  private def applyWith(
      df: DataFrame, countsOf: String => DataFrame): DataFrame =
    inputs.zip(outputs).zipWithIndex.foldLeft(df) {
      case (d, ((in, out), i)) =>
        val k = s"__mt_k$i"
        val cnt = s"__mt_c$i"
        val counts = countsOf(in).toDF(k, cnt).filter(col(k).isNotNull)
        d.join(counts, col(in) === col(k), "left")
          .withColumn(out,
            when(col(cnt) >= threshold, col(in)).otherwise(lit(replacedTo)))
          .drop(k, cnt)
    }

  /** Freeze the value counts against `train` (streaming option): the frozen
    * count relations join against any future frame, including streams.
    * The relations stay persisted — call `release()` on the returned stage
    * when done with it. */
  def freeze(train: DataFrame): FrozenStage = {
    val frozenCounts = inputs.map { in =>
      in -> train.groupBy(col(in)).agg(count(lit(1))).persist()
    }.toMap
    frozenCounts.values.foreach(_.count())
    val self = this
    new FrozenStage {
      override def transformDF(df: DataFrame): DataFrame =
        self.applyWith(df, frozenCounts(_))
      override def release(): Unit =
        frozenCounts.values.foreach { d => d.unpersist(); () }
    }
  }
}

/** Range-based value rewrite. Reference: dfpipeline/RangeTransformer.py:54-96.
  *
  * Rules are `((upperBound, lowerBound), replacement)` — note the reference's
  * key order is (upper, lower) — with inclusive bounds, `None` = unbounded,
  * `(None, None)` ignored. Masks are evaluated against the ORIGINAL column and
  * later rules overwrite earlier ones (last-match-wins), so the `when`-chain
  * is built in reverse rule order. Replacements are constants or
  * `"mean"`/`"median"`/`"most_frequent"` computed at transform time over the
  * matched subset (whole column if `useAllElements`); all subset statistics
  * for all columns run in ONE aggregate pass via conditional aggregates
  * (`avg(when(mask, c))`, exact `percentile`, `mode`). Nulls never match a
  * mask and pass through unchanged.
  */
class RangeTransformer(
    val inputs: Seq[String],
    val outputs: Seq[String],
    val rules: Seq[((Option[Double], Option[Double]), Any)],
    val useAllElements: Boolean = false)
    extends GraftTransformer with TransformTimeStats {
  require(inputs.length == outputs.length)

  private def mask(c: Column, upper: Option[Double], lower: Option[Double]) =
    (lower.map(c >= _).toSeq ++ upper.map(c <= _).toSeq).reduce(_ && _)

  override def transformDF(df: DataFrame): DataFrame =
    applyWith(df, computeStats(df))

  /** Freeze the subset statistics against `train` (streaming option). */
  def freeze(train: DataFrame): FrozenStage = {
    val frozen = computeStats(train)
    val self = this
    new FrozenStage {
      override def transformDF(df: DataFrame): DataFrame =
        self.applyWith(df, frozen)
    }
  }

  private def active = rules.filter { case ((u, l), _) =>
    u.nonEmpty || l.nonEmpty
  }

  private def computeStats(df: DataFrame): (Row, Map[(String, Int), Int]) = {
    val statAggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    val statIdx = scala.collection.mutable.Map.empty[(String, Int), Int]
    for {
      in <- inputs
      (((u, l), v), ri) <- active.zipWithIndex
    } v match {
      case s: String =>
        val c = col(in)
        val subset = if (useAllElements) c else when(mask(c, u, l), c)
        statIdx((in, ri)) = statAggs.length
        statAggs += (s match {
          case "mean"          => avg(subset)
          case "median"        => percentile(subset, lit(0.5))
          case "most_frequent" => mode(subset)
          case other =>
            throw new IllegalArgumentException(s"replacement $other")
        })
      case _ => ()
    }
    val row =
      if (statAggs.nonEmpty) df.agg(statAggs.head, statAggs.tail.toSeq: _*).head()
      else null
    (row, statIdx.toMap)
  }

  private def applyWith(
      df: DataFrame, stats: (Row, Map[(String, Int), Int])): DataFrame = {
    val (statRow, statIdx) = stats
    inputs.zip(outputs).foldLeft(df) { case (d, (in, out)) =>
      val c = col(in)
      val chain = active.zipWithIndex.reverse
        .foldLeft(Option.empty[Column]) { case (acc, (((u, l), v), ri)) =>
          val repl = v match {
            case _: String => lit(statRow.get(statIdx((in, ri))))
            case x         => lit(x)
          }
          val m = mask(c, u, l)
          Some(acc.fold(when(m, repl))(_.when(m, repl)))
        }
      d.withColumn(out, chain.fold(c)(_.otherwise(c)))
    }
  }
}

/** Distinct-value set algebra. Reference: dfpipeline/SetTransformer.py:43-91 —
  * operates on the SET of column values (not rows): `set(first) ∩/∪/−
  * set(second)`, result handed to a callback. Operands are a column name or a
  * literal value list.
  *
  * Spark mapping: `distinct` + `intersect`/`union`/`except` on single-column
  * frames (SURVEY §2.1 #17). The reference also writes the result list into a
  * None-padded column of the original frame (SetTransformer.py:84-89) by
  * POSITION — meaningless on an unordered distributed multiset, so the padded
  * column is produced only when the caller names both `outputOperand` and an
  * `orderCol` that defines "first rows": sorted set elements land on the
  * lowest-`orderCol` rows, the rest null (the reference's `list(set(...))`
  * order is itself arbitrary, so a sorted order is a determinism upgrade, not
  * a semantic change). Cost note: positional assignment forces one global
  * sort of the frame plus zipWithIndex's sizing pass — inherent to the
  * semantics, pay it only when you ask for the column.
  */
class SetTransformer(
    val firstOperand: Either[String, Seq[String]],
    val secondOperand: Either[String, Seq[String]],
    val setOperation: String,
    val outputFunc: Option[Seq[String] => Unit] = None,
    val outputOperand: Option[String] = None,
    val orderCol: Option[String] = None)
    extends GraftTransformer with TransformTimeStats {

  def resultDF(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def side(op: Either[String, Seq[String]]): DataFrame = op match {
      case Left(c)   => df.select(col(c).cast(StringType).as("value")).distinct()
      case Right(vs) => vs.toDF("value").distinct()
    }
    val (a, b) = (side(firstOperand), side(secondOperand))
    setOperation match {
      case "&" | "*" => a.intersect(b)
      case "|" | "+" => a.union(b).distinct()
      case "-"       => a.except(b)
      case other     => throw new IllegalArgumentException(s"set op $other")
    }
  }

  override def transformDF(df: DataFrame): DataFrame = {
    // the set result is collected ONCE (it is small by construction — the
    // reference materializes it as a Python set) and shared by the callback
    // and the padded column; re-deriving it per use would re-run the
    // distinct/intersect DAG up to three times
    lazy val elems: Seq[String] =
      resultDF(df).collect().map(_.getString(0)).toSeq.sorted
    outputFunc.foreach(f => f(elems))
    outputOperand match {
      case None => df
      case Some(out) =>
        val ord = orderCol.getOrElse(throw new IllegalArgumentException(
          "outputOperand requires orderCol: positional padding has no " +
            "meaning on an unordered distributed multiset"))
        val spark = df.sparkSession
        // reference asserts len(result) <= len(df) (SetTransformer.py:86-87)
        val nRows = df.count()
        if (elems.length > nRows) throw new IllegalStateException(
          s"set result has ${elems.length} elements but the frame only " +
            s"$nRows rows")
        val resIdx = spark.createDataFrame(
          spark.sparkContext.parallelize(
            elems.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 1),
          StructType(Seq(StructField("__idx", LongType),
            StructField(out, StringType))))
        val rows = df.sort(ord)
        val rowsIdx = spark.createDataFrame(
          rows.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
          StructType(rows.schema.fields :+ StructField("__idx", LongType)))
        rowsIdx.join(broadcast(resIdx), Seq("__idx"), "left").drop("__idx")
    }
  }

  // overriding avoids the default empty-frame transformDF probe, which
  // would fire the user callback with a spurious empty result during
  // Pipeline schema validation
  override def transformSchema(
      schema: org.apache.spark.sql.types.StructType) = outputOperand match {
    case None      => schema
    case Some(out) => StructType(schema.fields :+ StructField(out, StringType))
  }
}
