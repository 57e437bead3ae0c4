package graft.operators

import org.apache.spark.ml.{Estimator, Model, Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Base plumbing for the graft operator library.
  *
  * The reference engine (IBM/dataframe-pipeline) threads one mutable pandas
  * DataFrame through a linear list of transformers
  * (dfpipeline/DataframePipeline.py:32-107). Here each operator is an
  * `org.apache.spark.ml.PipelineStage`: stateless ops extend
  * [[GraftTransformer]], fitted ops extend [[GraftEstimator]] producing a
  * [[GraftModel]]; `org.apache.spark.ml.Pipeline` is the pipeline spine, and
  * in-place mutation becomes immutable `withColumn`/`drop`/`filter` plans
  * that Catalyst optimizes end-to-end.
  */
object GraftSchema {
  /** Empty local relation used to derive output schemas lazily. */
  def emptyDF(schema: StructType): DataFrame =
    SparkSession.active.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)

  /** `_PARM_ALL` semantics (dfpipeline/DFPBase.py:25-33): an empty column
    * list means "all current columns at fit/transform time". */
  def resolve(cols: Seq[String], df: DataFrame): Seq[String] =
    if (cols.isEmpty) df.columns.toSeq else cols

  def resolve(cols: Seq[String], schema: StructType): Seq[String] =
    if (cols.isEmpty) schema.fieldNames.toSeq else cols

  /** Replace `name`'s type if present (keeping nullability/metadata), else
    * append the field. */
  def withField(schema: StructType, name: String,
      dt: org.apache.spark.sql.types.DataType): StructType =
    if (schema.fieldNames.contains(name))
      StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = dt) else f))
    else schema.add(name, dt)
}

/** A frozen transform-time-statistics stage (see `freeze` on Imputer /
  * MinorityTransformer / RangeTransformer): stateless at transform time;
  * `release()` frees any persisted state it holds. */
abstract class FrozenStage extends GraftTransformer {
  def release(): Unit = ()
}

/** A transformer whose statistics come from the frame it transforms
  * (Imputer, MinorityTransformer, RangeTransformer, SetTransformer):
  * `transform` may run Spark jobs and user callbacks, so [[FitFusion]]
  * never probes one — it ends a fit batch instead. */
trait TransformTimeStats { self: GraftTransformer => }

/** Stateless operator: pure DataFrame → DataFrame plan extension. */
abstract class GraftTransformer extends Transformer {
  override val uid: String = Identifiable.randomUID(getClass.getSimpleName)
  def transformDF(df: DataFrame): DataFrame
  override def transform(ds: Dataset[_]): DataFrame = transformDF(ds.toDF())
  override def copy(extra: ParamMap): this.type = this
  override def transformSchema(schema: StructType): StructType =
    transformDF(GraftSchema.emptyDF(schema)).schema
}

/** Fitted state holder produced by a [[GraftEstimator]]. */
abstract class GraftModel[M <: GraftModel[M]] extends Model[M] { self: M =>
  override val uid: String = Identifiable.randomUID(getClass.getSimpleName)
  def transformDF(df: DataFrame): DataFrame
  override def transform(ds: Dataset[_]): DataFrame = transformDF(ds.toDF())
  override def copy(extra: ParamMap): M = self
  override def transformSchema(schema: StructType): StructType =
    transformDF(GraftSchema.emptyDF(schema)).schema
}

/** Operator with fit-time statistics (frozen training state, reapplied at
  * transform/serving time — SURVEY §1.1). */
abstract class GraftEstimator[M <: GraftModel[M]] extends Estimator[M] {
  override val uid: String = Identifiable.randomUID(getClass.getSimpleName)
  def fitDF(df: DataFrame): M
  override def fit(ds: Dataset[_]): M = fitDF(ds.toDF())
  override def copy(extra: ParamMap): Estimator[M] = this
  // Added/retyped columns depend on fitted state; schema is validated by the
  // model's transformSchema after fit.
  override def transformSchema(schema: StructType): StructType = schema
}

/** Pipeline factory mirroring `DataframePipeline(steps=[...])`
  * (dfpipeline/DataframePipeline.py:34-46) on `spark.ml.Pipeline` —
  * `fit`/`transform`/`fit_transform` interleaving (ibid:48-107) is exactly
  * `Pipeline.fit` + `PipelineModel.transform`. The returned pipeline fits
  * with shared-scan fit fusion ([[FitFusion]]): the stages are walked in
  * batches — estimators that read no earlier batch member's output, with
  * the row-preserving transformers between them — and every batch's
  * fusable statistics come from one grouping-sets aggregate over the batch's
  * base frame (the fraud pipeline: one batch, two jobs). */
object DFPipeline {
  def apply(stages: PipelineStage*): Pipeline =
    new GraftPipeline().setStages(stages.toArray)
}

/** `Pipeline` whose `fit` is [[FitFusion.fitPipeline]]: independent
  * estimator fits run as batches, each batch's fusable statistics as one
  * grouping-sets aggregate, the rest fitted one by one against the batch
  * base. The result is a plain `PipelineModel` whose stage models equal
  * the per-stage fits (see [[FitFusion]] for the one ≤ 1e-12 exception). */
class GraftPipeline extends Pipeline {
  override def setStages(value: Array[_ <: PipelineStage]): this.type =
    { super.setStages(value); this }
  override def fit(dataset: Dataset[_]): PipelineModel =
    FitFusion.fitPipeline(getStages, dataset.toDF())
  // persist as a plain Pipeline: Pipeline.load checks the metadata
  // className and would reject this subclass's name (the reload then fits
  // unfused — fusion is a fit-time optimization, not part of the saved
  // contract)
  override def write: org.apache.spark.ml.util.MLWriter =
    new Pipeline(uid).setStages(getStages).write
}
