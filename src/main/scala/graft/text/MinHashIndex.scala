package graft.text

import java.nio.file.{Files, Paths}

import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods._

/** Fitted, persistable MinHash near-duplicate INDEX — the incremental
  * half of [[Dedup.minHashLSH]]'s batch dedup, and the batch mirror of
  * [[graft.streaming.Streaming]]'s frozen-corpus stream matcher: sign the
  * corpus ONCE, save the (id, signature) relation, then match each new
  * ingest batch against it without ever re-signing or re-shuffling the
  * corpus text. The production shape at 100 TB: a daily 1 TB batch dedups
  * against an N-batch-old corpus by signing only itself (its own scan),
  * joining banded buckets against the saved index, and verifying exactly.
  *
  * Same seeded xxhash64 hash family as [[Dedup.minHashLSH]] (reference:
  * dfpipeline has no dedup surface — this is the north-star extension),
  * so an index fitted by either path produces identical signatures.
  *
  * Lifecycle mirrors [[graft.sim.IvfIndex]]: `fit` → `save` → `load` →
  * `matchNew` / `add`.
  */
class MinHashIndex private[text] (
    val signatures: DataFrame,
    val idCol: String,
    val numHashes: Int,
    val bands: Int,
    val shingleK: Int) {

  private def r: Int = numHashes / bands

  /** Candidate (and optionally estimated-Jaccard) matches of a NEW batch
    * against the indexed corpus. Only the batch is signed (one scan of
    * the batch); the corpus side is the saved signature relation, whose
    * banded buckets are counted and HOT-CAPPED exactly like the batch
    * path (dropped coverage is logged, never silent). Output:
    * `(newIdCol, idCol, est_jaccard?)` — one row per colliding pair.
    * Follow with [[Dedup.verifyJaccard]] against the union of both text
    * frames for exact-threshold decisions. */
  def matchNew(
      batch: DataFrame, textCol: String, newIdCol: String,
      maxBucket: Int = 100,
      withEstimate: Boolean = true): DataFrame = {
    require(newIdCol != idCol,
      s"rename the batch id column (both sides named '$idCol')")
    val bSig = Materialize.shared(
      Dedup.signed(batch, textCol, col(newIdCol), numHashes, shingleK))
    val ok = Dedup.capBuckets(Dedup.bucketsOfSig(signatures, idCol, bands, r),
      maxBucket, "MinHashIndex.matchNew")
    val batchBuckets = Dedup.bucketsOfSig(bSig, newIdCol, bands, r)
    val pairs = ok.select(col("band"), col("bucket"), col(idCol))
      .join(batchBuckets.select(col("band"), col("bucket"), col(newIdCol)),
        Seq("band", "bucket"))
      .select(col(newIdCol), col(idCol))
      // a batch doc already in the index (re-ingest, replay) collides
      // with its own indexed signature on every band — a self-pair
      // carries no dedup information, so drop it here rather than making
      // every caller special-case the shared-id-space case
      .filter(col(newIdCol) =!= col(idCol))
      .distinct()
    val est = aggregate(
      zip_with(col("__sig_n"), col("__sig_c"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)
    val result = Materialize.checkpoint(if (!withEstimate) pairs
      else pairs
        .join(bSig.select(col(newIdCol), col("__sig").as("__sig_n")),
          newIdCol)
        .join(signatures.select(col(idCol), col("__sig").as("__sig_c")),
          idCol)
        .withColumn("est_jaccard", est)
        .select(col(newIdCol), col(idCol), col("est_jaccard")))
    Dedup.reportDrops(result.stats, maxBucket, "MinHashIndex.matchNew")
    Materialize.release(bSig)
    result.df
  }

  /** Grow the index with a signed batch (e.g. yesterday's deduped ingest):
    * signs `batch` and unions — the corpus half stays as-is, so `add` is
    * one batch scan, never a corpus re-sign. */
  def add(batch: DataFrame, textCol: String, batchIdCol: String): MinHashIndex = {
    val bSig = Materialize.shared(Dedup.signed(batch, textCol,
      col(batchIdCol).as(idCol), numHashes, shingleK), recomputable = true)
    // idempotence: re-adding an already-indexed batch must be a no-op —
    // a duplicated signature row would double every estimate rejoin and
    // double-bucket its bands. Shape: one scan of the index's id column
    // with the (small) batch id set broadcast into a semi join, then the
    // resulting ≤batch-sized overlap broadcast into an anti join on the
    // batch — the index is never shuffled or rewritten
    val dupIds = signatures.select(col(idCol))
      .join(broadcast(bSig.select(col(idCol))), Seq(idCol), "left_semi")
    val fresh = bSig.join(broadcast(dupIds), Seq(idCol), "left_anti")
    // persist + materialize the union (one batch scan, corpus side read
    // from the parent's cache), then release the parent's cache through
    // the handoff — otherwise matchNew on the returned index re-signs the
    // batch on every evaluation (twice per call: bucket side + estimate
    // rejoin) and release() on the child never frees the parent (ADVICE r5)
    val unioned = Materialize.persist(signatures.unionByName(fresh)).df
    Materialize.release(bSig)
    release()
    new MinHashIndex(unioned, idCol, numHashes, bands, shingleK)
  }

  /** The index's banded buckets in the frozen-corpus shape
    * [[graft.streaming.Streaming.nearDupCandidates]] consumes
    * (`(corpus_id, band, bucket)`, hot buckets capped with a logged
    * warning): owned state, persisted and materialized — free it with
    * [[graft.util.Materialize.release]] when retired.
    * Ties the lifecycle together: fit or load an index once, serve BOTH
    * batch `matchNew` and streaming near-dup from the same saved
    * signatures — the corpus text is never re-signed for either. */
  def frozenBuckets(maxBucket: Int = 10000): DataFrame = {
    // the buckets are a projection of the persisted signatures: the
    // count aggregate and the join both read the signature cache
    val buckets = Dedup.bucketsOfSig(signatures, idCol, bands, r)
      .withColumnRenamed(idCol, "corpus_id")
    val frozen = Materialize.persist(
      Dedup.capBuckets(buckets, maxBucket, "MinHashIndex.frozenBuckets")
        .select("corpus_id", "band", "bucket"))
    Dedup.reportDrops(frozen.stats, maxBucket, "MinHashIndex.frozenBuckets")
    frozen.df
  }

  /** Persist: `<path>/signatures/` parquet + `<path>/index.json`. */
  def save(path: String): Unit = {
    Files.createDirectories(Paths.get(path))
    signatures.write.mode("overwrite").parquet(s"$path/signatures")
    val json = JObject(
      "idCol" -> JString(idCol),
      "numHashes" -> JInt(numHashes),
      "bands" -> JInt(bands),
      "shingleK" -> JInt(shingleK))
    Files.writeString(Paths.get(s"$path/index.json"), compact(render(json)))
  }

  /** Free the persisted signature cache. */
  def release(): Unit = Materialize.release(signatures)
}

object MinHashIndex {
  /** Sign the corpus and hold the (id, signature) relation persisted.
    * One scan of the corpus; signatures are `numHashes` longs per doc —
    * the index is ~512 B/doc at the defaults, independent of text size. */
  def fit(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3): MinHashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = Materialize.persist(
      Dedup.signed(df, textCol, col(idCol), numHashes, shingleK)).df
    new MinHashIndex(sigs, idCol, numHashes, bands, shingleK)
  }

  /** Reload a saved index (see [[MinHashIndex.save]]). */
  def load(spark: SparkSession, path: String): MinHashIndex = {
    val j = parse(Files.readString(Paths.get(s"$path/index.json")))
    def int(f: String): Int = (j \ f) match {
      case JInt(i) => i.toInt
      case x => throw new IllegalArgumentException(s"bad $f: $x")
    }
    // persisted like IvfIndex.load: matchNew reads the signatures twice
    // (bucket side + estimate rejoin); release() frees it when retired
    new MinHashIndex(
      spark.read.parquet(s"$path/signatures").persist(),
      (j \ "idCol").asInstanceOf[JString].s,
      int("numHashes"), int("bands"), int("shingleK"))
  }
}
