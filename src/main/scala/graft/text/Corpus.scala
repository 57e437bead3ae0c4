package graft.text

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-construction operators for training-data pipelines: deterministic
  * stratified sampling (data mixing), document chunking into token windows
  * (context-window construction), and PII redaction. All pure Column
  * expressions — codegen'd, shuffle-free, and engine-portable (md5-based
  * sampling so any SQL engine reproduces the exact keep/drop decisions,
  * which is what a 100 TB pipeline needs when sampling must be re-derivable
  * years later by a different system).
  */
object Corpus {

  /** 2^60 — the scale of the 15-hex-digit (60-bit) md5 prefix. */
  private val HashScale = 1152921504606846976.0

  /** Deterministic uniform in [0,1) from any column: the top 60 bits of
    * md5(string form). Engine-portable: DuckDB's
    * `('0x' || substr(md5(v), 1, 15))::BIGINT / 2^60` produces the identical
    * double, so sampling decisions replay anywhere. Never use an RNG here —
    * `rand()` re-rolls per task retry and per plan re-execution, silently
    * changing the sample under AQE or speculative execution. */
  def hashUniform(c: Column): Column =
    graft.functions.GraftFunctions.md5_hash60(c.cast("string"))
      .cast("double") / lit(HashScale)

  /** Stratified deterministic sample for corpus mixing: keep a row iff
    * `hashUniform(id) < rate(stratum)`, where `rate` comes from `rates` or
    * `defaultRate`. A pure filter — no shuffle, no sort, no RNG state; at
    * 100 TB this costs one scan and prunes at the parquet row-group level
    * when the stratum column is a partition key. */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate): Column) {
      case ((s, r), acc) => when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(hashUniform(col(idCol)) < rate)
  }

  /** Deterministic fixed-BUDGET sample: exactly `n` rows per group (fewer
    * if the group is smaller) — "5000 documents per source/language", the
    * quota form of sampling that [[stratifiedSample]]'s rate form can't
    * express. Selection order is the md5-uniform rank of `idCol` (ties on
    * id), so the sample is engine-replayable and stable under task retry;
    * the cut runs on the bounded-heap [[graft.functions.CollectTopK]]
    * aggregate — partial heaps combine map-side, the shuffle carries
    * `partitions × n` candidates per group, and no hot group ever funnels
    * through one task (the `row_number() OVER` failure mode). Output:
    * group cols + (idCol, sample_rank); join ids back for full rows.
    * `idCol` must be integral (the heap carries (double, long)). */
  def sampleNPerGroup(
      df: DataFrame, groupCols: Seq[String], idCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val u = hashUniform(col(idCol))
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopK.collect_top_k(
        struct((-u).as("score"), col(idCol).cast("long").as("id")), n)
        .as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
      .select(groupCols.map(col) ++ Seq(col("__t.id").as(idCol),
        (col("__pos") + 1).as("sample_rank")): _*)
  }

  /** Deterministic per-group BUDGET sample — "keep ~N tokens (or chars,
    * or bytes) per source/language", the cost-aware quota form of
    * [[sampleNPerGroup]] (which counts rows, not cost): rows enter in
    * md5-uniform rank order (ties on id) and survive while the group's
    * running `costCol` total stays within `budget` (inclusive — the
    * cumulative sum counts the row itself). Deterministic,
    * engine-replayable (md5 rank + exact integer cumulative sum), and
    * stable under retries and repartitioning. The per-group ordered
    * window sorts each group's rows — the inherent cost of an ordered
    * quota (sessionize's per-key-history trade); groups are corpus
    * strata (sources, languages), so `partitionBy(group)` keeps every
    * task to one stratum. `groupCols` must be non-empty — a global
    * budget is a single-task window; pass a constant group only for
    * eval-set-sized inputs, deliberately. Output: input columns +
    * `cum_cost`. */
  def sampleByBudget(
      df: DataFrame, idCol: String, groupCols: Seq[String],
      costCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    require(groupCols.nonEmpty,
      "groupCols must be non-empty (a global budget funnels the corpus " +
        "through one window task; group by stratum, or by a constant for " +
        "deliberately-small eval sets)")
    val h = graft.functions.GraftFunctions
      .md5_hash60(col(idCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(h.asc, col(idCol).asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_cost", sum(col(costCol).cast("long")).over(w))
      .filter(col("cum_cost") <= budget)
  }

  /** Global fixed-size deterministic sample: exactly `n` rows chosen by
    * md5-uniform rank of `idCol` (ties on id) — the eval-subset/smoke-
    * test primitive. Engine-replayable, stable under task retry and
    * partitioning changes (unlike `df.limit(n)`, whose rows depend on
    * partition order, or `sample()`, which re-rolls per execution).
    * The global top-n plans as `TakeOrderedAndProject`: per-partition
    * heaps of `n` rows merged once — never a full sort of the corpus.
    * Keeps ALL columns and appends `sample_rank` (1 = lowest hash). */
  def sampleN(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val u = hashUniform(col(idCol))
    // ranked AFTER limit(n): the windowed relation is ≤ n rows — bounded
    // by construction, so the single-partition window is the intended plan
    df.withColumn("__u", u)
      .orderBy(col("__u").asc, col(idCol).asc)
      .limit(n)
      .withColumn("sample_rank",
        row_number().over(graft.util.BoundedWindow
          .global(col("__u").asc, col(idCol).asc)))
      .drop("__u")
  }

  /** Fixed-size WEIGHTED deterministic sample without replacement
    * (Efraimidis–Spirakis A-Res): each row draws the md5-uniform
    * `u = hashUniform(id)` and ranks by `u^(1/w)` descending — the top
    * `n` keys are a weight-proportional sample, exactly and without
    * ever materializing cumulative weights. Deterministic under retry /
    * repartitioning / engine (the rank key is a pure function of the
    * row); plans as `TakeOrderedAndProject` — per-partition bounded
    * heaps, never a global sort. Rows with null or non-positive weight
    * are excluded. The `u^(1/w)` key itself is dropped from the output
    * (cross-engine `pow` may differ in the last ulp — selection is
    * replayable, the transcendental intermediate is not guaranteed
    * bit-stable). */
  def sampleWeighted(
      df: DataFrame, idCol: String, weightCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val u = hashUniform(col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__k", pow(u, lit(1.0) / col(weightCol)))
      .orderBy(col("__k").desc, col(idCol).asc)
      .limit(n)
      .drop("__k")
  }

  /** Temperature-based corpus rebalancing: keep each group's rows with
    * probability `(n_min / n_g)^(1−α)`, so the retained count scales as
    * `n_g^α` (anchored at the smallest group, which keeps everything).
    * α = 1 keeps the natural distribution, α = 0 equalizes all groups
    * down to the smallest, α = 0.5 is the multilingual-training
    * square-root rebalance. Downsampling only — pair with [[mixSources]]
    * to upsample.
    *
    * Deterministic: the keep decision is `hashUniform(id) < q_g` with
    * `q_g` derived from integer group counts — no RNG, no cross-group
    * float accumulation (the usual `n^α / Σ n^α` normalization sums
    * doubles in nondeterministic order; anchoring at `n_min` avoids the
    * sum entirely). At α = 0.5 the key arithmetic is division + sqrt,
    * both IEEE correctly-rounded — bit-replayable in any engine.
    *
    * Shape at 100 TB: one count aggregate (group-bounded), broadcast
    * back, then a pure filter at scan speed. */
  def temperatureSample(
      df: DataFrame, groupCol: String, idCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__ng"))
    val withMin = counts.crossJoin(
      broadcast(counts.agg(min("__ng").as("__nmin"))))
    val rates = withMin.select(col(groupCol),
      (if (alpha == 0.5) sqrt(col("__nmin") / col("__ng"))
       else pow(col("__nmin") / col("__ng"), lit(1.0 - alpha)))
        .as("__q"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashUniform(col(idCol)) < col("__q"))
      .drop("__q")
  }

  /** Inverted index over whitespace tokens: per term, the document
    * frequency and the posting list of the `maxPostings` LOWEST doc ids
    * (space-joined string — engine-portable, checker-sortable). Terms
    * below `minDf` documents are dropped (the long tail is most of the
    * vocabulary).
    *
    * Shape at 100 TB: per-doc DISTINCT terms explode (array_distinct
    * before the explode — a doc contributes each term once), then ONE
    * term aggregate where the posting cap rides a bounded
    * `collect_top_k` heap — map-side combined, so a stopword appearing
    * in every document shuffles `partitions × maxPostings` ids, never
    * the full corpus-sized posting list (the `collect_list` + window
    * formulation's failure mode). */
  def invertedIndex(
      df: DataFrame, idCol: String, textCol: String,
      minDf: Int = 1, maxPostings: Int = 20): DataFrame = {
    require(minDf >= 1 && maxPostings >= 1)
    val terms = df.select(col(idCol).cast("long").as("__doc"),
        explode(array_distinct(
          graft.text.TextFunctions.tokensLower(col(textCol))))
          .as("term"))
      .filter(col("term") =!= "")
    terms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        graft.functions.TopK.collect_top_k(
          struct((-col("__doc")).cast("double").as("score"),
            col("__doc").as("id")), maxPostings).as("__top"))
      .filter(col("df") >= minDf)
      .withColumn("postings",
        array_join(transform(col("__top"), x => x("id").cast("string")),
          " "))
      .drop("__top")
  }

  /** Top-`size` token vocabulary by corpus frequency (ties on the token
    * lexicographically), with dense contiguous ids in rank order —
    * the tokenizer-training primer every pipeline needs. One token-count
    * aggregate (map-side combined; the shuffle carries distinct tokens,
    * bounded by vocabulary not corpus) and then a GLOBAL top-`size` that
    * plans as TakeOrderedAndProject — per-partition heaps of `size`
    * entries merged once, never a full sort of the vocabulary. The id
    * assignment sorts only the `size` survivors in one task (bounded by
    * construction). Output: (token, token_id, n_occurrences), id 0 =
    * most frequent. */
  def buildVocab(
      df: DataFrame, textCol: String, size: Int): DataFrame = {
    require(size >= 1, s"need size >= 1, got $size")
    val counts = df
      .select(explode(TextFunctions.tokensLower(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("__t").agg(count(lit(1)).as("n_occurrences"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("__t").asc)
      .limit(size)
    // ranked AFTER limit(size): ≤ `size` surviving tokens — bounded by
    // construction, the single-partition window is the intended plan
    top
      .withColumn("token_id",
        row_number().over(graft.util.BoundedWindow
          .global(col("n_occurrences").desc, col("__t").asc)) - 1)
      .select(col("__t").as("token"), col("token_id").cast("long")
        .as("token_id"), col("n_occurrences"))
  }

  /** Encode documents against a [[buildVocab]] vocabulary: each whitespace
    * token maps to its `token_id`, out-of-vocabulary tokens to `unkId`.
    * The vocabulary is bounded by construction (buildVocab's `size`), so it
    * collects into ONE map literal and encoding is a pure per-row
    * expression — no join, no shuffle, runs at scan speed on every
    * executor. (For a vocabulary too large for a plan literal — millions
    * of entries — switch to posexplode + broadcast join + re-aggregate;
    * at typical tokenizer sizes the literal wins by a full shuffle.)
    * Output per document: `n_tokens`, `n_unk`, and `token_ids` as a
    * space-joined id string (engine-portable: any SQL engine reproduces
    * it with a string_agg ordered by token position). */
  def encodeDocs(
      df: DataFrame, textCol: String, idCol: String,
      vocab: DataFrame, unkId: Long = -1L): DataFrame = {
    val entries = vocab.select("token", "token_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(!entries.valuesIterator.contains(unkId),
      s"unkId $unkId collides with a vocabulary id")
    val m = typedLit(entries)
    val toks = filter(TextFunctions.tokensLower(col(textCol)),
      t => t =!= "")
    val ids = transform(toks, t => coalesce(element_at(m, t), lit(unkId)))
    df.select(col(idCol),
      size(ids).cast("long").as("n_tokens"),
      size(filter(ids, i => i === unkId)).cast("long").as("n_unk"),
      array_join(transform(ids, _.cast("string")), " ").as("token_ids"))
  }

  /** Chunk documents into whitespace-token windows of `chunkTokens` tokens,
    * starting every `chunkTokens - overlap` tokens (trailing chunks may be
    * shorter). Output: (id, chunk_index, chunk_text, chunk_tokens). The
    * explode multiplies rows ~len/step× but carries only the token slice —
    * project away wide columns before calling this at scale. */
  def chunk(
      df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      "need chunkTokens > overlap >= 0")
    val step = chunkTokens - overlap
    df.withColumn("__ws", TextFunctions.tokens(col(textCol)))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("__ws")), lit(1)), lit(step)),
          i => array_join(slice(col("__ws"), i, lit(chunkTokens)), " ")))
          .as(Seq("chunk_index", "chunk_text")))
      .withColumn("chunk_tokens",
        size(split(col("chunk_text"), "\\s+")).cast("long"))
  }

  /** Corpus mixing with per-stratum WEIGHTS, the generalization of
    * [[stratifiedSample]] a training-data pipeline actually runs: weight
    * w < 1 downsamples (keep with probability w), w > 1 upsamples (every
    * row emitted ⌊w⌋ times, plus once more with probability w − ⌊w⌋ — e.g.
    * w = 2.3 → 2 or 3 copies). Output = input columns + `copy_id`
    * (0-based), so downstream shuffling/sharding can tell copies apart.
    *
    * Deterministic and engine-portable like [[hashUniform]] (the fractional
    * decision hashes `idCol`): replays identically under task retries and
    * in any SQL engine. A pure project + explode — no shuffle; row count
    * multiplies by ~w per stratum, so at 100 TB project away columns you
    * don't need before upsampling. */
  def mixSources(
      df: DataFrame, idCol: String, stratumCol: String,
      weights: Map[String, Double], defaultWeight: Double): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      "weights must be >= 0")
    val w = weights.foldRight(lit(defaultWeight): Column) {
      case ((s, r), acc) => when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    val reps = (floor(w) +
      when(hashUniform(col(idCol)) < w - floor(w), 1).otherwise(0))
      .cast("int")
    // explode drops rows where the array is null (reps == 0) — exactly the
    // downsample-discard case
    df.withColumn("copy_id",
      explode(when(reps >= 1, sequence(lit(0), reps - 1))))
  }

  /** Leakage-safe split label: assigns the whole GROUP (all rows sharing
    * `groupCol`) to "test" iff hashUniform(group) < testFrac, else "train".
    * Splitting by row instead would let near-duplicate documents of one
    * source straddle the split — the classic contamination bug; splitting
    * by group key keeps correlated content on one side. Deterministic and
    * engine-portable like [[hashUniform]]. */
  def splitLabel(groupCol: Column, testFrac: Double): Column =
    when(hashUniform(groupCol) < testFrac, "test").otherwise("train")

  /** Convenience: (train, test) frames from [[splitLabel]]. Both are pure
    * filters over one scan — no shuffle, no materialization. Defined VIA
    * splitLabel so the two forms agree on null group keys: a raw
    * `hashUniform < frac` filter pair would drop null-keyed rows from BOTH
    * sides (NULL comparison), silently losing rows; here they land in
    * train, like splitLabel's otherwise branch. */
  def trainTestSplit(
      df: DataFrame, groupCol: String,
      testFrac: Double): (DataFrame, DataFrame) = {
    val lbl = splitLabel(col(groupCol), testFrac)
    (df.filter(lbl === "train"), df.filter(lbl === "test"))
  }

  /** N-way deterministic split ("train"/"val"/"test"/... by fraction):
    * the md5-uniform of `groupCol` falls into cumulative-fraction bins,
    * ordered as given — whole groups land on one side (leakage-safe,
    * like [[splitLabel]]), the assignment replays identically under task
    * retry, AQE, and in any other engine, and rows beyond the summed
    * fractions (or with a null group) take the FIRST label, matching
    * splitLabel's otherwise-train convention. Pure expression — no
    * shuffle. */
  def splitFractions(
      groupCol: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.size >= 2, "need >= 2 split labels")
    require(fractions.forall(_._2 > 0), "fractions must be > 0")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"fractions sum to ${fractions.map(_._2).sum} > 1")
    val u = hashUniform(groupCol)
    // [0, f1) → l1, [f1, f1+f2) → l2, ...; remainder + nulls → l1
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _)
    fractions.zip(cuts.sliding(2).toSeq).tail
      .foldLeft(lit(fractions.head._1)) {
        case (acc, ((label, _), Seq(lo, hi))) =>
          when(u >= lo && u < hi, label).otherwise(acc)
      }
  }

  /** Benchmark decontamination: training docs sharing at least
    * `minShared` distinct `k`-word shingles with any eval/benchmark doc.
    * Output: (idCol, bench_id, n_shared) per contaminated pair.
    *
    * Shape at 100 TB: the corpus side explodes to (id, shingle-HASH) rows —
    * the fused [[graft.functions.ShingleHashes]] expression, so no per-
    * shingle string ever materializes (the slice+array_join form measured
    * 10×+ slower and multiplied shuffle bytes ~8×) — and equi-joins the
    * BROADCAST distinct bench shingle hashes (eval sets are tiny by
    * definition), so the corpus never shuffles for the match; only the
    * matched pairs (rare by construction) reach the count aggregate. Never
    * an all-pairs or array-intersect-per-pair formulation. Shingle identity
    * is 64-bit-hash identity (collision odds ~2⁻⁶⁴ per shingle pair —
    * the q_contamination oracle recomputes with exact strings and matches). */
  def contamination(
      docs: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      k: Int = 5, minShared: Int = 1): DataFrame = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    def shingled(df: DataFrame, text: String, id: String, outId: String) =
      df.select(col(id).as(outId),
          explode(array_distinct(graft.functions.GraftFunctions.shingle_hashes(
            transform(TextFunctions.tokensLower(col(text)), t => xxhash64(t)),
            k))).as("__sh"))
    val benchSh = shingled(bench, benchTextCol, benchIdCol, "bench_id")
      .distinct()
    shingled(docs, textCol, idCol, idCol)
      .join(broadcast(benchSh), "__sh")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Deterministic shard assignment + within-shard order for training
    * output: `shard_id = floor(hashUniform(id) · n)` and `shard_rank` =
    * a second independent hash — so shards are balanced in expectation,
    * document order within a shard is a reproducible pseudo-shuffle
    * (training wants documents decorrelated from ingest order), and the
    * whole layout replays bit-identically in any engine, under task
    * retries, years later. Write with
    * `df.repartition(n, col("shard_id")).sortWithinPartitions("shard_rank")`
    * — one shuffle, then streaming writes. */
  def shardBy(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "need nShards >= 1")
    df.withColumn("shard_id",
        floor(hashUniform(col(idCol)) * nShards).cast("int"))
      // independent second hash: salt the id before hashing (md5 of
      // "shuffle:<id>" is uncorrelated with md5 of "<id>")
      .withColumn("shard_rank",
        hashUniform(concat(lit("shuffle:"), col(idCol).cast("string"))))
  }

  /** GPT-style sequence packing: concatenate the token streams of all
    * documents (in [[shardBy]]'s deterministic pseudo-shuffled order,
    * independently within each of `nShards` shards) and chop the stream
    * into fixed `ctxTokens`-token training sequences. Documents straddle
    * sequence boundaries — exactly the "concat and chop" construction GPT
    * pipelines use, so no padding is ever needed. Output: one row per
    * (document × sequence) overlap —
    * (shard_id, seq_index, idCol, doc_offset, seq_offset, n_tokens,
    * slice_text) with 0-based offsets; a training example is the
    * seq_offset-ordered concatenation of one (shard_id, seq_index) group.
    *
    * Shape at 100 TB: token offsets need a running sum over an ORDER, and
    * a global order can't scale — but the shard is the natural packing
    * unit anyway (each shard is one output training file), so the cumsum
    * window partitions by shard: `nShards` parallel tasks, each sorting
    * only its shard (the same work the final sorted write does). The
    * explode emits ⌈n/ctx⌉+1 rows per doc at most; everything else is
    * per-row arithmetic. Deterministic and engine-portable end to end
    * (md5 shard/order + exact integer arithmetic). */
  def packSequences(
      df: DataFrame, textCol: String, idCol: String,
      ctxTokens: Int, nShards: Int): DataFrame =
    packSequencesTokens(df, TextFunctions.tokens(col(textCol)), idCol,
      ctxTokens, nShards)

  /** [[packSequences]] over an arbitrary token-array expression — the
    * packing unit becomes whatever the tokenizer emits (e.g.
    * [[Bpe.pieceTokens]] for learned-subword packing, the realistic
    * training-data shape where context budgets are REAL token counts,
    * not whitespace words). Same shard/cumsum/chop arithmetic. */
  def packSequencesTokens(
      df: DataFrame, tokens: Column, idCol: String,
      ctxTokens: Int, nShards: Int): DataFrame = {
    require(ctxTokens >= 1 && nShards >= 1,
      "need ctxTokens >= 1 and nShards >= 1")
    val ctx = lit(ctxTokens.toLong)
    val sharded = shardBy(df, idCol, nShards)
      .withColumn("__toks", tokens)
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") >= 1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard_id")
      .orderBy(col("shard_rank"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // global (within-shard) token offset of the doc's first token
    val withStart = sharded
      .withColumn("__start", sum(col("__n")).over(w) - col("__n"))
    // integral floor division (offsets are non-negative): `div`, never `/`
    // (double division) — bit-exact at any offset magnitude
    val binLo = expr(s"__start div ${ctxTokens.toLong}")
    val binHi = expr(s"(__start + __n - 1) div ${ctxTokens.toLong}")
    val lo = greatest(col("__start"), col("seq_index") * ctx)
    val hi = least(col("__start") + col("__n"), (col("seq_index") + 1) * ctx)
    withStart
      .withColumn("seq_index", explode(sequence(binLo, binHi)))
      .select(col("shard_id"), col("seq_index"), col(idCol),
        (lo - col("__start")).as("doc_offset"),
        (lo - col("seq_index") * ctx).as("seq_offset"),
        (hi - lo).as("n_tokens"),
        array_join(slice(col("__toks"),
          (lo - col("__start") + 1).cast("int"),
          (hi - lo).cast("int")), " ").as("slice_text"))
  }

  /** Sketch-based decontamination: IDENTICAL output to [[contamination]]
    * (same exact semi-match semantics — the Bloom filter is only a
    * corpus-side pre-filter whose false positives die in the exact join),
    * but the corpus grams are first tested against an `fpp`-sized Bloom
    * sketch of the benchmark grams using Spark's own
    * `BloomFilterAggregate` / `BloomFilterMightContain` expressions (the
    * machinery behind its runtime row-level filters — codegen'd, no UDF).
    *
    * Why it matters at 100 TB: [[contamination]] broadcasts the full
    * benchmark gram SET and probes a hash relation per corpus gram; here
    * the membership test is a bitset of
    * `-n·ln(fpp)/ln²2` bits (e.g. 10⁸ bench grams at fpp 1% ≈ 120 MB —
    * broadcastable where the exact set is not), and non-matching grams
    * (~everything) are dropped INSIDE the scan stage before any join
    * probe. The exact join then runs over the surviving ~fpp fraction. */
  def contaminationBloom(
      docs: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      k: Int = 5, minShared: Int = 1, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    def shingled(df: DataFrame, text: String, id: String, outId: String) =
      df.select(col(id).as(outId),
          explode(array_distinct(graft.functions.GraftFunctions.shingle_hashes(
            transform(TextFunctions.tokensLower(col(text)), t => xxhash64(t)),
            k))).as("__sh"))
    // bench shingles feed the count, the bloom build, and the exact join —
    // share the (small) benchmark side
    val benchSh = Materialize.shared(
      shingled(bench, benchTextCol, benchIdCol, "bench_id").distinct())
    val n = math.max(1L, benchSh.count())
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(n, fpp)
    val bloomBytes = benchSh.agg(Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          Bridge.expression(col("__sh")),
          Bridge.expression(lit(n)),
          Bridge.expression(lit(numBits)))
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // empty benchmark → null aggregate; the pre-filter degenerates to
    // "drop everything", which is also what the exact join would produce
    val mightContain =
      if (bloomBytes == null) lit(false)
      else Bridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          Bridge.expression(lit(bloomBytes)),
          Bridge.expression(col("__sh"))))
    val result = Materialize.checkpoint(shingled(docs, textCol, idCol, idCol)
      .filter(mightContain)
      .join(broadcast(benchSh), "__sh")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared))
    Materialize.release(benchSh)
    result.df
  }

  /** DSIR-style importance score (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", public): score each
    * source document by how much more likely its hashed-unigram profile is
    * under a TARGET corpus distribution than under the source distribution
    * — the standard cheap proxy for "select web data that looks like the
    * high-quality target". Features are md5-hashed token buckets
    * (`buckets` of them), both distributions add-one smoothed; the score is
    * the per-token mean of `log p_target(b) − log p_source(b)` (≈ the
    * per-token log importance weight; resample/filter on it downstream,
    * e.g. keep the top quantile via [[graft.operators.QuantileBinner]]).
    *
    * Scale shape: the two distribution fits are ONE map-side-combined
    * aggregate each, producing ≤ `buckets` rows (a broadcast-sized
    * relation by construction — the whole point of feature hashing); the
    * scoring pass is explode → broadcast-join → per-doc aggregate. The
    * token bucket is the engine-portable md5 hash, so an external SQL
    * engine replays fits and scores exactly. Output: (idCol, n_tokens,
    * dsir_score). */
  def dsirScore(
      df: DataFrame, textCol: String, idCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 16),
      "buckets must be in [2, 2^16] — the log-ratio table ships in the " +
        "PLAN as a map literal (fitted driver state); past ~65k entries " +
        "the literal bloats every task's plan, and DSIR's own hashing " +
        "argument needs far fewer buckets than that")
    val reserved = Seq("__b", "__ts").filter(df.columns.contains)
    require(reserved.isEmpty, s"$reserved reserved by dsirScore")
    def bucketOf(t: Column): Column =
      pmod(graft.functions.GraftFunctions.md5_hash60(t),
        lit(buckets.toLong))
    // fit: one bucket-count aggregate per side — map-side combined down to
    // ≤`buckets` rows, then collected (bounded by construction: the fitted
    // state is ≤2^20 (bucket, count) pairs, never corpus-sized)
    def bucketCounts(frame: DataFrame, text: String): Map[Long, Long] =
      frame.select(explode(TextFunctions.tokensLower(col(text))).as("__t"))
        .select(bucketOf(col("__t")).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcCnt = bucketCounts(df, textCol)
    val tgtCnt = bucketCounts(target, targetTextCol)
    val srcTotal = srcCnt.values.sum
    val tgtTotal = tgtCnt.values.sum
    // add-one-smoothed log importance ratio per bucket; a bucket seen on
    // only one side still gets its smoothed probability on the other.
    // Math.log here == the executor-side log() the previous formulation
    // used — same JVM libm, bit-identical scores
    val lr: Map[Long, Double] =
      (srcCnt.keySet ++ tgtCnt.keySet).iterator.map { b =>
        b -> (math.log((tgtCnt.getOrElse(b, 0L) + 1L).toDouble /
            (tgtTotal + buckets)) -
          math.log((srcCnt.getOrElse(b, 0L) + 1L).toDouble /
            (srcTotal + buckets)))
      }.toMap
    // score: a PURE per-row expression — tokens map through the constant
    // bucket→lr literal and sum in-place. The previous formulation
    // persisted the token-exploded corpus and shuffled one row per TOKEN
    // through a per-doc aggregate; this shape shuffles nothing at all
    // (the corpus is scanned once for the fit aggregate and once for
    // scoring — two scans beat caching a tokens-sized relation at 100 TB)
    val mapLit = typedLit(lr)
    df.withColumn("__ts", TextFunctions.tokensLower(col(textCol)))
      .filter(size(col("__ts")) > 0)
      .withColumn("n_tokens", size(col("__ts")).cast("long"))
      .withColumn("dsir_score",
        aggregate(
          transform(col("__ts"), t => element_at(mapLit, bucketOf(t))),
          lit(0.0), (acc, x) => acc + x) / col("n_tokens"))
      .select(col(idCol), col("n_tokens"), col("dsir_score"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "(\\(\\d{3}\\)\\s?|\\d{3}-)\\d{3}-\\d{4}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val UrlRe = "https?://[^\\s]+"

  /** Redact common PII / pollution from text: URLs, then emails, then
    * phone numbers, then IPv4 addresses (order matters — a URL may contain
    * an @ or dotted quad; the patterns are deliberately simple enough to be
    * valid in both Java regex and RE2, so the oracle replays them). */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, UrlRe, "[URL]"),
          EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")

  /** Deterministic PII pseudonymization — the [[redact]] complement for
    * columns that must stay JOINABLE after de-identification (user ids,
    * names, emails as keys): each value maps to a salted-md5 token
    * `t_<16 hex>`, so equal values tokenize equally (joins, groupBys, and
    * dedup still work) while the value itself never leaves the engine.
    * Same token across tables given the same salt + column label; null →
    * null. A pure per-row projection — nothing fitted, shipped, or
    * shuffled, and any SQL engine replays it (crawl-pipeline audits must
    * be re-derivable). The salt is the re-identification barrier: treat
    * it like a key, rotate it to break linkage across releases. For
    * authorized re-identification keep [[pseudonymMap]]'s (token, value)
    * relation under separate access control. */
  def pseudonymize(c: Column, columnLabel: String, salt: String): Column =
    when(c.isNull, lit(null))
      .otherwise(concat(lit("t_"),
        substring(md5(concat(lit(salt), lit(":"), lit(columnLabel),
          lit(":"), c.cast("string")).cast("binary")), 1, 16)))

  /** The (token, value) re-identification relation for one column —
    * bounded by distinct values; store it apart from the released data. */
  def pseudonymMap(
      df: DataFrame, colName: String, salt: String): DataFrame =
    df.select(col(colName).cast("string").as("value")).distinct()
      .filter(col("value").isNotNull)
      .select(pseudonymize(col("value"), colName, salt).as("token"),
        col("value"))

  /** Registrable host of a URL, lowercased: the `scheme://HOST` capture via
    * a regex valid in both Java and RE2 (NOT java.net.URI — its parse
    * failures and case quirks would be impossible for an external engine to
    * replay; crawl-curation decisions must be re-derivable). Strips any
    * `user@` prefix and `:port`; null/non-URL → null. */
  def urlDomain(c: Column): Column = {
    val host =
      regexp_extract(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)",
        1)
    when(host === "", lit(null)).otherwise(lower(host))
  }

  /** Domain blocklist filter — the standard crawl-curation gate (UT1-style
    * blocklists, spam/SEO domains): drop rows whose [[urlDomain]] is a
    * blocked domain OR any subdomain of one (`ads.example.com` matches a
    * blocked `example.com`). Subdomain matching is done by exploding each
    * domain's label SUFFIXES (`a.b.com` → `a.b.com`, `b.com`, `com` — at
    * most a handful per row) and EQUI-joining the blocklist, so both joins
    * stay hash joins (the blocklist broadcasts; a `LIKE`/endsWith theta
    * join would go nested-loop and scan the whole list per row). Hit ids
    * come back through one semi join + one anti join on `idCol`; the
    * corpus text itself never shuffles. Rows with no parseable domain are
    * KEPT (an unparseable URL is a data-quality signal, not a block
    * decision). */
  def domainFilter(
      df: DataFrame, urlCol: String, idCol: String, blocked: DataFrame,
      blockedCol: String): DataFrame = {
    val dom = urlDomain(col(urlCol))
    val b = broadcast(
      blocked.select(lower(col(blockedCol)).as("__blocked")).distinct())
    // all dot-suffixes of the domain: slice(parts, i, n) for i = 1..n
    // (null domain → empty array, or sequence(1, -1) would throw)
    // parts bound once per row (TextFunctions.bindOnce): the split would
    // otherwise re-run per suffix element inside the lambda
    val sufs = when(dom.isNull, array().cast("array<string>"))
      .otherwise(graft.text.TextFunctions.bindOnce(split(dom, "\\."),
        parts => transform(sequence(lit(1), size(parts)),
          i => array_join(slice(parts, i, size(parts)), "."))))
    val hits = df
      .select(col(idCol), explode(sufs).as("__suf"))
      .join(b, col("__suf") === col("__blocked"), "left_semi")
      .select(idCol).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** Canonicalize a URL for dedup / grouping (crawl pipelines key
    * re-fetches and near-dup pages on this): lowercase the scheme and
    * host, strip one leading `www.`, drop the query string and fragment,
    * trim trailing slashes from the path. Rows with no parseable
    * `scheme://host` yield null. Pure per-row regex arithmetic, valid in
    * both Java regex and RE2 (no backreferences), so an external SQL
    * oracle replays it exactly. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme =
      lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host, path))
  }

  /** N-gram diversity per slice — the distinct-n generation-quality /
    * corpus-repetitiveness metric: for each group and each `n`, the
    * total n-gram count, the distinct n-gram count, and their ratio
    * (1.0 = never repeats a phrase, → 0 = heavily templated). One row
    * per (group, n). Tokenization is the repo's portable form
    * (`lower`+`trim`+whitespace split); grams hash to 8-byte keys so
    * the shuffle never carries gram strings. The DEFAULT hash is
    * structural `xxhash64` over the token slice (no string
    * materialization, no md5 — the fast 100-TB path); pass
    * `portableHash = true` for the 60-bit-md5-of-the-gram-string
    * variant the DuckDB oracle replays bit-for-bit (the repo's
    * dual-hash convention — both count the same distinct sets, as the
    * spec asserts).
    *
    * Shape at 100 TB: ONE corpus scan explodes all requested `n` sizes
    * together (per-row flatten of the per-n gram arrays); the finish is
    * one (group, n, hash)-keyed distinct + one (group, n) count — both
    * map-side-combined hash aggregates. Nothing driver-side, no joins;
    * cost scales with token count × |ns|. */
  def ngramDiversity(df: DataFrame, textCol: String, groupCol: String,
      ns: Seq[Int] = Seq(1, 2, 3),
      portableHash: Boolean = false): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 16),
      s"ns in [1,16], got $ns")
    require(ns.distinct == ns, "ns must be distinct")
    // materialize the token array ONCE per row: expressions inside
    // transform/filter lambdas don't CSE with each other, so
    // referencing the raw split there would re-tokenize per gram
    val toks = col("__toks")
    val gramArrays = ns.map { n =>
      // sequence(1, max(size-n+1, 1)) then a bound filter: avoids
      // sequence(1, 0), which Spark would generate DESCENDING
      val starts = filter(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => (i + (n - 1)) <= size(toks))
      transform(starts, i => struct(lit(n).as("n"),
        (if (portableHash)
          graft.functions.GraftFunctions.md5_hash60(
            concat_ws(" ", slice(toks, i, lit(n))))
        else xxhash64(slice(toks, i, lit(n)))).as("h")))
    }
    df.filter(col(textCol).isNotNull)
      .withColumn("__toks",
        graft.text.TextFunctions.tokensLower(col(textCol)))
      .select(col(groupCol), explode(flatten(array(gramArrays: _*)))
        .as("__g"))
      .groupBy(col(groupCol), col("__g.n").as("n"))
      .agg(count(lit(1)).as("total"),
        countDistinct(col("__g.h")).as("n_distinct"))
      .withColumn("ratio",
        round(col("n_distinct").cast("double") / col("total"), 6))
  }
}
