package graft.text

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level relevance scoring for retrieval-style curation (pick the
  * documents most relevant to a topic before mixing them into training
  * data). BM25 (Robertson–Spärck Jones, public formula) over whitespace
  * tokens.
  */
object Ranking {

  /** Corpus-statistical quality score: each document's mean unigram
    * log-probability under the corpus's own unigram distribution — the
    * workable unigram reduction of CCNet-style LM-perplexity filtering
    * (documents full of corpus-typical words score high; token-salad and
    * boilerplate-free gibberish score low). No smoothing needed: scoring
    * the fit corpus means every token has count ≥ 1.
    *
    * Shape at 100 TB: one token explode feeds the vocabulary count
    * (shuffle bounded by vocabulary after map-side combine); the scoring
    * join brings the frequency relation to the token stream (AQE
    * broadcasts typical vocabularies) and one per-doc aggregate finishes.
    * Output: (idCol, n_tokens, avg_logprob). */
  def unigramLogProb(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tk = Materialize.shared(df.select(col(idCol),
      explode(TextFunctions.tokensLower(col(textCol))).as("__t")))
    val freq = tk.groupBy("__t").agg(count(lit(1)).as("__c"))
    val total = tk.count().toDouble
    val result = Materialize.checkpoint(tk.join(freq, "__t")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("__c").cast("double") / lit(total)))
          .as("avg_logprob")))
    Materialize.release(tk)
    result.df
  }

  /** Per-document top-`kTerms` terms by TF-IDF — the classic keyword /
    * topic-signal extraction step before clustering or curation. TF is the
    * raw in-document count, IDF the standard `ln(N / df)` (every term has
    * df ≥ 1 on the fit corpus, so no smoothing is needed).
    *
    * Shape at 100 TB: the token explode pre-combines map-side into the
    * (doc, term) relation; document frequency is a second vocabulary-
    * bounded aggregate over that relation (never a re-scan of the corpus);
    * AQE broadcasts the df relation back onto the doc-term side. The final
    * top-k window partitions by DOCUMENT — per-partition state is bounded
    * by a single doc's distinct terms, so there is no hot-group risk (the
    * reason topKPerGroup's heap aggregate isn't needed here). Ranking
    * orders by round(tfidf, 6) then term, so ties — and the last-ulp ln()
    * differences between engines — never reorder (the oracle replays the
    * ranking exactly). Output: (idCol, term, tf, tfidf, rank). */
  def tfidfTopTerms(
      df: DataFrame, textCol: String, idCol: String,
      kTerms: Int): DataFrame = {
    require(kTerms >= 1, "need kTerms >= 1")
    val nDocs = df.count().toDouble
    val tf = Materialize.shared(df.select(col(idCol),
        explode(TextFunctions.tokensLower(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(round(col("tfidf"), 6).desc, col("__t").asc)
    val result = Materialize.checkpoint(tf.join(dfreq, "__t")
      .withColumn("tfidf", col("tf") * log(lit(nDocs) / col("__df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTerms)
      .select(col(idCol), col("__t").as("term"), col("tf"),
        col("tfidf"), col("rank")))
    Materialize.release(tf)
    result.df
  }

  /** Bigram upgrade of [[unigramLogProb]]: each document's mean bigram
    * log-probability `ln P(w2 | w1)` under the corpus's own bigram
    * distribution, with `P(w2|w1) = c(w1 w2) / c(w1 ·)` (the prefix count
    * is the sum of bigram counts starting at `w1`, so probabilities per
    * prefix sum to exactly 1 and no end-of-document token is needed).
    * One step closer to CCNet's LM-perplexity filter than the unigram
    * form: token-salad with plausible words but implausible ORDER now
    * scores low. Documents with fewer than 2 tokens emit no bigrams and
    * are absent from the output.
    *
    * Shape at 100 TB: one bigram explode feeds the bigram-count aggregate
    * (map-side combined, bounded by bigram vocabulary); the prefix count
    * is a window over the bigram-TYPE relation (vocabulary-bounded — a hot
    * prefix like "the" groups its successor types, not its token stream);
    * the scoring join + per-doc aggregate mirror the unigram plan.
    * Output: (idCol, n_bigrams, avg_logprob). */
  def bigramLogProb(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // the token array must be a MATERIALIZED column before the pairing
    // lambda touches it: a lambda body referencing the raw split(...)
    // expression re-evaluates the whole split per ELEMENT (O(tokens²)
    // string work per doc — measured 4× on the full-corpus bench);
    // zip_with over two slices of the materialized array is O(tokens)
    val ts = col("__ts")
    val bg = Materialize.shared(df
      .select(col(idCol), TextFunctions.tokensLower(col(textCol)).as("__ts"))
      .select(col(idCol),
        explode(when(size(ts) >= 2,
          zip_with(
            slice(ts, lit(1), size(ts) - 1),
            slice(ts, lit(2), size(ts) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2")))
    val freq = bg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
    val probs = freq.withColumn("__c1",
      sum(col("__c12")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("__w1")))
    val result = Materialize.checkpoint(bg.join(probs, Seq("__w1", "__w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log(col("__c12") / col("__c1"))).as("avg_logprob")))
    Materialize.release(bg)
    result.df
  }

  /** Corpus-wide PMI collocation mining: the top-`topK` adjacent token
    * pairs by pointwise mutual information
    * `ln(c(w1 w2) · N / (c(w1) · c(w2)))` (single-N convention, N = total
    * tokens), restricted to pairs seen at least `minCount` times — the
    * standard multi-word-expression detector (Church & Hanks 1990) used
    * to decide tokenizer merges and stop-phrase lists. Ranking orders by
    * `round(pmi, 6)` then the pair, so cross-engine ln() ulps never
    * reorder the cut.
    *
    * Shape at 100 TB: ONE materialized token-array projection feeds both
    * the unigram aggregate and the bigram (zip_with slices) aggregate —
    * both shuffle vocabulary-bounded partials after map-side combine; the
    * PMI join runs on the bigram-TYPE relation (never the token stream,
    * AQE broadcasts the unigram side), and the final cut is a
    * TakeOrderedAndProject (per-partition heaps), not a global sort. */
  def collocations(
      df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1, "need minCount >= 1")
    require(topK >= 1, "need topK >= 1")
    val ts = col("__ts")
    val arrs = Materialize.shared(df
      .select(filter(TextFunctions.tokensLower(col(textCol)),
        t => t =!= "").as("__ts")))
    val uni = arrs.select(explode(ts).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    val big = arrs
      .select(explode(when(size(ts) >= 2, zip_with(
        slice(ts, lit(1), size(ts) - 1),
        slice(ts, lit(2), size(ts) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    val n = arrs.select(sum(size(ts))).head().getLong(0).toDouble
    val result = Materialize.checkpoint(big
      .join(uni.select(col("__t").as("w1"), col("__c").as("__c1")), "w1")
      .join(uni.select(col("__t").as("w2"), col("__c").as("__c2")), "w2")
      .select(col("w1"), col("w2"), col("pair_cnt"),
        round(log(col("pair_cnt") * lit(n) /
          (col("__c1") * col("__c2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK))
    Materialize.release(arrs)
    result.df
  }

  /** Which tokens most distinguish corpus A from corpus B: per-token
    * contribution `p_A(t) · ln(p_A(t) / p_B(t))` to KL(A‖B) under
    * add-one smoothing over the UNION vocabulary
    * (`p(t) = (c(t)+1) / (N+V)` — every token has mass in both corpora,
    * so the ratio is always finite). Top-`topK` by contribution: the
    * drift/contamination diagnostic you run between a new crawl slice
    * and the corpus it is about to join (and the per-token form of the
    * DSIR importance ratio, [[graft.text.Corpus.dsirScore]]). Summing
    * `kl_term` over the FULL table (topK = vocabulary size) gives the
    * total KL divergence.
    *
    * Shape at 100 TB: one vocabulary-bounded count aggregate per corpus,
    * a full-outer join of the two count relations (vocabulary-sized),
    * one scalar aggregate for (N_A, N_B, V), and a TakeOrderedAndProject
    * cut — the corpora are each scanned once and never joined
    * row-to-row. */
  def divergingTerms(
      dfA: DataFrame, dfB: DataFrame, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "need topK >= 1")
    def counts(df: DataFrame, out: String) = df
      .select(explode(TextFunctions.tokensLower(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as(out))
    val joined = Materialize.shared(counts(dfA, "cnt_a")
      .join(counts(dfB, "cnt_b"), Seq("token"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b")))
    val row = joined
      .agg(sum("cnt_a"), sum("cnt_b"), count(lit(1))).head()
    val denA = lit(row.getLong(0).toDouble + row.getLong(2))
    val denB = lit(row.getLong(1).toDouble + row.getLong(2))
    val pa = (col("cnt_a") + lit(1.0)) / denA
    val pb = (col("cnt_b") + lit(1.0)) / denB
    val result = Materialize.checkpoint(joined
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        round(pa * log(pa / pb), 9).as("kl_term"))
      .orderBy(col("kl_term").desc, col("token"))
      .limit(topK))
    Materialize.release(joined)
    result.df
  }

  /** BM25 score of every document against a fixed bag of query `terms`.
    *
    * One aggregate pass collects the corpus statistics (N, average doc
    * length, per-term document frequency — all driver-side constants
    * afterwards, like a fitted encoder); the scoring pass is then a pure
    * per-row expression (term frequency via array filters over the token
    * array), so the corpus is scanned exactly twice and never shuffled.
    * IDF uses the standard `ln(1 + (N − df + 0.5)/(df + 0.5))` form
    * (always ≥ 0). Output: input columns + `out` (double). */
  def bm25(
      df: DataFrame, textCol: String, idCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, out: String = "bm25"): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(!df.columns.contains("__toks"), "__toks is reserved by bm25")
    val toks = TextFunctions.tokensLower(col(textCol))
    // the scoring expressions read the ONE materialized token array
    val dl = size(col("__toks")).cast("double")

    val statAggs =
      Seq(count(lit(1)), avg(size(toks))) ++
        terms.map(t => sum(when(array_contains(toks, t), 1L).otherwise(0L)))
    val row = df.agg(statAggs.head, statAggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    // sums/avg over ZERO rows are null — guard each (count alone is 0)
    val avgdl = Option(row.get(1)).fold(0.0)(_.asInstanceOf[Double])
    val dfs = terms.indices.map(i =>
      Option(row.get(2 + i)).fold(0.0)(_.asInstanceOf[Long].toDouble))

    val score = terms.zip(dfs).map { case (t, dft) =>
      val idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      lit(idf) * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)

    // token array materialized once; each term's tf reads it
    df.withColumn("__toks", toks)
      .withColumn(out, if (avgdl == 0.0) lit(0.0) else score)
      .drop("__toks")
  }

  /** Per-document Shannon entropy of the token distribution (nats) — the
    * lexical-diversity quality signal between type-token ratio (too
    * coarse: ignores the shape of the distribution) and an LM score (too
    * heavy: needs a fitted model). Low entropy flags keyword-stuffed and
    * template/boilerplate pages; `entropy / ln(n_types)` (when
    * `n_types > 1`) is the usual normalized variant — left to the caller
    * so the raw value stays exact.
    *
    * Uses the identity `H = ln(n) − (Σ c·ln c)/n` over per-doc token
    * counts `c`, so the per-type probabilities are never materialized and
    * no join-back or window is needed. Documents with no non-empty tokens
    * are absent from the output (they have no distribution to measure).
    *
    * Shape at 100 TB: the token explode pre-combines map-side into the
    * (doc, token) count relation — shuffle bounded by distinct (doc,
    * token) pairs, not raw tokens; the per-doc finish is a second
    * map-side-combined aggregate over that relation keyed by doc id. Two
    * exchanges, no window, no driver state. `entropy` is
    * aggregate-derived (ln + float sum) — round it (6 dp) at the query
    * layer per the repo's cross-engine float discipline.
    * Output: (idCol, n_tokens, n_types, entropy). */
  def tokenEntropy(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
        explode(TextFunctions.tokensLower(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val n = sum(col("__c"))
    counts
      .groupBy(col(idCol))
      .agg(
        n.as("n_tokens"),
        count(lit(1)).as("n_types"),
        (log(n.cast("double")) -
          sum(col("__c").cast("double") * log(col("__c").cast("double"))) /
            n.cast("double")).as("entropy"))
  }

  /** Jensen–Shannon divergence (nats) between the unigram distributions
    * of two corpora — the standard bounded, symmetric corpus-drift
    * scalar (0 = identical mix, ln 2 = disjoint): compare a new crawl
    * snapshot against the training mix, or one source/language slice
    * against another, before deciding whether to refresh. Add-one
    * smoothing over the UNION vocabulary (the [[divergingTerms]]
    * contract) keeps every `ln` finite while preserving symmetry.
    *
    * Shape at 100 TB: each side is one vocabulary-bounded token count
    * (map-side combined), the only join is vocabulary × vocabulary
    * (full-outer on the term key), and the finish is a one-row aggregate
    * — the corpus is scanned exactly once per side and never shuffled at
    * token scale. `jsd` is aggregate-derived — round it (6 dp) at the
    * query layer. Output: ONE row (n_terms, tokens_a, tokens_b, jsd). */
  def jsDivergence(
      dfA: DataFrame, dfB: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, out: String) = df
      .select(explode(TextFunctions.tokensLower(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("__t").agg(count(lit(1)).as(out))
    // vocabulary-bounded; materialized ONCE — totals and the finish both
    // read the checkpoint, so each corpus is scanned exactly once (the
    // divergingTerms sharing discipline)
    val joined = counts(dfA, "__ca")
      .join(counts(dfB, "__cb"), Seq("__t"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .localCheckpoint(true)
    def kl(p: Column, m: Column): Column = p * log(p / m)
    // smoothed denominators depend on totals over the SAME joined
    // relation — window-free: carry them as one-row broadcast scalars
    val totals = joined.agg(
      sum("__ca").as("__ta"), sum("__cb").as("__tb"),
      count(lit(1)).as("__v"))
    joined
      .crossJoin(broadcast(totals))
      .select(
        ((col("__ca") + lit(1.0)) /
          (col("__ta").cast("double") + col("__v"))).as("__pa"),
        ((col("__cb") + lit(1.0)) /
          (col("__tb").cast("double") + col("__v"))).as("__pb"),
        col("__ta"), col("__tb"), col("__v"))
      .withColumn("__m", (col("__pa") + col("__pb")) / lit(2.0))
      .agg(
        max(col("__v")).as("n_terms"),
        max(col("__ta")).as("tokens_a"),
        max(col("__tb")).as("tokens_b"),
        ((sum(kl(col("__pa"), col("__m"))) +
          sum(kl(col("__pb"), col("__m")))) / lit(2.0)).as("jsd"))
  }

  /** Per-doc trigram stream (idCol, w1, w2, w3) with the materialized
    * token array (the [[bigramLogProb]] O(tokens) zip_with discipline —
    * a lambda over the raw split() re-evaluates it per element). */
  private def trigramStream(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val ts = col("__ts")
    df.select(col(idCol),
        TextFunctions.tokensLower(col(textCol)).as("__ts"))
      .select(col(idCol),
        explode(when(size(ts) >= 3,
          zip_with(
            zip_with(
              slice(ts, lit(1), size(ts) - 2),
              slice(ts, lit(2), size(ts) - 2),
              (a, b) => struct(a.as("w1"), b.as("w2"))),
            slice(ts, lit(3), size(ts) - 2),
            (p, c) => struct(p.getField("w1").as("w1"),
              p.getField("w2").as("w2"), c.as("w3"))))).as("__tg"))
      .select(col(idCol), col("__tg.w1").as("__w1"),
        col("__tg.w2").as("__w2"), col("__tg.w3").as("__w3"))
  }

  /** Trigram language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007 — the scheme built for distributed counts: no discounting
    * state, just raw count ratios and a fixed backoff factor), the
    * 3-gram extension of [[bigramLogProb]] that can score text the
    * model has never seen:
    *
    *   S(w3|w1w2) = c3/c2(w1w2)            if the trigram was seen
    *              = α·c2(w2w3)/c1(w2)      else if the bigram was seen
    *              = α²·c1(w3)/N            else if the unigram was seen
    *              = α²·0.5/N               else (unseen-token floor)
    *
    * Counts come from `train`'s own n-gram streams; `df` is scored
    * per-doc as (idCol, n_trigrams, avg_logscore) — avg of ln S over
    * the doc's trigrams, rounded 6 dp (the bigramLogProb contract).
    * Docs with < 3 tokens are absent.
    *
    * 100-TB shape: three grouped counts over the TRAIN corpus (each one
    * shuffle, map-side combined, bounded by its n-gram vocabulary),
    * then the score stream left-joins those vocabulary-bounded
    * relations on gram keys — every join is an equi-join Catalyst is
    * free to broadcast when a count relation is small; the scored
    * corpus is never sorted and never self-joined. */
  def stupidBackoffScore(train: DataFrame, df: DataFrame, textCol: String,
      idCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val tg3 = Materialize.shared(trigramStream(train, textCol, idCol))
    val c3 = tg3.groupBy("__w1", "__w2", "__w3")
      .agg(count(lit(1)).as("__c3"))
    val ts = col("__ts")
    val bg = Materialize.shared(train
      .select(TextFunctions.tokensLower(col(textCol)).as("__ts"))
      .select(explode(when(size(ts) >= 2,
        zip_with(
          slice(ts, lit(1), size(ts) - 1),
          slice(ts, lit(2), size(ts) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))).as("__bg"))
      .select(col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2")))
    val c2 = bg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c2"))
    val uni = Materialize.shared(train
      .select(explode(TextFunctions.tokensLower(col(textCol))).as("__w")))
    val c1 = uni.groupBy("__w").agg(count(lit(1)).as("__c1"))
    val n = uni.agg(count(lit(1)).as("__nt"))

    val scoreTg = trigramStream(df, textCol, idCol)
    val a1 = lit(alpha)
    val a2 = lit(alpha * alpha)
    val s = when(col("__c3").isNotNull,
        col("__c3") / col("__c2p"))
      .when(col("__c2b").isNotNull,
        a1 * col("__c2b") / col("__c1b"))
      .when(col("__c1w").isNotNull,
        a2 * col("__c1w") / col("__nt"))
      .otherwise(a2 * lit(0.5) / col("__nt"))
    val result = Materialize.checkpoint(scoreTg
      .join(c3, Seq("__w1", "__w2", "__w3"), "left")
      .join(c2.withColumnRenamed("__c2", "__c2p"),
        Seq("__w1", "__w2"), "left")
      .join(c2.select(col("__w1").as("__w2"), col("__w2").as("__w3"),
        col("__c2").as("__c2b")), Seq("__w2", "__w3"), "left")
      .join(c1.select(col("__w").as("__w2"), col("__c1").as("__c1b")),
        Seq("__w2"), "left")
      .join(c1.select(col("__w").as("__w3"), col("__c1").as("__c1w")),
        Seq("__w3"), "left")
      .crossJoin(broadcast(n))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log(s)), 6).as("avg_logscore")))
    Materialize.release(tg3, bg, uni)
    result.df
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-retrieval combiner: given S candidate lists over
    * the same id space (lexical BM25, embedding ANN, recency…), each a
    * relation of `queryCols ++ (idCol, rankCol)` with 1-based ranks,
    * score every id `Σ_s 1/(kk + rank_s)` (absent-from-list terms
    * contribute 0) and re-rank by `(rrf_score DESC, id ASC)`. RRF fuses
    * INCOMMENSURABLE scores by using only ranks — no per-source score
    * normalization to tune or drift — which is why it's the default
    * fusion in hybrid search stacks. Output: the input key columns,
    * one `rank_<i>` per source (null where absent), `rrf_score`,
    * `fused_rank`.
    *
    * Determinism: ranks are integers, each term is one IEEE division,
    * and the sum folds in DECLARED source order (a fixed expression,
    * not a free-order aggregate), so scores replay bit-for-bit in any
    * engine; the re-rank breaks score ties by id. `rrf_score` is pure
    * per-row arithmetic and deliberately NOT rounded (the repo's float
    * discipline: rounding per-row exact values introduces mismatches).
    *
    * Shape at 100 TB: inputs are top-k lists by contract (rank them
    * with `orderBy().limit(k)` — a bounded TakeOrdered heap — never a
    * global window over the corpus), so the full-outer join chain and
    * the per-query re-rank window touch ≤ S·k rows per query. */
  def rrfFuse(rankings: Seq[DataFrame], queryCols: Seq[String],
      idCol: String, rankCol: String = "rank", kk: Int = 60): DataFrame = {
    require(rankings.size >= 2, "need at least two rankings to fuse")
    require(kk >= 1, s"need kk >= 1, got $kk")
    val keyCols = queryCols :+ idCol
    val prepared = rankings.zipWithIndex.map { case (df, i) =>
      df.select((keyCols.map(col) :+
        col(rankCol).cast("long").as(s"rank_$i")): _*)
        .filter(col(s"rank_$i") >= 1L)
    }
    val joined = prepared.reduce((a, b) => a.join(b, keyCols, "full_outer"))
    val score = prepared.indices
      .map(i => coalesce(lit(1.0) / (lit(kk) + col(s"rank_$i")), lit(0.0)))
      .reduce(_ + _)
    val w =
      if (queryCols.isEmpty)
        // bounded: the fused relation is the union of the input top-k
        // lists (≤ S·k rows by the contract above)
        graft.util.BoundedWindow.global(col("rrf_score").desc, col(idCol))
      else org.apache.spark.sql.expressions.Window
        .partitionBy(queryCols.map(col): _*)
        .orderBy(col("rrf_score").desc, col(idCol))
    joined.withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(w).cast("long"))
  }
}
