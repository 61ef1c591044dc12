package graft.ops

import graft.util.Materialize.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operator library — the reusable transforms behind
  * the dedup, text-quality and token-budget queries and the
  * `graft.CorpusPipeline` chain. Every function takes and returns plain
  * DataFrames carrying at least (doc_id, text); nothing here assumes a row
  * count, and every join/aggregate keys on doc_id, a hash, or a band key
  * (see DESIGN.md §2 for the per-operator scale arguments).
  *
  * Caching: reuse points go through the util.Materialize gate —
  * localCheckpoint by default (bounded plans, blocks reclaimed with the
  * frame), switchable to persist / reliable checkpoint for clusters with
  * executor churn (see Materialize's scaladoc for the trade-offs).
  */
object Corpus {

  /** Exact-duplicate keeper filter: one representative (min doc_id) per
    * distinct text. Linear: hash → groupBy → semi-join. With
    * `normalized = true` the identity is the case/punctuation/whitespace-
    * normalized hash (TextOps.normalizeText) — catches re-encoded copies
    * byte-exact dedup misses; same cost shape. */
  /** C4-style within-document cleanup: drop every line after its first
    * occurrence (order-preserving, the q_text_dedup_lines identity) and
    * recompute n_chars. Map-only; the identity on single-line documents.
    * Runs BEFORE corpus-level dedup so two documents differing only in
    * how often they repeat a boilerplate line collapse together. */
  def dedupLines(docs: DataFrame): DataFrame =
    docs.withColumn("text", array_join(array_distinct(split(col("text"), "\n")), "\n"))
      .withColumn("n_chars", length(col("text")))

  /** PII redaction pass (the q_text_pii identity, TextOps.piiRedact):
    * returns the redacted frame plus the number of documents whose text
    * changed. Two map-only scans (one aggregate for the count, one for
    * the downstream write) — no shuffle, no materialization; null text
    * passes through unchanged and uncounted. */
  def redactPii(docs: DataFrame): (DataFrame, Long) = {
    val red = docs.withColumn("_red", TextOps.piiRedact(col("text")))
    val changed = red.filter(col("_red") =!= col("text")).count()
    val out = red.withColumn("text", col("_red")).drop("_red")
      .withColumn("n_chars", length(col("text")))
    (out, changed)
  }

  def exactDedup(docs: DataFrame, normalized: Boolean = false): DataFrame = {
    val id = if (normalized) TextOps.normalizeText(col("text")) else col("text")
    val keepers = docs
      .groupBy(TextOps.contentHash(id).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  /** Per-document token Shannon entropy in nats (q_text_entropy is a
    * straight select over this): H = pln(dl) − (Σ tf·pln tf)/dl. Portable
    * log (util.Portable) + binary-grid integer sum and final-score pin
    * (util.Exact.portableSum/pinScore) — the sum is associative
    * (partition-order-free) AND involves no engine decimal cast, so the
    * published score is bit-stable across engines, partitionings, and
    * oracle-engine versions (see Exact's PinGrid scaladoc for why the
    * earlier decimal-sum form drifted on transcendental addends). */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = TextOps.explodeTokens(docs).groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val perDoc = graft.util.Portable.pln(tf, col("tf").cast("double"), "lntf")
      .groupBy("doc_id")
      .agg(graft.util.Exact.portableSum(col("tf").cast("double") * col("lntf")).as("s"),
        sum("tf").as("dl"))
    graft.util.Portable.pln(perDoc, col("dl").cast("double"), "lndl")
      .select(col("doc_id"), col("dl"),
        graft.util.Exact.pinScore(col("lndl") - (col("s") / col("dl").cast("double")))
          .as("entropy"))
  }

  /** Connected-component labels over the MinHash-LSH candidate graph:
    * (doc_id, cluster) for every document that appears in at least one
    * candidate pair; cluster = min doc_id of the component.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14) — round
    * count is O(log n) in practice regardless of component DIAMETER,
    * where plain min-label propagation needs O(diameter) rounds. Long
    * duplicate chains (mirror families, boilerplate drift) are exactly
    * the components a 100 TB corpus has, so diameter-bound rounds are
    * the scale risk; star-contraction collapses them geometrically.
    * Each phase is one window min over one exchange on the node key;
    * per-round localCheckpoint keeps the plan bounded (DESIGN.md §2).
    *
    * Convergence = the edge set is a star forest, tested per node with
    * one hash aggregate over the symmetric edges: every node is a root
    * (all neighbors larger) or a leaf (exactly one neighbor, smaller).
    * Exact: a leaf's one neighbor is smaller, so it is no leaf, hence a
    * root; every edge thus joins a leaf to a root, and each component is
    * one star whose root is its min — a fixpoint of both phases and the
    * shape the final labeling reads. */
  def clusterLabels(docs: DataFrame): DataFrame = {
    val pairs = TextOps.minhashPairs(docs)
    componentLabels(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .select(col("node").as("doc_id"), col("cluster"))
  }

  /** Round bound of the star contraction, which needs O(log n) rounds. */
  private val MaxRounds = 32

  /** Generic star-contraction connected components over an arbitrary
    * undirected edge list (columns `src`, `dst`, any orientation, self
    * loops ignored): (node, cluster) for every node that appears in at
    * least one edge; cluster = min node id of the component. The
    * algorithm, convergence rule, and round bound are [[clusterLabels]]'s
    * (which delegates here); DBSCAN's core-graph clustering reuses this
    * directly. */
  def componentLabels(edges: DataFrame): DataFrame = {
    // every leaf is one src pointing at its root; roots label themselves
    val e = starForest(edges)._1
    e.select(col("src").as("node"), col("dst").as("cluster"))
      .union(e.select(col("dst")).distinct()
        .select(col("dst").as("node"), col("dst").as("cluster")))
  }

  /** The converged star forest of `edges` (leaf `src` → root `dst`, root =
    * component min) and the number of rounds it took. */
  private[graft] def starForest(edges: DataFrame): (DataFrame, Int) = {
    // star edges as a set, oriented larger → smaller (src > dst always).
    // Checkpoints are lazy, but under AQE the call still runs every
    // shuffle-map stage of the round; only the result stage waits for the
    // star test's job.
    var e = edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().materialized(eager = false)
    def sym(df: DataFrame) = df.union(df.select(col("dst").as("src"), col("src").as("dst")))
    // a node with a smaller neighbor and more than one neighbor is neither
    // a root nor a leaf
    def isStarForest(df: DataFrame) = sym(df).groupBy("src")
      .agg(min("dst").as("mn"), count(lit(1)).as("n"))
      .filter(col("mn") < col("src") && col("n") > 1)
      .isEmpty
    val byNode = Window.partitionBy("src")
    var rounds = 0
    while (!isStarForest(e)) {
      if (rounds == MaxRounds)
        throw new IllegalStateException(
          s"componentLabels did not converge in $MaxRounds rounds — the star " +
            "contraction should need O(log n); raise MaxRounds (labels would " +
            "be wrong)")
      // large-star: every node u re-links its LARGER neighbors v to
      // m = min(N(u) ∪ {u}); output stays larger → smaller (v > u ≥ m).
      val large = sym(e)
        .withColumn("m", least(col("src"), min("dst").over(byNode)))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // small-star: every node u re-links its (all smaller) neighbors v and
      // itself to m = min(N(u)); orientation again preserved (v ≥ m).
      e = large.withColumn("m", min("dst").over(byNode))
        .select(inline(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src"), col("m").as("dst")))))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .materialized(eager = false)
      rounds += 1
    }
    (e, rounds)
  }

  /** Near-duplicate keeper filter: keep every unclustered document plus
    * the best member (longest text, doc_id tiebreak) of each duplicate
    * cluster. */
  def nearDupDedup(docs: DataFrame): DataFrame = {
    val labeled = clusterLabels(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = Window.partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
    val dropIds = labeled
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id")
      .materialized()
    docs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Gopher-style repetition signals per document — the full report
    * (q_text_repetition is a straight select over this): (doc_id,
    * n_tokens, n_distinct, dup_token_frac, top_bigram_frac,
    * dup_bigram_frac). Integer counts, one division per fraction. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val ts = TextOps.explodeTokens(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("word").as("n_distinct"))
    val bgs = TextOps.bigrams(docs).groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_bigrams"), max("c").as("top_bigram_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("long").as("dup_bigram_n"))
    ts.join(bgs, "doc_id").select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
        .as("dup_token_frac"),
      (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
      (col("dup_bigram_n").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
  }

  /** Quality gate: drop documents whose repetition signals exceed the
    * thresholds — and, when `minEntropy` is set, whose token entropy
    * falls below it (template/spam floor). Returns (kept, removedCount);
    * the flagged id set is checkpointed so the signal subtrees run once,
    * not once per consumer. */
  def qualityFilter(docs: DataFrame, maxDupTokenFrac: Double,
      maxTopBigramFrac: Double, minEntropy: Option[Double] = None): (DataFrame, Long) = {
    val repBad = repetitionSignals(docs)
      .filter(col("dup_token_frac") > maxDupTokenFrac
        || col("top_bigram_frac") > maxTopBigramFrac)
      .select("doc_id")
    val bad = minEntropy.fold(repBad) { h =>
      repBad.union(tokenEntropy(docs).filter(col("entropy") < h).select("doc_id"))
        .distinct()
    }.materialized()
    val kept = docs.join(bad, Seq("doc_id"), "left_anti")
    (kept, bad.count())
  }

  /** Contamination report per training document (q_contamination is a
    * straight select over this): distinct-3-shingle overlap with the
    * benchmark source's shingle set. The benchmark side stays a shuffled
    * equi-join on the shingle key — never forced broadcast. */
  def contaminationScan(docs: DataFrame, benchSource: String,
      flagFrac: Double): DataFrame = {
    // r13 layout: split bench/train BEFORE shingling — source is a column
    // of docs, so the pre-split replaces the former post-distinct doc_id
    // join entirely, and the bench side's distinct runs on `shingle`
    // alone instead of riding through the (doc_id, shingle) distinct
    // first. Semantics unchanged (source is functionally dependent on
    // doc_id), one whole join and one re-distinct cheaper.
    val bench = TextOps.shingles3(docs.filter(col("source") === benchSource))
      .select("shingle").distinct()
    val train = TextOps.shingles3(docs.filter(col("source") =!= benchSource))
      .distinct()
      // feeds the size aggregate AND the overlap join; localCheckpoint so
      // the blocks free with the result frame (cache hygiene, r4)
      .materialized()
    val st = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // hash-PREFIXED sort-merge keys (r13): joining on (xxhash64(shingle),
    // shingle) leaves the result identical — the hash is a function of
    // the string, so the pair key matches iff the string key matches —
    // but the SMJ's sort now resolves almost every comparison on an
    // 8-byte long instead of a ~25-byte UTF8 compare. Engine-internal
    // only: nothing hash-derived is published, so oracle parity is
    // untouched. (This is the classic join-key surrogate trick; at 100 TB
    // the saving is the sort CPU of both shuffle sides.)
    val ov = train.withColumn("h", xxhash64(col("shingle")))
      .join(bench.withColumn("h", xxhash64(col("shingle"))),
        Seq("h", "shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    val frac = coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_shingles")
    st.join(ov, Seq("doc_id"), "left").select(col("doc_id"), col("n_shingles"),
      coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
      frac.as("contam_frac"), (frac >= flagFrac).as("flagged"))
  }

  /** Contamination gate for a TRAINING corpus: drops the benchmark
    * source's documents entirely (they are eval data — training on them
    * is the failure the gate exists to prevent) and drops training
    * documents whose overlap fraction exceeds `maxFrac`. Returns
    * (kept, flaggedTrainingDocs). */
  def contaminationFilter(docs: DataFrame, benchSource: String,
      maxFrac: Double): (DataFrame, Long) = {
    val flagged = contaminationScan(docs, benchSource, flagFrac = maxFrac)
      .filter(col("flagged"))
      .select("doc_id")
      .materialized()
    val kept = docs.filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left_anti")
    (kept, flagged.count())
  }

  /** Token-budget curation: per language, keep the largest documents while
    * the running whitespace-token total stays within `budget` (ordered
    * ws_tokens desc, doc_id asc).
    *
    * Scale layout (r4): the naive plan — a running sum over
    * `Window.partitionBy(lang)` — serializes each language's ENTIRE corpus
    * through one task (~5 languages ⇒ the 'en' partition is one task
    * sorting tens of TB). Instead:
    *   1. histogram: one row per (lang, ws_tokens) value-run with its run
    *      count — a distributed hash aggregate;
    *   2. prefix over the histogram (window over per-lang DISTINCT token
    *      counts — bounded by the value domain, not corpus size) gives
    *      each run's tokens-before-this-run;
    *   3. runs whose prefix already exceeds the budget are dropped with a
    *      run-level filter, so only budget-reachable rows re-join (AQE
    *      broadcasts the run frame when small);
    *   4. within a run all rows carry the same token count, so the exact
    *      running total is `before + ws_tokens * row_number` over
    *      `partitionBy(lang, ws_tokens)` — a fine-grained key whose
    *      partitions are single value-runs of the kept prefix, never a
    *      whole language.
    * Bit-identical to the single-sort form: integer arithmetic only, same
    * (ws_tokens desc, doc_id) order, one value-run of over-scan at most. */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    // ws_tokens stays NULLABLE in the output (the window form's
    // len(split(NULL)) is NULL); the COALESCED `_wsc` is used only for the
    // run key and budget arithmetic — window-sum semantics: a null addend
    // spends no budget, so a null-text row's running total is the sum of
    // the (nulls-last-ordered) real rows before it, and a language whose
    // EVERY text is null has a NULL running sum and drops entirely.
    // The run join keys on `_wsc` (not ws_tokens) because Spark/SQL
    // equi-joins are null-unsafe and would silently drop the null run;
    // real token counts are ≥ 1 (split of any non-null string is
    // non-empty), so _wsc = 0 identifies the null run exactly.
    // size() of a null array is -1 under legacy sizeOfNull (ANSI off) —
    // guard explicitly so null text yields NULL tokens like the SQL form
    val tok = docs
      .withColumn("ws_tokens", when(col("text").isNotNull,
        size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("_wsc", coalesce(col("ws_tokens"), lit(0L)))
    val wRun = Window.partitionBy("lang").orderBy(col("_wsc").desc)
    val runs = tok.groupBy("lang", "_wsc").agg(count(lit(1)).as("_rc"))
      .withColumn("_before",
        sum(col("_rc") * col("_wsc")).over(wRun) - col("_rc") * col("_wsc"))
      .withColumn("_nreal",
        sum(when(col("_wsc") > 0, col("_rc")).otherwise(0L))
          .over(Window.partitionBy("lang")))
      .filter(col("_before") <= budget)
      .select("lang", "_wsc", "_before", "_nreal")
    val wIn = Window.partitionBy("lang", "_wsc").orderBy("doc_id")
    tok.join(runs, Seq("lang", "_wsc"))
      .withColumn("cum_tokens",
        when(col("ws_tokens").isNotNull,
          col("_before") + col("ws_tokens") * row_number().over(wIn))
          .otherwise(when(col("_nreal") > 0, col("_before"))).cast("long"))
      .filter(col("cum_tokens") <= budget)
      .drop("_before", "_nreal", "_wsc")
  }

  /** Token-budget curation ordered by a CONTINUOUS quality metric
    * (r4 task #5 / r6): per language, keep the best-scoring documents —
    * `metric` desc (nulls last), doc_id tiebreak — while the running
    * whitespace-token total stays within `budget`.
    *
    * The `tokenBudget` run-histogram degenerates here: a double-valued
    * score makes every "run" a singleton, so its histogram would be
    * data-sized and the within-run window a no-op — the plan would slide
    * back toward a per-language sort. Instead the runs become
    * order-preserving IEEE bit-prefix BUCKETS of the (negated) metric —
    * the exactNtile machinery (ops.Quantiles): monotone in metric-desc by
    * construction, no min/max pre-pass, ~2^(52-shift) buckets per binade.
    *   1. histogram per (lang, bucket): row count + token sum — a hash
    *      aggregate, output buckets-sized;
    *   2. prefix over the histogram gives each bucket's tokens-before;
    *   3. buckets already past the budget drop with a bucket-level
    *      filter — only budget-reachable rows re-join (AQE broadcast);
    *   4. the exact running total is `before + running token sum` over
    *      `partitionBy(lang, bucket) orderBy(metric desc, doc_id)` — a
    *      window over ONE bucket's rows, never a whole language.
    * Bit-identical to the single-sort form: bucket order is metric-desc
    * order, score ties share a bucket and resolve by the same (metric
    * desc, doc_id) ordering inside it, and token sums are exact longs.
    * No driver action anywhere. Contract: metric is a non-NaN double
    * (NaN has no defined desc position here); null metrics order last
    * and spend nothing, like null text in `tokenBudget`. */
  def tokenBudgetBy(docs: DataFrame, metric: String, budget: Long,
      buckets: Int = 4096): DataFrame = {
    val shift = 52 - (64 - java.lang.Long.numberOfLeadingZeros(math.max(buckets - 1, 1)))
    // negate so bucket ASC = metric DESC; +0.0 normalizes -0.0
    val nb = expr(s"double_bits((0.0D - cast(`$metric` as double)) + 0.0D)")
    val sortable = when(nb < 0, nb.bitwiseXOR(lit(Long.MaxValue))).otherwise(nb)
    val bucket = coalesce(shiftright(sortable, shift), lit(Long.MaxValue))
    val tok = docs
      .withColumn("ws_tokens", when(col("text").isNotNull,
        size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("_wsc", coalesce(col("ws_tokens"), lit(0L)))
      .withColumn("_bkt", bucket)
    val wBkt = Window.partitionBy("lang").orderBy("_bkt")
    val runs = tok.groupBy("lang", "_bkt").agg(sum(col("_wsc")).as("_w"),
        sum(when(col("ws_tokens").isNotNull, 1L).otherwise(0L)).as("_rcr"))
      .withColumn("_before", sum(col("_w")).over(wBkt) - col("_w"))
      .withColumn("_nrb", sum(col("_rcr")).over(wBkt) - col("_rcr"))
      .filter(col("_before") <= budget)
      .select("lang", "_bkt", "_before", "_nrb")
    val wIn = Window.partitionBy("lang", "_bkt")
      .orderBy(col(metric).desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cum is NULL exactly when the whole prefix has null text (the window
    // form's sum() of an all-null prefix) — such rows fail the budget
    // predicate, like tokenBudget's all-null language
    tok.join(runs, Seq("lang", "_bkt"))
      .withColumn("cum_tokens",
        when(col("_nrb") + count(col("ws_tokens")).over(wIn) > 0,
          col("_before") + coalesce(sum(col("ws_tokens")).over(wIn), lit(0L)))
          .cast("long"))
      .filter(col("cum_tokens") <= budget)
      .drop("_before", "_nrb", "_wsc", "_bkt")
  }

  /** Exclusive per-language running token offset in doc_id order — the
    * concat-and-chunk packing prefix, as a DISTRIBUTED two-phase parallel
    * prefix sum: per-bin subtotals (bin = doc_id div `bin`, monotone in
    * the pack order) prefix-summed on a bins-sized frame, broadcast back,
    * then a per-bin window supplies the within-bin residual. No
    * data-sized single-partition pass at any scale (at 10¹¹ docs the
    * bins frame recurses onto the same trick). Input needs (doc_id,
    * lang, ws_tokens); output adds start_off. Integer arithmetic only,
    * so the result is bit-identical to the naive per-language window
    * cumsum under any partitioning (integer addition is associative). */
  def packOffsets(tok: DataFrame, bin: Int = 64): DataFrame = {
    val binned = tok.withColumn("_bin", expr(s"doc_id div $bin"))
    val wB = Window.partitionBy("lang").orderBy("_bin")
    val binOff = binned.groupBy("lang", "_bin").agg(sum("ws_tokens").as("_bs"))
      .withColumn("_bin_before", sum("_bs").over(wB) - col("_bs"))
      .select("lang", "_bin", "_bin_before")
    val wIn = Window.partitionBy("lang", "_bin").orderBy("doc_id")
    binned.join(broadcast(binOff), Seq("lang", "_bin"))
      .withColumn("start_off",
        col("_bin_before") + sum("ws_tokens").over(wIn) - col("ws_tokens"))
      .drop("_bin", "_bin_before")
  }
}
