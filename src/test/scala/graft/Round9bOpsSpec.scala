package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.{AggQueries, CorpusStatsQueries, PipelineQueries, VectorQueries}

/** Hand-computed semantics for the late round-9 operators: DBSCAN roles
  * and cluster identity on a crafted geometry, exact tie-aware AUC vs a
  * brute-force pair count, count-min sketch invariants, winsorization
  * against Scala order statistics, and the generic component-labeling
  * helper against a known graph and an in-memory union-find.
  */
class Round9bOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_r9b_$tag").toFile.getAbsolutePath

  // `sf` (sf0.001) comes from SparkSpec

  // ---- DBSCAN: crafted 2-d geometry with known core/border/noise --------

  test("q_cluster_dbscan: crafted geometry yields exact roles and cluster") {
    val dir = tmpDir("db")
    // vec 0 is the only seed centroid (vec_id % 50 == 0) => one block.
    // v0..v3: tight bundle (mutual cosine ~0.99) => each has >= 3
    // neighbors => all core, one component labeled min id 0.
    // v4 at ~70 degrees: cosine 0.34 to v0 (edge) but < 0.3 to v1..v3
    // => degree 1 => border, attached to v0's cluster.
    // v5 points away: no neighbor => noise.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.999f, -0.045f), 0),
      (2L, Seq(0.998f, -0.06f), 0),
      (3L, Seq(0.997f, -0.077f), 0),
      (4L, Seq(0.34f, 0.94f), 0),
      (5L, Seq(-1.0f, 0.05f), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorQueries.clusterDbscan.fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(got.size === 6)
    (0L to 3L).foreach { v =>
      assert(got(v) === ("core", Some(0L)), s"v$v")
    }
    assert(got(4L) === ("border", Some(0L)))
    assert(got(5L) === ("noise", None))
  }

  // ---- AUC: exact equality with the brute-force pair statistic ----------

  test("q_eval_ndcg equals the formula recomputed from IVF and exact top-3 at sf0.001") {
    val ann = VectorQueries.annIvf.fn(spark, sf).select("q", "c", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gt = VectorQueries.annCosineTopk.fn(spark, sf).collect()
      .filter(_.getLong(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    def pin(x: Double) = math.floor(x * 1073741824.0) / 1073741824.0
    def disc(r: Long) = pin(1.0 / (math.log(r + 1.0) / math.log(2.0)))
    val idcg = disc(1) + disc(2) + disc(3)
    val byQ = ann.groupBy(_._1).map { case (q, rows) =>
      val dcg = rows.map { case (_, c, rn) =>
        math.floor((if (gt((q, c))) disc(rn) else 0.0) * 1073741824.0)
      }.sum / 1073741824.0
      q -> (rows.count { case (_, c, _) => gt((q, c)) }.toLong, pin(dcg / idcg))
    }
    // the published frame covers the whole query UNIVERSE (vec_id < 10):
    // a candidate-less query must appear with n_hits = 0, ndcg = 0 (r10)
    val expected = (0L to 9L).map(q => q -> byQ.getOrElse(q, (0L, 0.0))).toMap
    val got = VectorQueries.evalNdcg.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2) / 1073741824.0)).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (q, e) => assert(got(q) === e, s"q=$q") }
    // a query whose IVF set IS the exact set must score exactly 1.0
    assert(expected.values.exists { case (hits, nd) => hits == 3L && nd == 1.0 },
      "fixture should contain at least one perfect query")
    assert(got.values.forall { case (_, nd) => nd >= 0.0 && nd <= 1.0 })
  }

  test("q_eval_mrr equals the first-hit reciprocal recomputed from the same chain") {
    val ann = VectorQueries.annIvf.fn(spark, sf).select("q", "c", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gt = VectorQueries.annCosineTopk.fn(spark, sf).collect()
      .filter(_.getLong(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    def pin(x: Double) = math.floor(x * 1073741824.0) / 1073741824.0
    val byQ = ann.groupBy(_._1).map { case (q, rows) =>
      val hits = rows.collect { case (_, c, rn) if gt((q, c)) => rn }
      q -> (if (hits.isEmpty) (None, 0.0)
            else (Some(hits.min), pin(1.0 / hits.min)))
    }
    val expected = (0L to 9L).map(q => q -> byQ.getOrElse(q, (None, 0.0))).toMap
    val got = VectorQueries.evalMrr.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          r.getLong(2) / 1073741824.0)).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (q, e) => assert(got(q) === e, s"q=$q") }
  }

  test("q_agg_skew_kurt: crafted distributions yield known shape moments") {
    import spark.implicits._
    val dir = tmpDir("skew")
    val h = 3600L * 1000000L
    val rows =
      Seq(0.0, 2.0, 0.0, 2.0).map(("S", _)) ++   // symmetric: skew 0, kurt −2
      Seq(0.0, 0.0, 0.0, 1.0).map(("B", _)) ++   // Bernoulli(.25): skew 2q−1/√pq
      Seq(5.0, 5.0).map(("C", _))                 // constant: sd 0 ⇒ dropped
    rows.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, (i + 1).toLong * h, 1L, t, v, "{}")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = AggQueries.aggSkewKurt.fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet === Set("S", "B"))
    val (nS, skS, kuS) = got("S")
    assert(nS === 4L && skS === 0.0 && kuS === -2.0) // z = ±1 exactly
    val (nB, skB, kuB) = got("B")
    assert(nB === 4L)
    assert(math.abs(skB - 0.5 / math.sqrt(0.1875)) < 1e-3)   // 1.1547
    assert(math.abs(kuB - ((1 - 6 * 0.1875) / 0.1875)) < 1e-3) // −0.6667
  }

  test("q_eval_auc equals the brute-force tie-aware pair count at sf0.001") {
    val scored = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id"), (col("lang") === "en").as("y"))
      .join(
        graft.ops.TextOps.explodeTokens(graft.util.Tables.documents(spark, sf))
          .groupBy("doc_id")
          .agg((sum(when(col("word").isin("the", "a"), 1).otherwise(0)).cast("double") /
            count(lit(1))).as("score")),
        "doc_id")
      .select("score", "y").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    // brute force over all pos x neg pairs, in halves to stay integer
    var num2 = 0L
    for (p <- pos; n <- neg)
      num2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    val expected = num2.toDouble / (2.0 * pos.length * neg.length)
    val r = PipelineQueries.evalAuc.fn(spark, sf).collect().head
    assert(r.getLong(0) === pos.length.toLong)
    assert(r.getLong(1) === neg.length.toLong)
    assert(r.getDouble(2) === expected, "AUC must equal the pair statistic exactly")
    // the fixture's langs share one vocabulary, so the en-score is a weak
    // ranker here (~0.44) — the operator certifies the STATISTIC, and the
    // bound is all the fixture supports
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  test("q_eval_auc: single-class corpus publishes NULL (no ranking exists)") {
    val dir = tmpDir("auc1")
    Seq((1L, "the a the", "en", "s"), (2L, "the the a a", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = PipelineQueries.evalAuc.fn(spark, dir).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 0L)
    assert(r.isNullAt(2))
  }

  // ---- Count-min heavy hitters: sketch invariants -----------------------

  test("q_text_heavy_hitters: top set exact, estimates never undercount") {
    val rows = CorpusStatsQueries.textHeavyHitters.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10)
    // independent recount through a different expression path
    val truth = graft.util.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r._1, r._2)).toSeq === truth.toSeq)
    rows.foreach { case (w, n, est, over) =>
      assert(est >= n, s"count-min must overestimate: $w")
      assert(over === est - n)
    }
  }

  // ---- Winsorize: Scala order-statistic oracle --------------------------

  test("q_agg_winsorize matches per-group order statistics at sf0.001") {
    val byGroup = graft.util.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        def q(p: Double) = sorted(math.ceil(p * sorted.length).toInt - 1)
        g -> (q(0.05), q(0.95))
      }
    val rows = AggQueries.aggWinsorize.fn(spark, sf).collect()
    assert(rows.length.toLong === graft.util.Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      val (g, v, w, lo, hi) = (r.getString(2), r.getDouble(3), r.getDouble(4),
        r.getBoolean(5), r.getBoolean(6))
      val (p05, p95) = byGroup(g)
      assert(w === math.min(math.max(v, p05), p95), s"$g $v")
      assert(lo === (v < p05) && hi === (v > p95))
    }
  }

  // ---- Calibration bins: partition + arithmetic invariants --------------

  test("q_eval_calibration: bins partition the corpus, gap is |mean-rate|") {
    val docsN = graft.util.Tables.documents(spark, sf).count()
    val enN = graft.util.Tables.documents(spark, sf)
      .filter(col("lang") === "en").count()
    val rows = PipelineQueries.evalCalibration.fn(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum === docsN, "bins partition all docs")
    assert(rows.map(_.getLong(3)).sum === enN, "positives partition en docs")
    rows.foreach { r =>
      val (bin, lo, n, np, mean, rate, gap) = (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(lo === bin / 50.0)
      assert(np <= n)
      // the portable-grid mean floors each addend by < 2^-30
      assert(mean >= lo - 1e-9 && mean < lo + 0.02 + 1e-9, s"bin $bin mean $mean")
      assert(rate === np.toDouble / n)
      assert(gap === math.abs(mean - rate))
    }
  }

  // ---- Histogram quantile sketch: error bound + exact side --------------

  test("q_agg_quantile_sketch: exact matches order statistics, est within bound") {
    val vals = graft.util.Tables.lineitem(spark, sf)
      .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    def q(p: Double) = vals(math.ceil(p * vals.length).toInt - 1)
    val r = AggQueries.aggQuantileSketch.fn(spark, sf).collect().head
    assert(r.getLong(0) === vals.length.toLong)
    assert(r.getDouble(2) === q(0.5), "exact p50 is the order statistic")
    assert(r.getDouble(5) === q(0.95), "exact p95 is the order statistic")
    assert(r.getDouble(3) <= r.getDouble(7), "p50 within the bin-width bound")
    assert(r.getDouble(6) <= r.getDouble(7), "p95 within the bin-width bound")
    assert(r.getDouble(3) === math.abs(r.getDouble(1) - r.getDouble(2)))
    assert(r.getDouble(6) === math.abs(r.getDouble(4) - r.getDouble(5)))
  }

  // ---- Hier outlier flags: dominance over the flat assignment -----------

  test("q_emb_outlier_hier: cent_cos never exceeds flat, flags only grow") {
    val flat = VectorQueries.embOutlier.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    val hier = VectorQueries.embOutlierHier.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(hier.keySet === flat.keySet)
    hier.foreach { case (vid, (hCos, hOut)) =>
      val (fCos, fOut) = flat(vid)
      // flat picks the argmax over ALL centroids; hier over the chosen
      // super's members — a subset — so hier can never score higher
      assert(hCos <= fCos, s"vid $vid: hier $hCos > flat $fCos")
      if (fOut) assert(hOut, s"vid $vid: flat-flagged but hier-clean")
    }
  }

  // ---- Hier graph family: reciprocity, mass, vote invariants ------------

  test("q_ann_knn_mutual_hier edges are reciprocal in the hier graph, keyed a < b") {
    val g = VectorQueries.annKnnHier.fn(spark, sf)
      .select("q", "c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val m = VectorQueries.annKnnMutualHier.fn(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(m.nonEmpty)
    m.foreach { case (a, b) =>
      assert(a < b)
      assert(g.contains((a, b)) && g.contains((b, a)), s"($a,$b) not reciprocal")
    }
  }

  test("q_graph_pagerank_hier: positive ranks, mass conserved") {
    val rows = VectorQueries.graphPagerankHier.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) / 1073741824.0))
    assert(rows.nonEmpty)
    rows.foreach { case (_, deg, pr) => assert(deg >= 1 && pr > 0.0) }
    // teleport = 1 - damping exactly, so rank mass sums to the node count's
    // worth of 1/n shares: 1 (up to the 2^-30 publish grid per row)
    assert(math.abs(rows.map(_._3).sum - 1.0) < rows.length * 1e-9 + 1e-6)
  }

  test("q_ann_knn_classify_hier: one prediction per vector, votes in [1,3]") {
    val rows = VectorQueries.annKnnClassifyHier.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.length === graft.util.Tables.embeddings(spark, sf).count().toInt)
    rows.foreach { r =>
      val v = r.getLong(3)
      assert(v >= 1L && v <= 3L, s"votes $v")
    }
  }

  // ---- componentLabels: generic CC on a known graph ---------------------

  test("componentLabels labels components by min node, any edge orientation") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L), (7L, 7L))
      .toDF("src", "dst")
    val got = graft.ops.Corpus.componentLabels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // self-loop node 7 carries no real edge => absent from the labeling
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  // ---- componentLabels: star-forest convergence vs in-memory union-find 

  /** Reference labels: union-find that always hangs the larger root under
    * the smaller, so every root is its component's min. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** (labels, rounds); asserts one row per labeled node. The labels are
    * read from the converged forest, which componentLabels accepts as a
    * star forest in zero rounds. */
  private def ccRun(edges: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
    val (forest, rounds) = graft.ops.Corpus.starForest(edges)
    val rows = graft.ops.Corpus.componentLabels(forest).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val got = rows.toMap
    assert(rows.length === got.size, "duplicate node rows")
    (got, rounds)
  }

  private def cc(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) =
    ccRun(edges.toDF("src", "dst"))

  test("componentLabels matches union-find on 20 seeded random graphs") {
    (1 to 20).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val n = 2 + rng.nextInt(300)
      // sparse, partly negative id space; odd seeds are random trees (long
      // paths), even seeds random multigraphs with self loops
      val ids = rng.shuffle((-5L * n until 5L * n).toVector).take(n)
      val edges =
        if (seed % 2 == 1) (1 until n).map(i => (ids(i), ids(rng.nextInt(i))))
        else Seq.fill(rng.nextInt(2 * n + 1))((ids(rng.nextInt(n)), ids(rng.nextInt(n))))
      val (got, rounds) = cc(edges)
      assert(got === unionFind(edges), s"seed $seed")
      assert(rounds <= 20, s"seed $seed took $rounds rounds")
    }
  }

  test("componentLabels: reverse-numbered long path converges in O(log n) rounds") {
    val n = 2000L
    val (got, rounds) = cc((1L until n).map(i => (i + 1, i)))
    assert(got === (1L to n).map(_ -> 1L).toMap)
    assert(rounds <= 2 * 11, s"$rounds rounds")
  }

  test("componentLabels: a star forest takes zero rounds") {
    val edges = Seq((5L, 1L), (1L, 9L), (7L, 1L), (20L, 11L), (11L, 30L))
    assert(cc(edges) === (unionFind(edges), 0))
  }

  test("componentLabels: empty and self-loop-only edge sets label nothing") {
    assert(cc(Seq.empty) === (Map.empty, 0))
    assert(cc(Seq((5L, 5L), (6L, 6L), (5L, 5L))) === (Map.empty, 0))
  }

  test("componentLabels: duplicate edges in both orientations") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (3L, 2L),
      (9L, 8L), (8L, 9L), (8L, 9L))
    assert(cc(edges)._1 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("componentLabels: one hot component of 50k leaves on one root") {
    // the hub is the LARGEST id, so the input is no star forest: both
    // window phases see the 50k-row hub partition
    val leaves = 50000L
    val (got, rounds) = ccRun(spark.range(leaves)
      .select(lit(leaves).as("src"), col("id").as("dst")))
    assert(rounds === 1)
    assert(got.size === leaves + 1)
    assert(got.values.forall(_ == 0L))
  }
}
