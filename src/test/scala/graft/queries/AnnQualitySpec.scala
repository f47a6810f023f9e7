package graft.queries

import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkTestBase}

/** Quality-level validation of the ANN stack.
  *
  * Planted clusters: with well-separated clusters and corpus size
  * chosen so the derived nlist equals the planted cluster count, the
  * trained IVF quantizer must assign perfectly and cell-pruned search
  * must agree with brute force exactly (recall@3 = 1.0 per query). On
  * random data (the oracle corpus) recall is whatever it is — q73
  * reports it; here the geometry makes the right answer known.
  *
  * Scale shape: nlist ∝ √N must keep total in-cell pair work
  * sub-quadratic when the corpus grows (VERDICT r2 #1).
  *
  * Training value: on a corpus where the first-nlist-ids seeds are
  * pathological (all drawn from ONE tight cluster), the Lloyd-trained
  * quantizer must beat the untrained seeding on recall (VERDICT r2 #2).
  */
class AnnQualitySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val Dim = 64

  private def noisyBasis(rng: Random, c: Int): Seq[Float] =
    Seq.tabulate(Dim)(d =>
      (if (d == c) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.1f)

  /** 64 vectors in 8 orthogonal clusters — sized so nlist = ⌈√64⌉ = 8
    * and the seeds (vec_ids 0..7) are one member per cluster. ids 8,9
    * land in clusters 0,1 (the query set is ids 0..9); ids 10..63
    * round-robin across clusters.
    */
  private val Clusters = 8
  private lazy val plantedRows: Seq[(Long, Seq[Float])] = {
    val rng = new Random(7)
    (0 until Clusters).map(c => (c.toLong, noisyBasis(rng, c))) ++
      Seq((8L, noisyBasis(rng, 0)), (9L, noisyBasis(rng, 1))) ++
      (10 until 64).map(i => (i.toLong, noisyBasis(rng, (i - 10) % Clusters)))
  }
  private lazy val plantedDir: String = {
    val dir = tempCorpusDir("graft_ann_quality")
    plantedRows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Cluster of a planted vec, recoverable from how ids were laid out. */
  private def plantedClusterOf(id: Long): Long =
    if (id < 8) id else if (id < 10) id - 8 else (id - 10) % Clusters

  test("IVF recall@3 is exactly 1.0 on separable clusters") {
    val recalls = SparkEntry.queries("q73_ivf_recall")(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.size == 10)
    recalls.foreach { case (q, r) => assert(r == 1.0, s"query $q recall $r") }
  }

  test("cell-pruned top-3 equals brute-force top-3 per query") {
    def topSets(name: String, maxRank: Int): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, plantedDir)
        .select("query_id", "neighbor_id", "rank").collect()
        .filter(_.getInt(2) <= maxRank)
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val brute = topSets("q68_knn_bruteforce", 3)
    val ivf = topSets("q69_knn_ivf", 3)
    ivf.foreach { case (q, neigh) =>
      assert(neigh == brute(q), s"query $q: IVF found $neigh, brute top-3 ${brute(q)}")
    }
  }

  test("multiprobe top-3 dominates single-probe per rank and matches brute force on separable clusters") {
    def ranked(name: String): Map[Long, Seq[Double]] =
      SparkEntry.queries(name)(spark, plantedDir)
        .select("query_id", "cosine", "rank").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getDouble(1)).toSeq }
    val single = ranked("q69_knn_ivf")
    val multi = ranked("q88_knn_ivf_multiprobe")
    // Probing a superset of cells can only improve (or tie) each rank.
    single.foreach { case (q, sc) =>
      val mc = multi(q)
      assert(mc.size >= sc.size, s"query $q: multiprobe returned fewer rows")
      sc.zip(mc).foreach { case (s, m) =>
        assert(m >= s, s"query $q: multiprobe rank cosine $m < single-probe $s")
      }
    }
    // On the separable corpus single-probe already equals brute force
    // (test above), so multiprobe must too.
    single.foreach { case (q, sc) => assert(multi(q) == sc, s"query $q diverged") }
  }

  test("embedding dedup materialization keeps exactly the per-group minima") {
    // In every planted near-dup group (same basis direction, cos ≈ 1
    // for same-cluster members), the survivor must be the lowest id:
    // cluster c's members are {c, 10+((c..)%8 round robin), ...} plus
    // 8→cluster0, 9→cluster1 — all mutually similar far above τ, so
    // exactly ONE survivor per planted cluster, and it is the minimum.
    val kept = SparkEntry.queries("q89_embedding_dedup_materialize")(spark, plantedDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until Clusters.toLong).toSet,
      s"survivors should be the 8 planted-cluster minima, got $kept")
  }

  test("embedding near-dup pairs stay within their planted cluster") {
    val assigned = SparkEntry.queries("q71_embedding_neardup")(spark, plantedDir)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(assigned.nonEmpty)
    assigned.foreach { case (d1, d2, cos) =>
      assert(plantedClusterOf(d1) == plantedClusterOf(d2), s"cross-cluster pair ($d1,$d2)")
      assert(cos > 0.9, s"pair ($d1,$d2) cosine $cos suspiciously low")
    }
  }

  // -------------------------------------------------------------------

  private def randomCorpus(n: Int, seed: Int): String = {
    val rng = new Random(seed)
    val dir = tempCorpusDir(s"graft_ann_scale_$n")
    (0 until n).map(i => (i.toLong, Seq.fill(Dim)(rng.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def inCellPairs(dir: String): Long =
    Similarity.assignedVectors(spark, dir)
      .groupBy("cluster").count()
      .collect().map { r => val k = r.getLong(1); k * (k - 1) / 2 }.sum

  test("in-cell pair count grows sub-quadratically when the corpus quadruples") {
    // nlist ∝ √N ⇒ expected cell size ∝ √N ⇒ total pairs ∝ N^1.5:
    // 4× the corpus should cost ~8× the pairs; a fixed nlist would
    // cost 16×. The assertion leaves headroom for cell imbalance on
    // random data while still rejecting the quadratic shape.
    val small = inCellPairs(randomCorpus(256, seed = 11))
    val big = inCellPairs(randomCorpus(1024, seed = 12))
    assert(small > 0)
    val ratio = big.toDouble / small
    assert(ratio < 12.0, s"pair growth $ratio looks quadratic ($small -> $big)")
  }

  test("hot-cell skew: the sub-bucket cap bounds in-cell pair work (VERDICT r5 #4)") {
    // 400 vectors, nlist = 20, cap = 8·20 = 160. Seeds: id 0 is the
    // hot direction, ids 1..19 are distinct basis directions — so the
    // trained centroids stay separated and ids {0} ∪ {20..399} (381
    // vectors, 2.4× the cap) all land in ONE cell. Uncapped, that cell
    // alone is ~72k pairs and grows O(cell²) with the hot-spot.
    val rng = new Random(37)
    val n = 400
    val dir = tempCorpusDir("graft_ann_hotcell")
    ((0 until 20).map(i => (i.toLong, noisyBasis(rng, i))) ++
      (20 until n).map(i => (i.toLong, noisyBasis(rng, 0))))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    val cap = 8L * math.ceil(math.sqrt(n.toDouble)).toLong
    val cellSizes = Similarity.assignedVectors(spark, dir)
      .groupBy("cluster").count().collect().map(_.getLong(1))
    assert(cellSizes.max > 2 * cap,
      s"corpus failed to produce a hot cell: max=${cellSizes.max} cap=$cap")

    val capped = Similarity.cellPairs(spark, dir).count()
    val uncapped = cellSizes.map(m => m * (m - 1) / 2).sum
    assert(capped <= n.toLong * cap,
      s"pair work $capped exceeds the n·cap bound ${n.toLong * cap}")
    assert(capped < uncapped * 0.6,
      s"cap did not engage: capped=$capped uncapped=$uncapped")

    // The capped query surface stays well-defined end-to-end: q71
    // still reports in-cell near-dups, and q89 keeps one survivor per
    // (cell, sub-bucket) group — a handful, not one per vector.
    assert(SparkEntry.queries("q71_embedding_neardup")(spark, dir).collect().nonEmpty)
    val kept = SparkEntry.queries("q89_embedding_dedup_materialize")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    assert(kept.contains(0L), "the lowest-id blob member must survive")
    assert(kept.length <= 30, s"expected ~22 survivors (19 singletons + ~3 sub-buckets), got ${kept.length}")
  }

  test("hot-cell skew: q131's per-query candidate set is sub-bucket-capped (VERDICT r6 #5)") {
    // Same planted hot cell as the cellPairs test (400 vectors, ids
    // {0} ∪ {20..399} collapse into ONE ~381-member cell, 2.4× the
    // 8·√N cap), plus alternating labels so hard negatives exist in
    // every sub-bucket. Query 0 lands in the hot cell; uncapped, its
    // candidate relation is the whole cell (~190 different-label rows,
    // growing linearly with the hot-spot). Capped, each query sees only
    // its own sub-bucket: ≤ cap candidates per query, regardless of
    // how much mass the hot direction attracts.
    val rng = new Random(43)
    val n = 400
    val dir = tempCorpusDir("graft_ann_hotneg")
    ((0 until 20).map(i => (i.toLong, noisyBasis(rng, i))) ++
      (20 until n).map(i => (i.toLong, noisyBasis(rng, 0))))
      .map { case (id, emb) => (id, emb, (id % 2).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    val cap = 8L * math.ceil(math.sqrt(n.toDouble)).toLong
    val cells = Similarity.assignedVectors(spark, dir)
      .groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.values.max > 2 * cap,
      s"corpus failed to produce a hot cell: max=${cells.values.max} cap=$cap")

    val perQuery = Similarity.hardNegativeCandidates(spark, dir)
      .groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQuery.values.max <= cap,
      s"per-query candidates ${perQuery.values.max} exceed the sub-bucket cap $cap")
    // The cap actually engaged for the hot-cell query: its whole-cell
    // different-label candidate count would be ~cell_n/2.
    val hotCell = cells.maxBy(_._2)._1
    val hotQueries = Similarity.assignedVectors(spark, dir)
      .filter(col("vec_id") < 10 && col("cluster") === hotCell)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(hotQueries.nonEmpty, "no query landed in the hot cell")
    for (q <- hotQueries)
      assert(perQuery(q) < cells(hotCell) / 2,
        s"cap did not engage for hot-cell query $q: ${perQuery(q)} candidates")

    // The declared query stays well-defined: top-3 per query, in-cell,
    // label-differing.
    val negs = SparkEntry.queries("q131_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(negs.nonEmpty)
    assert(negs.count(_._1 == hotQueries.head) == 3,
      s"hot-cell query should still fill its top-3: ${negs.toSeq}")
  }

  test("MMR re-rank: relevance first, exact duplicates displaced by diverse candidates") {
    // vec 0 = query (direction 0). vec 1 = the most query-similar
    // candidate; vec 2 = an EXACT byte copy of vec 1 (penalty 1.0 once
    // vec 1 is selected); vec 3 = equally query-similar but with its
    // own noise (penalty < 1). Plain top-k would rank the duplicate
    // second; MMR must put vec 3 there. Distant-direction vecs 4..59
    // fill the recall set.
    val rng = new Random(41)
    val dir = tempCorpusDir("graft_ann_mmr")
    val near1 = noisyBasis(rng, 0)
    val near3 = noisyBasis(rng, 0)
    val rows = Seq(
      (0L, noisyBasis(rng, 0)), (1L, near1), (2L, near1), (3L, near3),
    ) ++ (4 until 60).map(i => (i.toLong, noisyBasis(rng, 1 + i % 8)))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    val picks = SparkEntry.queries("q130_mmr_rerank")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(picks.length == 5 && picks.map(_._2).distinct.length == 5)
    // Rank 1 is the query-cosine argmax.
    assert(picks(0)._3 == picks.map(_._3).max,
      s"rank 1 should be the most similar candidate: ${picks.toSeq}")
    // The exact-duplicate pair (1,2) can never hold BOTH top slots —
    // once one twin is selected the other carries penalty 1.0 and the
    // independent near-neighbor (vec 3) outranks it.
    assert(Set(picks(0)._2, picks(1)._2) != Set(1L, 2L),
      s"MMR must displace the exact duplicate from the top-2: ${picks.toSeq}")
    assert(picks.map(_._2).indexOf(2L) > picks.map(_._2).indexOf(1L),
      s"the higher-id twin must rank strictly later: ${picks.toSeq}")
    // Greedy MMR scores are non-increasing from rank 2 on.
    val scores = picks.toSeq.drop(1).map(_._4)
    assert(scores == scores.sorted.reverse, s"scores not monotone: $scores")
  }

  test("hard negatives and kNN label-noise detection find exactly the planted flips") {
    // The planted-cluster layout with label = geometric cluster,
    // EXCEPT vec 10 (cluster 0, flipped to label 1) and vec 41
    // (cluster 7, flipped to label 0) — planted label noise.
    val flipped = Map(10L -> 1, 41L -> 0)
    val dir = tempCorpusDir("graft_ann_labels")
    plantedRows
      .map { case (id, emb) =>
        (id, emb, flipped.getOrElse(id, plantedClusterOf(id).toInt))
      }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    // q132: the two flipped vectors are surrounded by true-labeled
    // neighbors, so their agreement is exactly 0 and they lead the
    // suspected-mislabel report.
    val noise = SparkEntry.queries("q132_label_noise_knn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(noise.take(2).map(_._1).toSet == Set(10L, 41L),
      s"flipped vectors must lead the report: ${noise.toSeq}")
    assert(noise.take(2).forall(_._2 == 0.0), s"flips have no same-label neighbors: ${noise.toSeq}")

    // q131: hard negatives exist exactly where a different label
    // shares the cell — cluster 0's queries (vecs 0 and 8) see the
    // flipped vec 10 at near-perfect cosine; every returned negative
    // is in-cell with a label differing from its query's.
    val negs = SparkEntry.queries("q131_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(negs.nonEmpty)
    negs.foreach { case (q, n, negLabel, cos) =>
      assert(plantedClusterOf(q) == plantedClusterOf(n), s"negative ($q,$n) left the cell")
      val qLabel = flipped.getOrElse(q, plantedClusterOf(q).toInt)
      assert(negLabel != qLabel, s"negative ($q,$n) shares the query label")
      assert(cos > 0.9, s"in-cell negative ($q,$n) cosine $cos suspiciously low")
    }
    assert(negs.exists(n => n._1 == 0L && n._2 == 10L),
      s"query 0 must surface the flipped in-cluster vector: ${negs.toSeq}")
  }

  test("Lloyd-trained quantizer beats untrained first-N seeding on pathological seeds") {
    // 100 vectors, nlist = 10: ids 0..9 (ALL the seeds, and the query
    // set) form one tight cluster; ids 10..99 are nine other tight
    // clusters. Untrained, each seed is its own nearest centroid, so
    // the query cluster shatters across all ten cells and cell-pruned
    // search misses its true neighbors. Training must recover most of
    // the recall by moving centroids onto the actual mass.
    val rng = new Random(23)
    val dir = tempCorpusDir("graft_ann_skew")
    val rows =
      (0 until 10).map(i => (i.toLong, noisyBasis(rng, 0))) ++
        (10 until 100).map(i => (i.toLong, noisyBasis(rng, 1 + (i - 10) % 9)))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    def meanRecall(iters: Int): Double = {
      val rs = Similarity.recallAt3(spark, dir, iters)
        .collect().map(_.getDouble(1))
      rs.sum / rs.length
    }
    val untrained = meanRecall(0)
    val trained = meanRecall(2)
    assert(trained > untrained,
      s"training did not help: trained=$trained untrained=$untrained")
    assert(trained >= 0.5, s"trained recall $trained still poor")
  }

  /** PQ/ADC on the separable planted corpus: subspace 0 carries every
    * cluster's hot dimension (dims 0–7), so after per-subspace Lloyd
    * training the asymmetric distance between same-cluster vectors is
    * noise-sized while any cross-cluster distance includes the ~2.0
    * separation of orthogonal unit directions. Every cluster has ≥ 7
    * non-query members, so all five ADC neighbors of every query must
    * come from the query's own planted cluster — quantized search must
    * not leak across separable clusters.
    */
  test("PQ/ADC top-5 stays inside the planted cluster on separable data") {
    val rows = SparkEntry.queries("q110_pq_ann")(spark, plantedDir)
      .select("query_id", "neighbor_id").collect()
    assert(rows.length == 50, s"expected 10 queries x top-5, got ${rows.length}")
    rows.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      assert(plantedClusterOf(n) == plantedClusterOf(q),
        s"query $q (cluster ${plantedClusterOf(q)}) matched " +
          s"neighbor $n (cluster ${plantedClusterOf(n)})")
    }
  }

  /** IVF-PQ vs global PQ on the separable corpus: every q110 ADC top-5
    * neighbor lies in the query's own planted cluster (test above), the
    * IVF assignment is perfect (recall tests above), and the query's
    * own cell is always its nearest probe — so restricting ADC scoring
    * to the two probed cells must reproduce q110's result EXACTLY
    * (ids, ranks, and rounded distances). Cell pruning on well-separated
    * data costs nothing; only the scored-row count shrinks.
    */
  test("IVF-PQ top-5 equals global PQ/ADC top-5 on separable data") {
    def rows(name: String): Seq[(Long, Long, Double, Int)] =
      SparkEntry.queries(name)(spark, plantedDir)
        .select("query_id", "neighbor_id", "adc_dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq.sorted
    val global = rows("q110_pq_ann")
    val pruned = rows("q111_ivfpq_ann")
    assert(pruned == global,
      s"IVF-PQ diverged from global ADC on separable clusters")
  }

  /** Semantic decontamination on a purpose-built corpus: the benchmark
    * set (ids 0–49, clusters 0–7) is followed by 10 paraphrase-shaped
    * train vectors sharing the benchmark's directions (must flag at
    * cosine ≈ 1) and 10 clean train vectors on directions the benchmark
    * never uses (dims 8–11; cross-direction cosine is noise-sized,
    * far under τ — must pass).
    */
  test("semantic decontam flags benchmark-direction vectors and passes novel directions") {
    val rng = new Random(41)
    val dir = tempCorpusDir("graft_semantic_decontam")
    val rows =
      (0 until 50).map(i => (i.toLong, noisyBasis(rng, i % 8))) ++
        (50 until 60).map(i => (i.toLong, noisyBasis(rng, i % 8))) ++
        (60 until 70).map(i => (i.toLong, noisyBasis(rng, 8 + i % 4)))
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val res = SparkEntry.queries("q114_semantic_decontam")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(res.length == 20)
    res.filter(_._1 < 60).foreach { case (id, cos, flag) =>
      assert(flag == 1 && cos > 0.9, s"benchmark-direction vec $id not flagged (cos=$cos)")
    }
    res.filter(_._1 >= 60).foreach { case (id, cos, flag) =>
      assert(flag == 0 && cos < 0.25, s"novel-direction vec $id flagged (cos=$cos)")
    }
  }

  /** Cluster profiling on the planted corpus with a parallel documents
    * table (doc_id = vec_id): even planted clusters are "en", odd are
    * "fr", except doc 8 (cluster 0) which is "de" — so every cluster's
    * dominant language and population are known exactly (the IVF
    * assignment is perfect on this geometry, proven above).
    */
  test("cluster profile reports the planted language mix per cluster") {
    val dir = tempCorpusDir("graft_cluster_profile")
    plantedRows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    plantedRows.map { case (id, _) =>
      val lang =
        if (id == 8L) "de" else if (plantedClusterOf(id) % 2 == 0) "en" else "fr"
      (id, s"text $id", lang, s"src${id % 3}", 100L + id)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val rows = SparkEntry.queries("q116_cluster_profile")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(rows.size == Clusters, s"expected $Clusters clusters, got ${rows.size}")
    val expectedPop = (0L until 64L).groupBy(plantedClusterOf).view.mapValues(_.size.toLong)
    (0 until Clusters).foreach { c =>
      val (nDocs, nLangs, topLang) = rows(c.toLong)
      assert(nDocs == expectedPop(c.toLong), s"cluster $c population $nDocs")
      val wantTop = if (c % 2 == 0) "en" else "fr"
      assert(topLang == wantTop, s"cluster $c dominant lang $topLang")
      assert(nLangs == (if (c == 0) 2L else 1L), s"cluster $c language count $nLangs")
    }
  }

  /** Incremental ingest conservation on the planted corpus (N = 64,
    * half = 32): the frozen quantizer must account for EVERY vector —
    * 32 index members and 32 batch members across the derived
    * nlist = ⌈√32⌉ = 6 cells, no row lost or double-assigned, and
    * frac_new must be a valid fraction wherever a cell is non-empty.
    */
  test("incremental ANN ingest conserves both the index and the batch") {
    val rows = SparkEntry.queries("q112_incremental_ann_ingest")(spark, plantedDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 6, s"expected 6 derived cells, got ${rows.length}")
    assert(rows.map(_._2).sum == 32, "index members must sum to the first half")
    assert(rows.map(_._3).sum == 32, "batch members must sum to the second half")
    rows.foreach { case (c, ni, nn, nt) =>
      assert(nt == ni + nn, s"cell $c totals don't add up")
    }
  }

  test("occupancy table folds incrementally under a frozen quantizer (merge == rebuild)") {
    // The r11 at-rest occupancy artifact (ivf-cell-sizes) gets the
    // same maintenance proof as the text artifacts: under a FROZEN
    // quantizer (the q112 regime) assignment depends only on the
    // vector and the centroids, so cell counts fold additively — the
    // merge never re-scores an at-rest vector.
    import graft.functions.VectorFunctions.l2Norm
    import org.apache.spark.sql.functions.{count, lit}
    val cents = Similarity.halfIndexCentroids(spark, plantedDir)
    val v = spark.read.parquet(s"$plantedDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", l2Norm(col("embedding")))
    val half = 32L
    val base = Similarity.cellSizesOf(Similarity.assign(v.filter(col("vec_id") < half), cents))
    val batchAssigned = Similarity.assign(v.filter(col("vec_id") >= half), cents)
    val merged = Similarity.mergeCellSizes(base, batchAssigned)
    val rebuild = Similarity.cellSizesOf(Similarity.assign(v, cents))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows(merged) == rows(rebuild))
    // Non-trivial fold: at least one cell receives members from BOTH
    // sides of the split (otherwise only the append path is exercised).
    val overlap = base.join(Similarity.cellSizesOf(batchAssigned), Seq("cluster"), "left_semi").count()
    assert(overlap > 0, "no cell shared between halves — fold untested")
  }

  test("occupancy fold converges over 4 sequential ingest ticks (N merges == rebuild)") {
    // The TextMultiBatchSpec discipline on the ANN side: production
    // batches arrive as many small ticks, each tick's folded table
    // materialized to parquet (what a pipeline persists), and the
    // final at-rest state must equal the one-shot rebuild — fold
    // associativity plus tick-over-tick schema stability.
    import graft.functions.VectorFunctions.l2Norm
    val cents = Similarity.halfIndexCentroids(spark, plantedDir)
    val v = spark.read.parquet(s"$plantedDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", l2Norm(col("embedding")))
    def atRest(df: org.apache.spark.sql.DataFrame, tick: Int) = {
      val out = s"${tempCorpusDir("graft_ann_mb")}/sizes-t$tick"
      df.write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    val half = 32L
    var state = atRest(
      Similarity.cellSizesOf(Similarity.assign(v.filter(col("vec_id") < half), cents)), 0)
    (0 until 4).foreach { i =>
      val batch = v.filter(col("vec_id") >= half + i * 8 && col("vec_id") < half + (i + 1) * 8)
      state = atRest(
        Similarity.mergeCellSizes(state, Similarity.assign(batch, cents)), i + 1)
    }
    val rebuild = Similarity.cellSizesOf(Similarity.assign(v, cents))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows(state) == rows(rebuild),
      "4 sequential occupancy folds diverged from the rebuild")
  }
}
