package graft.queries

import scala.util.Random

import graft.{SparkEntry, SparkTestBase}

/** Quality-level validation of the dedup stack on PLANTED duplicates —
  * the oracle gate proves Spark and DuckDB agree, this proves the
  * methods actually catch what they claim to catch (and documents the
  * one designed-in blind spot):
  *
  *   - exact dedup (q60) collapses an identical cluster,
  *   - MinHash+LSH (q65) finds near-identical pairs INCLUDING large
  *     clusters (no document-frequency cliff),
  *   - rare-shingle Jaccard (q67) finds small near-dup clusters and
  *     rejects boilerplate-only overlap, but by design nominates
  *     nothing inside a cluster larger than RareShingleCap,
  *   - the rolling fingerprint (q75) is identical across exact copies.
  */
class DedupQualitySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(123)
  private val vocab = Array(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
  )
  private def sentence(n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  /** One corpus dir with the documents schema the queries expect. */
  private lazy val corpusDir: String = {
    val dir = tempCorpusDir("graft_dedup_quality")

    val identicalText = sentence(40) // cluster A: 25 exact copies
    val clusterA = (0L until 25L).map(i => (i, identicalText))

    // Cluster B: 6 docs, ONE token edited each at distinct positions.
    // One edit touches ≤3 of ~38 3-shingles, so pairwise Jaccard stays
    // ≈0.85 — above q65's 0.6 verification floor. (Two edits per doc
    // drag pairs to ≈0.5 and the 0.6 threshold CORRECTLY rejects them;
    // this spec plants dups the declared thresholds define as dups.)
    val base = sentence(40).split(" ")
    val clusterB = (30L until 36L).map { i =>
      val t = base.clone()
      val pos = (i * 5 % base.length).toInt
      // Re-draw until the edit actually changes the token — a no-op
      // edit would make two cluster-B docs byte-identical and corrupt
      // the planted exact-dup count.
      var repl = vocab(rng.nextInt(vocab.length))
      while (repl == t(pos)) repl = vocab(rng.nextInt(vocab.length))
      t(pos) = repl
      (i, t.mkString(" "))
    }

    val header = sentence(8) // boilerplate: shared 8-token prefix only
    val boiler = (40L until 58L).map(i => (i, header + " " + sentence(45)))

    val background = (70L until 90L).map(i => (i, sentence(50)))

    val docs = (clusterA ++ clusterB ++ boiler ++ background)
      .map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, corpusDir)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def within(ids: Range): Set[(Long, Long)] =
    (for { a <- ids; b <- ids if a < b } yield (a.toLong, b.toLong)).toSet

  test("exact dedup collapses the identical cluster") {
    val row = SparkEntry.queries("q60_exact_dedup")(spark, corpusDir)
      .filter($"lang" === "en").head()
    assert(row.getAs[Long]("n_dupes") == 24) // 25 copies → 24 redundant
  }

  test("MinHash+LSH finds both the large identical cluster and the edited cluster") {
    val found = pairs("q65_minhash_lsh")
    assert(within(0 until 25).subsetOf(found), "large identical cluster missed by LSH")
    val bFound = found.intersect(within(30 until 36))
    assert(bFound.size >= 10, s"edited cluster under-detected: ${bFound.size}/15 pairs")
    // No false pairs among boilerplate-only or background docs.
    assert(found.forall { case (a, b) => a < 36 && b < 36 }, s"false positives: $found")
  }

  test("rare-shingle Jaccard catches the small cluster, rejects boilerplate, has the documented large-cluster blind spot") {
    val found = pairs("q67_ngram_jaccard")
    val bFound = found.intersect(within(30 until 36))
    assert(bFound.size >= 10, s"edited cluster under-detected: ${bFound.size}/15 pairs")
    // Boilerplate docs share only an 8-token header (~5 of ~50
    // shingles): below the 0.3 Jaccard floor, must not pair.
    assert(found.forall { case (a, b) => !(a >= 40 && b >= 40) },
      s"boilerplate false positives: $found")
    // Designed-in cliff: the 25-doc cluster's shingles all have df=25
    // > RareShingleCap, so the rare-shingle method nominates none of
    // its pairs — the complementary LSH path covers that shape.
    assert(found.intersect(within(0 until 25)).isEmpty)
  }

  /** Separate corpus for cluster labeling: an exact-copy clique plus a
    * CHAIN (10~11 and 11~12 near-dup, 10~12 two edits apart ≈ 0.5
    * Jaccard — below the 0.6 edge threshold), so the component is only
    * recoverable transitively: pair-level output (q65) cannot see that
    * 10 and 12 belong together, and label propagation needs a second
    * round to converge. Background docs must not appear at all.
    */
  private lazy val chainDir: String = {
    val dir = tempCorpusDir("graft_cc_quality")
    val cliqueText = sentence(40)
    val clique = (0L until 3L).map(i => (i, cliqueText))
    val base = sentence(40).split(" ")
    def editAt(t: Array[String], pos: Int): Array[String] = {
      val out = t.clone()
      var repl = vocab(rng.nextInt(vocab.length))
      while (repl == out(pos)) repl = vocab(rng.nextInt(vocab.length))
      out(pos) = repl
      out
    }
    val t11 = editAt(base, 10) // 1 edit from 10 → ≈0.85 Jaccard
    val t12 = editAt(t11, 30)  // 1 edit from 11 (keeps 11's pos-10 token) → 2 edits from 10
    val chain = Seq(
      (10L, base.mkString(" ")),
      (11L, t11.mkString(" ")),
      (12L, t12.mkString(" ")),
    )
    val background = (20L until 24L).map(i => (i, sentence(50)))
    val docs = (clique ++ chain ++ background)
      .map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("cluster labeling recovers transitive components the pair list cannot") {
    // Precondition the chain is a real chain for THIS seed: 10~11 and
    // 11~12 edges exist. (10~12 may or may not clear 0.6 — the
    // component assertion below is correct either way; with this seed
    // it stays below, exercising the multi-round propagation path.)
    val edge = SparkEntry.queries("q65_minhash_lsh")(spark, chainDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edge.contains((10L, 11L)) && edge.contains((11L, 12L)),
      s"planted chain edges missing: $edge")
    val rows = SparkEntry.queries("q87_dedup_clusters")(spark, chainDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected = Set(
      (0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
    )
    assert(rows == expected, s"components wrong: $rows")
  }

  test("simhash banding finds the identical cluster at hamming 0 and keeps background apart") {
    val found = pairs("q80_simhash_neardup")
    // Identical texts have identical signatures → every cluster-A pair
    // must surface (banding is complete for ham ≤ 5 by pigeonhole).
    assert(within(0 until 25).subsetOf(found), "identical cluster missed by simhash banding")
    // Word-salad background docs share the vocab DISTRIBUTION — which
    // is exactly what simhash sketches, so unlike MinHash (set
    // Jaccard; its test above asserts ZERO background pairs) a few
    // distribution-coincidences among 50-token draws from a 20-word
    // vocab are expected and correct behavior for this method. Pin the
    // complementarity: the false-pair rate stays marginal (a handful
    // of the 190 possible background pairs for this seed), and none
    // of them is an exact-signature collision.
    val bg = found.filter { case (a, b) => a >= 70 && b >= 70 }
    assert(bg.size <= 5, s"background simhash collision rate too high: $bg")
    val hams = SparkEntry.queries("q80_simhash_neardup")(spark, corpusDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    bg.foreach(p => assert(hams(p) > 0, s"background pair $p at hamming 0"))
  }

  test("simhash band width widens with corpus size without losing exact-dup recall") {
    // q80 derives its band width in-plan from count(*): ≤4096 docs run
    // 6×10-bit bands, beyond that 4×15-bit (occupancy N/2^w). This
    // corpus crosses the breakpoint, so the wide-band branch — fewer
    // bands, stricter ham ≤ 3 threshold — is what executes; the planted
    // identical pair has hamming 0 and must surface under ANY derived
    // layout (pigeonhole completeness is width-invariant at ham 0).
    val dir = tempCorpusDir("graft_simhash_wide")
    val wideRng = new scala.util.Random(7)
    def s(n: Int) = Seq.fill(n)(vocab(wideRng.nextInt(vocab.length))).mkString(" ")
    val dup = s(40)
    val docs = ((0L until 4200L).map(i => (i, s(12) + s" uniq$i")) ++
      Seq((9000L, dup), (9001L, dup)))
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(2).write.parquet(s"$dir/documents.parquet")
    val found = SparkEntry.queries("q80_simhash_neardup")(spark, dir)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((9000L, 9001L)),
      s"planted exact dup missed under the wide-band layout: $found")
  }

  test("rolling fingerprints are identical across exact copies and distinct elsewhere") {
    val fps = SparkEntry.queries("q75_rolling_fingerprint")(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusterFp = fps(0L)
    (1L until 25L).foreach(i => assert(fps(i) == clusterFp))
    // Background docs shouldn't collide with the cluster fingerprint.
    assert((70L until 90L).count(i => fps(i) == clusterFp) == 0)
  }

  /** The planted corpus's cluster A (ids 0..24, identical text) spans
    * both parities: even members land in the at-rest index, so every
    * odd member is a dup-vs-index; cluster-B/boiler/background texts
    * are all distinct, so their odd members are new. The bloom prune
    * must leave those exact counts intact (no false negatives) and the
    * probe must actually be in the executed plan.
    */
  test("bloom-prefiltered incremental dedup matches the exact-join truth") {
    val df = SparkEntry.queries("q102_bloom_dedup")(spark, corpusDir)
    assert(df.queryExecution.executedPlan.toString.contains("might_contain"),
      "the bloom probe must appear in the physical plan")
    val bySrc = df.collect().map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("n_batch"), r.getAs[Long]("n_dup_vs_index"), r.getAs[Long]("n_new")))
      .toMap
    // Odd cluster-A ids per source: src1 = {1,7,13,19}, src2 = {5,11,17,23},
    // src0 = {3,9,15,21} — every one a dup vs the even-id index copies.
    val expectDup = Map("src0" -> 4L, "src1" -> 4L, "src2" -> 4L)
    expectDup.foreach { case (src, d) =>
      val (n, dup, fresh) = bySrc(src)
      assert(dup == d, s"$src: expected $d dups vs index, got $dup")
      assert(n == dup + fresh, s"$src: batch accounting must add up")
    }
    // All non-cluster-A odd docs are unique texts → new.
    assert(bySrc.values.map(_._3).sum ==
      bySrc.values.map(_._1).sum - 12L, "every non-planted odd doc must be new")
  }

  /** q107 exact-substring spans, on a corpus built from fully distinct
    * filler tokens so the ONLY shared 12-token windows are the planted
    * 14-token span: docs 0 and 1 carry it at different offsets (the
    * any-offset property chunk dedup lacks), doc 2 carries only its
    * first 8 tokens (below SpanTokens=12 — must NOT count), doc 3 is
    * background. A 14-token span yields exactly 14−12+1 = 3 windows,
    * which must merge to ONE island of 14 covered tokens.
    */
  test("q107 finds the planted cross-doc span at any offset, with exact merged coverage") {
    def toks(prefix: String, n: Int): Seq[String] = (0 until n).map(i => s"$prefix$i")
    val span = (1 to 14).map(i => s"s$i")
    val docA = toks("f", 20) ++ span ++ toks("g", 20)            // 54 tokens, span at 21
    val docB = toks("h", 5) ++ span ++ toks("k", 30)             // 49 tokens, span at 6
    val docC = toks("c", 20) ++ span.take(8) ++ toks("d", 20)    // 8 shared < 12: clean
    val docD = toks("z", 30)
    val dir = tempCorpusDir("graft_span_quality")
    Seq(docA, docB, docC, docD).zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" "), "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val rows = SparkEntry.queries("q107_duplicate_spans")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_windows"), r.getAs[Long]("dup_tokens"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(rows.keySet == Set(0L, 1L), s"only the two span carriers may appear: $rows")
    assert(rows(0L) == ((3L, 14L, math.rint(14.0 / 54 * 10000) / 10000)), s"doc 0: ${rows(0L)}")
    assert(rows(1L) == ((3L, 14L, math.rint(14.0 / 49 * 10000) / 10000)), s"doc 1: ${rows(1L)}")
  }

  test("q158: every exact copy lands in ONE split; the leakage column proves it") {
    // Cluster A is 25 byte-identical docs under 25 DIFFERENT doc_ids —
    // exactly the corpus where q86's doc_id-keyed split leaks
    // (25 independent 90/10 draws straddle train/val with
    // probability 1 - 0.9^25 - 0.1^25 ≈ 93 %). The digest-keyed split
    // must put all 25 in one split, and its leaked_digests column —
    // digests assigned to more than one split — must be zero.
    val rows = SparkEntry.queries("q158_digest_split")(spark, corpusDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("leaked_digests") == 0L,
      s"digest-keyed split leaked a digest across splits: ${r.mkString(",")}"))
    // Accounting coherence: docs sum to the corpus, digests to the
    // distinct-text count, and cluster A's 25 copies inflate exactly
    // one split's n_docs - n_digests gap by 24.
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 69L)
    assert(rows.map(_.getAs[Long]("n_digests")).sum == 45L)
    assert(rows.map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_digests")).max == 24L)
  }
}
