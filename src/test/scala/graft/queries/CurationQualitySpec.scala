package graft.queries

import scala.util.Random

import graft.{SparkEntry, SparkTestBase}

/** Quality-level validation of the round-4 curation operators on
  * PLANTED corpora — the oracle gate proves Spark and DuckDB agree;
  * this proves the operators catch what they claim to catch:
  *
  *   - q93 boilerplate fraction flags documents dominated by a block
  *     shared across the corpus and passes unique documents,
  *   - q94 n-gram decontamination flags exactly the training documents
  *     that quote a benchmark span,
  *   - q95 pattern scrub redacts planted emails/SSNs byte-for-byte the
  *     way java.util.regex does (the engine the Spark plan compiles to),
  *   - q96 cluster-balanced sampling clips dense cells to the cap,
  *     keeps sparse cells whole, and is deterministic across runs.
  */
class CurationQualitySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(91)
  private val vocabA = Array(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
  private val vocabB = Array(
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "omega", "sigma")

  private def sentence(v: Array[String], n: Int): String =
    Seq.fill(n)(v(rng.nextInt(v.length))).mkString(" ")

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempCorpusDir("graft_curation_quality")
    rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  // -------------------------------------------------------------------
  test("q93 flags boilerplate-dominated docs and passes unique docs") {
    val boilerBlock = sentence(vocabA, 30) // shared by 12 docs → df=12 ≥ BoilerDfMin
    val boilerDocs = (0L until 12L).map(i =>
      (i, boilerBlock + " " + sentence(vocabA, 5), s"src${i % 3}"))
    val uniqueDocs = (20L until 30L).map(i =>
      (i, sentence(vocabB, 40), s"src${i % 3}"))
    val dir = writeDocs(boilerDocs ++ uniqueDocs)

    val rows = SparkEntry.queries("q93_boilerplate_frac")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("boiler_frac"), r.getAs[Int]("flagged"))).toMap

    (0L until 12L).foreach { id =>
      val (frac, flag) = rows(id)
      assert(flag == 1 && frac > 0.7, s"boiler doc $id: frac=$frac flag=$flag")
    }
    (20L until 30L).foreach { id =>
      val (frac, flag) = rows(id)
      assert(flag == 0 && frac < 0.3, s"unique doc $id: frac=$frac flag=$flag")
    }
  }

  // -------------------------------------------------------------------
  test("q94 flags exactly the train docs quoting a benchmark span") {
    val benchDocs = (0L until 3L).map(i => (i, sentence(vocabA, 40), "src19"))
    val quoted = benchDocs.head._2.split(" ").slice(5, 17).mkString(" ") // 12-token span → 9 shared 4-grams
    val contaminated = Seq(
      (10L, quoted + " " + sentence(vocabB, 20), "src0"),
      (11L, sentence(vocabB, 15) + " " + quoted, "src1"),
    )
    val clean = (20L until 28L).map(i => (i, sentence(vocabB, 40), s"src${i % 3}"))
    val dir = writeDocs(benchDocs ++ contaminated ++ clean)

    val rows = SparkEntry.queries("q94_ngram_decontam")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_overlap"), r.getAs[Int]("contaminated"))).toMap

    assert(!rows.contains(0L), "benchmark docs must not appear in the train report")
    Seq(10L, 11L).foreach { id =>
      val (overlap, flag) = rows(id)
      assert(flag == 1 && overlap >= 7, s"contaminated doc $id: overlap=$overlap")
    }
    (20L until 28L).foreach { id =>
      val (overlap, flag) = rows(id)
      assert(flag == 0 && overlap == 0, s"clean doc $id: overlap=$overlap")
    }
  }

  // -------------------------------------------------------------------
  test("q95 redacts planted emails and SSNs exactly as java.util.regex does") {
    val texts = Seq(
      (0L, "contact bob@example.com or alice.smith@dev.example.org today", "src0"),
      (1L, "ssn 123-45-6789 on file plus a second 987-65-4321 entry", "src0"),
      (2L, "a plain doc with a few a tokens and no pii at all", "src1"),
      (3L, "nothing sensitive here whatsoever", "src1"),
    )
    val dir = writeDocs(texts)

    val got = SparkEntry.queries("q95_pattern_scrub")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[String]("redacted_md5"),
          r.getAs[Long]("n_chars_clean"))).toMap

    texts.foreach { case (id, text, _) =>
      val expected = text.replaceAll(TextOps.ScrubPattern, "[X]")
      val expectedHits = TextOps.ScrubPattern.r.findAllIn(text).size
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val (hits, gotMd5, len) = got(id)
      assert(hits == expectedHits, s"doc $id hits: $hits vs $expectedHits")
      assert(gotMd5 == md5 && len == expected.length, s"doc $id redaction diverged")
    }
    // The planted PII really was found: emails on doc 0, SSNs on doc 1,
    // standalone-a tokens on doc 2, nothing on doc 3.
    assert(got(0L)._1 == 2 && got(1L)._1 >= 2 && got(2L)._1 == 3 && got(3L)._1 == 0)
  }

  // -------------------------------------------------------------------
  test("q97 saturates the keep rate for under-represented sources") {
    // srcBig: 20 docs × 50 tokens = 1000; srcSmall: 2 docs × 10 = 20.
    // Budget = 0.3·1020/2 = 153 per source → big keeps 0.153, small 1.0.
    val big = (0L until 20L).map(i => (i, sentence(vocabA, 50), "srcBig"))
    val small = (30L until 32L).map(i => (i, sentence(vocabB, 10), "srcSmall"))
    val dir = writeDocs(big ++ small)

    val rows = SparkEntry.queries("q97_token_budget")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("keep_rate"))).toMap
    assert(rows("srcSmall") == ((20L, 1.0)), s"small source must keep 1.0: $rows")
    val (bigTokens, bigRate) = rows("srcBig")
    assert(bigTokens == 1000L && math.abs(bigRate - 0.153) < 1e-9, s"big source: $rows")
  }

  // -------------------------------------------------------------------
  test("q98 packs docs into sequences by running token count, boundaries where expected") {
    // 10 docs × 100 tokens, SeqLen=512: cum-before 0..900 → docs 0-5
    // start in seq 0 (cb ≤ 500), docs 6-9 in seq 1 (cb 600..900).
    val docs = (0L until 10L).map(i => (i, sentence(vocabA, 100), "src0"))
    val dir = writeDocs(docs)

    val rows = SparkEntry.queries("q98_sequence_packing")(spark, dir)
      .collect().map(r => (r.getAs[Long]("seq_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
    assert(rows.toSeq == Seq((0L, 6L, 600L), (1L, 4L, 400L)), rows.toSeq.toString)
  }

  // -------------------------------------------------------------------
  /** 36 vectors, nlist = ⌈√36⌉ = 6: seeds 0..5 are one member of each
    * of 6 orthogonal clusters; cluster 0 gets 15 extra members (ids
    * 6..20, dense cell → clipped to the cap), clusters 1..5 get 3 each
    * (sparse cells → survive whole).
    */
  test("q96 clips dense cells to the cap, keeps sparse cells whole, deterministically") {
    val dim = 32
    def noisyBasis(c: Int): Seq[Float] =
      Seq.tabulate(dim)(d => (if (d == c) 1f else 0f) + (rng.nextFloat() - 0.5f) * 0.05f)
    val rows =
      (0 until 6).map(c => (c.toLong, noisyBasis(c))) ++
        (6 until 21).map(i => (i.toLong, noisyBasis(0))) ++
        (21 until 36).map(i => (i.toLong, noisyBasis(1 + (i - 21) % 5)))
    val dir = tempCorpusDir("graft_q96")
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    def run() = SparkEntry.queries("q96_cluster_balanced_sample")(spark, dir)
      .collect().map(r => (r.getAs[Long]("cluster"),
        r.getAs[Long]("n_cell"), r.getAs[Long]("n_kept"), r.getAs[Long]("kept_vec_sum")))

    val first = run()
    assert(first.map(_._2).sum == 36, s"cells must partition the corpus: $first")
    first.foreach { case (cl, n, kept, _) =>
      assert(kept == math.min(n, 10L), s"cell $cl: n=$n kept=$kept")
    }
    assert(first.exists { case (_, n, kept, _) => n == 16 && kept == 10 },
      s"the dense cell (seed 0 + 15 extras) must be clipped: $first")
    assert(first.count { case (_, n, kept, _) => n == 4 && kept == 4 } == 5,
      s"five sparse cells must survive whole: $first")
    assert(run().toSeq == first.toSeq, "hash-ranked sample must be deterministic")
  }

  // -------------------------------------------------------------------
  test("q99 keeps exactly one survivor per planted near-dup cluster") {
    val base = sentence(vocabA, 40).split(" ")
    // 4 near-dups of the base doc (one token differs each → 3-shingle
    // Jaccard far above 0.6), plus 5 unrelated unique docs.
    val nearDups = (0L until 4L).map { i =>
      val t = base.updated(base.length - 1 - i.toInt, s"variant$i").mkString(" ")
      (i, t, "src0")
    }
    val unique = (10L until 15L).map(i => (i, sentence(vocabB, 40), "src1"))
    val dir = writeDocs(nearDups ++ unique)

    val rows = SparkEntry.queries("q99_lsh_survivors")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed")))
      .toMap
    assert(rows("src0") == ((4L, 1L, 3L)),
      s"near-dup cluster must collapse to one survivor: ${rows("src0")}")
    assert(rows("src1") == ((5L, 5L, 0L)),
      s"unique docs must all survive: ${rows("src1")}")
  }

  // -------------------------------------------------------------------
  test("q100 catches formatting twins that collide only after normalization") {
    val body = sentence(vocabA, 20)
    val twins = Seq(
      (0L, body, "src0"),
      (1L, body.toUpperCase + "!!", "src0"),    // case + punctuation variant
      (2L, "  " + body.replace(" ", "   "), "src0"), // whitespace-run variant
    )
    val unique = (10L until 14L).map(i => (i, sentence(vocabB, 20), "src0"))
    val dir = writeDocs(twins ++ unique)

    val r = SparkEntry.queries("q100_normalized_dedup")(spark, dir)
      .collect().map(x => (x.getAs[Long]("n_docs"), x.getAs[Long]("uniq_raw"),
        x.getAs[Long]("uniq_norm"), x.getAs[Long]("norm_collisions")))
    assert(r.length == 1) // all docs are lang=en
    // 7 docs, all raw-distinct; the 3 twins collapse to 1 normalized form.
    assert(r(0) == ((7L, 7L, 5L, 2L)), s"got ${r(0)}")
  }

  // -------------------------------------------------------------------
  /** 10 docs per source with strictly increasing quality (all-distinct
    * tokens → diversity 1; token count drives the length factor):
    * percent_rank = (rank−1)/9, so pr ≥ 0.4 keeps ranks 5..10 — six
    * docs — in EACH source independently, even though srcB's best doc
    * is worse than srcA's worst.
    */
  test("q101 cuts each source at its own quality rank, not a global threshold") {
    def doc(id: Long, nTok: Int, source: String) =
      (id, (1 to nTok).map(j => s"t${id}x$j").mkString(" "), source)
    val srcA = (0L until 10L).map(i => doc(i, 50 + 5 * i.toInt, "srcA"))   // 50..95 tokens
    val srcB = (10L until 20L).map(i => doc(i, 5 + 2 * (i.toInt - 10), "srcB")) // 5..23 tokens
    val dir = writeDocs(srcA ++ srcB)

    val rows = SparkEntry.queries("q101_adaptive_quality_gate")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))).toMap
    assert(rows("srcA") == ((10L, 6L)), s"srcA: ${rows("srcA")}")
    assert(rows("srcB") == ((10L, 6L)), s"srcB: ${rows("srcB")}")
  }

  /** Window = 64, stride = 48 (overlap 16). Doc lengths probe every
    * boundary case: shorter than a window (one short chunk), exactly
    * one window, one token past (second chunk is overlap + 1 tokens),
    * an exact multiple of stride landing flush (no tail), and one past
    * that. Chunk i covers tokens [48·i, 48·i + n_tokens); together the
    * chunks must cover 0..n with no gap, and identical docs must emit
    * identical digest sequences (chunk-level dedup composes).
    */
  test("q103 chunks cover every token, overlap by window-stride, dedup-stable digests") {
    def doc(id: Long, nTok: Int) =
      (id, (1 to nTok).map(j => s"w${id}n$j").mkString(" "), "src0")
    val lens = Map(0L -> 10, 1L -> 64, 2L -> 65, 3L -> 160, 4L -> 161)
    val twin = (5L, (1 to 161).map(j => s"w4n$j").mkString(" "), "src1") // same text as doc 4
    val dir = writeDocs(lens.toSeq.sortBy(_._1).map { case (id, n) => doc(id, n) } :+ twin)

    val rows = SparkEntry.queries("q103_context_chunks")(spark, dir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id")).map { case (id, rs) =>
      id -> rs.sortBy(_.getAs[Long]("chunk_id"))
        .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_md5")))
    }

    def shape(id: Long): Seq[(Long, Long)] = byDoc(id).map(c => (c._1, c._2)).toSeq
    assert(shape(0L) == Seq((0L, 10L)), s"short doc: ${shape(0L)}")
    assert(shape(1L) == Seq((0L, 64L)), s"exact window: ${shape(1L)}")
    assert(shape(2L) == Seq((0L, 64L), (1L, 17L)), s"window+1: ${shape(2L)}")
    assert(shape(3L) == Seq((0L, 64L), (1L, 64L), (2L, 64L)), s"flush: ${shape(3L)}")
    assert(shape(4L) == Seq((0L, 64L), (1L, 64L), (2L, 64L), (3L, 17L)), s"flush+1: ${shape(4L)}")

    // Coverage: chunk i starts at 48·i, so end of last chunk must hit n
    // and each next chunk must start inside the previous one (overlap).
    lens.foreach { case (id, n) =>
      val spans = byDoc(id).toSeq.map { case (cid, nt, _) => (48 * cid, 48 * cid + nt) }
      assert(spans.last._2 == n, s"doc $id: covered to ${spans.last._2}, n=$n")
      spans.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 < e1, s"doc $id: gap at $s2")
        case _ =>
      }
    }
    assert(byDoc(5L).map(_._3).sameElements(byDoc(4L).map(_._3)),
      "identical texts must produce identical chunk digests")
  }

  /** Doc 0 is a 160-token block P (3 chunks, all inside P); doc 1 is
    * P followed by 160 unique tokens (7 chunks, of which the first 3
    * — starts 0/48/96, all ending at or before token 160 — are
    * byte-identical to doc 0's). So doc 0 is fully covered by shared
    * chunks (flagged) while doc 1 shares only 3/7 (not flagged): the
    * partial-duplication case whole-document digests cannot see.
    * Docs with disjoint vocab share nothing.
    */
  test("q104 flags the contained copy, grades the partial overlap, passes unique docs") {
    val p = (1 to 160).map(j => s"p$j").mkString(" ")
    val uniq = (1 to 160).map(j => s"u$j").mkString(" ")
    val others = (10L until 14L).map(i =>
      (i, (1 to 100).map(j => s"o${i}x$j").mkString(" "), "src2"))
    val dir = writeDocs(Seq((0L, p, "src0"), (1L, s"$p $uniq", "src1")) ++ others)

    val rows = SparkEntry.queries("q104_chunk_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared"), r.getAs[Int]("flagged")))).toMap
    assert(rows(0L) == ((3L, 3L, 1)), s"contained copy: ${rows(0L)}")
    assert(rows(1L) == ((7L, 3L, 0)), s"partial overlap: ${rows(1L)}")
    (10L until 14L).foreach { id =>
      assert(rows(id)._2 == 0L && rows(id)._3 == 0, s"unique doc $id: ${rows(id)}")
    }
  }

  /** src0: three identical high-quality docs (100 distinct tokens →
    * quality 1.0; dedup keeps one) plus one repeated-token doc
    * (quality ≈ 0.26, gated out) → funnel 4 → 3 → 1. srcZ: only
    * low-quality docs → the left join must still emit its row with
    * explicit zeros. Mixing is hash-deterministic, so n_mixed is
    * bounded by the dedup survivors and identical across runs.
    */
  test("q105 funnel counts each stage; a fully-gated source reports zeros") {
    val hi = (1 to 100).map(j => s"h$j").mkString(" ")
    val dir = writeDocs(Seq(
      (0L, hi, "src0"), (1L, hi, "src0"), (2L, hi, "src0"),
      (3L, Seq.fill(50)("x").mkString(" "), "src0"),
      (10L, Seq.fill(40)("y").mkString(" "), "srcZ"),
      (11L, Seq.fill(60)("z").mkString(" "), "srcZ"),
    ))

    def funnel() = SparkEntry.queries("q105_curation_funnel")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_raw"), r.getAs[Long]("n_gated"),
          r.getAs[Long]("n_deduped"), r.getAs[Long]("n_mixed")))).toMap

    val out = funnel()
    val (raw, gated, ded, mixed) = out("src0")
    assert((raw, gated, ded) == ((4L, 3L, 1L)), s"src0: ${out("src0")}")
    assert(mixed <= ded, s"mix kept more than the dedup survivors: ${out("src0")}")
    assert(out("srcZ") == ((2L, 0L, 0L, 0L)), s"srcZ: ${out("srcZ")}")
    assert(funnel()("src0")._4 == mixed, "hash-based mixing must be deterministic")
  }

  /** q108 rarity scoring must order documents by how head-heavy their
    * vocabulary is: a doc of pure corpus-head tokens scores exactly 0
    * (rank−1 = 0 for the most frequent term), a doc of tokens that
    * appear nowhere else scores highest, and a half-and-half doc lands
    * strictly between. Also pins determinism across runs — the score
    * is integer arithmetic plus one division, so repeated evaluation
    * must be bit-identical.
    */
  test("q108 orders docs by vocabulary rarity; head-only docs score zero") {
    val common = Seq.fill(30)("the")
    val rare = (0 until 30).map(i => s"r$i")
    val mix = Seq.fill(15)("the") ++ (0 until 15).map(i => s"m$i")
    val dir = writeDocs(Seq(
      (0L, common.mkString(" "), "srcC"),
      (1L, rare.mkString(" "), "srcR"),
      (2L, mix.mkString(" "), "srcM"),
    ))
    def scores() = SparkEntry.queries("q108_unigram_rarity")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rarity_score")).toMap
    val s = scores()
    assert(s(0L) == 0.0, s"head-only doc must score 0: $s")
    assert(s(1L) > s(2L) && s(2L) > s(0L), s"rarity ordering violated: $s")
    assert(scores() == s, "rarity score must be deterministic across evaluations")
  }

  /** q108 tie semantics, pinned exactly: the rank table is computed as
    * a count-of-counts prefix sum (rank−1 = #terms with STRICTLY
    * greater corpus count), which must match rank() OVER (ORDER BY ct
    * DESC) − 1 under ties. Corpus counts here are a=3,b=3,c=2,d=1,e=1
    * (n_terms=5): rank() gives r(a)=r(b)=0, r(c)=2, r(d)=r(e)=3, so
    * doc 1 scores (2·2+1·3+1·3)/(4·4)=0.625 exactly. dense_rank would
    * yield 0.375 and any ≥-counting or tie-order-dependent formulation
    * a different constant — this test discriminates all of them.
    */
  test("q108 tie ranks match rank() semantics exactly (count-of-counts identity)") {
    val dir = writeDocs(Seq(
      (0L, "a a a b b b", "srcH"),
      (1L, "c c d e", "srcT"),
    ))
    val out = SparkEntry.queries("q108_unigram_rarity")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("rarity_score")))).toMap
    assert(out(0L) == ((6L, 0.0)), s"tied head terms must all take rank 1: $out")
    assert(out(1L) == ((4L, 0.625)), s"tied tail ranks diverged from rank(): $out")
  }

  /** q108 rounds a tie at the fourth decimal the way its DuckDB oracle
    * does: round(x·10⁴)/10⁴ on the double. Every doc below has 100
    * tokens over a 25-term vocabulary whose corpus counts strictly
    * decrease from t0 to t24, so term ti has rank−1 = i and a doc's
    * score is (its rank sum)/2400. The sums 1281, 1293 and 609 land
    * just under a half once scaled (1281/2400·10⁴ = 5337.499999999999),
    * where Spark's round(x, 4) would round the decimal string 0.53375
    * up to 0.5338. 1287/2400 scales to exactly 5362.5 and rounds up in
    * both engines. Expected values are DuckDB 1.0.0's round(x, 4).
    */
  test("q108 rounds fourth-decimal ties like DuckDB") {
    val want = Map(1281 -> 0.5337, 1293 -> 0.5387, 609 -> 0.2537, 1287 -> 0.5363)
    // 100 tokens with rank sum `num`: (num % 100) at rank q+1, the rest at q.
    def ranks(num: Int): Seq[Int] = {
      val (q, rem) = (num / 100, num % 100)
      Seq.fill(rem)(q + 1) ++ Seq.fill(100 - rem)(q)
    }
    val docs = want.keys.toSeq.map(n => n -> ranks(n))
    val used = docs.flatMap(_._2).groupBy(identity).map { case (r, v) => r -> v.size }
    // Filler tops every term up to a corpus count of 600 − 10·i.
    val filler = (0 until 25).flatMap(i => Seq.fill(600 - 10 * i - used.getOrElse(i, 0))(i))
    def text(rs: Seq[Int]) = rs.map(r => s"t$r").mkString(" ")
    val dir = writeDocs(
      (0L, text(filler), "srcF") +:
        docs.map { case (n, rs) => (n.toLong, text(rs), "srcT") })
    val out = SparkEntry.queries("q108_unigram_rarity")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("rarity_score")))).toMap
    want.foreach { case (n, score) =>
      assert(out(n.toLong) == ((100L, score)), s"rank sum $n: $out")
    }
  }

  // -------------------------------------------------------------------
  test("q113 model filter ranks degenerate docs strictly below diverse docs") {
    // 20 diverse docs (30–50 tokens from a 14-word vocabulary) and 2
    // degenerate docs: one long token repeated 40 times — near-average
    // token count (z_t ≈ 0), floor-level distinct count (z_d ≪ 0),
    // inflated char mass (z_c ≫ 0). Under the shipped weights every
    // degenerate logit must fall strictly below every diverse logit and
    // under the keep threshold; the gap (≥ ~2 σ-weighted units) dwarfs
    // any rng wiggle in the diverse docs' features.
    val diverse = (0L until 20L).map(i =>
      (i, sentence(vocabA, 30 + rng.nextInt(21)), s"src${i % 3}"))
    val junkWord = "zzzzzzzzzz"
    val junk = Seq(
      (30L, Seq.fill(40)(junkWord).mkString(" "), "srcJ"),
      (31L, Seq.fill(40)(junkWord).mkString(" "), "srcJ"))
    val dir = writeDocs(diverse ++ junk)

    val rows = SparkEntry.queries("q113_model_quality_filter")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("logit"), r.getAs[Int]("kept")))
    val (junkRows, divRows) = rows.partition(_._1 >= 30L)
    assert(junkRows.length == 2 && divRows.length == 20)
    junkRows.foreach { case (id, logit, kept) =>
      assert(kept == 0 && logit < 0, s"degenerate doc $id kept: logit=$logit")
    }
    val worstDiverse = divRows.map(_._2).min
    junkRows.foreach { case (id, logit, _) =>
      assert(logit < worstDiverse,
        s"degenerate doc $id ($logit) not below worst diverse ($worstDiverse)")
    }
  }

  test("q143 reports the planted vocabulary-growth curve exactly") {
    // 10 docs, ids 0..9 → each doc is its own decile. Doc i introduces
    // exactly one new type w_i next to the shared type "common", so the
    // curve is fully determined: docs_cum 1..10, tokens_cum 2,4,..,20,
    // vocab_cum 2,3,..,11.
    val docs = (0L until 10L).map(i => (i, s"common w$i", "src0"))
    val dir = writeDocs(docs)
    val rows = SparkEntry.queries("q143_vocab_growth")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val expected = (1L to 10L).map(d => (d, d, 2 * d, d + 1))
    assert(rows == expected, rows.mkString("\n"))
  }

  test("q143 growth curve is consistent with the real corpus totals") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q143_vocab_growth")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    // Monotone non-decreasing in all three cumulatives.
    rows.sliding(2).foreach {
      case Array((d1, t1, v1), (d2, t2, v2)) =>
        assert(d1 <= d2 && t1 <= t2 && v1 <= v2, "cumulative curve decreased")
      case _ => ()
    }
    // Final checkpoint equals the independently-computed corpus totals.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.select(explode(split(col("text"), " ")).as("t"))
      .agg(count(lit(1)).as("n"), countDistinct(col("t")).as("v"))
      .collect()(0)
    assert(rows.last._1 == docs.count(), "docs_cum final != n_docs")
    assert(rows.last._2 == total.getLong(0), "tokens_cum final != corpus tokens")
    assert(rows.last._3 == total.getLong(1), "vocab_cum final != corpus vocabulary")
  }

  test("q144 sweeps planted quality buckets with exact counts and composition") {
    // 6 'en' docs at quality ≈ 0.67 (34 distinct tokens → bucket 13)
    // and 4 'fr' docs at quality ≈ 0.57 (14 distinct tokens →
    // bucket 11) — both safely inside their buckets, away from FP
    // boundaries. The sweep must retain 10 docs up to 55%, exactly the
    // 6 en docs at 60–65%, and nothing from 70% (en_frac null there).
    val en = (0L until 6L).map(i =>
      (i, (0 until 34).map(j => s"e${i}t$j").mkString(" "), "en"))
    val fr = (6L until 10L).map(i =>
      (i, (0 until 14).map(j => s"f${i}t$j").mkString(" "), "fr"))
    val dir = tempCorpusDir("graft_sweep")
    (en ++ fr).map { case (id, text, lang) => (id, text, lang, "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val rows = SparkEntry.queries("q144_threshold_sweep")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSeq
    assert(rows.map(_._1) == (0L until 100L by 5L).toSeq, rows.mkString("\n"))
    rows.foreach { case (pct, retained, retainedEn, enFrac) =>
      if (pct <= 55) {
        assert(retained == 10 && retainedEn == 6 && enFrac.contains(0.6),
          s"at $pct%: ($retained, $retainedEn, $enFrac)")
      } else if (pct <= 65) {
        assert(retained == 6 && retainedEn == 6 && enFrac.contains(1.0),
          s"at $pct%: ($retained, $retainedEn, $enFrac)")
      } else {
        assert(retained == 0 && retainedEn == 0 && enFrac.isEmpty,
          s"at $pct%: ($retained, $retainedEn, $enFrac)")
      }
    }
  }

  test("q146 links planted twins through either window AND inside a hot block (sampled, not dropped)") {
    // Distinct 48+-char lowercase bases per pair (distinct first-16
    // chars, so blocks never collide across pairs).
    def edit(s: String, at: Int*) =
      at.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == 'x') 'y' else 'x'))
    val baseA = "alpha one stream of perfectly ordinary words here"
    val baseB = "bravo two stream of perfectly ordinary words here"
    val baseC = "charlie three rivers of perfectly ordinary words here"
    val baseD = "delta four rivers of perfectly ordinary words here"
    // Hot block: 54 docs (> LinkageBlockCap=50) sharing BOTH 8-char
    // blocking windows ("same8pfx" / " hotwind"), so sub-block
    // co-location is the ONLY route to a pair — the old HAVING cap
    // produced zero pairs here. 52 fillers with tails c1^15 c2^15
    // (c1≠c2): any two fillers differ by ≥ 15 edits (equal length, LCS
    // ≤ 15), so no filler pair can pass the ≤ 4 bound. The planted
    // twins' tails start 't' — they rank 53/54 by prefix order, i.e.
    // INSIDE the second sub-block, and must still be found.
    val hotHead = "same8pfx hotwind" // chars 1-8 and 9-16 shared by all
    val fillers = (for {
      c1 <- 'a' to 'h'; c2 <- 'a' to 'h' if c1 != c2
    } yield s"$hotHead${c1.toString * 15}${c2.toString * 15}").take(52)
    val twinBase = hotHead + "twin twin twin twin twin canary!"
    val docs = Seq(
      (0L, baseA, "src"), (1L, baseA, "src"), // identical → dist 0
      (2L, baseB, "src"), (3L, edit(baseB, 20, 25, 30), "src"), // 3 mid edits → dist 3
      (4L, baseC, "src"), (5L, edit(baseC, 18, 22, 26, 31, 35, 40), "src"), // 6 edits → cut
      (6L, baseD, "src"), (7L, edit(baseD, 1, 3), "src"), // window a broken, b intact → found via pass b
    ) ++
      fillers.zipWithIndex.map { case (t, i) => (100L + i, t, "hot") } ++
      Seq((200L, twinBase, "hot"), (201L, edit(twinBase, 20, 30), "hot"))
    val dir = writeDocs(docs)
    val rows = SparkEntry.queries("q146_edit_distance_linkage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows == Seq((0L, 1L, 0), (2L, 3L, 3), (6L, 7L, 2), (200L, 201L, 2)),
      rows.mkString("\n"))
  }

  test("q146 fuzz: reported pairs are true banded matches; cool blocks are complete") {
    // Sub-block sampling makes the exact output depend on rank order
    // inside HOT blocks, so a brute-force reference cannot predict the
    // full result set — but two properties hold unconditionally and
    // are what the operator promises: SOUNDNESS (every reported pair
    // really is a ≤ LinkageMaxEdit prefix pair, at its exact distance
    // — an independent full-matrix DP checks the banded builtin) and
    // COOL-BLOCK COMPLETENESS (a block at-or-under the cap has one
    // sub-block, so EVERY true pair sharing it must be reported — the
    // graceful-degradation contract: sampling may drop hot-block
    // pairs, never cool-block ones).
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val letters = "abcdefghij"
    def rand(n: Int): String =
      Seq.fill(n)(letters(rng.nextInt(letters.length))).mkString
    (1 to 3).foreach { round =>
      var id = -1L
      def nid(): Long = { id += 1; id }
      // Shared-prefix families straddle the cap (2..120 members): some
      // cool, some hot with multiple sub-blocks.
      val families = (1 to 6).flatMap { _ =>
        val head = rand(16)
        (0 until (2 + rng.nextInt(119))).map(_ => (nid(), head + rand(40)))
      }
      // Twins: an existing text with 0..6 random substitutions (≤ 4
      // must be found when co-blocked; > 4 must never be reported).
      val twins = (1 to 25).map { _ =>
        val src = families(rng.nextInt(families.length))._2
        val edited = (1 to rng.nextInt(7)).foldLeft(src) { (t, _) =>
          val i = rng.nextInt(t.length)
          t.updated(i, letters((letters.indexOf(t(i)) + 1) % letters.length))
        }
        (nid(), edited)
      }
      // Noise, including sub-16-char docs (short-prefix block keys).
      val noise = (1 to 30).map(_ => (nid(), rand(4 + rng.nextInt(60))))
      val docs = families ++ twins ++ noise
      val dir = writeDocs(docs.map { case (i, t) => (i, t, "src") })

      val got = SparkEntry.queries("q146_edit_distance_linkage")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val prefix = docs.map { case (i, t) => i -> t.toLowerCase.take(48) }.toMap
      // Soundness + canonical form.
      assert(got.distinct == got && got.forall { case (d1, d2, _) => d1 < d2 })
      got.foreach { case (d1, d2, dist) =>
        val truth = lev(prefix(d1), prefix(d2))
        assert(dist == truth && dist <= 4,
          s"round $round: reported ($d1,$d2,$dist) but true dist $truth")
      }
      // Cool-block completeness.
      val keysOf = prefix.view.mapValues(p =>
        Seq("a:" + p.take(8), "b:" + p.slice(8, 16))).toMap
      val blockSize = docs.flatMap(d => keysOf(d._1)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val gotPairs = got.map { case (d1, d2, _) => (d1, d2) }.toSet
      val ids = docs.map(_._1)
      for {
        i <- ids; j <- ids if i < j
        if keysOf(i).exists(k => keysOf(j).contains(k) && blockSize(k) <= 50)
        if lev(prefix(i), prefix(j)) <= 4
      } assert(gotPairs.contains((i, j)),
        s"round $round: cool-block pair ($i,$j) dist ${lev(prefix(i), prefix(j))} missed")
    }
  }

  test("q144 retention is monotone non-increasing on the real corpus") {
    val rows = SparkEntry.queries("q144_threshold_sweep")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    rows.sliding(2).foreach {
      case Array((r1, e1), (r2, e2)) =>
        assert(r1 >= r2 && e1 >= e2, "retention increased with a stricter threshold")
      case _ => ()
    }
    rows.foreach { case (r, e) => assert(e <= r, "en subset exceeds retained") }
    // Threshold 0 retains everything.
    assert(rows.head._1 == 500L, s"t=0 must retain all 500 docs, got ${rows.head._1}")
  }
}
