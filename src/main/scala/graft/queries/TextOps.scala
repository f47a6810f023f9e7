package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.TextFunctions._
import graft.util.{QueryDef, Tables}

/** Training-data text operators over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), language
  * heuristics, quality scoring, token statistics, fingerprinting.
  *
  * Scale design: every pipeline is explode → hash → groupBy/join on
  * hashed keys. Nothing is quadratic in the corpus — candidate
  * generation goes through LSH bands or rare k-gram joins, the same
  * shapes that work at 10^9 documents (cf. MinHash banding in Broder
  * '97 / MMDS ch.3).
  */
object TextOps {

  import Tables.tbl
  import org.apache.spark.sql.SparkSession

  private val NumHashes = 16
  private val Bands = 4
  private val Rows = 4 // NumHashes / Bands

  /** q80 banded-Hamming parameters: a 60-bit SimHash cut into bands
    * of width `w`, where `w` is DERIVED IN-PLAN from the corpus size
    * (the same CASE over count(*) on both engines, like IVF's nlist):
    * expected bucket population is N/2^w, so the derivation widens the
    * bands as the corpus grows to keep the per-bucket self-join
    * bounded — N ≤ 2^10 → w=10 (6 bands), N ≤ 2^12 → w=12 (5 bands),
    * beyond → w=15 (4 bands), each keeping occupancy ≈ ≤ 1 up to its
    * breakpoint. w must divide [[SimBits]]; 15 is the 60-bit ceiling
    * (a 100 TB corpus wants 64- or 128-bit signatures with 16+-bit
    * bands — Manku et al. run 64-bit, k=3 at 8B pages — which is a
    * signature-width change, not a banding change).
    *
    * Pigeonhole guarantees COMPLETENESS for the derived Hamming
    * threshold bands-1: a pair differing in ≤ bands-1 bits cannot
    * touch all bands, so at least one band matches exactly and the
    * band-bucket join nominates the pair — banding is a pruning,
    * never a recall loss, for ham ≤ bands-1 (Manku et al., WWW'07).
    * The threshold is coupled to the layout by construction: wider
    * bands (bigger corpus) mean fewer bands and a stricter threshold,
    * trading recall for bounded candidate generation exactly as the
    * production systems do.
    *
    * Declared BEFORE `defs`: appended QueryDefs are forced during
    * object init, and a val declared later in the file would still be
    * zero at that point (the q80 oracle would silently generate empty
    * SQL — caught by the local verify gate).
    */
  private val SimBits = 60
  /** Max bands any derived width yields (w=10 → 6) — sizes the static
    * band-index domain both engines filter down to 60/w rows. */
  private val SimMaxBands = 6
  /** The shared width derivation as a SQL CASE over a count — spliced
    * verbatim into both plans so the engines cannot drift. */
  private def simWidthCase(countExpr: String): String =
    s"CASE WHEN $countExpr <= ${1 << 10} THEN 10 " +
      s"WHEN $countExpr <= ${1 << 12} THEN 12 ELSE 15 END"

  /** Max documents a shingle may appear in and still drive candidate
    * generation in q67. A hot 4-gram (boilerplate, templated text)
    * otherwise creates O(df²) candidate pairs in the shingle self-join;
    * capping df bounds the join at O(cap·df) per shingle (standard
    * rare-n-gram candidate construction). Verification still uses ALL
    * shingles, so the reported Jaccard is exact.
    *
    * Known recall trade-off, by design: a duplicate CLUSTER larger
    * than the cap (more than `cap` near-identical docs) pushes every
    * shared shingle's df over the cap, so the rare-shingle method
    * nominates none of its pairs — high-df n-grams are treated as
    * non-discriminative. That corpus shape is exactly what the LSH
    * path (q65) is for: banding has no df cliff, and exact-dup
    * clusters collapse under q60 before near-dup runs. The methods are
    * complementary, not interchangeable.
    */
  private val RareShingleCap = 20

  /** Minimum corpus document-frequency for a 4-gram to count as
    * boilerplate in q93. Absolute here because the test corpora are
    * fixed-size; production derives it from corpus size (df/N above a
    * few permille), same knob family as [[RareShingleCap]] — both mark
    * high-df n-grams as non-discriminative, q67 to skip them, q93 to
    * measure how much of a document is made of them.
    *
    * NOTE for this and every constant a QueryDef oracle interpolates:
    * it must be declared ABOVE `defs` — the (strict) `defs` val forces
    * the lazy QueryDefs during object construction, and a constant
    * declared below it still holds 0/null at that point (Scala
    * initialization order), silently corrupting the oracle SQL.
    */
  private val BoilerDfMin = 3

  /** Minimum corpus count for a bigram to be a collocation candidate
    * in q135 — the standard phrase-mining support floor (a 1-count
    * bigram has maximal lift by construction and zero evidence). Same
    * ABOVE-`defs` rule as [[BoilerDfMin]].
    */
  private val CollocMinCount = 5

  /** Held-out source treated as the evaluation benchmark by q94. */
  private[queries] val BenchSource = "src19"

  /** q97: fraction of the corpus's tokens the training mix may spend. */
  private val BudgetFrac = 0.3

  /** q98: tokens per packed training sequence. */
  private val SeqLen = 512

  /** q101: per-source percent-rank cut — documents below this quality
    * rank within their source are dropped. A rank cut, not a global
    * threshold: sources differ systematically in quality-feature
    * distribution, and a single corpus-wide threshold would empty the
    * weakest source while keeping every doc of the strongest.
    */
  private val AdaptiveDropFrac = 0.4

  /** q103: context-window size and stride, in tokens. Stride <
    * window ⇒ adjacent chunks overlap by (window − stride) tokens, the
    * standard continuity overlap when cutting documents into
    * model-context pieces.
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** q107: span length, in tokens, for exact-substring duplicate
    * detection (the Lee et al. '22 "Deduplicating Training Data"
    * ExactSubstr family, at token granularity). Long enough that two
    * documents sharing a window is evidence of copied text rather than
    * chance n-gram collision; production uses 50 tokens over a BPE
    * stream — the knob, not the plan shape.
    */
  private val SpanTokens = 12

  /** q95's scrub pattern: email addresses, SSN-shaped digit groups,
    * and (so the operator is exercised on the synthetic corpus, whose
    * word-salad text contains neither) the standalone token `a`. The
    * pattern is the operator's knob — production swaps in its PII
    * class list; the plan shape (one codegen'd regexp pass, no UDF)
    * does not change. Spelled dialect-neutrally: explicit classes,
    * no \\s/\\d shorthands (Java and RE2 disagree on their exact
    * membership), \\b is ASCII-identical in both.
    */
  private[graft] val ScrubPattern =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+" +
      "|[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]" +
      "|\\ba\\b"

  /** BPE-style pre-tokenizer split: letter runs | digit runs | single
    * non-whitespace symbol. The whitespace set is spelled as EXPLICIT
    * characters, not \s — Java's \s includes vertical tab (U+000B)
    * while RE2's does not, so the shorthand is NOT dialect-identical;
    * every construct here is interpreted the same by both engines.
    */
  private val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"

  /** DuckDB twin of TextFunctions.stringHash60. */
  private def duckHash(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB twin of TextFunctions.shingles (k-token windows). */
  private def duckShingles(t: String, k: Int): String = {
    val parts = (0 until k).map(o => s"$t[i + $o]").mkString(", ")
    s"""CASE WHEN len($t) >= $k
        THEN list_transform(range(1, len($t) - ${k - 2}), i -> concat_ws(' ', $parts))
        ELSE [array_to_string($t, ' ')] END"""
  }

  /** q146 blocking-cap / edit bound (declared above `defs`: the lazy
    * QueryDefs are forced at object construction, so a later val would
    * still be 0 inside the oracle SQL).
    */
  private val LinkageBlockCap = 50
  private val LinkageMaxEdit = 4
  private val LinkagePrefixLen = 48

  private def snapshot(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    graft.util.Snapshots(s, dir, name)(build)

  /** Shared Spark prefix: one row per (doc_id, distinct k-shingle),
    * carrying only the md5 digest `m` and the 60-bit hash `h` derived
    * from it — the shingle TEXT is dropped before the snapshot is
    * written (every downstream join/agg keys on the hash; at 10⁹ docs
    * the text column would dominate the artifact's footprint for
    * nothing). Parquet-snapshotted: the LSH/Jaccard pipelines reference
    * it from 3-4 plan branches.
    */
  private def shingleHashes(s: SparkSession, dir: String, k: Int): DataFrame =
    snapshot(s, dir, s"shingles-k$k") {
      shingleHashesOf(tbl(s, dir, "documents"), k)
    }

  /** The shingle-hash build over an arbitrary document frame — the
    * "Of" form the maintenance paths feed a BATCH into (the snapshot
    * above feeds it the whole corpus). One text scan of whatever
    * `docs` is.
    */
  private[queries] def shingleHashesOf(docs: DataFrame, k: Int): DataFrame =
    docs
      .repartition(col("doc_id")) // corpus arrives as one file → fan out before the CPU-heavy explode+hash
      .select(
        col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), k))).as("sh"),
      )
      .select(col("doc_id"), md5(col("sh")).as("m")) // text projected away pre-write
      .withColumn("h", conv(substring(col("m"), 1, 15), 16, 10).try_cast("bigint"))

  /** Per-corpus k-shingle document-frequency table (h → df) — the
    * inverted-index statistic behind rare-shingle candidate generation
    * (q67) and boilerplate scoring (q93). An ingest pipeline maintains
    * this at rest next to the shingle table itself; snapshotting it
    * moves the groupBy into `prepareIndexes` and the queries read an
    * 8-byte-keyed columnar table.
    */
  private def shingleDf(s: SparkSession, dir: String, k: Int): DataFrame =
    snapshot(s, dir, s"shingle-df-k$k") {
      shingleHashes(s, dir, k).groupBy("h").agg(count(lit(1)).as("df"))
    }

  /** The df aggregate over an arbitrary document frame (batch form). */
  private[queries] def shingleDfOf(docs: DataFrame, k: Int): DataFrame =
    shingleHashesOf(docs, k).groupBy("h").agg(count(lit(1)).as("df"))

  /** Incremental maintenance of the shingle table — APPEND geometry
    * (per-(doc, shingle) grain, whole-document arrival): the batch's
    * rows are doc_id-disjoint from the base, merge is a pure union,
    * one batch-text scan (TextMaintenanceSpec pins plan + rows).
    */
  private[queries] def mergeShingleHashes(base: DataFrame, batchDocs: DataFrame, k: Int): DataFrame =
    base.unionByName(shingleHashesOf(batchDocs, k))

  /** Incremental maintenance of the df table — ADDITIVE FOLD (the
    * bigram/q151 algebra on the corpus-global hash counts): df is a
    * count, counts add, so folding the batch's partial df into the
    * at-rest table reconstructs the rebuild exactly. This is the
    * artifact q67's rarity pre-filter reads, so its incremental path
    * is what keeps the bounded-build-state fix cheap per ingest tick.
    */
  private[queries] def mergeShingleDf(base: DataFrame, batchDocs: DataFrame, k: Int): DataFrame =
    base.unionByName(shingleDfOf(batchDocs, k))
      // coalesce: sum() is nullable where the rebuild's count() is not;
      // row values are identical (every group has ≥1 row) but a
      // schema-strict consumer or a parquet schema-merge across ticks
      // would see the nullability drift — pin the merged schema to the
      // rebuild's.
      .groupBy("h").agg(coalesce(sum("df"), lit(0L)).as("df"))

  /** Bench-source distinct 4-shingle set (h only): the held-out
    * benchmark corpus's shingle hashes as an at-rest artifact, built
    * once per corpus at ingest next to the shingle table. Eval suites
    * are MBs beside a TB-scale training set, so the artifact is
    * bounded by the BENCH corpus, never the training corpus — and q94
    * reading it for the probe side of decontamination means the
    * corpus-scale shingle table and the (doc_id, source) projection
    * are each scanned ONCE per run instead of twice (the bench side
    * previously re-derived shingles ⋈ documents per execution).
    * The corpus build derives from the shingles-k4 snapshot — no
    * extra text scan at prepare time.
    */
  private def benchShingles(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "bench-shingles-k4") {
      shingleHashes(s, dir, 4)
        .join(
          tbl(s, dir, "documents")
            .filter(col("source") === BenchSource).select("doc_id"),
          "doc_id")
        .select("h").distinct()
    }

  /** The bench shingle set of an arbitrary document frame (batch form
    * — one batch-text scan; the maintenance path's input).
    */
  private[queries] def benchShinglesOf(docs: DataFrame): DataFrame =
    shingleHashesOf(docs.filter(col("source") === BenchSource), 4)
      .select("h").distinct()

  /** Incremental maintenance of the bench shingle set — SET INSERT
    * (the digest-index geometry): a document's bench-ness is fixed at
    * arrival (source is immutable and documents arrive whole), so the
    * batch's unseen hashes append via an anti join and
    * base ∪ (batch ∖ base) equals the full-corpus rebuild exactly
    * (TextMaintenanceSpec pins row equality and the batch-only text
    * scan; the dedup arm is pinned synthetically — the real corpus's
    * hwm split shares no bench shingle across the boundary).
    */
  private[queries] def mergeBenchShingles(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(benchShinglesOf(batchDocs).join(base, Seq("h"), "left_anti"))

  /** Shared DuckDB prefix for k-shingle pipelines. */
  private def duckShinglePrefix(k: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        shd AS (SELECT doc_id, unnest(list_distinct(${duckShingles("t", k)})) AS sh FROM toks),
        shh AS (SELECT doc_id, sh, ${duckHash("sh")} AS h FROM shd)"""

  /** Forward per-document shingle-set artifact (doc_id → sorted hash
    * array + size): the inverted shingle table turned back into one
    * row per document, built once per corpus at ingest. Exact-Jaccard
    * verification joins THIS on the two candidate doc_ids — two
    * doc-cardinality lookups and an in-row array intersection —
    * instead of re-exploding the full shingle table twice and
    * regrouping every candidate's matches through a (d1, d2) hash
    * aggregate. Shingle hashes are distinct within a document
    * (array_distinct at shingle build), so set intersection equals the
    * oracle's join-count form term for term.
    */
  private def docShingleSets(s: SparkSession, dir: String, k: Int): DataFrame =
    snapshot(s, dir, s"doc-shingle-sets-k$k") {
      docShingleSetsFromHashes(shingleHashes(s, dir, k))
    }

  private def docShingleSetsFromHashes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .withColumn("n", size(col("hs")).cast("bigint"))

  /** Forward doc-set rows of an arbitrary document frame (batch form). */
  private[queries] def docShingleSetsOf(docs: DataFrame, k: Int): DataFrame =
    docShingleSetsFromHashes(shingleHashesOf(docs, k))

  /** Incremental maintenance of the forward doc-set artifact — APPEND
    * geometry, same argument as the signatures: one sorted-hash-array
    * row per document, rows doc_id-disjoint across batches, pure
    * union, one batch-text scan.
    */
  private[queries] def mergeDocShingleSets(base: DataFrame, batchDocs: DataFrame, k: Int): DataFrame =
    base.unionByName(docShingleSetsOf(batchDocs, k))

  /** No broadcast hints here: `sets` is one row per document (grows
    * with the corpus, unbroadcastable at 10⁹ docs) and `cand` is
    * unbounded on adversarial corpora — shuffle-join on doc_id and let
    * AQE downgrade to broadcast at runtime when a side actually is
    * small.
    *
    * Contract notes: (1) candidate pairs with EMPTY shingle
    * intersection are dropped here (jaccard = 0 rows never emitted) —
    * that matches the inner-join-on-hash formulation this helper
    * replaced, so callers may but need not apply a positive jaccard
    * threshold. (2) Each candidate row ships BOTH documents' full hash
    * arrays through the two doc_id joins — per-pair wire cost is
    * proportional to document shingle count, vs the 8-byte matched
    * hashes of the join-count form. That trade buys one scan and one
    * (d1, d2) aggregation; it is the right one while candidate counts
    * are band/rarity-bounded, and the wrong one for an UNBOUNDED cand
    * — keep candidate generation capped upstream. */
  private def jaccardOfCandidates(cand: DataFrame, sets: DataFrame): DataFrame = {
    val a = sets.select(col("doc_id").as("_ad"), col("hs").as("_ahs"), col("n").as("_an"))
    val b = sets.select(col("doc_id").as("_bd"), col("hs").as("_bhs"), col("n").as("_bn"))
    // Native merge-walk intersection (r21): both hs arrays are
    // asc-sorted distinct by construction (sort_array ∘ collect_set),
    // so |A ∩ B| is one primitive two-pointer walk instead of the
    // boxed per-pair hash set size(array_intersect) builds — the
    // verification stages of q67 dropped ~2× with identical counts
    // (equivalence fuzz-pinned in SortedIntersectCountSpec).
    val inter = sortedIntersectCount(col("_ahs"), col("_bhs"))
    cand
      .join(a, col("d1") === col("_ad"))
      .join(b, col("d2") === col("_bd"))
      // Contract note (1): empty-intersection pairs are dropped, like
      // the inner hash-join form this replaced would have.
      .filter(inter > 0)
      .select(
        col("d1"), col("d2"),
        (inter / (col("_an") + col("_bn") - inter)).as("jaccard"),
      )
  }

  /** The 16-column minhash signature aggregate over a shingle-hash
    * frame — shared by the full-corpus snapshot (fed the at-rest
    * shingle artifact) and the batch maintenance path (fed
    * [[shingleHashesOf]] of the arriving docs).
    */
  private def minhashSigsFromShingles(sh: DataFrame): DataFrame = {
    val minAggs = (0 until NumHashes)
      .map(i => min(minhashExpr(col("h"), i)).as(s"m$i"))
    sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  /** Minhash signatures of an arbitrary document frame (batch form —
    * one text scan, no artifacts touched). */
  private[queries] def minhashSigsOf(docs: DataFrame): DataFrame =
    minhashSigsFromShingles(shingleHashesOf(docs, 3))

  /** Incremental maintenance of the minhash-sigs artifact — the
    * APPEND geometry ([[mergeTermFrequencies]]): a document's
    * signature depends on ITS shingles only, and documents arrive
    * whole, so a batch's signature rows are disjoint from the at-rest
    * grain by doc_id and the merge is a pure union. One batch-text
    * scan; no history re-shingled, no base shuffle
    * (TextMaintenanceSpec pins the plan and row equality).
    */
  private[queries] def mergeMinhashSigs(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(minhashSigsOf(batchDocs))

  /** LSH band-key rows (doc_id, band, key) over the per-corpus minhash
    * signature snapshot — THE near-dup index artifact: q65/q87 self-join
    * it, q92 joins an arriving batch's keys against it. One pass over
    * the signatures emits all 4 band keys (posexplode) instead of 4
    * unioned projections re-reading the frame.
    */
  private def minhashBands(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(s, dir, 3)
    // Signatures are a per-corpus artifact → parquet snapshot (the
    // band joins read them from multiple plan branches).
    val sigs = snapshot(s, dir, "minhash-sigs") {
      minhashSigsFromShingles(sh)
    }
    bandKeysOf(sigs)
  }

  /** Band-key rows of an arbitrary signature frame (batch form of the
    * [[minhashBands]] projection — shared with the incremental label
    * path, which bands the ARRIVING batch's signatures only). */
  private[queries] def bandKeysOf(sigs: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map { b =>
      val keyCols = (0 until Rows).map(r => col(s"m${Rows * b + r}"))
      md5(concat_ws(",", keyCols: _*))
    }
    sigs.select(
      col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")),
    )
  }

  /** Force-build this module's per-corpus index artifacts (k3/k4
    * shingle tables, minhash signatures). Index construction is
    * ingest-time work, paid once per corpus — Bench builds these here,
    * untimed but reported as `index_build_sec`, so per-query numbers
    * measure query evaluation rather than whichever query alphabetically
    * first touched a shared snapshot. */
  private[graft] def prebuildIndexes(s: SparkSession, dir: String): Unit = {
    // Independent artifact chains build CONCURRENTLY (Spark schedules
    // jobs from multiple threads in one session; each chain's snapshots
    // are distinct keys, and same-key races are serialized inside
    // Snapshots.computeIfAbsent). The builds are individually small
    // jobs that underfill local[32] — overlapping them cuts the
    // ingest-phase wall clock roughly in half. Dependent artifacts
    // stay ordered WITHIN a chain (shingles k3 → minhash sigs → label
    // fixpoint; shingles k4 → shingle df). The barrier is
    // [[graft.util.Chains.runAll]] — fatal-safe, no detached orphans.
    val chains: Seq[(String, () => Any)] = Seq(
      "lsh-labels" -> (() => {
        shingleHashes(s, dir, 3); minhashBands(s, dir); lshClusterLabels(s, dir)
      }),
      "shingle-df" -> (() => {
        shingleHashes(s, dir, 4); shingleDf(s, dir, 4); benchShingles(s, dir)
      }),
      "doc-sets-k3" -> (() => docShingleSets(s, dir, 3)),
      "doc-sets-k4" -> (() => docShingleSets(s, dir, 4)),
      "simhash" -> (() => simhash60Sigs(s, dir)),
      "digest-index" -> (() => digestIndex(s, dir)),
      "term-stats" -> (() => { termFrequencies(s, dir); termStats(s, dir) }),
      "bigrams" -> (() => bigramFrequencies(s, dir)),
      "chunks" -> (() => chunkTable(s, dir)),
      "span-windows" -> (() => spanWindows(s, dir)),
      "linkage-blocks" -> (() => linkageBlocks(s, dir)),
      "digest-log" -> (() => docsDigestLog(s, dir)),
    )
    graft.util.Chains.runLabeled("textops", chains)
  }

  /** Positioned span-window table (doc_id, n_tokens, p, h): the 60-bit
    * hash of every [[SpanTokens]]-token window at 1-based position `p`.
    * Unlike [[shingleHashes]] (distinct shingles, positions dropped)
    * the POSITION is the payload — exact-substring dedup needs to know
    * where in the document a duplicated span sits to merge coverage
    * intervals. Snapshotted like the shingle tables: q107 reads it from
    * two plan branches (duplicate-digest filter + join-back), and the
    * at-rest form means one corpus-text scan total, paid at ingest.
    */
  private def spanWindows(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, s"span-windows-k$SpanTokens") {
      spanWindowsOf(tbl(s, dir, "documents"))
    }

  /** Positioned span-window rows of an arbitrary document frame
    * (batch form — one text scan). */
  private[queries] def spanWindowsOf(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id")) // single-file corpus → fan out the hash work
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .filter(col("n_tokens") >= SpanTokens)
      .select(
        col("doc_id"), col("n_tokens"),
        posexplode(shingles(col("t"), SpanTokens)).as(Seq("p0", "sh")),
      )
      .select(
        col("doc_id"), col("n_tokens"),
        (col("p0") + 1).cast("long").as("p"),
        stringHash60(col("sh")).as("h"),
      )

  /** Incremental maintenance of the span-window table — APPEND
    * geometry (positions are document-local, so rows are
    * doc_id-disjoint across whole-document batches).
    */
  private[queries] def mergeSpanWindows(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(spanWindowsOf(batchDocs))

  /** The at-rest exact-dedup digest index q85/q102 probe: distinct md5
    * of every even-doc_id document (the corpus-parity split that models
    * "already ingested" vs "arriving batch"). Snapshotted because that
    * is the PRODUCTION shape — ingest maintains this artifact
    * incrementally (bucketed by digest prefix at 10⁹ rows), and dedup
    * queries read 16-byte digests from it rather than re-scanning
    * corpus text to reconstruct the index on every batch, which is
    * what the previous inline formulation planned (two to three full
    * text scans per query).
    */
  /** One claimant row per (even-doc_id, digest) — the shared
    * projection under BOTH index forms: [[digestsOf]] (the distinct
    * set the dedup queries probe) and [[digestCountsOf]] (the
    * refcounted form retraction needs). The population filter and the
    * digest function live only here, so the two forms cannot drift.
    */
  private def digestClaimantsOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("h"))

  /** The digest set a document frame contributes to the at-rest index
    * (the even-doc_id filter is the corpus's "already ingested" half —
    * see [[digestIndex]]). Factored out so the incremental merge and
    * the full rebuild share one definition and cannot drift.
    */
  private[queries] def digestsOf(docs: DataFrame): DataFrame =
    digestClaimantsOf(docs).distinct()

  private def digestIndex(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "digest-index") {
      digestsOf(tbl(s, dir, "documents"))
    }

  /** Incremental maintenance of the digest index — the SET-INSERT
    * geometry (q145 = SCD2 rows, q151 = additive aggregate, this =
    * distinct set): append the batch digests the at-rest index does
    * not already hold. The anti join is the O(batch) production write —
    * base rides in as its compact artifact, batch text is scanned
    * once, and base ∪ (batch ∖ base) equals the full-corpus rebuild
    * exactly (TextMaintenanceSpec proves row equality on the real
    * corpus and pins the no-rescan plan shape).
    */
  private[queries] def mergeDigestIndex(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(digestsOf(batchDocs).join(base, Seq("h"), "left_anti"))

  /** MinHash+LSH near-dup pairs with exact Jaccard ≥ 0.6 — the shared
    * candidate machine behind q65 (pair report) and q87 (cluster
    * labeling): 3-shingles → 16 minhashes → 4 bands × 4 rows →
    * band-bucket self-join → exact-Jaccard verification. The banded
    * join is the scale path: candidates ∝ colliding buckets, never
    * all-pairs over the corpus.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(s, dir)
    val cand = bands.as("x")
      .join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    jaccardOfCandidates(cand, docShingleSets(s, dir, 3)).filter(col("jaccard") >= 0.6)
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private def stopwordSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Exact deduplication accounting: unique-text counts per language
    // (hash-groupBy on the full text — one shuffle on text; at scale,
    // group on md5(text) instead so the shuffle carries 16 bytes/row).
    QueryDef(
      "q60_exact_dedup",
      Some("""
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_unique,
               count(*) - count(DISTINCT md5(text)) AS n_dupes
        FROM documents
        GROUP BY lang
        ORDER BY lang
      """),
    ) { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"),
        )
        .orderBy("lang")
    },

    // ------------------------------------------------------------------
    // Token statistics per language (token counting: whitespace split).
    QueryDef(
      "q61_token_stats",
      Some("""
        -- CASTs: DuckDB sum(BIGINT) is HUGEINT and len() is BIGINT,
        -- while Spark sum(INT) is BIGINT and size() is INT — align both
        -- sides on BIGINT or the value hashes differ despite equality.
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               min(len(string_split(text, ' '))) AS min_tokens,
               max(len(string_split(text, ' '))) AS max_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
      """),
    ) { (s, dir) =>
      val nTok = size(tokens(col("text")))
      tbl(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTok).as("total_tokens"),
          round(avg(nTok), 4).as("avg_tokens"),
          min(nTok).cast("long").as("min_tokens"),
          max(nTok).cast("long").as("max_tokens"),
        )
        .orderBy("lang")
    },

    // ------------------------------------------------------------------
    // BPE-ish tokenization via regex (the pre-tokenizer split every BPE
    // pipeline starts from: letter runs | digit runs | single
    // punctuation): piece counts per language. regexp_extract_all is
    // codegen'd — no UDF; the pattern uses only ASCII classes, which
    // Java regex (Spark) and RE2 (DuckDB) interpret identically.
    QueryDef(
      "q72_regex_tokens",
      Some(s"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT)
                 AS total_pieces,
               round(avg(len(regexp_extract_all(text, '$BpePattern'))), 4)
                 AS avg_pieces,
               max(len(regexp_extract_all(text, '$BpePattern'))) AS max_pieces
        FROM documents
        GROUP BY lang
        ORDER BY lang
      """),
    ) { (s, dir) =>
      val nPieces = size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      docs(s, dir) // clustered-log read (parallel scan; see [[docs]])
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nPieces).as("total_pieces"),
          round(avg(nPieces), 4).as("avg_pieces"),
          max(nPieces).cast("long").as("max_pieces"),
        )
        .orderBy("lang")
    },

    // ------------------------------------------------------------------
    // Language-ID heuristic: stopword-ratio thresholding (the n-gram /
    // stopword family of cheap lang-ID), confusion counts vs the label.
    QueryDef(
      "q62_lang_id",
      Some(s"""
        WITH scored AS (
          SELECT lang,
                 len(list_filter(string_split(text, ' '),
                     x -> x IN ($stopwordSqlList))) /
                 greatest(len(string_split(text, ' ')), 1) AS stop_ratio
          FROM documents)
        SELECT lang,
               CASE WHEN stop_ratio > 0.05 THEN 1 ELSE 0 END AS is_en_guess,
               count(*) AS n,
               round(avg(stop_ratio), 4) AS avg_stop_ratio
        FROM scored
        GROUP BY lang, is_en_guess
        ORDER BY lang, is_en_guess
      """),
    ) { (s, dir) =>
      val toks = tokens(col("text"))
      val stopRatio =
        (size(filter(toks, t => t.isInCollection(stopwords))) /
          greatest(size(toks), lit(1))).as("stop_ratio")
      docs(s, dir) // clustered-log read (parallel scan; see [[docs]])
        .select(col("lang"), stopRatio)
        .groupBy(
          col("lang"),
          when(col("stop_ratio") > 0.05, 1).otherwise(0).as("is_en_guess"),
        )
        .agg(count(lit(1)).as("n"), round(avg("stop_ratio"), 4).as("avg_stop_ratio"))
        .orderBy("lang", "is_en_guess")
    },

    // ------------------------------------------------------------------
    // Quality scoring: length / lexical-diversity features + a weighted
    // score, per document (the doc-level filter stage of a data
    // pipeline; embarrassingly parallel, no shuffle).
    QueryDef(
      "q63_quality_score",
      Some("""
        WITH f AS (
          SELECT doc_id, n_chars,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) AS n_distinct
          FROM documents)
        SELECT doc_id, n_tokens,
               round(CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1), 4) AS avg_token_len,
               round(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 4) AS diversity,
               round(least(n_tokens / 100.0, 1.0) * 0.5 +
                     CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1) * 0.5, 4) AS quality
        FROM f
        ORDER BY doc_id
      """),
    ) { (s, dir) =>
      val toks = tokens(col("text"))
      // Sort first, featurize after (the q95 recipe): with the token
      // features below the global sort, the range exchange's sampling
      // pass re-executed the tokenize+distinct work, single-threaded
      // on the one-row-group documents file; projecting above the sort
      // runs it once, on the post-exchange parallel partitions.
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("text"))
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          col("n_chars"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
        )
        .select(
          col("doc_id"),
          col("n_tokens"),
          round(col("n_chars").cast("double") / greatest(col("n_tokens"), lit(1)), 4)
            .as("avg_token_len"),
          round(col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)), 4)
            .as("diversity"),
          round(
            least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
              col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)) * 0.5,
            4,
          ).as("quality"),
        )
    },

    // ------------------------------------------------------------------
    // Document fingerprinting: content digest + minimum 3-shingle hash
    // (winnowing-style representative) — join either column to find
    // exact or shingle-level matches without comparing texts.
    QueryDef(
      "q64_fingerprint",
      Some(s"""
        WITH ${duckShinglePrefix(3)}
        SELECT doc_id,
               min(substr(md5(sh), 1, 16)) AS any_shingle_digest,
               min(h) AS min_shingle_hash
        FROM shh
        GROUP BY doc_id
        ORDER BY doc_id
      """),
    ) { (s, dir) =>
      shingleHashes(s, dir, 3)
        .groupBy("doc_id")
        .agg(
          min(substring(col("m"), 1, 16)).as("any_shingle_digest"),
          min(col("h")).as("min_shingle_hash"),
        )
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // MinHash + LSH near-duplicate detection, end to end: 3-shingles →
    // 16 minhashes → 4 bands × 4 rows → band-bucket self-join →
    // exact-Jaccard verification ≥ 0.6. The banded join is the scale
    // path: candidates ∝ colliding buckets, never all-pairs.
    QueryDef("q65_minhash_lsh", Some(minhashLshOracle)) { (s, dir) =>
      minhashPairs(s, dir)
        .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("d1", "d2")
    },

    // ------------------------------------------------------------------
    // SimHash signatures: 32-bit, token-frequency weighted. Near-dup
    // docs end up at small Hamming distance; the signature is the
    // locality-sensitive key for Hamming-space dedup at scale.
    // Native one-pass signature (graft.functions.SimHash): zero
    // exchange — the oracle still computes the 32 bit-balance sums
    // declaratively, so the gate cross-checks the native expression
    // against an independent construction on the full corpus.
    QueryDef("q66_simhash", Some(simhashOracle)) { (s, dir) =>
      // Sort below, signature above (the q95 recipe): the native
      // one-pass SimHash is the whole cost here, and computing it
      // under the sort ran it twice (range-exchange sampling + map),
      // single-threaded on the one-row-group file.
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), simhashNative(col("text"), 32).as("simhash"))
    },

    // ------------------------------------------------------------------
    // n-gram Jaccard near-dup via rare-shingle join: candidates come
    // from shingles appearing in ≤ RareShingleCap documents, so a hot
    // boilerplate 4-gram can never drive an O(df²) pair blowup; true
    // near-dups share many shingles and only one rare shingle needs to
    // nominate the pair. Verification (intersection + sizes) then uses
    // the FULL shingle set, so the reported Jaccard is exact.
    QueryDef(
      "q67_ngram_jaccard",
      Some(s"""
        WITH ${duckShinglePrefix(4)},
        rare AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= $RareShingleCap),
        cand AS (
          SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
          FROM shh s1
            JOIN rare r ON s1.h = r.h
            JOIN shh s2 ON s1.h = s2.h AND s1.doc_id < s2.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
          SELECT d1, d2, count(*) AS inter
          FROM cand
            JOIN shh s1 ON d1 = s1.doc_id
            JOIN shh s2 ON d2 = s2.doc_id AND s1.h = s2.h
          GROUP BY d1, d2)
        SELECT d1, d2,
               round(inter / (n1.n + n2.n - inter), 4) AS jaccard
        FROM inter
          JOIN sizes n1 ON d1 = n1.doc_id
          JOIN sizes n2 ON d2 = n2.doc_id
        WHERE inter / (n1.n + n2.n - inter) >= 0.3
        ORDER BY d1, d2
      """),
    ) { (s, dir) =>
      // Candidate generation is the q74 bounded-set shape with the
      // rarity filter applied BEFORE any doc list is collected: the
      // at-rest df artifact names the rare hashes (df is the doc count
      // — hashes are distinct within a doc), a semi-join keeps only
      // their postings, and THEN one groupBy(h) collects each rare
      // hash's ≤ RareShingleCap doc set (map-side-deduped) and the
      // ordered pairs explode from the sorted set — the same pair
      // multiset the rare-filtered self-join produced. Ordering
      // matters at 100 TB: collect-then-filter would buffer a
      // boilerplate shingle's O(N_docs) posting list in one
      // aggregation buffer before discarding it (executor OOM / skew
      // hot-spot); filter-then-collect bounds build-time state per key
      // at RareShingleCap, so no frequent shingle's doc list is ever
      // held anywhere. Verification then joins the forward doc-set
      // artifact on each side.
      val rareHashes = shingleDf(s, dir, 4)
        .filter(col("df").between(2, RareShingleCap))
        .select("h")
      val cand = shingleHashes(s, dir, 4)
        .join(rareHashes, Seq("h"), "left_semi")
        .groupBy("h").agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .select(explode(orderedPairs(col("ds"))).as("p"))
        .select(col("p.a").as("d1"), col("p.b").as("d2"))
        .distinct()
      jaccardOfCandidates(cand, docShingleSets(s, dir, 4))
        .filter(col("jaccard") >= 0.3)
        .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("d1", "d2")
    },

    // ------------------------------------------------------------------
    // Rolling-hash fingerprint (winnowing family): min Karp-Rabin hash
    // over 16-byte windows via the native RollingMinHash expression —
    // one O(bytes) pass per document, no shingle table materialized.
    // Equal fingerprints are near-dup candidates (shared minimizing
    // window). The O(1) rolling update itself needs a loop, but the
    // VALUE it computes is plain modular arithmetic, so the oracle
    // re-derives every window hash from scratch (O(bytes·k) — fine for
    // an oracle): bytes come from hex(encode(text)) nibble lookups,
    // B^p mod M from a recursive CTE, each window hash is
    // Σ v[s+j]·B^(w−1−j) mod M, and the fingerprint is the min. Empty
    // text → 0 and null text → null mirror the expression contract.
    // RollingMinHashSpec additionally fuzz-verifies the O(1) update
    // against a brute-force reference.
    QueryDef(
      "q75_rolling_fingerprint",
      Some("""
        WITH RECURSIVE pw(p, bp) AS (
          SELECT 0, CAST(1 AS BIGINT)
          UNION ALL
          SELECT p + 1, (bp * 131) % 1000000007 FROM pw WHERE p < 15
        ),
        doc AS (
          SELECT doc_id, upper(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        byt AS (
          SELECT d.doc_id, g.i,
                 CAST((strpos('0123456789ABCDEF', substr(d.hx, CAST(2 * g.i + 1 AS INT), 1)) - 1) * 16
                    + (strpos('0123456789ABCDEF', substr(d.hx, CAST(2 * g.i + 2 AS INT), 1)) - 1) AS BIGINT) AS v
          FROM doc d, LATERAL (SELECT unnest(range(d.n)) AS i) g
          WHERE d.n > 0
        ),
        starts AS (
          SELECT doc_id, LEAST(16, n) AS w, g.s
          FROM doc, LATERAL (SELECT unnest(range(n - LEAST(16, n) + 1)) AS s) g
          WHERE n > 0
        ),
        win AS (
          SELECT st.doc_id, st.s, sum(b.v * pw.bp) % 1000000007 AS h
          FROM starts st
          JOIN byt b ON b.doc_id = st.doc_id AND b.i >= st.s AND b.i < st.s + st.w
          JOIN pw ON pw.p = st.w - 1 - (b.i - st.s)
          GROUP BY st.doc_id, st.s
        ),
        fp AS (
          SELECT doc_id, CAST(min(h) AS BIGINT) AS fingerprint FROM win GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.hx IS NULL THEN NULL
                    WHEN d.n = 0 THEN CAST(0 AS BIGINT)
                    ELSE fp.fingerprint END AS fingerprint
        FROM doc d LEFT JOIN fp USING (doc_id)
        ORDER BY doc_id
      """),
    ) { (s, dir) =>
      // Sort below, fingerprint above (the q95 recipe) — one parallel
      // RollingMinHash pass instead of a sampled + mapped double run.
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          graft.functions.VectorFunctions.rollingMinHash(col("text"), 16)
            .as("fingerprint"),
        )
    },
  ) :+ contaminationDef :+ dataMixingDef :+ qualityGateDef :+ dedupMaterializeDef :+
    repetitionDef :+ incrementalDedupDef :+ stratifiedSplitDef :+ tfidfDef :+
    simhashNearDupDef :+ dedupClustersDef :+ hotNgramsDef :+ incrementalNearDupDef :+
    boilerplateFracDef :+ decontamNgramDef :+ patternScrubDef :+
    tokenBudgetDef :+ sequencePackingDef :+ lshSurvivorsDef :+
    normalizedDedupDef :+ adaptiveQualityDef :+ bloomDedupDef :+
    contextChunksDef :+ chunkDedupDef :+ curationFunnelDef :+
    duplicateSpansDef :+ unigramRarityDef :+ modelQualityDef :+
    collocationsDef :+ vocabGrowthDef :+ thresholdSweepDef :+ editLinkageDef :+
    digestLookupDef :+ digestSplitDef

  /** q135 — collocation extraction (phrase mining): top bigrams by
    * PMI-style lift, the standard first step of building a phrase
    * vocabulary for tokenization or boilerplate templates. Lift is the
    * LOG-FREE monotone equivalent of PMI —
    * c_ab·N_uni²/(N_bi·c_a·c_b) — because ln() is a libm call whose
    * last ULP differs across engines (the repo's no-transcendentals
    * rule); ranking and the rounded report are identical either way.
    * Shape: the query plans ZERO corpus-text scans (PlanSpec pins it) —
    * unigram counts come from the at-rest tf snapshot and bigram
    * counts from the bigram-frequencies snapshot (each one ingest-time
    * text scan, like every other text artifact); the support floor
    * prunes the candidate set before the two unigram-count joins,
    * totals ride broadcast 1-row frames, and the top-20 is
    * TakeOrderedAndProject. Sub-2-token docs contribute a degenerate
    * whole-doc "bigram" (shingles' short-input contract); the space
    * filter drops those in both engines.
    */
  private lazy val collocationsDef: QueryDef = QueryDef(
    "q135_collocations",
    Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT unnest(t) AS g FROM toks),
      ucnt AS (SELECT g, count(*) AS c FROM uni GROUP BY g),
      utot AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM ucnt),
      bi AS (SELECT unnest(${duckShingles("t", 2)}) AS g FROM toks),
      bir AS (SELECT g FROM bi WHERE g LIKE '% %'),
      btot AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bir),
      bcnt AS (SELECT g, count(*) AS c FROM bir GROUP BY g
               HAVING count(*) >= $CollocMinCount),
      sc AS (
        SELECT b.g AS bigram, b.c AS c_ab, u1.c AS c_a, u2.c AS c_b,
               utot.n_uni, btot.n_bi
        FROM bcnt b
        CROSS JOIN utot CROSS JOIN btot
        JOIN ucnt u1 ON u1.g = string_split(b.g, ' ')[1]
        JOIN ucnt u2 ON u2.g = string_split(b.g, ' ')[2])
      SELECT bigram, c_ab,
             round((CAST(c_ab AS DOUBLE) * n_uni * n_uni)
                 / (CAST(n_bi AS DOUBLE) * c_a * c_b), 4) AS lift
      FROM sc
      ORDER BY lift DESC, bigram
      LIMIT 20
    """),
  ) { (s, dir) =>
    val ucnt = termFrequencies(s, dir)
      .groupBy(col("term").as("g")).agg(sum(col("c")).as("c"))
    val utot = ucnt.agg(sum(col("c")).as("n_uni"))
    val bAll = bigramFrequencies(s, dir).filter(col("g").contains(" "))
    val btot = bAll.agg(sum(col("c")).as("n_bi"))
    val bcnt = bAll.filter(col("c") >= CollocMinCount)
      .select(col("g").as("bigram"), col("c").as("c_ab"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
    bcnt
      .join(ucnt.select(col("g").as("w1"), col("c").as("c_a")), "w1")
      .join(ucnt.select(col("g").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(utot))
      .crossJoin(broadcast(btot))
      .select(
        col("bigram"), col("c_ab"),
        round((col("c_ab").cast("double") * col("n_uni") * col("n_uni"))
          / (col("n_bi").cast("double") * col("c_a") * col("c_b")), 4).as("lift"),
      )
      .orderBy(desc("lift"), asc("bigram"))
      .limit(20)
  }

  /** q81 — intra-document repetition signals (the Gopher-style "rep"
    * family of quality filters): top-unigram and top-bigram mass
    * fractions per document. Highly templated / looping text shows a
    * heavy head in its n-gram distribution long before exact or
    * near-dup detectors fire, so pipelines gate on these BEFORE dedup.
    * Shape: a pure per-row map (sorted-run-length fold over each
    * document's gram arrays) — zero shuffles; nothing corpus-global.
    */
  private lazy val repetitionDef: QueryDef = QueryDef(
    "q81_repetition_signals",
    Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
      ucnt AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY doc_id, g),
      uagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(max(c) AS BIGINT) AS top_uni
               FROM ucnt GROUP BY doc_id),
      bi AS (SELECT doc_id, unnest(${duckShingles("t", 2)}) AS g FROM toks),
      bcnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
      bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                      CAST(max(c) AS BIGINT) AS top_bi
               FROM bcnt GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             round(top_uni * 1.0 / n_tokens, 4) AS top_unigram_frac,
             round(top_bi * 1.0 / n_bigrams, 4) AS top_bigram_frac,
             CASE WHEN top_uni * 1.0 / n_tokens > 0.2
                    OR top_bi * 1.0 / n_bigrams > 0.18 THEN 1 ELSE 0 END AS repetitive
      FROM uagg JOIN bagg USING (doc_id)
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    // Per-DOCUMENT statistics need no shuffle at all: every gram of a
    // document lives in that document's single row, so the top-gram
    // multiplicities come from the native [[graft.functions.GramStats]]
    // expression — one O(tokens) counting pass per row, inside
    // whole-stage codegen. The explode form this replaces paid two
    // hash exchanges to regroup rows that were never apart (at 100 TB
    // those exchanges carry the corpus's full gram stream); the
    // interpreted higher-order-fold alternative measured 6× slower
    // than even that (per-step struct allocation, no codegen). Exact
    // gram strings as a bonus — the previous xxhash64 grouping's
    // (vanishing) collision caveat disappears.
    val uniFrac = col("st.top_uni") * 1.0 / col("st.n_tokens")
    val biFrac = col("st.top_bi") * 1.0 / col("st.n_bigrams")
    docs(s, dir) // clustered-log read (parallel scan; see [[docs]])
      // The old explode form dropped null-text docs (explode of a null
      // array emits no rows); made explicit here.
      .filter(col("text").isNotNull)
      // explode(array(..)) is a 1:1 Generate — a PROJECTION BARRIER.
      // Without it CollapseProject inlines the opaque struct into the
      // final select, one compute() per field REFERENCE (codegen
      // subexpression elimination usually rescues this, but the
      // barrier makes single-evaluation a plan property, not a
      // codegen-path accident).
      .select(col("doc_id"),
        explode(array(graft.functions.GramStats.gramStats(col("text")))).as("st"))
      .select(
        col("doc_id"), col("st.n_tokens").as("n_tokens"),
        round(uniFrac, 4).as("top_unigram_frac"),
        round(biFrac, 4).as("top_bigram_frac"),
        when(uniFrac > 0.2 || biFrac > 0.18, 1).otherwise(0).as("repetitive"),
      )
      .orderBy("doc_id")
  }

  /** Per-corpus (doc_id, term, c) term-frequency table — one corpus-text
    * scan (scan → explode → groupBy with map-side combine), snapshotted
    * like the shingle tables: at 100 TB this is the inverted-index-ish
    * artifact an ingest pipeline maintains at rest, and tf-idf-style
    * queries read it columnar instead of re-tokenizing the corpus.
    */
  /** Per-corpus (g, c) corpus-level bigram-frequency table — the
    * phrase-mining artifact next to [[termFrequencies]]: one text scan
    * at ingest, read columnar by q135. Degenerate whole-doc "bigrams"
    * from sub-2-token inputs (shingles' short-input contract) are kept
    * raw here and filtered at the query.
    */
  private[queries] def bigramFrequenciesOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(shingles(tokens(col("text")), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))

  private def bigramFrequencies(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "bigram-frequencies") {
      bigramFrequenciesOf(tbl(s, dir, "documents"))
    }

  /** Incremental maintenance of the corpus-global gram table — the
    * ADDITIVE-FOLD geometry of q151 applied to the text side: counts
    * are algebraic, so folding the batch's partial counts into the
    * at-rest partials reconstructs the full-corpus rebuild exactly.
    * One batch-text scan plus one pass over the compact at-rest table;
    * corpus history is never re-tokenized (TextMaintenanceSpec pins
    * the plan and proves row equality to the rebuild).
    */
  private[queries] def mergeBigramFrequencies(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(bigramFrequenciesOf(batchDocs))
      .groupBy("g").agg(sum("c").as("c"))

  private[queries] def termFrequenciesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))

  private def termFrequencies(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "term-frequencies") {
      termFrequenciesOf(tbl(s, dir, "documents"))
    }

  /** Per-term corpus statistics AT REST (|vocabulary| rows: term, df,
    * ct, first_doc) — the ivf-cell-means pattern on the text side:
    * q82 (df for tf-idf), q108 (global term counts for rarity ranks)
    * and q143 (first occurrence for vocab growth) each re-aggregated
    * the ENTIRE tf table per query — a full corpus-scale shuffle on
    * `term` billed per query for what is one per-corpus statistic.
    * One ingest-time pass computes all three columns; queries read a
    * vocabulary-sized columnar table instead. All three stats are
    * additive/associative (counts add, min folds), so the artifact
    * carries the same fold maintenance as shingle-df
    * ([[mergeTermStats]], TextMaintenanceSpec-pinned).
    */
  private def termStats(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "term-stats") {
      termStatsOf(termFrequencies(s, dir))
    }

  /** The term-stats aggregate over an arbitrary tf frame (batch form). */
  private[queries] def termStatsOf(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum("c").as("ct"),
      min("doc_id").as("first_doc"))

  /** Incremental maintenance of term-stats — ADDITIVE FOLD: df and ct
    * are counts over doc-disjoint batches (they add) and first_doc is
    * an associative min, so folding the batch tf's partial stats into
    * the at-rest table reconstructs the rebuild exactly with one
    * batch-tf pass.
    */
  private[queries] def mergeTermStats(base: DataFrame, batchTf: DataFrame): DataFrame =
    base.unionByName(termStatsOf(batchTf))
      // coalesce on df only: the rebuild's df is a non-nullable count()
      // while sum() is nullable — pin the merged schema to the
      // rebuild's ([[mergeShingleDf]] note). ct/first_doc are sum/min
      // in BOTH paths, so their nullability already matches.
      .groupBy("term").agg(
        coalesce(sum("df"), lit(0L)).as("df"),
        sum("ct").as("ct"),
        min("first_doc").as("first_doc"))

  /** Incremental maintenance of the (doc_id, term, c) tf table — the
    * APPEND geometry: documents arrive whole, so a new batch's rows
    * are disjoint from the at-rest grain by doc_id and the merge is a
    * pure union — no re-aggregation, no shuffle of the base. This is
    * the cheapest of the three maintenance geometries and exactly what
    * an ingest pipeline does with per-doc artifacts at 100 TB: write
    * the batch's partition, touch nothing else.
    *
    * Compaction (applies to every APPEND/INSERT-geometry artifact in
    * this family — tf, shingle tables, doc-sets, signatures, digests,
    * span-windows, chunks): each materialized tick adds files at the
    * artifact root, so K ticks put K segments on disk and footer/task
    * overhead grows with file count even though no tick rescans
    * history. The bound and the per-grain rewrite recipe are the
    * layout-level policy, stated once at
    * [[graft.util.ManifestLog.CompactAfterSegments]]. FOLD-geometry
    * artifacts (shingle-df, term-stats, gram counts) are
    * vocabulary-sized and rewritten whole per tick — never compacted
    * because they never fragment. N-sequential-tick convergence for
    * both geometries (each tick at rest, like production) is pinned by
    * TextMultiBatchSpec.
    */
  private[queries] def mergeTermFrequencies(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(termFrequenciesOf(batchDocs))

  /** q82 — term weighting: TF-IDF-style top-3 terms per document.
    * The idf factor is the RATIONAL form N/df, not ln(N/df): IEEE
    * multiply/divide are correctly rounded (bit-identical between
    * Spark and DuckDB) while libm log is only ~1-ulp accurate and
    * engine-specific, which could flip the rank of two near-tied terms
    * and fail the hash-compare; the ranking is monotone in either form.
    * Shape: the (doc, term, c) tf table is a per-corpus artifact like
    * the shingle tables — built with ONE corpus-text scan and
    * snapshotted; df then comes from a groupBy over the snapshot
    * (one row per distinct term) joined back on term. The earlier
    * window formulation (`count().over(partitionBy("term"))`) buffered
    * one partition per term, which for a stopword means O(N_docs) rows
    * on a single task at 100 TB; the groupBy has map-side partial
    * aggregation so no task ever holds a term's full posting list, and
    * the join back is AQE-skew-splittable. One corpus-text scan total
    * (plus a column-less footer count for n_docs); the snapshot re-read
    * is a columnar scan of the compact tf table, not the corpus.
    */
  private lazy val tfidfDef: QueryDef = QueryDef(
    "q82_tfidf_topterms",
    Some("""
      WITH uni AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS c FROM uni GROUP BY doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM uni GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
               c * ((SELECT n_docs FROM n) * 1.0 / df) AS w,
               row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY c * ((SELECT n_docs FROM n) * 1.0 / df) DESC, term) AS rank
        FROM tf JOIN df USING (term))
      SELECT doc_id, term, round(w, 4) AS weight, rank
      FROM scored WHERE rank <= 3
      ORDER BY doc_id, rank
    """),
  ) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    // df comes from the at-rest term-stats artifact (tf has one row
    // per (doc, term), so its per-term row count IS the document
    // frequency — computed once at ingest, not re-shuffled per query).
    val tf = termFrequencies(s, dir)
    val df = termStats(s, dir).select("term", "df")
    // n_docs prunes every column — a parquet footer count, metadata
    // not payload.
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val w = col("c") * (col("n_docs") * 1.0 / col("df"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("w"), asc("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs)) // 1-row corpus count: broadcast literal
      .withColumn("w", w)
      .withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), round(col("w"), 4).as("weight"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** q85 — incremental dedup against an at-rest hash index: THE 100 TB
    * ingest pattern (a new batch never re-deduplicates the whole
    * corpus; it dedups within itself, then anti-joins the persisted
    * digest index). Modeled here by splitting the corpus on doc_id
    * parity: even rows are the at-rest index, odd rows the arriving
    * batch. All joins key on the 16-byte md5 digest, never on text; at
    * scale the index lives bucketed by digest prefix so the batch join
    * shuffles only the (small) batch side.
    */
  private lazy val incrementalDedupDef: QueryDef = QueryDef(
    "q85_incremental_dedup",
    Some("""
      WITH existing AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
      batch AS (
        SELECT doc_id, source, md5(text) AS h,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        FROM documents WHERE doc_id % 2 = 1)
      SELECT source,
             count(*) AS n_batch,
             count(*) FILTER (WHERE rk > 1) AS n_dup_in_batch,
             count(*) FILTER (WHERE rk = 1 AND h IN (SELECT h FROM existing))
               AS n_dup_vs_index,
             count(*) FILTER (WHERE rk = 1 AND h NOT IN (SELECT h FROM existing))
               AS n_ingested
      FROM batch
      GROUP BY source
      ORDER BY source
    """),
  ) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val existing = digestIndex(s, dir).withColumn("in_index", lit(1))
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id")
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("rk", row_number().over(byHash))
    batch.join(existing, Seq("h"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_batch"),
        count(when(col("rk") > 1, 1)).as("n_dup_in_batch"),
        count(when(col("rk") === 1 && col("in_index") === 1, 1)).as("n_dup_vs_index"),
        count(when(col("rk") === 1 && col("in_index").isNull, 1)).as("n_ingested"),
      )
      .orderBy("source")
  }

  /** q86 — deterministic stratified train/val split: the doc_id hash
    * (not rand()) buckets every document 90/10 within each source, so
    * the split is a pure function of the corpus — reproducible at any
    * parallelism, auditable after the fact, stable across reruns
    * (complements q76's mixing; same md5-derived bucket both engines
    * compute identically). The per-source share is a window over the
    * tiny aggregate, not over documents.
    */
  private lazy val stratifiedSplitDef: QueryDef = QueryDef(
    "q86_stratified_split",
    Some(s"""
      WITH s AS (
        SELECT source, n_chars,
               CASE WHEN ${duckHash("CAST(doc_id AS VARCHAR)")} % 10 < 9
                    THEN 'train' ELSE 'val' END AS split
        FROM documents),
      agg AS (
        SELECT source, split, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM s GROUP BY source, split)
      SELECT source, split, n_docs, total_chars,
             round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY source), 4) AS frac
      FROM agg
      ORDER BY source, split
    """),
  ) { (s, dir) =>
    val split = when(stringHash60(col("doc_id").cast("string")) % 10 < 9, "train")
      .otherwise("val")
    val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    tbl(s, dir, "documents")
      .select(col("source"), col("n_chars"), split.as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .withColumn("frac", round(col("n_docs") * 1.0 / sum("n_docs").over(bySource), 4))
      .orderBy("source", "split")
  }

  /** q78 — the dedup WRITE step (q60 only counts): keep one canonical
    * representative per exact-duplicate group, chosen deterministically
    * (lowest doc_id), via a window ranked inside md5(text) groups. The
    * shuffle carries the 16-byte digest as the partition key; survivors
    * stream out without materializing groups.
    */
  private lazy val dedupMaterializeDef: QueryDef = QueryDef(
    "q78_dedup_materialize",
    Some("""
      WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk,
               count(*) OVER (PARTITION BY md5(text)) AS group_size
        FROM documents)
      SELECT doc_id, lang, source, CAST(group_size AS BIGINT) AS n_copies
      FROM ranked
      WHERE rk = 1
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    val byText = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    tbl(s, dir, "documents")
      .select(
        col("doc_id"), col("lang"), col("source"),
        row_number().over(byText.orderBy(asc("doc_id"))).as("rk"),
        count(lit(1)).over(byText).as("group_size"),
      )
      .filter(col("rk") === 1) // the deduplicated corpus: every group's canonical row
      .select(col("doc_id"), col("lang"), col("source"), col("group_size").as("n_copies"))
      .orderBy("doc_id")
  }

  /** q76 — deterministic data mixing: per-source keep-rates applied by
    * hashing the document id, NOT by rand(). Hash-based selection makes
    * the subsample a pure function of the corpus — rerunnable,
    * auditable, identical on any cluster size — which is how a
    * training-data recipe ("80% of sources 0-2, 30% of the rest") stays
    * reproducible; rand()-based sampling can't be oracle-checked and
    * can't be re-derived after the fact.
    */
  private lazy val dataMixingDef: QueryDef = QueryDef(
    "q76_data_mixing",
    Some(s"""
      WITH sel AS (
        SELECT source, n_chars,
               ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        FROM documents)
      SELECT source, count(*) AS n_kept,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM sel
      WHERE bucket < CASE WHEN source IN ('src0', 'src1', 'src2')
                          THEN 80 ELSE 30 END
      GROUP BY source
      ORDER BY source
    """),
  ) { (s, dir) =>
    val bucket = stringHash60(col("doc_id").cast("string")) % 100
    val rate = when(col("source").isInCollection(Seq("src0", "src1", "src2")), 80)
      .otherwise(30)
    tbl(s, dir, "documents")
      .select(col("source"), col("n_chars"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("total_chars"))
      .orderBy("source")
  }

  /** q77 — quality gating: the filter step between scoring (q63) and
    * mixing (q76). Same score formula as q63, thresholded; reports the
    * kept/dropped accounting per language a pipeline logs before a
    * data release. Map-side except the final small aggregate.
    */
  private lazy val qualityGateDef: QueryDef = QueryDef(
    "q77_quality_gate",
    Some("""
      WITH f AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 +
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                 greatest(len(string_split(text, ' ')), 1) * 0.5 AS quality
        FROM documents)
      SELECT lang,
             count(*) FILTER (WHERE quality >= 0.6) AS n_kept,
             count(*) FILTER (WHERE quality < 0.6) AS n_dropped,
             CAST(coalesce(sum(n_tokens) FILTER (WHERE quality >= 0.6), 0) AS BIGINT)
               AS kept_tokens
      FROM f
      GROUP BY lang
      ORDER BY lang
    """),
  ) { (s, dir) =>
    val nTokens = size(tokens(col("text")))
    tbl(s, dir, "documents")
      .select(col("lang"), nTokens.as("n_tokens"), qualityScore(col("text")).as("quality"))
      .groupBy("lang")
      .agg(
        count(when(col("quality") >= 0.6, 1)).as("n_kept"),
        count(when(col("quality") < 0.6, 1)).as("n_dropped"),
        coalesce(sum(when(col("quality") >= 0.6, col("n_tokens"))), lit(0L))
          .as("kept_tokens"),
      )
      .orderBy("lang")
  }

  /** Per-corpus 60-bit SimHash signature table — an index artifact on
    * par with minhash-sigs: one row per doc, built by the 60
    * bit-balance aggregates over every token occurrence (the costly
    * part of any SimHash pipeline), snapshotted so near-dup queries
    * pay only the band join.
    */
  private def simhash60Sigs(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "simhash-sigs-60") {
      simhash60SigsOf(tbl(s, dir, "documents"))
    }

  /** SimHash signatures of an arbitrary document frame (batch form —
    * one text scan through the native one-pass expression). */
  private[queries] def simhash60SigsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashNative(col("text"), SimBits).as("sig"))

  /** Incremental maintenance of the simhash-sigs-60 artifact — APPEND
    * geometry, same argument as [[mergeMinhashSigs]]: per-doc grain,
    * whole-document arrival, batch rows doc_id-disjoint from the base
    * → pure union, one batch-text scan, base never re-hashed.
    */
  private[queries] def mergeSimhash60Sigs(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(simhash60SigsOf(batchDocs))

  /** q80 — SimHash near-dup PAIRS (q66 only emits signatures): banded
    * band-bucket self-join for candidates, exact Hamming verification
    * via bit_count(xor). Complements MinHash (q65): SimHash hamming
    * tracks cosine of the token-frequency profile, MinHash tracks set
    * Jaccard — pipelines run both because each catches edits the other
    * scores as similar.
    */
  private lazy val simhashNearDupDef: QueryDef = QueryDef(
    "q80_simhash_neardup",
    Some(simhashNearDupOracle),
  ) { (s, dir) =>
    val sigs = simhash60Sigs(s, dir)
    // Band width from corpus size, in-plan (the signature table has
    // one row per doc, so its count IS the corpus count): a 1-row
    // broadcast parameter frame, the same construction IVF uses for
    // nlist. maxham = bands-1 rides along for the verification filter.
    val prm = sigs.groupBy().agg(count(lit(1)).as("n_docs"))
      .select(expr(simWidthCase("n_docs")).as("w"))
      .select(col("w"), expr(s"$SimBits div w").as("bands"))
      .select(col("w"), col("bands"), (col("bands") - 1).as("maxham"))
    // One band row per (doc, 0 ≤ band < 60/w): explode a size-derived
    // sequence — the signature rides along with each band row so
    // candidate pairs verify without re-joining the signature table.
    val bands = sigs.crossJoin(broadcast(prm))
      .select(
        col("doc_id"), col("sig"), col("w"), col("maxham"),
        explode(sequence(lit(0), col("bands") - 1)).as("band"),
      )
      .withColumn(
        "key",
        expr(s"shiftright(sig, band * w) & (shiftleft(CAST(1 AS BIGINT), w) - 1)"))
    // Hamming filter BEFORE the pair dedup: a pair can be nominated by
    // up to `bands` buckets, and rejecting sub-threshold nominations
    // early keeps those duplicates out of the distinct's exchange.
    val ham = bit_count(col("s1").bitwiseXOR(col("s2")))
    bands.as("x")
      .join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.sig").as("s1"), col("y.sig").as("s2"),
        col("x.maxham").as("maxham"),
      )
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= col("maxham"))
      .select("d1", "d2", "hamming")
      .distinct()
      .orderBy("d1", "d2")
  }

  /** Oracle for q80 — same 60-bit construction, bands via UNION ALL. */
  private lazy val simhashNearDupOracle: String = {
    val balances = (0 until SimBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n               ")
    val assemble = (0 until SimBits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    // Static band-index domain (0 until max bands) filtered to the
    // derived 60/w rows — the UNION-ALL-per-band form can't express a
    // size-dependent band count.
    val bandDomain = (0 until SimMaxBands).map(b => s"($b)").mkString(",")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      hashed AS (SELECT doc_id, ${duckHash("tok")} AS h FROM toks),
      bal AS (
        SELECT doc_id,
               $balances
        FROM hashed GROUP BY doc_id),
      sigs AS (SELECT doc_id, $assemble AS sig FROM bal),
      prm AS (
        SELECT w, $SimBits // w AS bands FROM (
          SELECT ${simWidthCase("count(*)")} AS w FROM documents)),
      bands AS (
        SELECT doc_id, sig, b.band,
               (sig >> (b.band * prm.w)) & ((CAST(1 AS BIGINT) << prm.w) - 1) AS key
        FROM sigs CROSS JOIN prm CROSS JOIN (VALUES $bandDomain) AS b(band)
        WHERE b.band < prm.bands),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2, x.sig AS s1, y.sig AS s2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
      SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(s1, s2)) <= (SELECT bands - 1 FROM prm)
      ORDER BY d1, d2
    """
  }

  /** q91 — hot n-gram mining (boilerplate detection): the 4-grams
    * present in the most documents. Templated headers/footers and
    * licensing blurbs surface here long before any pair-level dedup;
    * pipelines strip or down-weight them, and the rare-shingle method
    * (q67) treats exactly these as non-discriminative. Top-k by
    * document frequency plans as TakeOrderedAndProject: the full df
    * table never sorts globally. The shuffle key is the shingle text
    * (the deliverable); the count is partial-aggregated map-side.
    */
  private lazy val hotNgramsDef: QueryDef = QueryDef(
    "q91_hot_ngrams",
    Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      shd AS (SELECT doc_id, unnest(list_distinct(${duckShingles("t", 4)})) AS ngram FROM toks)
      SELECT ngram, count(*) AS df
      FROM shd
      GROUP BY ngram
      ORDER BY df DESC, ngram
      LIMIT 20
    """),
  ) { (s, dir) =>
    docs(s, dir) // clustered-log read (parallel scan; see [[docs]])
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 4))).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("ngram"))
      .limit(20)
  }

  /** q92 — incremental NEAR-dup against the at-rest LSH index: q85's
    * ingest pattern lifted from exact digests to MinHash bands. The
    * arriving batch (odd doc_ids) computes band keys and joins them
    * against the persisted index side (even doc_ids) — never against
    * itself, never all-pairs — then candidates verify with exact
    * Jaccard over full shingle sets. At 100 TB the band-key table IS
    * the dedup index at rest (partitioned by band, bucketed by key);
    * a batch of B docs probes it with O(B·bands) lookups regardless
    * of corpus size.
    */
  private lazy val incrementalNearDupDef: QueryDef = QueryDef(
    "q92_incremental_neardup",
    Some(s"""
      WITH $minhashBandCtes,
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
      sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
      inter AS (
        SELECT d1, d2, count(*) AS inter
        FROM cand
          JOIN shh s1 ON d1 = s1.doc_id
          JOIN shh s2 ON d2 = s2.doc_id AND s1.h = s2.h
        GROUP BY d1, d2)
      SELECT d1 AS new_id, d2 AS old_id,
             round(inter / (n1.n + n2.n - inter), 4) AS jaccard
      FROM inter
        JOIN sizes n1 ON d1 = n1.doc_id
        JOIN sizes n2 ON d2 = n2.doc_id
      WHERE inter / (n1.n + n2.n - inter) >= 0.6
      ORDER BY new_id, old_id
    """),
  ) { (s, dir) =>
    val bands = minhashBands(s, dir)
    val cand = bands.filter(col("doc_id") % 2 === 1).as("x")
      .join(bands.filter(col("doc_id") % 2 === 0).as("y"), Seq("band", "key"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    jaccardOfCandidates(cand, docShingleSets(s, dir, 3))
      .filter(col("jaccard") >= 0.6)
      .select(col("d1").as("new_id"), col("d2").as("old_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "old_id")
  }

  /** q74 — appended to `defs` below; lazy because it is defined after
    * `defs` in initialization order.
    */
  private lazy val contaminationDef: QueryDef = QueryDef(
    "q74_contamination",
    Some(s"""
      WITH ${duckShinglePrefix(3)},
      sd AS (
        SELECT DISTINCT d.source, s.h
        FROM shh s JOIN documents d ON s.doc_id = d.doc_id),
      pairs AS (
        SELECT a.source AS s1, b.source AS s2, count(*) AS shared_shingles
        FROM sd a JOIN sd b ON a.h = b.h AND a.source < b.source
        GROUP BY s1, s2)
      SELECT s1, s2, shared_shingles
      FROM pairs
      ORDER BY shared_shingles DESC, s1, s2
      LIMIT 20
    """),
  ) { (s, dir) =>
    // Cross-source n-gram contamination (the train/benchmark overlap
    // check every training-data pipeline runs). Per hash the distinct
    // SOURCE set is bounded by the number of sources (a small fixed
    // set), so instead of the distinct + self-join-on-hash shape —
    // which planned the shingle⋈documents lineage twice and five
    // exchanges — ONE groupBy(h) collects each hash's source set
    // (collect_set dedups map-side, so the exchange carries ≤|sources|
    // entries per hash) and the unordered source pairs explode from
    // the sorted set: identical multiset of (s1 < s2) pairs, half the
    // scans, one fact-scaled exchange. collect_set drops NULL sources
    // exactly as the self-join's null-rejecting < did.
    val perHash = shingleHashes(s, dir, 3)
      .join(tbl(s, dir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
    perHash
      .filter(size(col("ss")) >= 2)
      .select(explode(orderedPairs(col("ss"))).as("p"))
      .groupBy(col("p.a").as("s1"), col("p.b").as("s2"))
      .agg(count(lit(1)).as("shared_shingles"))
      .orderBy(desc("shared_shingles"), asc("s1"), asc("s2"))
      .limit(20)
  }

  /** Shared oracle CTE block ending in `bands(doc_id, band, key)` —
    * the DuckDB twin of [[minhashBands]], generated from the same
    * constants as the Spark side (NumHashes/Bands/minhashA/minhashB),
    * so they cannot drift. Used by the q65/q87/q92 oracles.
    */
  private lazy val minhashBandCtes: String = {
    val minExprs = (0 until NumHashes)
      .map(i => s"min((${minhashA(i)} * (h % $MinhashP) + ${minhashB(i)}) % $MinhashP) AS m$i")
      .mkString(",\n                 ")
    val bandSelects = (0 until Bands).map { b =>
      val keyCols = (0 until Rows).map(r => s"m${Rows * b + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $keyCols)) AS key FROM sigs"
    }.mkString("\n          UNION ALL ")
    s"""${duckShinglePrefix(3)},
      sigs AS (
        SELECT doc_id,
                 $minExprs
        FROM shh GROUP BY doc_id),
      bands AS (
          $bandSelects)"""
  }

  /** Oracle CTE block ending in `lshpairs(d1, d2, jaccard)` — the
    * DuckDB twin of [[minhashPairs]]. Used by the q65 and q87 oracles.
    */
  private lazy val minhashPairsCtes: String = {
    s"""$minhashBandCtes,
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
      inter AS (
        SELECT d1, d2, count(*) AS inter
        FROM cand
          JOIN shh s1 ON d1 = s1.doc_id
          JOIN shh s2 ON d2 = s2.doc_id AND s1.h = s2.h
        GROUP BY d1, d2),
      lshpairs AS (
        SELECT d1, d2, inter / (n1.n + n2.n - inter) AS jaccard
        FROM inter
          JOIN sizes n1 ON d1 = n1.doc_id
          JOIN sizes n2 ON d2 = n2.doc_id
        WHERE inter / (n1.n + n2.n - inter) >= 0.6)"""
  }

  /** Oracle for q65 — final select over [[minhashPairsCtes]]. */
  private lazy val minhashLshOracle: String =
    s"""
      WITH $minhashPairsCtes
      SELECT d1, d2, round(jaccard, 4) AS jaccard
      FROM lshpairs
      ORDER BY d1, d2
    """

  /** q87 — near-dup CLUSTER labeling: connected components over the
    * LSH pair graph (q65's edges), each doc labeled with the minimum
    * doc_id reachable from it. Pair lists (q65/q67/q80) are not what a
    * dedup pipeline executes on — it keeps ONE representative per
    * component, and components can chain (A~B, B~C, but A≁C), so a
    * transitive closure is required between pair generation and the
    * keep-decision.
    *
    * Spark side: iterative min-label propagation — label(v) starts at
    * v and each round takes the min over neighbors; converges to the
    * exact component minimum after diameter(G) rounds. Near-dup
    * components are dense (near-cliques of mutually-similar docs), so
    * the diameter is tiny regardless of corpus size; each round is one
    * shuffle join keyed on vertex id plus an O(1) emptiness probe for
    * convergence (the same driver-side loop shape as GraphX Pregel),
    * and each round's result is checkpointed so the plan does not grow
    * exponentially with iterations (on a cluster this would be a
    * reliable checkpoint, not a local one). The oracle computes the
    * same fixpoint as a recursive transitive closure — iteration-count
    * independent on both sides, so the hash compare is stable.
    */
  private lazy val dedupClustersDef: QueryDef = QueryDef(
    "q87_dedup_clusters",
    Some(s"""
      WITH RECURSIVE $minhashPairsCtes,
      edges AS (
        SELECT d1 AS a, d2 AS b FROM lshpairs
        UNION SELECT d2, d1 FROM lshpairs),
      verts AS (SELECT DISTINCT a AS v FROM edges),
      reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
      SELECT doc_id, cluster_id,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      FROM comp
      ORDER BY cluster_id, doc_id
    """),
  ) { (s, dir) =>
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    lshClusterLabels(s, dir)
      .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Connected-component labels over the LSH near-dup pair graph —
    * (doc_id, cluster_id) for every doc touching at least one
    * qualifying pair, cluster_id = minimum doc_id in the component
    * (the iterative min-label propagation documented on q87, shared
    * with q99's survivor materialization).
    *
    * Snapshotted: the labels are a per-corpus artifact exactly like the
    * signatures they derive from — the fixpoint loop (several shuffle
    * joins + checkpoints) runs once per corpus snapshot at ingest time
    * (prebuildIndexes), and q87/q99 each read the at-rest (doc_id,
    * cluster_id) table instead of independently re-running the loop.
    */
  private def lshClusterLabels(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "lsh-cluster-labels")(computeLshClusterLabels(s, dir))

  private def computeLshClusterLabels(s: SparkSession, dir: String): DataFrame =
    labelFixpoint(minhashPairs(s, dir).select("d1", "d2"))
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))

  /** Min-label propagation to fixpoint over an undirected pair list
    * (d1, d2): every vertex ends carrying the minimum id reachable
    * from it. Factored from the full-corpus label build so the
    * incremental path ([[mergeLshClusterLabels]]) can run the SAME
    * loop over its contracted batch-touched graph.
    */
  private def labelFixpoint(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .select(col("d1").as("v"), col("d2").as("u"))
      .localCheckpoint() // read once per round, not re-derived through the LSH pipeline
    var labels = edges.select(col("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) { // cap >> any real dup-component diameter
      val nbrMin = edges
        .join(labels.select(col("v").as("u"), col("lbl").as("ulbl")), "u")
        .groupBy("v").agg(min("ulbl").as("nlbl"))
      val next = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      converged = next
        .join(labels.withColumnRenamed("lbl", "old"), "v")
        .filter(col("lbl") =!= col("old"))
        .isEmpty
      labels = next
      rounds += 1
    }
    labels
  }

  /** Verified near-dup pairs of an arbitrary document frame (batch
    * form of [[minhashPairs]]): same shingle→signature→band→verify
    * machine, one text scan, no corpus artifacts touched. Used by the
    * maintenance spec as the from-scratch rebuild definition.
    */
  private[queries] def minhashPairsOf(docs: DataFrame): DataFrame = {
    val sh = shingleHashesOf(docs, 3)
    val bands = bandKeysOf(minhashSigsFromShingles(sh))
    val cand = bands.as("x")
      .join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    jaccardOfCandidates(cand, docShingleSetsFromHashes(sh))
      .filter(col("jaccard") >= 0.6)
  }

  /** Cluster labels of an arbitrary document frame (batch form). */
  private[queries] def lshClusterLabelsOf(docs: DataFrame): DataFrame =
    labelFixpoint(minhashPairsOf(docs).select("d1", "d2"))
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))

  /** Incremental maintenance of lsh-cluster-labels — SEEDED COMPONENT
    * MERGE, the fifth maintenance geometry: arriving documents can
    * join existing clusters and BRIDGE previously separate ones, but
    * base–base edges never change (signatures are immutable and pairs
    * depend on nothing else), so only batch-touched components can
    * move. The merge therefore:
    *   1. shingles the BATCH once (one text scan; signatures, band
    *      keys and verification sets all derive from the checkpointed
    *      shingle frame) and generates candidates banded as always —
    *      batch×batch self-join plus batch×at-rest-band-index join,
    *      never all-pairs;
    *   2. verifies candidates by exact Jaccard against the at-rest
    *      doc-set artifact ∪ the batch's own sets;
    *   3. CONTRACTS each base endpoint to its component label (its
    *      at-rest cluster_id; a previously edge-less base doc is its
    *      own singleton). Contraction is sound because a base
    *      component is already fully connected under its min label,
    *      and preserves mins because the label IS the component min;
    *   4. runs the same [[labelFixpoint]] over the contracted graph —
    *      O(batch + touched components) vertices, NOT the corpus;
    *   5. reassembles: batch rows and touched-component member rows
    *      take their fixpoint label; untouched base rows pass through
    *      verbatim via one anti-join (no per-round participation, no
    *      re-verification, no text).
    * TextMaintenanceSpec pins merge == rebuild on the real corpus, a
    * zero-documents-scan final plan, and that every changed row lies
    * in a batch-touched component.
    */
  private[queries] def mergeLshClusterLabels(
      baseLabels: DataFrame, baseBands: DataFrame, baseSets: DataFrame,
      batchDocs: DataFrame): DataFrame = {
    // One batch text scan, checkpointed: three consumers below.
    val sh = shingleHashesOf(batchDocs, 3).localCheckpoint()
    val batchBands = bandKeysOf(minhashSigsFromShingles(sh))
    val batchSets = docShingleSetsFromHashes(sh)
    val bb = batchBands.as("x")
      .join(batchBands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    val xb = batchBands.as("x")
      .join(baseBands.as("y"), Seq("band", "key"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
    val cand = bb.union(xb).distinct()
    val newEdges = jaccardOfCandidates(cand, baseSets.unionByName(batchSets))
      .filter(col("jaccard") >= 0.6)
      .select("d1", "d2")
    // Contract base endpoints to their component label; batch docs and
    // base singletons (no at-rest label) keep their own id.
    val edges = newEdges
      .join(baseLabels.select(col("doc_id").as("d1"), col("cluster_id").as("_ld1")), Seq("d1"), "left")
      .join(baseLabels.select(col("doc_id").as("d2"), col("cluster_id").as("_ld2")), Seq("d2"), "left")
      .select(
        coalesce(col("_ld1"), col("d1")).as("d1"),
        coalesce(col("_ld2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
      .distinct()
    val fix = labelFixpoint(edges) // (v, lbl) over the contracted graph
    // Checkpointed like the shingle frame: the id list partitions the
    // fixpoint's nodes into batch-vs-base from FOUR assembly branches
    // below — one doc_id-only batch read at merge time instead of four
    // batch scans in the final plan.
    val batchIds = batchDocs.select(col("doc_id").as("v")).localCheckpoint()
    val batchRows = fix.join(batchIds, "v")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
    val baseNodes = fix.join(batchIds, Seq("v"), "left_anti")
    // Touched components: every member row relabels to the fixpoint
    // label of its contracted node (covers the min member itself).
    val compRelabel = baseLabels
      .join(baseNodes.select(col("v").as("cluster_id"), col("lbl")), "cluster_id")
      .select(col("doc_id"), col("lbl").as("cluster_id"))
    // Base singletons gaining their first edge: their node id is not a
    // base cluster label (singletons never appear in the base table).
    val singletonRows = baseNodes
      .join(baseLabels.select(col("doc_id").as("v")), Seq("v"), "left_anti")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
    // Untouched components pass through verbatim: one anti-join, no
    // fixpoint participation.
    val untouched = baseLabels.join(
      baseNodes.select(col("v").as("cluster_id")), Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    untouched
      .unionByName(compRelabel)
      .unionByName(singletonRows)
      .unionByName(batchRows)
  }

  /** Oracle for q66 — 32 bit-balance sums + signature reassembly. */
  private lazy val simhashOracle: String = {
    val balances = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n               ")
    val assemble = (0 until 32)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      hashed AS (SELECT doc_id, ${duckHash("tok")} AS h FROM toks),
      bal AS (
        SELECT doc_id,
               $balances
        FROM hashed GROUP BY doc_id)
      SELECT doc_id, $assemble AS simhash
      FROM bal
      ORDER BY doc_id
    """
  }

  /** q93 — boilerplate fraction per document (C4/CCNet-family signal):
    * share of a document's distinct 4-grams whose corpus document
    * frequency is ≥ [[BoilerDfMin]] — templated headers/footers and
    * site chrome repeat across many documents, so a high hot-shingle
    * share flags extraction boilerplate that per-document repetition
    * (q81) cannot see. Reuses the shingles-k4 index artifact and a
    * per-corpus df aggregate over 8-byte hashes; both sides of the
    * oracle compare work on the same md5-derived h, so collision
    * behavior is identical by construction. Shape: one agg + one join
    * keyed on h, one per-doc agg — nothing corpus-global but the df
    * table (one row per distinct 4-gram).
    */
  private lazy val boilerplateFracDef: QueryDef = QueryDef(
    "q93_boilerplate_frac",
    Some(s"""
      WITH ${duckShinglePrefix(4)},
      df AS (SELECT h, count(*) AS df FROM shh GROUP BY h)
      SELECT s.doc_id,
             count(*) AS n_shingles,
             count(*) FILTER (WHERE df.df >= $BoilerDfMin) AS n_boiler,
             round(count(*) FILTER (WHERE df.df >= $BoilerDfMin) * 1.0 / count(*), 4)
               AS boiler_frac,
             CASE WHEN count(*) FILTER (WHERE df.df >= $BoilerDfMin) * 1.0 / count(*) > 0.5
               THEN 1 ELSE 0 END AS flagged
      FROM shh s JOIN df USING (h)
      GROUP BY s.doc_id
      ORDER BY s.doc_id
    """),
  ) { (s, dir) =>
    val sh = shingleHashes(s, dir, 4)
    val df = shingleDf(s, dir, 4)
    val hot = count(when(col("df") >= BoilerDfMin, 1))
    sh.join(df, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        hot.as("n_boiler"),
        round(hot * 1.0 / count(lit(1)), 4).as("boiler_frac"),
        when(hot * 1.0 / count(lit(1)) > 0.5, 1).otherwise(0).as("flagged"),
      )
      .orderBy("doc_id")
  }

  /** q94 — n-gram decontamination against a held-out benchmark set
    * (the GPT-3/Llama decontamination construction): a training
    * document is contaminated if it shares any 4-gram with the
    * benchmark corpus — q74 catches verbatim cross-source copies by
    * whole-document digest; this catches partial/quoted overlap at
    * n-gram granularity. Shape: the benchmark's distinct-shingle set
    * is tiny next to the corpus (eval suites are MBs, training sets
    * TBs) and reads from the at-rest [[benchShingles]] artifact —
    * built at ingest, maintained by set insert — so the corpus-scale
    * shingle table and the (doc_id, source) projection are scanned
    * once per run. The left join against the bench set broadcasts
    * under AQE without a hint, and the train side never self-joins.
    * Joins carry the 8-byte shingle hash, never n-gram text.
    */
  private lazy val decontamNgramDef: QueryDef = QueryDef(
    "q94_ngram_decontam",
    Some(s"""
      WITH ${duckShinglePrefix(4)},
      shs AS (
        SELECT s.doc_id, s.h, d.source
        FROM shh s JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)),
      bench AS (SELECT DISTINCT h FROM shs WHERE source = '$BenchSource'),
      train AS (SELECT * FROM shs WHERE source != '$BenchSource')
      SELECT t.doc_id,
             count(*) AS n_shingles,
             count(b.h) AS n_overlap,
             round(count(b.h) * 1.0 / count(*), 4) AS overlap_frac,
             CASE WHEN count(b.h) > 0 THEN 1 ELSE 0 END AS contaminated
      FROM train t LEFT JOIN bench b ON t.h = b.h
      GROUP BY t.doc_id
      ORDER BY t.doc_id
    """),
  ) { (s, dir) =>
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
    val bench = benchShingles(s, dir).withColumn("hit", lit(1))
    shingleHashes(s, dir, 4).join(docs, "doc_id")
      .filter(col("source") =!= BenchSource)
      .join(bench, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_overlap"),
        round(count(col("hit")) * 1.0 / count(lit(1)), 4).as("overlap_frac"),
        when(count(col("hit")) > 0, 1).otherwise(0).as("contaminated"),
      )
      .orderBy("doc_id")
  }

  /** q97 — token-budget mixing weights: the planning step ahead of
    * q76's hash-based mixing. Given a global token budget
    * ([[BudgetFrac]] of the corpus) split uniformly across sources,
    * compute each source's keep rate, saturating at 1.0 — a source
    * with fewer tokens than its allocation is taken whole (the
    * under-represented-source case every real mixture solve handles).
    * Shape: one map-side token count, a tiny per-source aggregate, and
    * the corpus total as a single-partition window over that aggregate
    * (≤ #sources rows) — one corpus scan, and nothing downstream
    * scales with documents.
    */
  private lazy val tokenBudgetDef: QueryDef = QueryDef(
    "q97_token_budget",
    Some(s"""
      WITH tok AS (
        SELECT source, len(string_split(text, ' ')) AS n FROM documents),
      per AS (
        SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        FROM tok GROUP BY source),
      tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
               count(*) AS nsrc
        FROM per)
      SELECT source, n_docs, n_tokens,
             round(least(CAST(1.0 AS DOUBLE),
                         (tot * CAST($BudgetFrac AS DOUBLE) / nsrc) / n_tokens), 4)
               AS keep_rate
      FROM per CROSS JOIN tot
      ORDER BY source
    """),
  ) { (s, dir) =>
    val per = tbl(s, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    // Corpus totals via a single-partition window over the per-source
    // aggregate (≤ #sources rows — ONE partition is the point, not a
    // hazard). The crossJoin(broadcast(tot)) formulation re-planned
    // per's whole lineage for the total: a second full corpus scan.
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    per
      .withColumn("tot", sum("n_tokens").over(all))
      .withColumn("nsrc", count(lit(1)).over(all))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(
          least(lit(1.0), (col("tot") * BudgetFrac / col("nsrc")) / col("n_tokens")),
          4).as("keep_rate"),
      )
      .orderBy("source")
  }

  /** q98 — sequence packing: assign documents to fixed-[[SeqLen]]
    * training sequences by running token count, the batch-construction
    * step between curation and the trainer. Packing is per-source and
    * in doc_id order, so the assignment is a pure function of the
    * corpus (greedy packers that follow arrival order are not
    * reproducible under retries). Shape: `source` is a ≤handful-of-
    * values key, so the per-source running sum rides TwoPhaseRank's
    * prefix-sum decomposition (balanced range slices, local running
    * sums, broadcast per-slice offsets) — no task ever holds a full
    * source's corpus, and the assignment is identical to the one
    * single-partition window the oracle evaluates.
    */
  private lazy val sequencePackingDef: QueryDef = QueryDef(
    "q98_sequence_packing",
    Some(s"""
      WITH tok AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n FROM documents),
      c AS (
        SELECT source, doc_id, n,
               sum(n) OVER (PARTITION BY source ORDER BY doc_id) - n AS cb
        FROM tok)
      SELECT source, CAST(cb // $SeqLen AS BIGINT) AS seq_id,
             count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM c
      GROUP BY source, seq_id
      ORDER BY source, seq_id
    """),
  ) { (s, dir) =>
    val toks = tbl(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n"))
    graft.util.TwoPhaseRank.prefixSum(s, toks, Seq("source"), Seq(asc("doc_id")), col("n"))
      .withColumn("cb", col("psum") - col("n"))
      .withColumn("seq_id", expr(s"cb div $SeqLen"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      .orderBy("source", "seq_id")
  }

  /** q95 — pattern scrub (the PII-redaction shape): count and redact
    * every match of [[ScrubPattern]] in one map-side regexp pass.
    * Emits the redacted text's md5 rather than the text itself so the
    * result stays narrow; redaction is verified end-to-end in the spec
    * by planting real emails/SSNs through the same expressions. Shape:
    * embarrassingly parallel, stays inside whole-stage codegen — the
    * 100 TB cost is one scan.
    */
  private lazy val patternScrubDef: QueryDef = QueryDef(
    "q95_pattern_scrub",
    Some(s"""
      SELECT doc_id,
             len(regexp_extract_all(text, '$ScrubPattern')) AS n_hits,
             md5(regexp_replace(text, '$ScrubPattern', '[X]', 'g')) AS redacted_md5,
             CAST(len(regexp_replace(text, '$ScrubPattern', '[X]', 'g')) AS BIGINT)
               AS n_chars_clean
      FROM documents
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    val redacted = regexp_replace(col("text"), lit(ScrubPattern), lit("[X]"))
    // Sort FIRST, scrub AFTER (r21): with the regex below the global
    // sort, the range exchange's sampling pass executed the full
    // regexp pipeline once and the shuffle-map pass again — two
    // single-threaded regex sweeps of the corpus (the documents file
    // is one row group, so the scan stage cannot parallelize them).
    // Ordering by doc_id first ships only (doc_id, text) through the
    // exchange (sampling now touches the bare scan), and the scrub
    // projection runs once, on the post-exchange partitions — i.e. in
    // parallel. Same rows, same order, same oracle.
    tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(ScrubPattern), lit(0)))
          .cast("bigint").as("n_hits"),
        md5(redacted).as("redacted_md5"),
        length(redacted).cast("bigint").as("n_chars_clean"),
      )
  }

  /** q99 — near-dup SURVIVOR materialization: the keep-decision a dedup
    * pipeline actually executes. One canonical document per LSH
    * near-dup component (the minimum doc_id — [[lshClusterLabels]]),
    * everything else in the component dropped; docs in no component
    * kept. Completes the materialize family: q78 keeps one row per
    * exact digest, q89 one per embedding-cosine cluster, q99 one per
    * MinHash-Jaccard component. Shape: the label table holds only docs
    * that appear in ≥ 1 qualifying pair (≪ corpus), left-joined to the
    * corpus on doc_id — a shuffle join AQE downgrades to broadcast
    * when the pair graph is small, never a corpus-wide all-pairs.
    */
  private lazy val lshSurvivorsDef: QueryDef = QueryDef(
    "q99_lsh_survivors",
    Some(s"""
      WITH RECURSIVE $minhashPairsCtes,
      edges AS (
        SELECT d1 AS a, d2 AS b FROM lshpairs
        UNION SELECT d2, d1 FROM lshpairs),
      verts AS (SELECT DISTINCT a AS v FROM edges),
      reach(a, b) AS (
        SELECT v, v FROM verts
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
      flags AS (
        SELECT d.source,
               len(string_split(d.text, ' ')) AS n_tok,
               (c.cluster_id IS NULL OR c.cluster_id = d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM flags
      GROUP BY source
      ORDER BY source
    """),
  ) { (s, dir) =>
    val keep = col("cluster_id").isNull || col("cluster_id") === col("doc_id")
    tbl(s, dir, "documents")
      .join(lshClusterLabels(s, dir), Seq("doc_id"), "left")
      .select(
        col("source"),
        size(tokens(col("text"))).cast("bigint").as("n_tok"),
        keep.as("keep"),
      )
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"),
      )
      .orderBy("source")
  }

  /** q100 — normalization-collision dedup accounting (the "fuzzy exact"
    * stage between exact and near dedup): canonicalize text (lowercase,
    * strip non-alphanumeric, collapse space runs, trim) and count, per
    * language, raw-distinct vs normalized-distinct digests. Documents
    * that collide only after normalization are formatting twins —
    * cheap to catch here (one map-side pass + one agg, no candidate
    * generation) before the LSH machinery ever runs. Both regexps are
    * dialect-pinned: explicit classes only, and the DuckDB side spells
    * the 'g' flag (Spark's regexp_replace is always global).
    */
  private lazy val normalizedDedupDef: QueryDef = QueryDef(
    "q100_normalized_dedup",
    Some("""
      WITH n AS (
        SELECT lang,
               md5(text) AS raw_d,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), '[ ]+', ' ', 'g'))) AS norm_d
        FROM documents)
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT raw_d) AS uniq_raw,
             count(DISTINCT norm_d) AS uniq_norm,
             count(DISTINCT raw_d) - count(DISTINCT norm_d) AS norm_collisions
      FROM n
      GROUP BY lang
      ORDER BY lang
    """),
  ) { (s, dir) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "[ ]+", " "))
    tbl(s, dir, "documents")
      .select(col("lang"), md5(col("text")).as("raw_d"), md5(norm).as("norm_d"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_d")).as("uniq_raw"),
        countDistinct(col("norm_d")).as("uniq_norm"),
        (countDistinct(col("raw_d")) - countDistinct(col("norm_d")))
          .as("norm_collisions"),
      )
      .orderBy("lang")
  }

  /** q101 — adaptive per-source quality gate: keep each source's top
    * (1 − [[AdaptiveDropFrac]]) of documents by q63's quality score,
    * via percent_rank within the source. `source` is a ≤handful-of-
    * values key, so a naive per-source window would funnel whole-
    * corpus-scale partitions through single tasks; TwoPhaseRank
    * (balanced range slices, local ranks, broadcast offset merge)
    * supplies rank + group total, and percent_rank is its closed form
    * (rank−1)/(n−1) — the same double division the builtin evaluates,
    * so bit-identical. Ties stay exact: the range partitioner
    * co-locates equal (source, quality) rows, so SQL rank semantics
    * (equal scores share a rank in both engines) survive the
    * decomposition and the hash compare cannot flip on tie order.
    */
  private lazy val adaptiveQualityDef: QueryDef = QueryDef(
    "q101_adaptive_quality_gate",
    Some(s"""
      WITH f AS (
        SELECT source,
               least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 +
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                 greatest(len(string_split(text, ' ')), 1) * 0.5 AS quality
        FROM documents),
      r AS (
        SELECT source, quality,
               percent_rank() OVER (PARTITION BY source ORDER BY quality) AS pr
        FROM f)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN pr >= $AdaptiveDropFrac THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             round(min(CASE WHEN pr >= $AdaptiveDropFrac THEN quality END), 4)
               AS threshold,
             round(avg(CASE WHEN pr >= $AdaptiveDropFrac THEN quality END), 4)
               AS kept_avg_quality
      FROM r
      GROUP BY source
      ORDER BY source
    """),
  ) { (s, dir) =>
    val toks = tokens(col("text"))
    val kept = col("pr") >= AdaptiveDropFrac
    val scored = tbl(s, dir, "documents")
      .select(
        col("source"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
      )
      .select(
        col("source"),
        (least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)) * 0.5)
          .as("quality"),
      )
    graft.util.TwoPhaseRank.rankAndTotal(s, scored, Seq("source"), Seq(asc("quality")))
      .withColumn("pr", when(col("n_g") > 1,
        (col("rnk") - 1).cast("double") / (col("n_g") - 1)).otherwise(lit(0.0)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        round(min(when(kept, col("quality"))), 4).as("threshold"),
        round(avg(when(kept, col("quality"))), 4).as("kept_avg_quality"),
      )
      .orderBy("source")
  }

  /** q102 — Bloom-prefiltered incremental dedup (q85's split: even
    * doc_ids are the at-rest index, odd the arriving batch). The batch
    * probes a serialized Bloom filter of the index digests
    * ([[graft.functions.BloomFunctions]] over Spark's own
    * BloomFilterAggregate) BEFORE the exact join: rows the filter
    * rejects are definitely new (no false negatives) and bypass the
    * join entirely; only maybe-dup candidates shuffle. At 10⁹ index
    * digests the bloom is a few hundred MB shipped once per executor
    * vs a digest table that must be shuffled or bucketed — and since
    * false positives only add redundant candidates that the exact join
    * then rejects, the RESULT is exactly the plain join's, which is
    * why a DuckDB oracle with no bloom still hash-matches. The one-row
    * driver read of the aggregated filter is the same materialization
    * Spark's InjectRuntimeFilter performs for its bloom scalar
    * subquery.
    */
  private lazy val bloomDedupDef: QueryDef = QueryDef(
    "q102_bloom_dedup",
    Some("""
      WITH existing AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
      batch AS (
        SELECT source, md5(text) AS h
        FROM documents WHERE doc_id % 2 = 1)
      SELECT source,
             count(*) AS n_batch,
             count(*) FILTER (WHERE h IN (SELECT h FROM existing))
               AS n_dup_vs_index,
             count(*) FILTER (WHERE h NOT IN (SELECT h FROM existing))
               AS n_new
      FROM batch
      GROUP BY source
      ORDER BY source
    """),
  ) { (s, dir) =>
    import graft.functions.BloomFunctions._
    val docs = tbl(s, dir, "documents")
    val existing = digestIndex(s, dir)
    // One-row driver read of the serialized filter (see Scaladoc).
    // Empty index → no filter row → every batch doc is definitely new.
    val bloomBits = existing
      .agg(bloomAgg(xxhash64(col("h")), 100000L, 1L << 20).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select(col("source"), md5(col("text")).as("h"))
    val flagged =
      if (bloomBits == null) batch.withColumn("maybe", lit(false))
      else batch.withColumn("maybe", mightContain(bloomBits, xxhash64(col("h"))))
    // ONE left join over all batch rows, with the bloom flag inside the
    // join condition: definite-new rows (maybe=false) short-circuit the
    // condition and flow through unmatched — no false negatives, so
    // this is result-identical to joining only the candidates. The
    // union-of-filtered-branches formulation read the batch text TWICE
    // (each branch re-planned the scan+md5 lineage; filter pushdown
    // through a staging repartition defeats exchange reuse). Here the
    // corpus text is scanned once and the single digest-keyed exchange
    // carries (source, 16-byte h, maybe) — text is projected away
    // map-side. With the index bucketed by digest at rest, the flag in
    // the condition is what lets the probe skip definite-new rows.
    val all = flagged.join(
      existing.withColumn("in_index", lit(1)),
      flagged("h") === existing("h") && flagged("maybe"),
      "left")
    all.groupBy("source")
      .agg(
        count(lit(1)).as("n_batch"),
        count(when(col("in_index") === 1, 1)).as("n_dup_vs_index"),
        count(when(col("in_index").isNull, 1)).as("n_new"),
      )
      .orderBy("source")
  }

  /** q103 — context-window chunking: explode each document into
    * overlapping [[ChunkTokens]]-token windows advancing by
    * [[ChunkStride]] tokens, the doc → training-context step that sits
    * between curation and sequence packing (q98). Each chunk carries
    * its token count and a content digest, so chunk-LEVEL exact dedup
    * (the q60 shape over chunks instead of documents) composes
    * directly on the output. Chunk starts are 0, stride, 2·stride, …
    * while start < max(n − overlap, 1), so every token lands in ≥ 1
    * chunk, adjacent chunks share (window − stride) tokens, and a
    * document shorter than one window yields exactly one chunk.
    *
    * Shape: one map-side pass — tokenize, `sequence` the starts,
    * `explode`, `slice` — entirely inside whole-stage codegen with no
    * UDF and no shuffle (the orderBy exists only for oracle
    * determinism). Output is ~n/stride rows per document; at 100 TB
    * the explode fan-out (~1.3× rows at 64/48) is the cost, and it
    * stays embarrassingly parallel — no skew, no join, no state.
    */
  /** DuckDB twin of [[chunkFrame]]: CTE prefix ending in a `chunks`
    * relation (doc_id, chunk_id, n_tokens, chunk_md5). */
  private def duckChunks: String =
    s"""tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      st AS (
        SELECT doc_id, toks,
               unnest(range(0,
                            greatest(len(toks) - ${ChunkTokens - ChunkStride}, 1),
                            $ChunkStride)) AS s
        FROM tok),
      chunks AS (
        SELECT doc_id,
               CAST(s // $ChunkStride AS BIGINT) AS chunk_id,
               CAST(len(list_slice(toks, s + 1, s + $ChunkTokens)) AS BIGINT)
                 AS n_tokens,
               md5(array_to_string(list_slice(toks, s + 1, s + $ChunkTokens), ' '))
                 AS chunk_md5
        FROM st)"""

  /** The context-chunk table behind q103/q104: one row per
    * [[ChunkTokens]]-token window on a [[ChunkStride]] stride —
    * (doc_id, chunk_id, n_tokens, chunk_md5). Snapshotted: chunking is
    * the tokenize-once artifact a training pipeline materializes at
    * ingest (the chunks ARE what the trainer consumes), so the
    * tokenize+hash pass over corpus text runs once per corpus in
    * prebuildIndexes and q103/q104 read the compact at-rest table. */
  private def chunkTable(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "context-chunks")(chunkFrameOf(tbl(s, dir, "documents")))

  /** Incremental maintenance of the chunk table — APPEND geometry
    * (chunk ids are document-local window indexes, so batch rows are
    * doc_id-disjoint from the at-rest grain).
    */
  private[queries] def mergeChunkTable(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(chunkFrameOf(batchDocs))

  /** One map-side codegen pass over a document frame's text: tokenize,
    * `sequence` the starts, `explode`, `slice`. */
  private[queries] def chunkFrameOf(docs: DataFrame): DataFrame = {
    val overlap = ChunkTokens - ChunkStride
    val chunk = slice(col("toks"), col("st") + 1, lit(ChunkTokens))
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("toks"),
        explode(
          sequence(
            lit(0),
            greatest(size(col("toks")) - overlap, lit(1)) - 1,
            lit(ChunkStride))).as("st"),
      )
      .select(
        col("doc_id"),
        (col("st") / ChunkStride).cast("bigint").as("chunk_id"),
        size(chunk).cast("bigint").as("n_tokens"),
        md5(array_join(chunk, " ")).as("chunk_md5"),
      )
  }

  private lazy val contextChunksDef: QueryDef = QueryDef(
    "q103_context_chunks",
    Some(s"""
      WITH $duckChunks
      SELECT doc_id, chunk_id, n_tokens, chunk_md5
      FROM chunks
      ORDER BY doc_id, chunk_id
    """),
  ) { (s, dir) =>
    chunkTable(s, dir).orderBy("doc_id", "chunk_id")
  }

  /** q104 — chunk-level cross-document dedup over the q103 context
    * table: for each document, the fraction of its chunks whose digest
    * also appears in ≥ 2 distinct documents. This is the exact-dedup
    * pass run at the granularity the trainer consumes — it catches
    * PARTIAL duplication (a copied article inside an otherwise-unique
    * page) that whole-document digests (q60) miss, the
    * RefinedWeb/CCNet segment-dedup construction. Window-aligned
    * chunking only matches alignment-preserving copies; unaligned
    * overlap is the shingle family's job (q65/q67) — this operator is
    * the cheap exact sweep over the materialized chunk table.
    *
    * Shape: document frequency as a two-phase count-distinct groupBy
    * over the at-rest chunk table joined back on the 16-byte digest,
    * then a per-doc agg — zero corpus-text reads (the chunk table is
    * the snapshot), and the shuffles carry digests, never text. The
    * earlier window formulation (`collect_set(doc_id) over
    * (partitionBy(chunk_md5))`) buffered every containing doc_id of a
    * digest in one task's memory — unbounded exactly for boilerplate
    * chunks (a template header present in every document); the groupBy
    * aggregates partially map-side and the join back is
    * AQE-skew-splittable.
    */
  private lazy val chunkDedupDef: QueryDef = QueryDef(
    "q104_chunk_dedup",
    Some(s"""
      WITH $duckChunks,
      df AS (
        SELECT chunk_md5, count(DISTINCT doc_id) AS nd
        FROM chunks GROUP BY chunk_md5)
      SELECT c.doc_id,
             count(*) AS n_chunks,
             count(*) FILTER (WHERE df.nd >= 2) AS n_shared,
             round(count(*) FILTER (WHERE df.nd >= 2) * 1.0 / count(*), 4)
               AS shared_frac,
             CASE WHEN count(*) FILTER (WHERE df.nd >= 2) * 1.0 / count(*) > 0.5
               THEN 1 ELSE 0 END AS flagged
      FROM chunks c JOIN df USING (chunk_md5)
      GROUP BY c.doc_id
      ORDER BY c.doc_id
    """),
  ) { (s, dir) =>
    val chunks = chunkTable(s, dir)
    // "nd ≥ 2" needs only whether ≥2 distinct docs share the chunk:
    // min ≠ max (see q107) — no distinct-count state.
    val df = chunks.groupBy("chunk_md5")
      .agg((min("doc_id") =!= max("doc_id")).as("is_shared"))
    val shared = count(when(col("is_shared"), 1))
    chunks.join(df, "chunk_md5")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        shared.as("n_shared"),
        round(shared * 1.0 / count(lit(1)), 4).as("shared_frac"),
        when(shared * 1.0 / count(lit(1)) > 0.5, 1).otherwise(0).as("flagged"),
      )
      .orderBy("doc_id")
  }

  /** q105 — curation funnel: per-source survivor counts through the
    * release pipeline's stages in [[graft.pipeline.TextPipeline]]
    * order — raw → quality gate (q77's score ≥ 0.6) → exact dedup
    * (q78's canonical-survivor rule, applied to the GATED set) →
    * deterministic mix (q76's hash-of-id keep rates). This is the
    * accounting table a data release logs: where each source's
    * documents were lost, with every stage a pure function of the
    * corpus so the funnel is re-derivable after the fact. Left joins
    * from the raw counts keep a fully-filtered source visible as an
    * explicit zero instead of a missing row.
    *
    * Shape: ONE corpus scan, one wide operation, one small aggregate.
    * The naive formulation (count each stage's frame separately and
    * join) plans three full text scans and two window shuffles —
    * Spark's exchange reuse does not fire across the branches because
    * each projects differently. Instead every stage becomes a flag in
    * a single pass: the dedup window orders gated rows first within
    * each digest group, so "first gated copy" (= rank 1 ∧ gated) is
    * exactly q78's survivor rule applied to the gated set, and the
    * per-source funnel is four conditional counts in one aggregate.
    * The window exchange carries (digest, doc_id, source, gated) —
    * text is projected away map-side.
    */
  private lazy val curationFunnelDef: QueryDef = QueryDef(
    "q105_curation_funnel",
    Some(s"""
      WITH scored AS (
        SELECT doc_id, source, text,
               least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 +
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                 greatest(len(string_split(text, ' ')), 1) * 0.5 AS quality
        FROM documents),
      gated AS (SELECT doc_id, source, text FROM scored WHERE quality >= 0.6),
      sur AS (
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
          FROM gated)
        WHERE rk = 1),
      mixed AS (
        SELECT doc_id, source FROM sur
        WHERE ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 <
              CASE WHEN source IN ('src0', 'src1', 'src2') THEN 80 ELSE 30 END),
      r AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
      g AS (SELECT source, count(*) AS n_gated FROM gated GROUP BY source),
      d AS (SELECT source, count(*) AS n_deduped FROM sur GROUP BY source),
      m AS (SELECT source, count(*) AS n_mixed FROM mixed GROUP BY source)
      SELECT r.source, r.n_raw,
             CAST(coalesce(g.n_gated, 0) AS BIGINT) AS n_gated,
             CAST(coalesce(d.n_deduped, 0) AS BIGINT) AS n_deduped,
             CAST(coalesce(m.n_mixed, 0) AS BIGINT) AS n_mixed
      FROM r
      LEFT JOIN g USING (source)
      LEFT JOIN d USING (source)
      LEFT JOIN m USING (source)
      ORDER BY source
    """),
  ) { (s, dir) =>
    // Gated rows sort first (booleans order false < true, so desc), so
    // rank 1 ∧ gated ⇔ the minimum-doc_id gated copy of each digest.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("digest").orderBy(desc("gated"), asc("doc_id"))
    val survivor = col("gated") && row_number().over(w) === 1
    val mixed = col("survivor") &&
      stringHash60(col("doc_id").cast("string")) % 100 <
        when(col("source").isInCollection(Seq("src0", "src1", "src2")), 80).otherwise(30)
    tbl(s, dir, "documents")
      .select(
        col("doc_id"), col("source"),
        (qualityScore(col("text")) >= 0.6).as("gated"),
        md5(col("text")).as("digest"),
      )
      .withColumn("survivor", survivor)
      .withColumn("mixed", mixed)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_raw"),
        count(when(col("gated"), 1)).as("n_gated"),
        count(when(col("survivor"), 1)).as("n_deduped"),
        count(when(col("mixed"), 1)).as("n_mixed"),
      )
      .orderBy("source")
  }

  /** q107 — exact-substring duplicate spans (Lee et al. '22 ExactSubstr
    * dedup at token granularity): for every document, how many of its
    * [[SpanTokens]]-token windows also occur verbatim in ANOTHER
    * document, and how many of its token positions those shared
    * windows cover once overlapping windows are merged into maximal
    * spans (gaps-and-islands over window start positions). Chunk dedup
    * (q104) sees only fixed chunk boundaries; this sees copied text at
    * ANY offset — the signal behind "remove the duplicated substring,
    * keep the rest of the document".
    *
    * Scale shape: the positioned window table is the at-rest
    * [[spanWindows]] snapshot (one corpus-text scan, paid at ingest);
    * the duplicate-digest filter is a map-side-partial groupBy on the
    * 60-bit hash (8-byte shuffle keys, never window text), and the
    * join back is hash-keyed and AQE-skew-splittable — a boilerplate
    * span shared by every document skews a KEY, not a window buffer.
    * The islands window partitions by doc_id and is bounded by a
    * single document's window count, never the corpus. Within-doc
    * repeats do NOT count (countDistinct(doc_id) >= 2) — intra-doc
    * repetition is q81's signal; this is cross-document copying.
    */
  private lazy val duplicateSpansDef: QueryDef = QueryDef(
    "q107_duplicate_spans",
    Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      ld AS (SELECT doc_id, t, len(t) AS n_tokens FROM toks WHERE len(t) >= $SpanTokens),
      uw AS (SELECT doc_id, n_tokens,
                    unnest(list_transform(range(1, n_tokens - ${SpanTokens - 2}),
                      i -> struct_pack(p := i, h := ${duckHash(s"concat_ws(' ', ${(0 until SpanTokens).map(o => s"t[i + $o]").mkString(", ")})")}))) AS u
             FROM ld),
      wins AS (SELECT doc_id, n_tokens, u.p AS p, u.h AS h FROM uw),
      dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      dw AS (SELECT doc_id, n_tokens, p FROM wins JOIN dup USING (h)),
      isl AS (SELECT doc_id, n_tokens, p,
                     CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                            OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + $SpanTokens
                          THEN 1 ELSE 0 END AS is_new
              FROM dw),
      isl2 AS (SELECT doc_id, n_tokens, p,
                      sum(is_new) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM isl),
      cov AS (SELECT doc_id, n_tokens, island, count(*) AS nw,
                     max(p) - min(p) + $SpanTokens AS cov_len
              FROM isl2 GROUP BY doc_id, n_tokens, island)
      SELECT doc_id, n_tokens,
             CAST(sum(nw) AS BIGINT) AS dup_windows,
             CAST(sum(cov_len) AS BIGINT) AS dup_tokens,
             round(CAST(sum(cov_len) AS DOUBLE) / n_tokens, 4) AS dup_frac
      FROM cov GROUP BY doc_id, n_tokens
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wins = spanWindows(s, dir)
    // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) (r22): the
    // distinct-count machinery (partial-distinct state per (h, doc)
    // pair) collapses to two map-side-combinable extrema — same
    // boolean, one plain hash aggregate.
    val dup = wins.groupBy("h")
      .agg(min("doc_id").as("d_mn"), max("doc_id").as("d_mx"))
      .filter(col("d_mn") =!= col("d_mx")).select("h")
    val dw = wins.join(dup, "h").select("doc_id", "n_tokens", "p")
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val prev = lag(col("p"), 1).over(byPos)
    // A window at p covers tokens [p, p+K-1]; the next window extends
    // the same island iff its start is within prev coverage + 1.
    val isNew = when(prev.isNull || col("p") > prev + SpanTokens, 1).otherwise(0)
    dw.withColumn("is_new", isNew)
      .withColumn("island", sum(col("is_new"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "n_tokens", "island")
      .agg(
        count(lit(1)).as("nw"),
        (max(col("p")) - min(col("p")) + SpanTokens).as("cov_len"),
      )
      .groupBy("doc_id", "n_tokens")
      .agg(sum("nw").as("dup_windows"), sum("cov_len").as("dup_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("dup_windows"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4).as("dup_frac"),
      )
      .orderBy("doc_id")
  }

  /** q108 — corpus-frequency rarity score (the CCNet-style "score each
    * document under a corpus language model" shape, unigram order):
    * every term gets a rarity percentile from the corpus unigram
    * counts, and a document's score is the token-count-weighted mean of
    * its terms' percentiles — high = dominated by rare vocabulary, low
    * = dominated by the corpus head. Deliberately NOT -log2 p(token):
    * libm transcendentals are engine-specific in the last ulp (the q82
    * rational-idf note). And deliberately summed in INTEGER space —
    * sum(c·(rank−1)) as BIGINT, ONE double division at the end — not as
    * sum over per-term double percentiles: float accumulation is
    * order-dependent, and the two engines' different aggregation orders
    * landed one document a last-ulp away across a round-to-4-decimals
    * boundary (0.4312 vs 0.4313) in the first formulation. Exact
    * integers + one correctly-rounded division is bit-identical by
    * IEEE, which is what a hash-compared score needs. The 4-decimal
    * rounding is spelled round(x·10⁴, 0)/10⁴, DuckDB's own formula:
    * Spark's round(x, 4) rounds the shortest decimal string of x
    * half-up, so on a tie such as 1281/2400 (0.53375 in decimal, just
    * under 5337.5 once scaled) it gives 0.5338 where DuckDB gives 0.5337.
    *
    * Scale shape: reads the at-rest [[termFrequencies]] snapshot —
    * corpus TEXT is scanned zero times in this plan. Ranks come from a
    * count-of-counts aggregate over the vocabulary (rank−1 = terms
    * with strictly greater count — the in-code comment proves the
    * identity), so the only window runs over the DISTINCT COUNT VALUES
    * (O(√tokens) rows under Zipf), and the join back to tf is
    * term-keyed with AQE skew handling for stopwords.
    */
  private lazy val unigramRarityDef: QueryDef = QueryDef(
    "q108_unigram_rarity",
    Some("""
      WITH uni AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS c FROM uni GROUP BY doc_id, term),
      ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY term),
      rk AS (SELECT term, rank() OVER (ORDER BY ct DESC) - 1 AS r FROM ct),
      nt AS (SELECT count(*) AS n_terms FROM ct),
      d AS (SELECT tf.doc_id AS doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(c * r) AS BIGINT) AS num
            FROM tf JOIN rk USING (term) GROUP BY tf.doc_id)
      SELECT doc_id, n_tokens,
             round(CAST(num AS DOUBLE) /
                   (n_tokens * greatest((SELECT n_terms FROM nt) - 1, 1)), 4)
               AS rarity_score
      FROM d ORDER BY doc_id
    """),
  ) { (s, dir) =>
    val tf = termFrequencies(s, dir)
    // Global term counts from the at-rest term-stats artifact — the
    // full-tf shuffle on `term` is ingest-time work, not per-query.
    val ct = termStats(s, dir).select("term", "ct")
    // rank() OVER (ORDER BY ct DESC) − 1 ≡ the count of terms with a
    // STRICTLY greater ct: ties share a rank in both formulations and
    // the value is the same exact BIGINT, so num/denominator (and the
    // one rounded division) stay bit-identical to the window form.
    // That identity lets the rank table collapse to COUNT-OF-COUNTS:
    // group the vocabulary by its count value (map-combinable hash
    // aggregate — under Zipf the distinct count values are
    // O(sqrt(corpus tokens)), ~3M rows at 100 TB vs a corpus-sized
    // vocabulary), prefix-sum the group sizes in descending-ct order
    // over that tiny frame (ONE task over ~16-byte rows — the
    // single-partition window is over distinct counts, never terms),
    // and broadcast the ct→(rank−1, n_terms) map back onto the
    // vocabulary. Replaces the previous TwoPhaseRank decomposition,
    // which paid a vocabulary-scale range repartition plus two window
    // passes for the same integers.
    val W = org.apache.spark.sql.expressions.Window
    val one = W.partitionBy(lit(0))
    val ranks = ct.groupBy("ct").agg(count(lit(1)).as("n_at"))
      .withColumn("r", coalesce(
        sum("n_at").over(
          one.orderBy(desc("ct")).rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_terms",
        sum("n_at").over(
          one.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .drop("n_at")
    val rk = ct.join(broadcast(ranks), "ct")
      .select(col("term"), col("r"), col("n_terms"))
    tf.join(rk, "term")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), sum(col("c") * col("r")).as("num"),
        max("n_terms").as("n_terms"))
      .select(
        col("doc_id"), col("n_tokens"),
        (round(col("num").cast("double") /
          (col("n_tokens") * greatest(col("n_terms") - 1, lit(1))) * 10000.0, 0) / 10000.0)
          .as("rarity_score"),
      )
      .orderBy("doc_id")
  }

  /** q113 — model-based quality filtering: a linear classifier over
    * per-document features, z-score-standardized against IN-PLAN corpus
    * statistics (the fastText/CCNet-shaped "model filter" stage of a
    * curation pipeline, with the trained weights shipped as literals —
    * same posture as q84's SRP hyperplanes; training happens offline,
    * the engine applies the model). Determinism across engines is by
    * construction: the features are INTEGERS (token/distinct/char
    * counts), so the corpus sums and sums-of-squares are exact BIGINTs,
    * and every derived double (mean, variance, z, logit) is the same
    * fixed sequence of IEEE operations on identical integer inputs —
    * no order-dependent float accumulation anywhere (the q108 lesson).
    * Scale shape: the token features come from the per-corpus tf
    * snapshot (q82/q108's at-rest artifact) joined to a text-FREE
    * pruned documents scan, so corpus text is read zero times in-plan
    * — both the stats branch and the score branch re-read only compact
    * columnar frames. The 1-row stats aggregate broadcasts back onto
    * the features for an embarrassingly parallel score+gate. The logit
    * (not a sigmoid) is the score: monotone-equivalent for
    * thresholding, and free of transcendental functions whose
    * last-ULP behavior differs across libm implementations.
    */
  private lazy val modelQualityDef: QueryDef = QueryDef(
    "q113_model_quality_filter",
    Some("""
      WITH f AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               n_chars
        FROM documents),
      st AS (
        SELECT count(*) AS n,
               CAST(sum(n_tokens) AS BIGINT) AS s_t,
               CAST(sum(n_tokens * n_tokens) AS BIGINT) AS q_t,
               CAST(sum(n_distinct) AS BIGINT) AS s_d,
               CAST(sum(n_distinct * n_distinct) AS BIGINT) AS q_d,
               CAST(sum(n_chars) AS BIGINT) AS s_c,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS q_c
        FROM f),
      scored AS (
        SELECT doc_id,
               -0.1
               + 0.9 * ((n_tokens - CAST(s_t AS DOUBLE) / n)
                        / sqrt(CAST(q_t AS DOUBLE) / n
                               - (CAST(s_t AS DOUBLE) / n) * (CAST(s_t AS DOUBLE) / n)))
               + 0.7 * ((n_distinct - CAST(s_d AS DOUBLE) / n)
                        / sqrt(CAST(q_d AS DOUBLE) / n
                               - (CAST(s_d AS DOUBLE) / n) * (CAST(s_d AS DOUBLE) / n)))
               - 0.4 * ((n_chars - CAST(s_c AS DOUBLE) / n)
                        / sqrt(CAST(q_c AS DOUBLE) / n
                               - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n)))
                 AS logit
        FROM f, st)
      SELECT doc_id, round(logit, 4) AS logit,
             CASE WHEN logit > 0 THEN 1 ELSE 0 END AS kept
      FROM scored
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    // tf has one row per (doc, term) with its count, so sum(c) is the
    // token count and the row count is the distinct count — identical
    // to size(tokens)/size(array_distinct(tokens)) since split() always
    // yields >= 1 element. The documents scan prunes to 2 columns.
    val f = termFrequencies(s, dir)
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"))
      .join(tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
    val st = f.groupBy().agg(
      count(lit(1)).as("n"),
      sum("n_tokens").as("s_t"),
      sum(col("n_tokens") * col("n_tokens")).as("q_t"),
      sum("n_distinct").as("s_d"),
      sum(col("n_distinct") * col("n_distinct")).as("q_d"),
      sum("n_chars").as("s_c"),
      sum(col("n_chars") * col("n_chars")).as("q_c"),
    )
    // z(x) mirrors the oracle's operation sequence exactly: mean and
    // variance as single IEEE divisions/subtractions of exact integers.
    def z(x: Column, sCol: Column, qCol: Column): Column = {
      val m = sCol.cast("double") / col("n")
      (x - m) / sqrt(qCol.cast("double") / col("n") - m * m)
    }
    f.crossJoin(broadcast(st)) // 1-row corpus statistics
      .select(
        col("doc_id"),
        (lit(-0.1)
          + lit(0.9) * z(col("n_tokens"), col("s_t"), col("q_t"))
          + lit(0.7) * z(col("n_distinct"), col("s_d"), col("q_d"))
          - lit(0.4) * z(col("n_chars"), col("s_c"), col("q_c"))).as("logit"),
      )
      .select(
        col("doc_id"),
        round(col("logit"), 4).as("logit"),
        when(col("logit") > 0, 1).otherwise(0).as("kept"),
      )
      .orderBy("doc_id")
  }

  /** q143 — vocabulary growth (Heaps-law checkpoints): cumulative
    * distinct token types vs cumulative tokens at ten corpus-prefix
    * checkpoints, the curve a tokenizer-vocabulary or
    * corpus-composition study reads off before committing a vocab
    * size. Checkpoints are deciles of the doc_id key space
    * (`(doc_id·10) div n_docs`) — pure integer arithmetic on both
    * engines, no rank window over the doc list (an ntile over N docs
    * would funnel every doc id through one task at 100 TB; the id-space
    * decile is a per-row expression). A term's checkpoint is its FIRST
    * occurrence (min doc_id per term), read from the at-rest tf
    * snapshot — the query plans one corpus-text-free pass over the
    * compact (doc, term, c) table plus a doc_id-only footer-ish scan of
    * documents [PlanSpec pins text out of every ReadSchema]; the
    * cumulative window then runs over a 10-row spine. The type/token
    * ratio is one IEEE division of exact integers, rounded.
    */
  private lazy val vocabGrowthDef: QueryDef = QueryDef(
    "q143_vocab_growth",
    Some("""
      WITH n AS (SELECT count(*) AS n_docs FROM documents),
      uni AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      firstocc AS (SELECT min(doc_id) AS first_doc FROM uni GROUP BY term),
      nv AS (
        SELECT least((first_doc * 10) // (SELECT n_docs FROM n) + 1, 10) AS decile,
               count(*) AS v
        FROM firstocc GROUP BY decile),
      nt AS (
        SELECT least((doc_id * 10) // (SELECT n_docs FROM n) + 1, 10) AS decile,
               count(*) AS t
        FROM uni GROUP BY decile),
      nd AS (
        SELECT least((doc_id * 10) // (SELECT n_docs FROM n) + 1, 10) AS decile,
               count(*) AS d
        FROM documents GROUP BY decile),
      sp AS (SELECT unnest(range(1, 11)) AS decile),
      cums AS (
        SELECT sp.decile,
               CAST(sum(coalesce(nd.d, 0)) OVER w AS BIGINT) AS docs_cum,
               CAST(sum(coalesce(nt.t, 0)) OVER w AS BIGINT) AS tokens_cum,
               CAST(sum(coalesce(nv.v, 0)) OVER w AS BIGINT) AS vocab_cum
        FROM sp
          LEFT JOIN nd USING (decile)
          LEFT JOIN nt USING (decile)
          LEFT JOIN nv USING (decile)
        WINDOW w AS (ORDER BY sp.decile))
      SELECT decile, docs_cum, tokens_cum, vocab_cum,
             round(CAST(vocab_cum AS DOUBLE) / nullif(tokens_cum, 0), 6)
               AS type_token_ratio
      FROM cums
      ORDER BY decile
    """),
  ) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    // Corpus count as a plan-time scalar: parquet footer metadata only
    // (no data pages decode — the assignedVectors/HWM-read precedent
    // for bounded driver materialization). Embedding it as a literal
    // instead of cross-joining a 1-row aggregate matters for lineage:
    // the aggregate subtree was replicated into each of the three
    // decile branches, which is what put FOUR documents scans in the
    // executed plan (r10 allowance); with the literal, `documents`
    // appears exactly once (dcount's doc_id-only scan).
    val nDocs = docs.count()
    // The count above is an eager (footer-metadata) action at query
    // CONSTRUCTION time, and nDocs becomes a `div` literal below — an
    // empty corpus would bake div-0 into codegen. Fail loudly at build
    // instead: vocab growth over zero documents has no defined deciles.
    require(nDocs > 0, s"q143_vocab_growth: documents table at $dir is empty")
    val tf = termFrequencies(s, dir)
    def decile(of: String): Column =
      least(expr(s"($of * 10) div ${nDocs}L") + 1, lit(10)).as("decile")
    // New types per checkpoint: first occurrence from the at-rest
    // term-stats artifact (one vocabulary-sized read; the min-by-term
    // over the full tf table happened once at ingest).
    val newTypes = termStats(s, dir).select("term", "first_doc")
      .groupBy(decile("first_doc")).agg(count(lit(1)).as("v"))
    val toks = tf
      .groupBy(decile("doc_id")).agg(sum("c").as("t"))
    val dcount = docs.select("doc_id")
      .groupBy(decile("doc_id")).agg(count(lit(1)).as("d"))
    val spine = s.range(1, 11).select(col("id").as("decile"))
    // 10-row cumulative frame: the single-partition window is bounded
    // by the checkpoint count, not the data.
    val cum = Window.orderBy("decile")
    spine
      .join(broadcast(dcount), Seq("decile"), "left")
      .join(broadcast(toks), Seq("decile"), "left")
      .join(broadcast(newTypes), Seq("decile"), "left")
      .select(
        col("decile"),
        sum(coalesce(col("d"), lit(0L))).over(cum).as("docs_cum"),
        sum(coalesce(col("t"), lit(0L))).over(cum).as("tokens_cum"),
        sum(coalesce(col("v"), lit(0L))).over(cum).as("vocab_cum"),
      )
      .select(
        col("decile"), col("docs_cum"), col("tokens_cum"), col("vocab_cum"),
        round(col("vocab_cum").cast("double") / expr("nullif(tokens_cum, 0)"), 6)
          .as("type_token_ratio"),
      )
      .orderBy("decile")
  }

  /** q144 — quality-threshold sweep (filter calibration): for twenty
    * candidate cutoffs over q63's quality score, the retained-document
    * count and its language composition — the curve read before fixing
    * a classifier-filter threshold for a training corpus. The sweep is
    * HISTOGRAM-FIRST: one codegen'd corpus pass buckets each doc at
    * floor(quality·20) (so "quality ≥ i/20" is EXACTLY "bucket ≥ i" —
    * integer semantics, no FP boundary can flip a row across engines),
    * the ≤ 21×2-row (bucket, is_en) histogram broadcasts to the 20-row
    * threshold spine, and per-threshold work is a sum over histogram
    * cells. Threshold × row work is never materialized: the corpus is
    * read once whether there are 20 cutoffs or 2000.
    */
  private lazy val thresholdSweepDef: QueryDef = QueryDef(
    "q144_threshold_sweep",
    Some("""
      WITH f AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents),
      q AS (
        SELECT CAST(floor((least(n_tokens / 100.0, 1.0) * 0.5 +
                           CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1) * 0.5)
                          * 20) AS BIGINT) AS bucket,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        FROM f),
      h AS (
        SELECT bucket, count(*) AS n, CAST(sum(is_en) AS BIGINT) AS n_en
        FROM q GROUP BY bucket),
      t AS (SELECT unnest(range(0, 20)) AS i)
      SELECT i * 5 AS threshold_pct,
             CAST(coalesce(sum(n), 0) AS BIGINT) AS retained,
             CAST(coalesce(sum(n_en), 0) AS BIGINT) AS retained_en,
             round(CAST(coalesce(sum(n_en), 0) AS DOUBLE)
                   / nullif(CAST(coalesce(sum(n), 0) AS DOUBLE), 0), 4) AS en_frac
      FROM t LEFT JOIN h ON h.bucket >= t.i
      GROUP BY i
      ORDER BY threshold_pct
    """),
  ) { (s, dir) =>
    val toks = tokens(col("text"))
    // Identical FP operation sequence to q63's quality score.
    val quality =
      least(size(toks) / 100.0, lit(1.0)) * 0.5 +
        size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1)) * 0.5
    val hist = tbl(s, dir, "documents")
      .select(
        floor(quality * 20).as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"),
      )
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("is_en").as("n_en"))
    val spine = s.range(0, 20).select(col("id").as("i"))
    spine
      .join(broadcast(hist), col("bucket") >= col("i"), "left")
      .groupBy("i")
      .agg(
        coalesce(sum("n"), lit(0L)).as("retained"),
        coalesce(sum("n_en"), lit(0L)).as("retained_en"),
      )
      .select(
        (col("i") * 5).as("threshold_pct"),
        col("retained"), col("retained_en"),
        round(col("retained_en").cast("double")
          / expr("nullif(cast(retained AS DOUBLE), 0)"), 4).as("en_frac"),
      )
      .orderBy("threshold_pct")
  }

  /** q146 — blocked record linkage by edit distance: doc pairs whose
    * normalized 48-char prefixes are within Levenshtein distance
    * [[LinkageMaxEdit]] — the typo/OCR-level near-dup the token-shingle
    * family structurally misses (a single in-word character edit
    * rewrites every shingle that covers it, but moves edit distance by
    * one). Candidates come from TWO blocking passes (prefix chars 1–8
    * and 9–16, tagged so the block spaces can't collide): a pair is
    * nominated if EITHER 8-char window survives the typo. A block with
    * more than [[LinkageBlockCap]] members is NOT dropped — it is
    * split into rank-contiguous sub-blocks of ≤ cap members, ranked by
    * the full 48-char prefix (sorted-neighborhood blocking: the docs
    * most likely to be within edit distance of each other sort
    * adjacently, so a hot boilerplate prefix degrades to *sampled*
    * coverage of its most-similar neighbors instead of silently
    * producing zero pairs, while per-block pair work stays O(cap²)).
    * Verification is the codegen'd built-in levenshtein on the bounded
    * 48-byte prefixes (fixed-width payload riding the exchange — the
    * same bounded-payload budget as the embedding pipelines; never
    * full text). DuckDB's levenshtein counts the same single-character
    * edits, so the gate cross-checks engine semantics too.
    *
    * Scale class: LINEAR with a bounded per-doc constant, not
    * sublinear — each doc sits in exactly 2 blocks and each sub-block
    * holds ≤ cap members, so its candidate partners are ≤ 2·(cap−1)
    * ≈ 100 regardless of corpus size AND regardless of block skew (the
    * measured decade confirms candidates grow exactly ∝ N). That is
    * the same class as any per-doc scoring pass (q63/q81); the 0.55
    * sublinearity bar applies to the LSH/banding family, whose
    * candidates are collision-driven rather than per-doc-bounded.
    *
    * What sub-blocking gives up, explicitly: a near-dup pair split
    * across a sub-block boundary (or whose prefixes sort far apart
    * inside a hot block despite low edit distance — possible when the
    * edit is in the FIRST characters) is missed. That is graceful
    * degradation — bounded sampled recall — where the previous
    * `HAVING count(*) <= cap` was a cliff to zero on exactly the
    * boilerplate-prefixed corpora where typo twins concentrate.
    */
  /** At-rest blocking index for q146: (doc_id, normalized 48-char
    * prefix, tagged 8-char block key, sub-block id) — two rows per
    * doc, one per blocking pass. One corpus-text scan at ingest, like
    * every other text artifact; linkage queries read this compact
    * table and the corpus text never enters a query-time plan. The
    * prefix column is the bounded verification payload (48 B fixed),
    * the same budget the embedding pipelines ship per row. The
    * sub-block id is `(rank within block by (p, doc_id) − 1) div cap`
    * — deterministic (the rank order is total: doc_id breaks prefix
    * ties), so the DuckDB twin computes the identical partition. The
    * rank window shuffles the compact (id, 48 B, 10 B) index once at
    * ingest; query-time plans only equi-join (b, sub).
    */
  private def linkageBlocks(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir, "linkage-blocks") {
      linkageRank(linkageKeyed(tbl(s, dir, "documents")))
    }

  /** The (doc_id, p, b) keyed rows a document frame contributes — two
    * per doc, one per blocking pass, emitted by a per-row generator
    * from ONE text scan (the self-union form planned the scan twice —
    * the q132 lineage lesson applied at ingest).
    */
  private[queries] def linkageKeyed(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        substring(lower(col("text")), 1, LinkagePrefixLen).as("p"))
      .select(col("doc_id"), col("p"),
        explode(array(
          concat(lit("a:"), substring(col("p"), 1, 8)),
          concat(lit("b:"), substring(col("p"), 9, 8)))).as("b"))

  /** The deterministic sub-block rank over keyed rows. */
  private[queries] def linkageRank(keyed: DataFrame): DataFrame = {
    val byPrefix = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy("p", "doc_id")
    keyed.withColumn("sub",
      floor((row_number().over(byPrefix) - lit(1))
        / lit(LinkageBlockCap)).cast("int"))
  }

  /** Incremental maintenance of the blocking index — the PARTITIONED
    * REFRESH geometry, the fourth in the family (append / fold /
    * set-insert cover the other artifacts): the sub-block id is a rank
    * WITHIN a block, so an arriving document can shift ranks of
    * existing rows — but only inside the blocks it lands in. The merge
    * therefore keeps every untouched block's at-rest rows verbatim
    * (anti-join on the batch's block keys) and re-ranks ONLY the
    * touched blocks from (at-rest keyed rows of those blocks ∪ batch
    * keyed rows) — the base artifact already carries (doc_id, p, b),
    * so no history text is ever re-read and the rank window runs over
    * |touched blocks| ≤ 2·|batch| partitions, not the corpus.
    * The batch's keys play three plan roles (anti, semi, union), so
    * the unstaged form scans the BATCH text three times — fine at
    * ingest where the batch is small; staging the keyed rows first
    * drops it to once (TextMaintenanceSpec pins the exact scan count
    * and row equality to the rebuild).
    */
  private[queries] def mergeLinkageBlocks(base: DataFrame, batchDocs: DataFrame): DataFrame = {
    val batchKeyed = linkageKeyed(batchDocs)
    val touched = batchKeyed.select("b").distinct()
    // Join-key-first reordering from the anti-join is undone at the
    // end: the merged artifact carries the base's exact column order.
    val untouched = base.join(touched, Seq("b"), "left_anti")
    val rebuilt = linkageRank(
      base.join(touched, Seq("b"), "left_semi")
        .select("doc_id", "p", "b")
        .unionByName(batchKeyed))
    untouched.unionByName(rebuilt, allowMissingColumns = false)
      .select(base.columns.map(col).toIndexedSeq: _*)
  }

  private lazy val editLinkageDef: QueryDef = QueryDef(
    "q146_edit_distance_linkage",
    Some(s"""
      WITH n AS (
        SELECT doc_id, substr(lower(text), 1, $LinkagePrefixLen) AS p
        FROM documents),
      k AS (
        SELECT doc_id, p, concat('a:', substr(p, 1, 8)) AS b FROM n
        UNION ALL
        SELECT doc_id, p, concat('b:', substr(p, 9, 8)) AS b FROM n),
      sb AS (
        SELECT doc_id, p, b,
          CAST(floor((row_number() OVER (PARTITION BY b ORDER BY p, doc_id) - 1)
            / $LinkageBlockCap) AS INT) AS sub
        FROM k),
      cand AS (
        SELECT DISTINCT k1.doc_id AS d1, k2.doc_id AS d2, k1.p AS p1, k2.p AS p2
        FROM sb k1
          JOIN sb k2 ON k2.b = k1.b AND k2.sub = k1.sub
            AND k1.doc_id < k2.doc_id)
      SELECT d1, d2, levenshtein(p1, p2) AS dist
      FROM cand
      WHERE levenshtein(p1, p2) <= $LinkageMaxEdit
      ORDER BY d1, d2
    """),
  ) { (s, dir) =>
    val inBlock = linkageBlocks(s, dir)
    // Verify BEFORE deduplicating: the threshold form of levenshtein
    // (Spark 3.5+) runs the banded O(len·k) DP — ~k/len the cost of
    // the full 48×48 matrix, returning −1 above the bound — and the
    // ≤-bound filter runs map-side on the join output, so the only
    // exchange after the join carries the tiny (d1, d2, dist) survivor
    // set, never the 48-byte prefix pair. A pair nominated by BOTH
    // blocking passes is verified twice (cheap, banded) instead of
    // pushing every candidate's string payload through a distinct —
    // at 100 TB the exchange is the bottleneck, not the DP.
    inBlock.as("x")
      .join(inBlock.as("y"),
        col("x.b") === col("y.b") && col("x.sub") === col("y.sub")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        levenshtein(col("x.p"), col("y.p"), LinkageMaxEdit).as("dist"))
      .filter(col("dist") >= 0)
      .distinct()
      .orderBy("d1", "d2")
  }

  // --------------------------------------------------------------------
  // Retraction — the DELETE half of the maintenance lifecycle (the
  // merge family's inverse). A production corpus doesn't only grow:
  // takedown requests, licensing changes, and right-to-be-forgotten
  // deletes remove documents, and every at-rest artifact must shed the
  // deleted docs' contribution WITHOUT re-deriving history. Each merge
  // geometry has a retraction inverse:
  //
  //   - APPEND (per-doc grain: tf, shingle table, doc-sets, minhash /
  //     simhash signatures, span-windows, context-chunks): a doc's rows
  //     are self-contained, so retraction is one anti-join on doc_id —
  //     NO text is read at all. At 100 TB the artifact is partitioned
  //     by a doc_id bucket, so the rewrite touches only the buckets
  //     holding deleted ids, not the artifact body.
  //   - ADDITIVE FOLD (corpus-global counts: shingle-df, term-stats,
  //     gram table): counts subtract as well as they add. The deleted
  //     docs' partial counts fold in NEGATED, and groups that reach
  //     zero drop out. Where a per-doc grain already exists at rest
  //     (shingle table → shingle-df, tf → term-stats) the partials come
  //     from THAT artifact — zero text scans; the gram table has no
  //     per-doc grain at rest, so its retraction re-tokenizes exactly
  //     the deleted docs (one bounded scan), never the survivors.
  //   - SET INSERT (digest-index): NOT retractable from the set alone —
  //     a deleted doc's digest must survive if any surviving duplicate
  //     still claims it, and the set has forgotten how many claimants
  //     each digest has. The production form is the REFCOUNTED index
  //     ([[digestCountsOf]]): inserts and deletes are both folds on the
  //     count, and the set the dedup queries probe is its projection.
  //     The bench-shingle set shares the geometry but NOT the problem:
  //     its per-doc grain (the shingle table) is at rest, so claimant
  //     counts re-derive from the grain for exactly the touched hashes
  //     ([[retractBenchShingles]]) — no refcounted twin needed.
  //   - PARTITIONED REFRESH (linkage-blocks): deletion shifts ranks
  //     only inside the deleted docs' own blocks; untouched blocks pass
  //     through verbatim and touched blocks re-rank from the at-rest
  //     keyed rows — zero text scans (the merge path's batch-keyed
  //     union, minus the batch).
  //   - SEEDED COMPONENT MERGE (lsh-cluster-labels): deletion can SPLIT
  //     a cluster (the deleted doc may be the only bridge), so touched
  //     components re-run the fixpoint over their surviving members'
  //     edges — regenerated from the at-rest band index and verified
  //     against the at-rest doc-sets, zero text scans. Contraction (the
  //     merge path's trick) is unsound here: the base component is
  //     exactly the thing that may no longer be connected.
  //
  // RetractionSpec proves retract == rebuild-on-survivors (rows AND
  // at-rest schema) for every family on the real corpus and pins the
  // no-survivor-rescan plans.

  /** Anti-join retraction shared by every APPEND-geometry artifact:
    * the tombstone request (an id list, the cheapest possible input)
    * against the at-rest grain. Zero text scans by construction.
    */
  private[queries] def retractByDocId(base: DataFrame, deletedIds: DataFrame): DataFrame =
    base.join(deletedIds.select("doc_id"), Seq("doc_id"), "left_anti")

  /** Negative fold for the df table, partials drawn from the AT-REST
    * shingle grain (not text): a deleted doc's distinct shingles each
    * lose one claimant; hashes whose df reaches zero leave the table.
    * Schema pinned to the rebuild's ([[mergeShingleDf]] note).
    */
  private[queries] def retractShingleDf(base: DataFrame, shingleTable: DataFrame,
      deletedIds: DataFrame): DataFrame =
    base.unionByName(
      shingleTable.join(deletedIds.select("doc_id"), Seq("doc_id"), "left_semi")
        .groupBy("h").agg((-count(lit(1))).as("df")))
      .groupBy("h").agg(coalesce(sum("df"), lit(0L)).as("df"))
      .filter(col("df") > 0)

  /** Set retraction for the bench-shingle set, claimants drawn from
    * the AT-REST shingle grain: a deleted bench doc's hashes leave the
    * set only when NO surviving bench doc still claims them. `touched`
    * is bounded by the deleted docs' shingles and `kept` by `touched`,
    * so the work is O(deletion), never O(corpus); zero text scans —
    * every input is an at-rest artifact (the bench membership list
    * rides in like the tombstone list: ids at rest).
    * base ∖ (touched ∖ kept) = rebuild-on-survivors because the set
    * only ever shrinks by hashes whose every claimant was deleted
    * (RetractionSpec proves row equality on the real corpus, which
    * holds a genuinely shared bench shingle across the tombstone
    * boundary — the arm a naive set-level anti-join gets wrong).
    */
  private[queries] def retractBenchShingles(base: DataFrame, shingleTable: DataFrame,
      benchDocIds: DataFrame, deletedIds: DataFrame): DataFrame = {
    val bench = benchDocIds.select("doc_id")
    val del = deletedIds.select("doc_id")
    val touched = shingleTable
      .join(bench, Seq("doc_id"), "left_semi")
      .join(del, Seq("doc_id"), "left_semi")
      .select("h").distinct()
    val kept = shingleTable
      .join(touched, Seq("h"), "left_semi")
      .join(bench, Seq("doc_id"), "left_semi")
      .join(del, Seq("doc_id"), "left_anti")
      .select("h").distinct()
    base.join(touched.join(kept, Seq("h"), "left_anti"), Seq("h"), "left_anti")
  }

  /** Negative fold for term-stats, partials drawn from the AT-REST tf
    * grain. df and ct subtract; `first_doc` is a MIN — not invertible
    * by subtraction — so exactly the terms whose recorded first_doc
    * was deleted recompute it from the surviving tf rows of THOSE
    * terms (df > 0 after the fold guarantees a survivor exists). Zero
    * text scans: every input is an at-rest artifact.
    */
  private[queries] def retractTermStats(base: DataFrame, tf: DataFrame,
      deletedIds: DataFrame): DataFrame = {
    val ids = deletedIds.select("doc_id")
    val negs = tf.join(ids, Seq("doc_id"), "left_semi")
      .groupBy("term").agg((-count(lit(1))).as("_df_d"), (-sum("c")).as("_ct_d"))
    val folded = base.join(negs, Seq("term"), "left")
      .select(col("term"),
        (col("df") + coalesce(col("_df_d"), lit(0L))).as("df"),
        (col("ct") + coalesce(col("_ct_d"), lit(0L))).as("ct"),
        col("first_doc"))
      .filter(col("df") > 0)
    val affected = folded
      .join(ids.withColumnRenamed("doc_id", "first_doc"), Seq("first_doc"), "left_semi")
      .select("term")
    val survFirst = tf.join(ids, Seq("doc_id"), "left_anti")
      .join(affected, Seq("term"), "left_semi")
      .groupBy("term").agg(min("doc_id").as("_new_first"))
    folded.join(survFirst, Seq("term"), "left")
      .select(col("term"), col("df"), col("ct"),
        coalesce(col("_new_first"), col("first_doc")).as("first_doc"))
  }

  /** Negative fold for the corpus-global gram table. No per-doc gram
    * artifact exists at rest (the table is vocabulary-sized precisely
    * because the per-doc grain was never kept), so the partials
    * re-tokenize the DELETED docs only — one bounded text scan, the
    * batch-merge cost mirrored, never a survivor re-read.
    */
  private[queries] def retractBigramFrequencies(base: DataFrame,
      deletedDocs: DataFrame): DataFrame =
    base.unionByName(bigramFrequenciesOf(deletedDocs).withColumn("c", -col("c")))
      .groupBy("g").agg(coalesce(sum("c"), lit(0L)).as("c"))
      .filter(col("c") > 0)

  /** Refcounted digest index (h → claimant count) — the delete-capable
    * form of [[digestsOf]]'s distinct set: a digest leaves only when
    * its LAST claimant does, which the set cannot know but the count
    * can. Same even-doc_id "already ingested" population; the set the
    * dedup probes consume is [[digestSetView]].
    */
  private[queries] def digestCountsOf(docs: DataFrame): DataFrame =
    digestClaimantsOf(docs).groupBy("h").agg(count(lit(1)).as("n"))

  /** Insert fold for the refcounted index (the [[mergeDigestIndex]]
    * geometry made count-preserving). */
  private[queries] def mergeDigestCounts(base: DataFrame, batchDocs: DataFrame): DataFrame =
    base.unionByName(digestCountsOf(batchDocs))
      .groupBy("h").agg(coalesce(sum("n"), lit(0L)).as("n"))

  /** Delete fold for the refcounted index: deleted claimants subtract;
    * a digest with surviving claimants STAYS — the case the plain set's
    * anti-join would get wrong (RetractionSpec plants exactly that
    * scenario and proves the refcount keeps it).
    */
  private[queries] def retractDigestCounts(base: DataFrame, deletedDocs: DataFrame): DataFrame =
    base.unionByName(digestCountsOf(deletedDocs).withColumn("n", -col("n")))
      .groupBy("h").agg(coalesce(sum("n"), lit(0L)).as("n"))
      .filter(col("n") > 0)

  /** The distinct-set projection of the refcounted index — row-equal to
    * [[digestsOf]] over the same corpus (RetractionSpec pins it). */
  private[queries] def digestSetView(counts: DataFrame): DataFrame =
    counts.select("h")

  /** Partitioned-refresh retraction for the blocking index: untouched
    * blocks pass through verbatim; the deleted docs' blocks re-rank
    * from the at-rest keyed rows minus the deleted ids. Zero text
    * scans — the base artifact already carries (doc_id, p, b).
    */
  private[queries] def retractLinkageBlocks(base: DataFrame, deletedIds: DataFrame): DataFrame = {
    val ids = deletedIds.select("doc_id")
    val touched = base.join(ids, Seq("doc_id"), "left_semi").select("b").distinct()
    val untouched = base.join(touched, Seq("b"), "left_anti")
    val reranked = linkageRank(
      base.join(touched, Seq("b"), "left_semi")
        .join(ids, Seq("doc_id"), "left_anti")
        .select("doc_id", "p", "b"))
    untouched.unionByName(reranked)
      .select(base.columns.map(col).toIndexedSeq: _*)
  }

  /** Retraction for lsh-cluster-labels — the split-capable inverse of
    * [[mergeLshClusterLabels]]: components holding a deleted doc
    * re-run [[labelFixpoint]] over their surviving members' edges,
    * regenerated from the at-rest band index (candidates) and at-rest
    * doc-sets (exact-Jaccard verification); untouched components pass
    * through via one anti-join. Sound because base–base edges are
    * immutable and cross-component edges never existed, so the
    * survivor graph is exactly the base graph minus the deleted
    * vertices: untouched components keep their min (no member left)
    * and touched ones relabel from scratch — members that lose their
    * last edge drop out of the table, like the rebuild's. Zero text
    * scans; work bounded by the touched components' size.
    */
  private[queries] def retractLshClusterLabels(
      baseLabels: DataFrame, baseBands: DataFrame, baseSets: DataFrame,
      deletedIds: DataFrame): DataFrame = {
    val ids = deletedIds.select("doc_id")
    val touched = baseLabels.join(ids, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val members = baseLabels.join(touched, Seq("cluster_id"), "left_semi")
      .join(ids, Seq("doc_id"), "left_anti")
      .select("doc_id")
    val mBands = baseBands.join(members, Seq("doc_id"), "left_semi")
    val cand = mBands.as("x")
      .join(mBands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val survEdges = jaccardOfCandidates(cand, baseSets)
      .filter(col("jaccard") >= 0.6)
      .select("d1", "d2")
    val relabeled = labelFixpoint(survEdges)
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
    baseLabels.join(touched, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(relabeled)
  }

  /** At-rest band index rows of an arbitrary signature frame — exposed
    * for the retraction spec, which feeds [[retractLshClusterLabels]]
    * the same at-rest inputs production holds. */
  private[queries] def minhashBandsOf(docs: DataFrame): DataFrame =
    bandKeysOf(minhashSigsOf(docs))

  /** Manifested documents-with-digest log: the corpus sorted by doc_id
    * (manifest range stats answer id-keyed reads) with the md5 content
    * digest as a DECLARED lookup column (footer bloom/dictionary
    * probes answer content-keyed reads — [[graft.util.ParquetBlooms]]'
    * BINARY path). One layout pays for both access patterns; at 100 TB
    * this is the shape a takedown/retraction feed probes — "which live
    * documents carry these digests" costs O(files that may hold them).
    */
  private[graft] def docsDigestLog(s: SparkSession, dir: String): String = {
    // Mass-derived file count with the core-count floor
    // (ManifestLog.layoutFanout — r22, was the floorless sourceFanout):
    // the text-heavy documents table is where the BYTES target binds
    // (unlike the RLE-packed events table, where rows bind) — either
    // way the file a keyed probe admits stays bounded as the corpus
    // grows, instead of inheriting the growth under a partition-count
    // pin. The floor matters for the OTHER consumer this log gained in
    // r22: full-text scans ([[docs]]) read the clustered log instead
    // of the raw one-row-group upload, and a scan can only parallelize
    // across files — at corpus scale the mass target dominates and the
    // floor is inert, exactly as for the lineitem log. The derived n
    // keys the snapshot name.
    val n = graft.util.ManifestLog.layoutFanout(s, s"$dir/documents.parquet")
    graft.util.Snapshots.manifestedLog(s, dir, s"docs-digest-n$n",
      "doc_id", Seq("digest")) {
      tbl(s, dir, "documents")
        .withColumn("digest", md5(col("text")))
        .repartitionByRange(n, col("doc_id"))
        .sortWithinPartitions("doc_id")
    }
  }

  /** Full-corpus document read off the clustered log (r22): same rows
    * and columns as the raw table (plus the prunable digest column),
    * laid out by the engine — so a text-heavy scan parallelizes across
    * the layout's files where the raw single-row-group upload decodes
    * on one task. Full-scan consumers whose aggregates are
    * order-insensitive read this; the raw read remains for paths that
    * exercise raw-upload semantics (q03 lenient casts) or whose
    * double-sum determinism rides the single-task order.
    */
  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    graft.util.ManifestLog.read(s, docsDigestLog(s, dir))

  /** q156 — content-keyed document lookup, composed from BOTH pruning
    * regimes of one manifested layout: the probe ids resolve to their
    * digests through doc_id RANGE stats (the sort column), then the
    * digest set fetches every document sharing that content through
    * footer probes on the declared STRING column — exact duplicates
    * elsewhere in the corpus included, which is what a takedown feed
    * actually wants. The oracle is the plain self-semi-join.
    */
  private lazy val digestLookupDef: QueryDef = QueryDef(
    "q156_digest_lookup",
    Some("""
      SELECT doc_id, md5(text) AS digest, lang, n_chars
      FROM documents
      WHERE md5(text) IN
        (SELECT md5(text) FROM documents WHERE doc_id IN (3, 7, 11))
      ORDER BY doc_id
    """),
  ) { (s, dir) =>
    import graft.util.ManifestLog
    val root = docsDigestLog(s, dir)
    // Step 1: id → digest (3 rows to the driver — the feed's keys are
    // external by nature; range stats prune the id read).
    val digests = ManifestLog.readKeyed(s, root, "doc_id", Seq(3L, 7L, 11L))
      .select("digest").distinct().collect().map(_.getString(0)).toSeq
    // Step 2: digest → all matching documents (footer probes prune).
    ManifestLog.readKeyed(s, root, "digest", digests)
      .select(col("doc_id"), col("digest"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** q158 — digest-keyed train/val/test split: the leakage-safe
    * version of q86. q86 buckets by doc_id, so two EXACT-DUPLICATE
    * documents (different ids, same text) can land on opposite sides
    * of the split — the classic train/test contamination bug a dedup
    * pass upstream doesn't fully prevent (dedup thresholds drift;
    * re-crawls reintroduce copies). Hashing the content digest instead
    * makes every copy of a text land in the SAME split by
    * construction: split = f(md5(text)), salted so the assignment is
    * independent of every other hash use in the repo. The output
    * carries the proof, not just the claim: `leaked_digests` counts
    * this split's digests that also appear in another split — an
    * aggregate over the 16-byte (digest, split) pairs — and must be 0.
    * Scale shape (r19, one corpus scan, LINEAR plan): everything
    * derives from ONE (digest, split)-grain aggregate in a single
    * unbranched flow — a digest's pair rows ARE its distinct splits,
    * so an h-partitioned window counts them (`ns`) and ranks them
    * (`rn`), the per-split aggregate counts each leaked digest exactly
    * once (in its first split), and the global proof scalar is a sum
    * over the 3-row result. The r18 version re-scanned the corpus and
    * re-shuffled every distinct digest for the proof branch alone
    * (and a branched one-aggregate rewrite still double-scans:
    * column pruning gives the two consumers different aggregate
    * shapes, so the exchange never canonicalizes for reuse). Shuffles
    * past the corpus scan move digest-grain rows only: the (h, split)
    * partial-agg exchange, the h-window exchange, the 3-group split
    * aggregate. No documents branch, no crossJoin.
    */
  private lazy val digestSplitDef: QueryDef = QueryDef(
    "q158_digest_split",
    Some(s"""
      WITH d AS (
        SELECT n_chars, md5(text) AS h,
               CASE WHEN ${duckHash("concat('split-v1:', md5(text))")} % 100 < 80
                    THEN 'train'
                    WHEN ${duckHash("concat('split-v1:', md5(text))")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM documents),
      agg AS (
        SELECT split, count(*) AS n_docs,
               count(DISTINCT h) AS n_digests,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM d GROUP BY split),
      leak AS (
        SELECT count(*) AS leaked_digests FROM (
          SELECT h FROM d GROUP BY h HAVING count(DISTINCT split) > 1))
      SELECT split, n_docs, n_digests, total_chars,
             round(n_docs * 1.0 / sum(n_docs) OVER (), 4) AS frac,
             leaked_digests
      FROM agg, leak
      ORDER BY split
    """),
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    def withSplit(df: DataFrame): DataFrame = {
      val bucket =
        stringHash60(concat(lit("split-v1:"), md5(col("text")))) % 100
      df.select(
        col("n_chars"), md5(col("text")).as("h"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
    }
    // ONE (digest, split)-grain aggregate feeds the whole query — the
    // only corpus-width exchange is its partial-agg shuffle.
    val pairs = withSplit(tbl(s, dir, "documents"))
      .groupBy("h", "split")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
    // The leakage proof, linearized: a digest assigned to >1 split
    // would be a bug in the very property this query exists for. Its
    // pair rows ARE its distinct splits, so the h-window's row count
    // is its split count, and first-split ranking makes each leaked
    // digest count exactly ONCE when the per-split aggregate sums the
    // flags — the global scalar is then a 3-row window, not a second
    // corpus branch.
    val leakFlagged = pairs
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("h").orderBy("split")))
    val whole = Window.partitionBy()
    leakFlagged.groupBy("split")
      .agg(
        sum("n").as("n_docs"),
        count(lit(1)).as("n_digests"), // pair rows per split = distinct h
        sum("chars").as("total_chars"),
        sum(when(col("ns") > 1 && col("rn") === 1, 1L).otherwise(0L)).as("lk"),
      )
      .withColumn("frac",
        round(col("n_docs") * 1.0 / sum("n_docs").over(whole), 4))
      .withColumn("leaked_digests", sum("lk").over(whole))
      .select(col("split"), col("n_docs"), col("n_digests"),
        col("total_chars"), col("frac"), col("leaked_digests"))
      .orderBy("split")
  }
}
