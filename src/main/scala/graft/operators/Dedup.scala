package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NgramOverlap, Similarity, TextAnalysis}

/** Document deduplication as a library: the FineWeb/CCNet-shaped chain
  *
  *   shingle -> MinHash signature index -> banded LSH candidate pairs
  *   -> exact verification on candidates only -> connected-component
  *   clusters -> keep-list
  *
  * Every stage is a DataFrame-in / DataFrame-out operator a user calls
  * directly (`Dedup.keepList(docs, pairs)`); the named gate queries in
  * [[graft.SparkEntry]] are thin bindings over these. Input documents
  * need (`doc_id`, `text`); embeddings need (`vec_id`, `label`,
  * `embedding`).
  *
  * Scale notes (100 TB): the signature table is a MATERIALIZED INDEX —
  * build it once ([[minhashSignatures]]), persist/write it, and feed it
  * to every downstream stage. Candidate generation is bucketed, never
  * all-pairs; exact (quadratic) comparison only ever touches LSH
  * candidates.
  */
object Dedup {

  /** Word k-shingles (default 3), one row per (doc, shingle) —
    * relational (posexplode + lead over a per-doc window), not a
    * per-row lambda, so the hot path stays codegen'd. */
  def wordShingles(docs: DataFrame, k: Int = 3): DataFrame =
    // the codegen WordGrams shingler — a zero-shuffle projection. The
    // original lead-window form paid a doc_id hash exchange + sort on
    // EVERY ingest chain (d2 signatures, d13/d28 decontamination, the
    // e6/e9/e11 compositions): the window needed per-doc ordering that
    // the array form gets for free (tokens are already in document
    // order inside the row). Measured at the 10x heavy tier: d13 cold
    // 5.07 -> see BENCH_NOTES round-8 shingle-swap receipt.
    docs.select(col("doc_id"), explode(
      TextAnalysis.wordShingles(TextAnalysis.words(col("text")), k)).as("sh"))

  /** D11: CROSS-document n-gram dedup stats (exact-substring dedup at
    * fixed gram length, the Lee et al. "Deduplicating Training Data"
    * shape approximated with word k-grams): for every doc, how many of
    * its distinct grams appear in at least `minDocs` documents. High
    * fractions flag boilerplate/templated docs; the (gram -> df) table
    * is the removal index a scrubber consumes. Distinct-per-doc before
    * the count, partial aggregation on the high-cardinality gram key,
    * exact integers + one division. */
  def crossDocGrams(docs: DataFrame, k: Int = 8, minDocs: Long = 2L): DataFrame = {
    val sh = wordShingles(docs, k).distinct()
    val df = sh.groupBy("sh").agg(count(lit(1)).as("gram_df"))
    sh.join(df, Seq("sh"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") >= minDocs, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams")).as("dup_frac"))
  }

  /** D13: benchmark DECONTAMINATION — the eval-leakage stage every
    * training pipeline runs before a model ships: flag training docs
    * that share any word-`k`-gram with a held-out benchmark set, with
    * the overlap count and the matched grams' benchmark doc ids. The
    * benchmark side is tiny (eval suites are thousands of docs, not
    * billions), so its distinct gram set BROADCASTS and the corpus
    * side is one scan + gram explode + broadcast semi-join-shaped
    * aggregation — no corpus shuffle on the gram key at all. Returns
    * one row per CONTAMINATED training doc (clean docs don't pay an
    * output row at 100 TB).
    *
    * Reference decontamination drops or splices matching docs; this
    * emits the audit table (doc, n overlapping grams, distinct
    * benchmark docs hit) that either policy consumes. */
  def contamination(train: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame = {
    val bGrams = wordShingles(benchmark, k)
      .select(col("sh"), col("doc_id").as("bench_doc_id")).distinct()
    wordShingles(train, k).distinct()
      .join(broadcast(bGrams), Seq("sh"))
      .groupBy("doc_id").agg(
        countDistinct(col("sh")).as("n_overlap_grams"),
        countDistinct(col("bench_doc_id")).as("n_bench_docs"))
      .select(col("doc_id"), col("n_overlap_grams"), col("n_bench_docs"))
  }

  /** D28: graded contamination SCORE — [[contamination]]'s binary
    * membership refined to the overlap FRACTION data-quality reports
    * publish (what share of a doc's distinct k-grams appear anywhere
    * in the benchmark suite): every train doc gets a row, overlap_ppm
    * in exact integer parts-per-million, so downstream policy can
    * THRESHOLD (drop > x%, flag > y%) instead of binary-dropping on a
    * single shared gram. Same broadcast-gram-set shape as d13 — one
    * train-side scan + gram explode, a LEFT join against the
    * broadcast benchmark grams, no shuffle on the gram key; the d17
    * bloom prefilter composes in front unchanged when the suite
    * outgrows a broadcast. Docs with fewer than k words yield zero
    * shingles; the final left join from the train doc-id set (one
    * extra doc-id-sized exchange, far smaller than the gram set)
    * emits them as (n_grams=0, n_overlap=0, overlap_ppm=0) so the
    * threshold policy sees EVERY doc, never silently skips one. */
  def contaminationScore(train: DataFrame, benchmark: DataFrame,
                         k: Int = 8): DataFrame = {
    val bGrams = wordShingles(benchmark, k).select("sh").distinct()
    val scored = wordShingles(train, k).distinct()
      .join(broadcast(bGrams.withColumn("__hit", lit(1L))), Seq("sh"), "left_outer")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
    train.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_grams", "n_overlap"))
      .withColumn("overlap_ppm", expr(
        "CASE WHEN n_grams = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_overlap * 1000000 div n_grams END"))
  }

  /** D17: decontamination with a BLOOM-FILTER prefilter — the scale
    * path for when the benchmark gram set outgrows a broadcast join
    * hash map. [[contamination]] broadcasts the gram STRINGS (fine for
    * thousands of eval docs); at hundreds of millions of grams the
    * strings don't broadcast but the BITS still do: `numBits = 2^27`
    * is 16 MB regardless of item count.
    *
    *  1. build the filter over the benchmark grams (one native
    *     [[graft.functions.BloomBuild]] aggregate, OR-merged),
    *  2. collect the single binary to the driver (a BOUNDED scalar —
    *     the aggregate has already reduced the benchmark side to one
    *     row of `numBits/8` bytes) and embed it as a plan-level
    *     constant, exactly like Spark's own injected runtime bloom
    *     filters and our streaming twin
    *     ([[graft.streaming.EventStream.decontaminateStream]]). NOT a
    *     1-row broadcast join: a joined COLUMN value is re-read per
    *     probe row, and `UnsafeRow.getBinary` copies the whole filter
    *     each time — O(rows x filterBytes) memcpy, measured 478 s for
    *     2.75M grams x 512 KB where the literal spelling is ~2 s. A
    *     reference-array literal is materialized once per task,
    *  3. probe every training gram inside whole-stage codegen
    *     ([[graft.functions.BloomMightContain]]) BEFORE the gram
    *     dedup — the only exchanges that see full gram volume are the
    *     doc-local shingle window (doc_id-keyed, map-side when the
    *     corpus is stored partitioned by doc); the gram-key distinct
    *     and everything after it see ~true-match volume
    *     (BloomSpec pins this order in the physical plan),
    *  4. exact-verify the survivors against the benchmark grams (the
    *     join input is now tiny on BOTH sides, so strategy barely
    *     matters — AQE picks).
    *
    * False positives only ever cost a row through step 4; the output
    * is EXACTLY [[contamination]]'s audit table, which is what makes
    * the operator hash-gateable against the exact oracle.
    *
    * `numBits <= 0` (the default) SIZES THE FILTER FROM THE DATA:
    * ~16 bits per distinct benchmark gram (FP ~0.1% at 5 hashes),
    * power-of-two-rounded, clamped to [2^17, 2^27]. A fixed default
    * silently saturates when the benchmark grows — the round-5 bench
    * measured a 2^17 filter at FP -> 1 against 240k grams, which
    * degrades the prefilter to a full cross-probe (correct, 10x the
    * cost). The count costs one extra pass over the benchmark side
    * only, which is the small side by construction. */
  def contaminationBloom(train: DataFrame, benchmark: DataFrame, k: Int = 8,
                         numBits: Int = -1, numHashes: Int = 5): DataFrame = {
    import graft.functions.Bloom
    val bGrams = wordShingles(benchmark, k)
      .select(col("sh"), col("doc_id").as("bench_doc_id")).distinct()
    val bits =
      if (numBits > 0) numBits
      else {
        val n = bGrams.count()
        val target = math.min(math.max(16L * n, 1L << 17), 1L << 27)
        java.lang.Long.highestOneBit(target - 1) << 1 // next power of two
      }
    val bloomBytes: Array[Byte] = bGrams
      .agg(Bloom.build(col("sh"), bits.toInt, numHashes).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val survivors = wordShingles(train, k)
      .filter(Bloom.mightContainCol(lit(bloomBytes), col("sh"), numHashes))
      .distinct()
    survivors.join(bGrams, Seq("sh"))
      .groupBy("doc_id").agg(
        countDistinct(col("sh")).as("n_overlap_grams"),
        countDistinct(col("bench_doc_id")).as("n_bench_docs"))
      .select(col("doc_id"), col("n_overlap_grams"), col("n_bench_docs"))
  }

  /** D12: VARIABLE-LENGTH repeated-substring detection — the Lee et
    * al. exact-substring dedup shape (arXiv:2107.06499) beyond d11's
    * fixed-k grams: for every candidate doc pair, the exact length of
    * the longest common contiguous TOKEN run. Fully relational:
    *
    *  1. candidates = pairs sharing >= 1 anchor word-`anchorK`-gram
    *     (distinct per doc, df-capped buckets like [[lshPairs]] — never
    *     all-pairs). Any common run of length >= anchorK contains an
    *     anchor gram, so no pair at or above a `minRun` >= anchorK
    *     threshold can be missed.
    *  2. positional `anchorK`-gram starts of both docs joined on gram
    *     VALUE per pair — each equal-gram match point (i, j) lies on
    *     alignment diagonal i - j. Matching GRAMS, not single tokens,
    *     is what bounds the match-point volume: a common token like
    *     "the" contributes freq_a × freq_b token-level points but zero
    *     gram-level ones unless a whole k-window matches.
    *  3. an island of m CONSECUTIVE gram starts on one diagonal (i
    *     minus row_number is constant within an island) is exactly a
    *     common token run of m + anchorK - 1: start i matching means
    *     tokens i..i+k-1 all match, so consecutive starts chain into a
    *     contiguous token run, and a maximal run of length L >= k has
    *     exactly L - k + 1 starts (one more would need a token beyond
    *     either maximal end). Runs shorter than anchorK yield no match
    *     points at all — invisible, but below `minRun >= anchorK`
    *     they were filtered anyway, so the output is unchanged.
    *
    * The full-corpus form at any scale is [[suffixDupSpans]] (d19);
    * this is its bucketed pair-verify shape — pairwise work only on
    * anchor-sharing docs, match points bounded per pair by common-gram
    * frequency products (orders of magnitude below token-frequency
    * products on near-dup-saturated corpora: fresh-fork walls on the
    * 10x heavy corpus dropped 112.8/147.3 s -> 18.6/16.1 s, receipts
    * in BENCH_NOTES round 6). */
  def longestCommonRuns(docs: DataFrame, anchorK: Int = 8, minRun: Int = 12,
                        maxBucket: Int = 100): DataFrame = {
    require(minRun >= anchorK,
      s"minRun ($minRun) must be >= anchorK ($anchorK): both the anchor " +
        "candidate completeness proof and the gram-island run recovery " +
        "only cover runs of at least anchorK tokens")
    val anchors = wordShingles(docs, anchorK).distinct()
    val kept = capBuckets(anchors, maxBucket, "sh")
    // NOT pinned, by measurement: the pair set feeds both the
    // candidate-doc projection and the match-point join, but both
    // references live in ONE plan, where ReusedExchange already
    // de-duplicates the anchor chain's identical shuffle subtrees —
    // pinning (tried round 7) left CPU unchanged and added a
    // materialization job. Pinning pays only when a re-reference
    // crosses an ACTION boundary (e.g. d18's driver-side union-find
    // inside the stored-label lineage), which exchange reuse cannot
    // span.
    val pairs = kept.as("a").join(kept.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val grams = docs.join(broadcast(candDocs), Seq("doc_id"))
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), anchorK)))
      .withColumnRenamed("col", "g")
    val m = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("pos").as("i"), col("g")),
        Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("pos").as("j"), col("g")),
        Seq("doc_b", "g"))
      .select(col("doc_a"), col("doc_b"), col("i"),
        (col("i") - col("j")).as("diag"))
    val wRun = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    m.withColumn("__grp", col("i") - row_number().over(wRun))
      .groupBy("doc_a", "doc_b", "diag", "__grp")
      .agg(count(lit(1)).as("starts"))
      .groupBy("doc_a", "doc_b")
      .agg((max(col("starts")) + lit(anchorK - 1)).as("max_run"))
      .filter(col("max_run") >= minRun)
  }

  /** D19: exact substring dedup over the whole corpus — the Lee et al.
    * (arXiv:2107.06499) DEDUPLICATION semantics at full generality, the
    * upgrade [[longestCommonRuns]]'s own scaladoc promises: no anchor
    * buckets, no pair enumeration, so it finds the duplicates d12
    * structurally misses (runs whose every anchor gram is df-capped,
    * and sub-anchor-length runs down to `minRun`), and its output is
    * what the scrubber actually consumes — PER-DOC duplicated spans,
    * not per-pair scores.
    *
    * Lee et al. build a suffix array because they answer
    * arbitrary-length longest-match queries. THIS operator's contract
    * is narrower — "which positions start a duplicated substring of at
    * least `minRun` tokens" — and for a FIXED minRun that criterion is
    * exactly "this position's minRun-token gram occurs >= 2 times
    * corpus-wide" (within-doc repeats count, as in Lee et al.):
    *
    *  1. per-doc codegen projection emits every minRun-token shingle
    *     with its start position ([[TextAnalysis.wordShingles]] — no
    *     shuffle, no join, the same kernel the decontamination ops
    *     use; shingle strings are space-joined space-free tokens, so
    *     gram equality IS window equality, no hash collisions),
    *  2. position i starts a duplicate iff its gram occurs >= 2 times —
    *     ONE exchange, on the gram,
    *  3. consecutive duplicate starts collapse to maximal spans per doc
    *     (gaps-and-islands, one exchange on doc_id): a run of m
    *     consecutive starts is a duplicated substring of m+minRun-1
    *     tokens — so spans LONGER than minRun are still reported at
    *     full length, which is where the arbitrary-length power
    *     actually matters for scrubbing.
    *
    * Two corpus-sized exchanges total. The previous implementation ran
    * Manber-Myers prefix doubling to depth log2(minRun) — 3 exchanges
    * per round plus a localCheckpoint pin per round to stop 3^rounds
    * lineage growth (~16 exchanges and 5 block-manager materializations
    * at minRun=12; 79/37 s warm at the 10x heavy tier with ~10 s GC).
    * Doubling keeps per-round exchange width constant (integer rank
    * pairs vs minRun-token grams), but the byte VOLUME crossover favors
    * the gram form for every practical minRun (at Lee et al.'s
    * minRun=50: ~3 wide exchanges vs ~18 narrow ones — a wash on bytes,
    * and the doubling form still pays its joins, sorts and pins on
    * top). Prefix doubling only wins when minRun is unbounded — i.e.
    * when the contract needs true suffix ranks, which this one never
    * asks for.
    *
    * Returns one row per doc containing at least one duplicated span:
    * (doc_id, n_dup_starts, max_dup_span). Clean docs pay no output
    * row. */
  def suffixDupSpans(docs: DataFrame, minRun: Int = 12): DataFrame = {
    require(minRun >= 2, "minRun must be at least 2 tokens")
    val grams = docs
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), minRun)))
      .withColumnRenamed("col", "gram")
    val dup = grams
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("__n") >= 2)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup.withColumn("__grp", col("pos") - row_number().over(wDoc))
      .groupBy("doc_id", "__grp").agg(count(lit(1)).as("__island"))
      .groupBy("doc_id").agg(
        sum(col("__island")).as("n_dup_starts"),
        (max(col("__island")) + lit(minRun - 1)).as("max_dup_span"))
  }

  /** D20: EXACT SUBSTRING SCRUB — the consuming half of the Lee et al.
    * (arXiv:2107.06499) ExactSubstr recipe that [[suffixDupSpans]]
    * (d19) only REPORTS: rewrite every document with its duplicated
    * spans removed, keeping the corpus-FIRST occurrence of each
    * duplicated gram (single pass — removal can create new adjacencies,
    * which are deliberately not re-scanned, same as the reference
    * recipe).
    *
    * Semantics, all deterministic:
    *  1. a position is REMOVABLE iff its minRun-token gram has an
    *     earlier occurrence corpus-wide (row_number over the gram
    *     partition ordered by (doc_id, pos) — rank >= 2 implies
    *     duplicated, so no separate count pass),
    *  2. removable starts collapse to maximal per-doc islands; an
    *     island of m starts covers m+minRun-1 tokens,
    *  3. covered token positions are dropped (union over islands — a
    *     token covered by ANY removable island goes, even where another
    *     island's canonical occurrence overlaps it: single-pass union,
    *     as in the reference recipe),
    *  4. survivors reassemble in document order; docs scrubbed to
    *     nothing keep their row with empty text.
    *
    * Scale: gram projection and island expansion are per-doc codegen
    * projections; the exchanges are one on the gram (first-occurrence
    * election — same shape as [[chunkDedup]]'s digest election), one
    * on (doc_id, pos) for the coverage join, and the final doc_id
    * partial-agg. No pairwise work, no driver state.
    *
    * Returns one row per doc that has at least one token:
    * (doc_id, n_removed, cleaned_text). */
  def substringScrub(docs: DataFrame, minRun: Int = 12): DataFrame = {
    require(minRun >= 2, "minRun must be at least 2 tokens")
    val grams = docs
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), minRun)))
      .withColumnRenamed("col", "gram")
    val wFirst = Window.partitionBy("gram").orderBy("doc_id", "pos")
    val removable = grams
      .withColumn("__rk", row_number().over(wFirst))
      .filter(col("__rk") >= 2)
      .select("doc_id", "pos")
    scrubRemovableStarts(docs, removable, minRun)
  }

  /** D21: INCREMENTAL substring scrub — the recurring-ingest form of
    * [[substringScrub]], completing the incremental triad next to d15
    * (signature-index probe) and d18 (cluster-index maintenance): the
    * accepted corpus exists only as its PERSISTED GRAM INDEX; an
    * arriving batch is scrubbed against that index plus itself, and
    * the historical corpus is never re-read, re-shingled, or
    * re-scrubbed.
    *
    * A batch position is removable iff its gram is IN THE INDEX (an
    * accepted doc said it first — the accepted corpus always wins the
    * canonical election, which is exactly ingest semantics) OR an
    * earlier batch occurrence exists (d20's row_number election,
    * within the batch). When every index doc_id precedes every batch
    * doc_id, the result equals [[substringScrub]] of the union
    * restricted to batch docs (pinned by SuffixDupSpec).
    *
    * Scale: the index probe (left join on the gram) and the
    * batch-internal election (window over the gram) SHARE one
    * exchange — the window runs on the join output, which is already
    * gram-partitioned. Batch-side cost is O(batch grams); at 100 TB
    * the index is gram-partitioned persisted storage the probe
    * bucket-joins, the same access pattern as d15's signature index.
    *
    * @param indexDocs the accepted corpus (only its grams are used —
    *                  pass the persisted gram index directly in
    *                  production via a pre-shingled table)
    * @param batch     arriving docs to scrub */
  def incrementalScrub(indexDocs: DataFrame, batch: DataFrame,
                       minRun: Int = 12): DataFrame = {
    require(minRun >= 2, "minRun must be at least 2 tokens")
    val idx = indexDocs
      .select(explode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), minRun))
        .as("gram"))
      .distinct()
    val bGrams = batch
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordShingles(TextAnalysis.words(col("text")), minRun)))
      .withColumnRenamed("col", "gram")
    val wFirst = Window.partitionBy("gram").orderBy("doc_id", "pos")
    val removable = bGrams
      .join(idx.withColumn("__hit", lit(true)), Seq("gram"), "left")
      .withColumn("__rk", row_number().over(wFirst))
      .filter(col("__hit").isNotNull || col("__rk") >= 2)
      .select("doc_id", "pos")
    scrubRemovableStarts(batch, removable, minRun)
  }

  /** Shared d20/d21 tail: collapse removable gram starts to maximal
    * per-doc islands, drop the tokens any island covers, reassemble
    * survivors in document order. One row per doc with at least one
    * token: (doc_id, n_removed, cleaned_text).
    *
    * Round 16: the drop/reassemble half is a PROJECTION, not a
    * dataflow. The original formulation exploded every token of every
    * doc (corpus-token-sized), exploded every covered position,
    * shuffled both on (doc_id, pos) for the coverage join, and
    * re-assembled docs through collect_list + array_sort — three
    * exchanges and two corpus-sized explodes to compute something each
    * doc can decide locally. Now the islands (removable-start runs —
    * output-of-window sized, way below token count) aggregate to ONE
    * (start, len) list per doc, join back to the doc row on doc_id,
    * and a single codegen projection filters the words array by
    * "inside any island" and rejoins the survivors — token order is
    * the array order, no sort, no token shuffle. Guide §2.4 (remove
    * shuffles outright): 3 exchanges -> 1, and the only exploded
    * frame left is the removable-start set itself.
    *
    * Equivalence: covered = union of island ranges, so "token i kept
    * iff no island has start <= i <= start+len-1" is the old left-
    * anti coverage test verbatim; n_removed counts covered positions
    * (all islands lie inside [0, n_words)); docs with no removable
    * start keep every token (null island list = empty); docs with at
    * least one token keep their row even when scrubbed to nothing
    * (the filter is on size(words) >= 1, matching the old posexplode
    * row-existence). */
  private def scrubRemovableStarts(docs: DataFrame, removable: DataFrame,
                                   minRun: Int): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = removable
      .withColumn("__grp", col("pos") - row_number().over(wDoc))
      .groupBy("doc_id", "__grp")
      .agg(min(col("pos")).cast("long").as("start"),
        (count(lit(1)) + lit(minRun - 1)).as("len"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("len"))).as("__isl"))
    docs
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= 1)
      .join(islands, Seq("doc_id"), "left")
      // survivors as an array with removed slots nulled: zip each word
      // with its position, null it when any island covers it
      .select(col("doc_id"), size(col("__ws")).cast("long").as("__n"),
        zip_with(col("__ws"),
          sequence(lit(0L), size(col("__ws")).cast("long") - 1L),
          (w, i) => when(
            col("__isl").isNull || not(exists(col("__isl"), isl =>
              i >= isl.getField("start") &&
                i < isl.getField("start") + isl.getField("len"))),
            w)).as("__kept"))
      .select(
        col("doc_id"),
        (col("__n") -
          size(filter(col("__kept"), w => w.isNotNull)).cast("long"))
          .as("n_removed"),
        // array_join without a null replacement SKIPS null slots —
        // survivors rejoin in array (document) order
        array_join(col("__kept"), " ").as("cleaned_text"))
  }

  /** D14: CHUNK-level dedup — the CCNet/FineWeb paragraph-dedup stage
    * (reference pipeline shape: hash every paragraph, keep the first
    * corpus-wide occurrence, reassemble documents from the survivors).
    * The corpus here is single-line, so "paragraphs" are consecutive
    * `chunkWords`-word windows — the unit swaps freely for real
    * newline-split paragraphs.
    *
    * Returns one row per doc: (doc_id, n_chunks, n_kept, cleaned_md5)
    * where cleaned_md5 fingerprints the doc reassembled from only its
    * surviving chunks (kept chunks rejoin in document order).
    *
    * Scale: chunking is a pure projection (no shuffle); first-
    * occurrence election is ONE hash exchange on the chunk digest
    * (row_number over the chunk-hash partition — the same partitioning
    * a 100 TB run would bucket by); reassembly is one partial-agg
    * groupBy on doc_id. No pairwise work anywhere. */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 10): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    // codegen chunker (WordChunks) — the transform(sequence, slice)
    // spelling pays an interpreted lambda + a materialized slice per
    // chunk on what is a full-corpus projection
    val chunks = {
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.column(graft.functions.WordChunks(Bridge.expression(ws), chunkWords))
    }
    val exploded = docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .withColumn("h", md5(col("chunk")))
    val firstWin = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    exploded
      .withColumn("keep", row_number().over(firstWin) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("cleaned_md5"))
  }

  /** D29: BOILERPLATE scrub — the corpus-frequency complement of
    * [[chunkDedup]]: a chunk whose hash occurs in >= `minDocs`
    * DISTINCT documents is boilerplate (cookie banners, nav bars,
    * license footers — the CCNet/RefinedWeb line-frequency rule) and
    * is removed from EVERY document, including the first occurrence
    * (chunkDedup's election keeps exactly one; boilerplate by
    * definition deserves zero). Within-doc repeats of a chunk count
    * once toward the document frequency — boilerplate is a CROSS-doc
    * property.
    *
    * Returns one row per doc: (doc_id, n_chunks, n_boiler,
    * cleaned_md5) where cleaned_md5 fingerprints the doc reassembled
    * from its non-boilerplate chunks in document order (empty-string
    * md5 when everything was boilerplate).
    *
    * Scale: chunking is the same codegen projection as chunkDedup;
    * document frequency is ONE chunk-hash exchange (count distinct
    * per hash — at real corpus widths the KMV sketch swaps in, g21's
    * pattern); the boiler set (hashes with df >= minDocs) is tiny by
    * construction — Zipf's tail means almost all chunks are unique —
    * so AQE broadcasts the flag join and the corpus-side chunk table
    * shuffles once more only for per-doc reassembly. Alignment note:
    * word-window chunking detects boilerplate only when it lands on
    * chunk boundaries (the gate's injected header is aligned by
    * construction); real pipelines chunk on line/paragraph breaks,
    * where alignment is inherent — the unit swaps freely, the
    * dataflow is identical. */
  def boilerplateScrub(docs: DataFrame, chunkWords: Int = 10,
                       minDocs: Long = 3L): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val chunks = {
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.column(graft.functions.WordChunks(Bridge.expression(ws), chunkWords))
    }
    val exploded = docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .withColumn("h", md5(col("chunk")))
    val boiler = exploded.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("__boiler"))
    exploded.join(boiler, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("__boiler").isNull,
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("cleaned_md5"))
  }

  /** D31: EVAL-side contamination — [[contaminationScore]] reversed:
    * for each BENCHMARK doc, what fraction of its distinct k-grams
    * appears anywhere in the training corpus? This is the view an
    * eval owner needs (d13/d28 answer "which TRAIN docs to scrub";
    * this answers "which EVAL items are compromised and must be
    * excluded from reporting"). Exact integer ppm, every benchmark
    * doc gets a row (d28's totality rule).
    *
    * Scale: the BENCH gram set broadcasts (eval-suite-sized) into one
    * linear scan of the train corpus — the train side never shuffles;
    * only the matched (bench_doc, gram) pairs (bounded by the bench
    * gram count) pay a distinct + per-bench-doc aggregation. */
  def evalContamination(benchmark: DataFrame, train: DataFrame,
                        k: Int = 8): DataFrame = {
    val bGrams = wordShingles(benchmark, k).distinct()
    val matched = wordShingles(train, k).select("sh")
      .join(broadcast(bGrams), Seq("sh"))
      .select("doc_id", "sh").distinct()
    val counts = bGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(matched.groupBy("doc_id").agg(count(lit(1)).as("n_overlap")),
        Seq("doc_id"), "left")
    benchmark.select(col("doc_id")).distinct()
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("coalesce(n_overlap, 0L) * 1000000 DIV n_grams"))
          .as("overlap_ppm"))
  }

  /** D1: exact dedup by content hash — (text_hash, n_copies,
    * keep_doc_id) per distinct content. Map-side partial aggregation;
    * the canonical survivor is the min doc_id. */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))

  /** D26: sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95)
    * — the classic entity-resolution alternative to hash banding:
    * order the corpus by a blocking key and compare each record only
    * against its `window - 1` ordered successors. The global ordinal
    * is [[GlobalRank]]'s range-partitioned rank (never
    * row_number-over-everything); the neighbor pairing is an EQUI-join
    * on rank after a constant (window-1)x explode of the build side —
    * no window self-join, no inequality join. Emits candidate pairs
    * (doc_a < doc_b by id); exact verification composes downstream
    * (e.g. [[ngramJaccard]]), same division of labor as d3 -> d5.
    *
    * Strengths vs LSH banding: catches near-dups whose similarity is
    * PREFIX-shaped (shared openings with divergent tails — low global
    * Jaccard, adjacent sort keys); cost is O(n·w) candidates always,
    * with no degenerate-bucket blowup. Blind spot: near-dups whose
    * blocking keys diverge (edit at position 0) — production systems
    * run multiple passes with different keys and union candidates. */
  def sortedNeighborPairs(docs: DataFrame, blockKey: org.apache.spark.sql.Column,
                          window: Int): DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    val keyed = docs.select(col("doc_id"), blockKey.as("__bk"))
    val ranked = GlobalRank.withGlobalRank(keyed, "__rn",
      Seq(col("__bk"), col("doc_id")))
    val probe = ranked.select(col("doc_id").as("__idx"), col("__rn"))
    val build = ranked.select(col("doc_id").as("__idy"), col("__rn").as("__rny"))
      .withColumn("__off", explode(array((1 until window).map(lit): _*)))
      .select(col("__idy"), (col("__rny") - col("__off")).as("__rn"))
    probe.join(build, Seq("__rn"))
      .select(least(col("__idx"), col("__idy")).as("doc_a"),
        greatest(col("__idx"), col("__idy")).as("doc_b"))
  }

  /** D2: 8 seeded minwise hashes over word 3-shingles — one row per
    * doc: (doc_id, sig0..sig7). Build once per corpus; this is the
    * materialized index every other stage reads. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = wordShingles(docs)
      .withColumn("h0", TextAnalysis.seededHash(0, col("sh")))
      .withColumn("h1", TextAnalysis.seededHash(1, col("sh")))
    val aggs = (0 until 8).map { i =>
      val h = if (i < 4) "h0" else "h1"
      min(substring(col(h), 8 * (i % 4) + 1, 8)).as(s"sig$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The degenerate-bucket guard: drops every row of a bucket (rows
    * sharing `keys`) that holds more than `maxBucket` rows, so a
    * boilerplate bucket cannot go quadratic in the self-join after it.
    * The count is a window over `keys` — the same hash partitioning
    * that join needs, so the guard adds no exchange. */
  private[operators] def capBuckets(df: DataFrame, maxBucket: Int,
                                    keys: String*): DataFrame =
    df.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(keys.head, keys.tail: _*)))
      .filter(col("__n") <= maxBucket).drop("__n")

  /** One row per (doc_id, bkey) of the signature table: 4 bands of 2
    * signature slots, each keyed by the md5 of its band index and
    * values. */
  private def bandKeys(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      md5(concat(lit(s"b$b|"), col(s"sig${2 * b}"), col(s"sig${2 * b + 1}"))))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bkey"))
  }

  /** D3: LSH candidate pairs (doc_a < doc_b) from the signature table
    * via 4-band x 2-row banding, with the degenerate-bucket guard: a
    * too-common band key (boilerplate / near-empty content hashing
    * alike) would emit |bucket|² pairs, so buckets over `maxBucket`
    * docs are dropped before the self-join ([[capBuckets]]). */
  def lshPairs(sig: DataFrame, maxBucket: Int = 100): DataFrame = {
    val kept = capBuckets(bandKeys(sig), maxBucket, "bkey")
    kept.as("a").join(kept.as("b"), Seq("bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** D15: INCREMENTAL dedup — screen a NEW ingest batch against the
    * persisted signature INDEX of the already-accepted corpus (the
    * production shape: the index is built once by
    * [[minhashSignatures]] and stored; each arriving batch signatures
    * only ITSELF and probes the index's LSH buckets — the historical
    * corpus is never re-shingled). Returns one row per new doc that
    * collides with the index (clean docs pay nothing): (new_doc,
    * n_index_hits, first_index_doc).
    *
    * The degenerate-bucket guard applies to the INDEX side (boilerplate
    * band keys would fan every new doc out |bucket|-wide); at 100 TB
    * the band join is bucket-partitioned so a batch touches only the
    * buckets its own band keys hash to. */
  def incrementalDedup(indexSig: DataFrame, newDocs: DataFrame,
                       maxBucket: Int = 100): DataFrame = {
    val idxBands = capBuckets(bandKeys(indexSig), maxBucket, "bkey")
    bandKeys(minhashSignatures(newDocs))
      .withColumnRenamed("doc_id", "new_doc")
      .join(idxBands, Seq("bkey"))
      .filter(col("new_doc") =!= col("doc_id"))
      .select(col("new_doc"), col("doc_id").as("index_doc"))
      .distinct()
      .groupBy("new_doc")
      .agg(count(lit(1)).as("n_index_hits"),
        min(col("index_doc")).as("first_index_doc"))
  }

  /** D18 (edge stage): ALL new LSH candidate edges an ingest batch
    * contributes — batch-internal pairs plus batch-to-index
    * collisions — for [[graft.operators.ConnectedComponents
    * .incremental]] to union into the persisted cluster index. Each
    * side carries its own degenerate-bucket guard over its OWN band
    * population (the index's boilerplate buckets are capped against
    * fan-out exactly as in [[lshPairs]]; a boilerplate-heavy BATCH is
    * capped symmetrically). Like [[incrementalDedup]], the historical
    * corpus is never re-shingled: the index side arrives as its
    * persisted signature table. */
  def incrementalEdges(indexSig: DataFrame, newSig: DataFrame,
                       maxBucket: Int = 100): DataFrame = {
    val idx = capBuckets(bandKeys(indexSig), maxBucket, "bkey")
    val nw = capBuckets(bandKeys(newSig), maxBucket, "bkey")
    val cross = nw.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(idx.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .select("doc_a", "doc_b")
    val internal = nw.as("a").join(nw.as("b"), Seq("bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    cross.union(internal).distinct()
  }

  /** D4: 16-bit SimHash fingerprints from token hashes — linear
    * bit-sum aggregation, no pairwise work. */
  def simhash16(docs: DataFrame): DataFrame = simhash(docs, 16)

  /** 60-bit SimHash fingerprints — [[simhash16]] widened to 15 md5 hex
    * digits (60 +-1 bit votes per token). 16 bits is the right size
    * for a FINGERPRINT column (d4's compact per-doc signature) but far
    * too coarse for a Hamming JOIN: with corpora beyond a few hundred
    * docs the 2^16 hash space saturates and random pairs land within
    * small Hamming distances (measured: 5k docs -> 1.7M "near" pairs
    * at distance <= 3, ~13% of ALL pairs — collision noise, not
    * near-dup structure). At 60 bits a distance-3 ball covers ~3*10^4
    * of 10^18 values, so only genuinely similar token multisets
    * collide. 60 = 4 x 15 keeps the positive-long range (no sign-bit
    * special case) and bands evenly. */
  def simhash60(docs: DataFrame): DataFrame = simhash(docs, 60)

  /** `bits`-bit SimHash (bits <= 60): one +-1 vote per token for each
    * of the first `bits` bits of its md5, a bit set where the votes sum
    * to >= 0. Output column `simhash<bits>`. */
  private def simhash(docs: DataFrame, bits: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("w"))
      .withColumn("h", md5(col("w")))
    val bitSums = (0 until bits).map { j =>
      val ci = j / 4 + 1; val bi = j % 4
      val v = (expr(s"instr('0123456789abcdef', substr(h, $ci, 1))") - 1).cast("int")
      val bit = (floor(v / lit(1 << bi)).cast("long") % 2).cast("int")
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    sums.select(col("doc_id"),
      (0 until bits).map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"simhash$bits"))
  }

  /** D25: SimHash near-dup JOIN — all doc pairs within a Hamming
    * distance budget of each other, found by pigeonhole banding, never
    * by the all-pairs popcount scan. The 60-bit fingerprint splits
    * into 4 disjoint 15-bit bands; two fingerprints within Hamming
    * distance 3 differ in at most 3 bit positions, which can touch at
    * most 3 of the 4 bands — so at least one band is IDENTICAL and an
    * equi-join on (band index, band value) has perfect recall for
    * maxHamming <= 3. The exact `bit_count(xor)` verify then runs only
    * on banded candidates. Candidates surfaced by several agreeing
    * bands are deduplicated BEFORE the verify (distinct on the pair
    * key) so the popcount runs once per pair.
    *
    * At 100 TB this is the d3 LSH shape with a bitwise verifier: one
    * explode (4x), one shuffle on the band key, no quadratic stage —
    * and the 60-bit space keeps banded buckets sparse (see
    * [[simhash60]]) so candidate volume tracks true near-dup density,
    * not corpus size squared. */
  def simhashHammingJoin(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingNeighborJoin(simhash60(docs), "doc_id", "simhash60",
      60, 4, maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** GENERAL Hamming-distance self-join over any integer fingerprint
    * column (text simhash — [[simhashHammingJoin]] — or an image
    * perceptual hash, m11): pigeonhole banding — split `bits` into
    * `bands` equal slices; two fingerprints within Hamming distance
    * `maxHamming <= bands - 1` must agree on >= 1 whole band, so the
    * band-bucket equi-join has PERFECT recall and exact popcount
    * verifies only candidates. Emits (id_a < id_b, hamming).
    *
    * Precision scales with band width: each band must be wide enough
    * that agreement is rare (d25's lesson: 16-bit text simhash
    * saturated — 1.7M junk candidates; 60-bit gave 496 true pairs).
    * A 16-bit/4-band phash is fine at gate scale but saturates on a
    * real image corpus — production uses the 64-cell/64-bit phash
    * with 4x16-bit bands, the same shape at the same cost. */
  def hammingNeighborJoin(items: DataFrame, idCol: String, fpCol: String,
                          bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bands >= 2 && bits % bands == 0,
      s"bits=$bits must split evenly into bands=$bands")
    require(maxHamming <= bands - 1,
      s"$bands bands guarantee recall only for maxHamming <= ${bands - 1}")
    val w = bits / bands
    val mask = (1L << w) - 1
    val banded = items.select(col(idCol).as("__id"), col(fpCol).as("__fp"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col(fpCol), b * w).bitwiseAND(lit(mask))): _*)))
      .select(col("__id"), col("__fp"), col("pos").as("band"),
        col("col").as("bv"))
    val a = banded.select(col("band"), col("bv"), col("__id").as("id_a"),
      col("__fp").as("__ha"))
    val b = banded.select(col("band"), col("bv"), col("__id").as("id_b"),
      col("__fp").as("__hb"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__ha"), col("__hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** D5: exact char-n-gram Jaccard VERIFICATION over candidate pairs —
    * the scale-correct composition: the set comparison runs only on
    * pairs surfaced by banding, never all-pairs. Each pair is joined to
    * both texts (`pairs ⋈ docs on doc_a ⋈ docs on doc_b`) and one
    * [[NgramOverlap]] call per pair walks each text once, building its
    * distinct gram set in one linear pass; no gram array is
    * materialized or shuffled. `jaccard = inter / (|A| + |B| - inter)`
    * as a double, `union` being that denominator: two gramless texts
    * divide 0 by 0 (null with ANSI off, DIVIDE_BY_ZERO with it on).
    *
    * The kernel's struct goes through `inline(array(..))`, a Generate:
    * a caller's `jaccard` filter cannot be pushed below it, so the
    * kernel runs once per pair. Behind a plain Project the optimizer
    * would inline the kernel into the pushed-down join condition once
    * per struct field, and again into the projection. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 5): DataFrame = {
    def text(side: String) =
      docs.select(col("doc_id").as(s"doc_$side"), col("text").as(s"__t$side"))
    pairs
      .join(text("a"), Seq("doc_a"))
      .join(text("b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        inline(array(NgramOverlap.overlap(col("__ta"), col("__tb"), n))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("union")).as("jaccard"))
  }

  /** D6: embedding near-duplicate pairs — cosine >= `threshold` within
    * label blocks. Unit vectors once per row (codegen UnitVector) ->
    * one dot per pair; the self-join is label-blocked, never a full
    * cartesian. Output cos_sim is rounded to 4 places (presentation —
    * the filter runs on the unrounded value). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double): DataFrame = {
    val em = embeddings.select(col("vec_id"), col("label"),
      Similarity.unit(col("embedding")).as("ue"))
    em.as("a").join(em.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.dot(col("a.ue"), col("b.ue")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** D16: SemDeDup-shaped SEMANTIC dedup (the public SemDeDup recipe —
    * Abbas et al., 2023): partition the embedding space with a learned k-means
    * codebook ([[Ann.kmeansCentroids]]), compare pairs ONLY within a
    * cluster, and flag every vector with a lower-id cluster-mate at
    * cosine >= `threshold` (keep-lowest-id, the d1/d8 convention —
    * deterministic, no iterative re-election). Returns one row per
    * flagged vector: (drop_id, cluster, n_conflicts, max_cos_r).
    *
    * Scale: this is the no-label, no-LSH third leg next to [[d6
    * embeddingNearDup]] (label blocks) and [[d10 embeddingNearDupLsh]]
    * (hyperplane buckets) — cluster blocking bounds pairwise work by
    * the largest k-means cell, and k grows with the corpus (SemDeDup
    * runs ~100k clusters at web scale), so the quadratic term stays
    * per-cell, never corpus-wide. The codebook is trained offline and
    * broadcast (kmeansCentroids scaladoc). */
  def semanticDedup(embeddings: DataFrame, centroids: DataFrame,
                    threshold: Double): DataFrame = {
    val member = Ann.clusterAssignment(embeddings, centroids)
    val m = embeddings
      .select(col("vec_id"), Similarity.unit(col("embedding")).as("ue"))
      .join(member, Seq("vec_id"))
    val a = m.select(col("cluster"), col("vec_id").as("drop_id"), col("ue").as("ua"))
    val b = m.select(col("cluster"), col("vec_id").as("keep_id"), col("ue").as("ub"))
    a.join(b, Seq("cluster"))
      .filter(col("drop_id") > col("keep_id"))
      .select(col("cluster"), col("drop_id"),
        round(Similarity.dot(col("ua"), col("ub")), 6).as("cos_r"))
      .filter(col("cos_r") >= threshold)
      .groupBy(col("drop_id"), col("cluster"))
      .agg(count(lit(1)).as("n_conflicts"), max(col("cos_r")).as("max_cos_r"))
  }

  /** D10: LABEL-FREE embedding near-dup — the corpus-scale path when
    * no blocking key exists: sign-bit LSH buckets over a hyperplane
    * codebook ([[Ann.randomHyperplanes]]), exact cosine only WITHIN a
    * bucket. Same degenerate-bucket guard as [[lshPairs]] (an
    * embedding-collapsed corpus would otherwise emit |bucket|²).
    * Pairwise work is candidates-only: 2^planes buckets cut the
    * all-pairs square by the bucket-occupancy factor. */
  def embeddingNearDupLsh(embeddings: DataFrame, planes: Seq[Array[Double]],
                          threshold: Double, maxBucket: Int = 1000): DataFrame = {
    val em = embeddings.select(col("vec_id"),
      Similarity.unit(col("embedding")).as("ue"))
    val sig = planes.zipWithIndex.map { case (p, j) =>
      when(Similarity.dot(col("ue"), array(p.toIndexedSeq.map(lit): _*)) >= 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val b = em.select(col("vec_id"), col("ue"), sig.as("bucket"))
    val kept = capBuckets(b, maxBucket, "bucket")
    kept.as("a").join(kept.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.dot(col("a.ue"), col("b.ue")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** D9: MinHash calibration — per candidate pair, the signature-
    * agreement ESTIMATE (n_agree/8) next to the exact word-3-shingle
    * Jaccard over the SAME shingle space. Exact sets are built only
    * for candidate docs, and the intersection rides a (doc, shingle)
    * join key — no per-pair set materialization. */
  def minhashEstimate(docs: DataFrame, sig: DataFrame, pairs: DataFrame): DataFrame = {
    val agree = (0 until 8).map(i =>
      when(col(s"a.sig$i") === col(s"b.sig$i"), 1L).otherwise(0L)).reduce(_ + _)
    val est = pairs
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"))
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sh = wordShingles(docs.join(broadcast(candDocs), Seq("doc_id"))).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    est
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree") / 8.0).as("est_jaccard"), col("inter"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("exact_jaccard"))
  }

  /** D7: duplicate clusters from the candidate graph — adaptive
    * connected components (driver union-find for near-dup-rate-sized
    * pair sets, distributed min-label propagation with pointer jumping
    * beyond; see [[ConnectedComponents]]). */
  def clusters(s: SparkSession, pairs: DataFrame): DataFrame =
    ConnectedComponents.components(s, pairs, "doc_a", "doc_b")

  /** D8: the dedup pipeline's terminal operator — the KEEP-LIST. Every
    * doc survives except non-canonical members of a duplicate cluster
    * (canonical = min doc_id). One broadcast anti-join against the
    * (tiny) drop set. */
  def keepList(s: SparkSession, docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = clusters(s, pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
  }

  /** Dedup-aware token SUPPLY per source (D1's exact dedup composed
    * with whitespace token counting): raw vs post-dedup docs and
    * tokens, plus the duplicated-token ppm — the FRESH-data supply
    * table an epoch allocator budgets against (a source that looks
    * token-rich but is half copies supplies half the fresh epochs).
    * Keep = min doc_id per identical-text group ACROSS sources, so a
    * copy appearing in two sources is fresh in neither. One digest
    * exchange + one per-source aggregate; the corpus is scanned
    * once. */
  def dedupTokenSupply(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("ntok"),
      md5(col("text")).as("__h"))
    val keep = d.groupBy("__h").agg(min(col("doc_id")).as("__keep"))
    d.join(keep, Seq("__h"))
      .withColumn("__kept", (col("doc_id") === col("__keep")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("raw_docs"),
        sum(col("ntok")).as("raw_tokens"),
        sum(col("__kept")).as("kept_docs"),
        sum(col("ntok") * col("__kept")).as("kept_tokens"))
      .withColumn("dup_token_ppm",
        expr("(raw_tokens - kept_tokens) * 1000000 div raw_tokens"))
  }

  /** All (doc_a < doc_b) id pairs within each equal-key group,
    * expanded IN-ROW per group — quadratic only in group size
    * (duplicate families are small by construction of any real
    * corpus; a family so large its pair list matters is a boilerplate
    * artifact [[crossDocGrams]] should have caught upstream), never
    * in corpus size. The generic kernel behind every equality-defined
    * gold pair set: text digest ([[exactPairs]]), generator
    * parameters (the image m14 gate), an entity key. One key
    * exchange. */
  def keyPairs(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.select(col(keyCol).as("__k"), col(idCol).as("__id"))
      .groupBy("__k")
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1), b ->
               struct(a AS doc_a, b AS doc_b))))""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))

  /** Gold-standard duplicate pairs for dedup EVALUATION: every
    * (doc_a < doc_b) pair with byte-identical text — [[keyPairs]] on
    * the text digest. */
  def exactPairs(docs: DataFrame): DataFrame =
    keyPairs(docs.select(md5(col("text")).as("h"), col("doc_id")),
      "h", "doc_id")

  /** Pairwise precision/recall/F1 of a predicted duplicate-pair table
    * against a gold pair table — the standard dedup / entity-
    * resolution quality report (pairwise metrics per Menestrina,
    * Whang & Garcia-Molina, PVLDB 2010): did the blocking+verify
    * chain find the true duplicates (recall), and how much did it
    * over-merge (precision)? Exact int64 ppm throughout (one
    * truncating division per ratio, F1 as the ppm harmonic mean) so
    * both engines agree bitwise.
    *
    * Scale: one full-outer join keyed on the pair id — both inputs
    * are near-dup-rate-sized pair tables (metadata-scale next to the
    * corpus), and the result is ONE row, so the exchange is the
    * smallest this report can pay. */
  def pairEval(predicted: DataFrame, gold: DataFrame): DataFrame = {
    val p = predicted.select(col("doc_a"), col("doc_b"))
      .withColumn("__p", lit(1L))
    val g = gold.select(col("doc_a"), col("doc_b"))
      .withColumn("__g", lit(1L))
    p.join(g, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("__p").isNotNull && col("__g").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__p").isNotNull && col("__g").isNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__p").isNull && col("__g").isNotNull, 1L)
          .otherwise(0L)).as("fn"))
      .withColumn("precision_ppm", when(col("tp") + col("fp") === 0L, 0L)
        .otherwise(expr("tp * 1000000 div (tp + fp)")))
      .withColumn("recall_ppm", when(col("tp") + col("fn") === 0L, 0L)
        .otherwise(expr("tp * 1000000 div (tp + fn)")))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") === 0L, 0L)
          .otherwise(expr(
            "2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)")))
  }
}
