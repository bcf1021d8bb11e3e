package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.CosineSim
import graft.functions.SketchFunctions.{minhash_sig, simhash64}
import graft.functions.TextHashFunctions.word_shingle_hashes
import graft.functions.VectorFunctions.cosine_sim
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, over the harness
  * `documents` and `embeddings` tables. Five strategies, in increasing
  * sophistication — the standard corpus-dedup ladder:
  *
  *   d1 exact        — md5 hash-groupBy, keep lowest doc_id per group
  *   d2 n-gram       — word-3-shingle Jaccard within source blocks
  *   d3 MinHash LSH  — signature + banding for sub-quadratic candidates,
  *                     exact-Jaccard verification of candidates
  *   d4 SimHash      — 64-bit fingerprint, chunk-blocked Hamming pairs
  *   d5 embedding    — cosine near-dup, blocked by label × sign-LSH bucket
  *
  * Scale design: nothing here is quadratic in the corpus, AND no single
  * task's work is quadratic in a skew cluster:
  *
  *   - d2 blocks on `source` and drops stop-shingles above
  *     [[MaxShingleDocFreq]] before any pair is expanded.
  *   - d3/d4 first COLLAPSE exact-duplicate texts to one representative
  *     (the m-identical-boilerplate cluster every real crawl contains
  *     would otherwise land its full m²/2 expansion in every band /
  *     every chunk bucket); representatives then go through banding with
  *     a hard per-bucket cap ([[MaxBandBucket]] / [[MaxChunkBucket]]),
  *     and verified representative pairs are re-expanded across their
  *     member groups at the end — which reproduces the brute-force
  *     answer EXACTLY (members share their representative's text, hence
  *     its shingle set / fingerprint), so the DuckDB oracle needs no
  *     mirroring for the collapse.
  *   - d5 blocks on (label, 4-bit sign-LSH bucket) with a hard block cap
  *     ([[D5MaxBlock]]) — both mirrored in the oracle — so within-block
  *     work is bounded regardless of corpus size.
  *
  * Each block join shuffles on the block key, so a 1000-executor run
  * co-locates candidates and never materializes the full pair matrix.
  * Hash internals use `xxhash64` (codegen'd, seed-stable across Spark
  * versions) reduced mod a 31-bit prime so the a*h+b permutations can't
  * overflow (Spark 4 runs ANSI mode — overflow throws).
  */
object Dedup {

  private val NumHashes = graft.functions.MinHashSig.NumHashes
  private val NumBands = 16 // 16 bands x 4 rows

  /** d2's document-frequency cap: a shingle shared by more than this many
    * documents within one source block produces NO candidate pairs. This
    * is the standard near-dup mitigation (stop-shingle removal): a
    * degenerate shingle shared by m docs would otherwise expand to m²/2
    * pairs inside a single task — the one quadratic a 100 TB run cannot
    * absorb. High-frequency shingles are boilerplate, not evidence of
    * duplication, so dropping them barely moves Jaccard for true
    * near-dups (which share many RARE shingles). The DuckDB oracle
    * applies the identical cap, so the differential check stays exact. */
  private[graft] val MaxShingleDocFreq = 50

  /** d3's band-bucket cap: an LSH band bucket holding more than this many
    * DISTINCT texts produces no candidate pairs from that band. Unlike
    * d2's cap this one is NOT mirrored in the (brute-force) oracle — it
    * doesn't need to be: after the exact-duplicate collapse, an oversized
    * bucket requires >256 pairwise-DIFFERENT texts sharing all four
    * minhashes of one band, and a pair at Jaccard s is only lost if EVERY
    * band it collides in (expected 16·s⁴ ≥ 6.5 at the 0.5 threshold's
    * planted s≥0.8) is oversized. DedupSpec ("band/chunk bucket occupancy
    * on the harness corpus") additionally pins that no bucket on the
    * harness corpus comes anywhere near the cap, so the cap is a provable
    * no-op at test scale and pure skew insurance at 100 TB; the planted
    * degenerate-cluster test lowers the cap through the [[d3MinhashLsh]]
    * overload to prove both cap engagement and collapse immunity. */
  private[graft] val MaxBandBucket = 256

  /** d4's chunk-bucket cap — same role as [[MaxBandBucket]] (lowered in
    * the same test through the [[d4SimhashExactDup]] overload). A
    * candidate is only lost if all FOUR of its 16-bit chunk buckets
    * exceed the cap (each >256 distinct texts sharing that chunk
    * value); Hamming-0 pairs of identical texts are immune entirely —
    * they are generated by the group re-expansion, not by bucketing. */
  private[graft] val MaxChunkBucket = 256

  /** d5's hard block cap: a (label, sign-bucket) block larger than this
    * produces no pairs. Mirrored EXACTLY in the DuckDB oracle (a window
    * count over the same deterministic bucket id), so correctness stays
    * differential. An oversized block is a boilerplate-embedding cluster
    * — the same judgement call as d2's stop-shingles. */
  private[graft] val D5MaxBlock = 1000

  /** d5's second-level blocking width: 4 sign bits → 16 sub-buckets per
    * label. At a fixed label cardinality the label alone leaves block
    * size O(N/L); the sign bits cut it 16× more, and at a real 100 TB
    * run this constant is the knob you raise to log2(N / target_block).
    * Recall note: a pair at cosine c lands in the same bucket with
    * probability (1 − θ/π)⁴ for θ = arccos c — ≈0.83 at c = 0.99,
    * ≈0.65 at c = 0.95. The top-of-the-list near-dups this query ranks
    * are the c → 1 pairs where collision is near-certain. */
  private val D5Bits = 4

  /** Deterministic ±1 hyperplanes for d5's sign-LSH blocking (fixed seed;
    * the oracle SQL embeds these exact values as literals). */
  private[graft] val d5Planes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(D5Bits)(Array.fill(64)(if (rnd.nextBoolean()) 1f else -1f))
  }

  /** All ordered pairs (i < j) of a group array, generated directly —
    * half the rows of the explode-twice-then-filter alternative. Sorting
    * first makes position order imply element order, so `x < y` holds by
    * construction (elements are unique doc ids, or structs whose first
    * field is one, in every call site). */
  private[graft] def pairCombos(ds: Column): Column = {
    val sorted = sort_array(ds)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)),
        y => struct(x.as("x"), y.as("y")))))
  }

  /** Distinct word-3-shingles of a text column as an array of STRINGS.
    * Guarded so texts under 3 words yield an empty array (Spark's
    * `sequence(1, k)` would otherwise count DOWN for k < 1).
    *
    * Kept as the reference semantics for [[word_shingle_hashes]]: the
    * queries themselves shingle via that one-pass codegen kernel (this
    * higher-order-function composition is CodegenFallback — interpreted,
    * ~12 µs/shingle — and its output strings are ~4x wider on the wire).
    * DedupSpec pins `word_shingle_hashes(text, 3) ==
    * transform(shingles(text), xxhash64)` element-for-element. */
  private[graft] def shingles(text: Column): Column = {
    val ws = split(text, " ")
    val k = size(ws) - 2
    when(k >= 1,
      array_distinct(transform(sequence(lit(1), k), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** d1 — exact dedup: hash every document, group by hash, keep the lowest
    * doc_id as the canonical copy. One shuffle on the fingerprint; at
    * scale this is the cheapest possible dedup (hash partition + window). */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .select(
        col("doc_id"),
        col("group_size"),
        (col("doc_id") === col("keeper")).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** d2 — n-gram Jaccard near-dup, blocked by `source`: explode distinct
    * shingles, self-join within (source, shingle), count intersections,
    * Jaccard = inter / (|A| + |B| - inter). Top-20 pairs. The block join
    * keeps the candidate set linear-ish; the global (unblocked) variant is
    * d3's job via LSH. */
  def d2NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // shingle hashes, not shingle strings: same distinct-count and same
    // intersection counts (xxhash64 collisions aside), 8-byte shuffle keys
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), word_shingle_hashes(col("text"), 3).as("shs"))
    val ex = docs.select(
      col("source"), col("doc_id"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    // One shuffle on (source, shingle), then pairs are expanded INSIDE
    // each shingle group — a self-join on the exploded table would
    // shuffle it twice and re-scan the parquet. Groups of size 1 (the
    // long tail) produce no pairs; groups above [[MaxShingleDocFreq]]
    // are stop-shingles and are dropped BEFORE any pair is expanded, so
    // per-task work is bounded by F²/2 regardless of corpus size.
    val grouped = ex.groupBy(col("source"), col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")).between(2, MaxShingleDocFreq))
    val jac = col("inter").cast("double") /
      (col("a_n") + col("b_n") - col("inter")).cast("double")
    grouped
      .select(explode(pairCombos(col("ds"))).as("p"))
      .groupBy(
        col("p.x.doc_id").as("doc_a"), col("p.y.doc_id").as("doc_b"),
        col("p.x.n_sh").as("a_n"), col("p.y.n_sh").as("b_n"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(jac, 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Expand verified REPRESENTATIVE pairs back to document pairs: every
    * member of rep_a's exact-duplicate group pairs with every member of
    * rep_b's. Groups are disjoint, so the expanded (doc_a, doc_b) pairs
    * are unique; `least/greatest` restores doc_a < doc_b (a member of the
    * a-group can carry a higher id than a member of the b-group). The
    * expansion join is tiny-side (verified pairs) × memberOf and the
    * output volume equals the answer's — no hidden blowup. */
  private def expandRepPairs(repPairs: DataFrame, memberOf: DataFrame,
      payload: Seq[String]): DataFrame = {
    val withA = repPairs.join(
      memberOf.select(col("rep_id").as("rep_a"), col("member").as("ma")), "rep_a")
    val both = withA.join(
      memberOf.select(col("rep_id").as("rep_b"), col("member").as("mb")), "rep_b")
    both.select(
      (Seq(least(col("ma"), col("mb")).as("doc_a"),
           greatest(col("ma"), col("mb")).as("doc_b")) ++ payload.map(col)): _*)
  }

  /** d3 — MinHash + LSH near-dup, global (no blocking key needed):
    * collapse exact-duplicate texts to one representative; 64 min-hashes
    * per representative → 16 bands of 4 → capped band-bucket join for
    * candidates → exact-Jaccard verification (>= 0.5) → re-expand over
    * the duplicate groups (within-group pairs ARE Jaccard 1.0 by
    * definition — identical texts have identical shingle sets — and
    * cross-group pairs inherit their representatives' Jaccard).
    *
    * The final answer equals brute-force all-pairs Jaccard >= 0.5 as long
    * as banding recall is 1 at the threshold (P[miss] = (1-s^4)^16, which
    * is < 1e-3 for s >= 0.8; the harness corpus's planted near-dups all
    * sit at s >= 0.8 with the rest below 0.05 — verified empirically, so
    * the DuckDB brute-force oracle is exact for this query). The collapse
    * makes the skew story exact too: the degenerate m-identical-document
    * cluster contributes ONE row to every band bucket instead of m. */
  /** The shingled corpus — the multi-branch intermediate d3 materializes
    * ([[graft.Materialize]]): it feeds THREE branches (signatures + both
    * sides of the verification join); unmaterialized, the shingle kernel
    * is recomputed per branch (cost per mode measured in MATBENCH.md).
    * Per-doc shingle arrays are O(corpus tokens); the mode is
    * [[graft.Materialize.reuse]]'s. */
  private[graft] def d3ShingledDocs(s: SparkSession, dir: String): DataFrame =
    Materialize.reuse(Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("tfp"),
        word_shingle_hashes(col("text"), 3).as("shs")))

  /** Collapsed minhash signatures: one row per DISTINCT text, carrying the
    * group's members and 64 min-hashes.
    *
    * The signature is computed SCAN-SIDE by the [[minhash_sig]] codegen
    * kernel (one pass over the shingle-hash array; DedupSpec pins it
    * element-for-element against the 64 permutation-min aggregate
    * composition it replaced — at 100 TB the explode-then-64-min-aggs
    * formulation shuffles aggregate buffers for trillions of exploded
    * rows, while this grouping carries one 512-byte signature per doc).
    * Grouping by TEXT fingerprint (not doc_id) is the exact-dup
    * collapse; `first(sig)` is exact because identical texts have
    * identical shingle arrays, hence identical signatures. Docs too
    * short to shingle are filtered out (the explode path dropped them
    * implicitly), matching the brute-force oracle where an empty
    * shingle set joins nothing. */
  private[graft] def d3Signatures(docs: DataFrame): DataFrame = {
    val perDoc = docs.filter(size(col("shs")) > 0)
      .select(col("tfp"), col("doc_id"), minhash_sig(col("shs")).as("sig"))
    val grouped = perDoc.groupBy(col("tfp"))
      .agg(collect_set(col("doc_id")).as("members"), first(col("sig")).as("sig"))
    Materialize.reuse(grouped.select(
      (col("members") +:
        (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"m$i")) :+
        array_min(col("members")).as("rep_id")): _*))
  }

  /** LSH band-bucket occupancy: one (rep_id, band, bucket-hash) row per
    * representative per band. Exposed so DedupSpec can pin bucket sizes
    * (the [[MaxBandBucket]] headroom claim) against the real pipeline. */
  private[graft] def d3Buckets(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { j =>
      xxhash64((0 until 4).map(r => col(s"m${4 * j + r}")): _*)
    }
    sig.select(col("rep_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  def d3MinhashLsh(s: SparkSession, dir: String): DataFrame =
    d3MinhashLsh(s, dir, MaxBandBucket)

  /** [[d3MinhashLsh]] under an explicit band-bucket cap. */
  private[graft] def d3MinhashLsh(s: SparkSession, dir: String,
      maxBandBucket: Int): DataFrame = {
    val docs = d3ShingledDocs(s, dir)
    val sig = d3Signatures(docs)
    val buckets = d3Buckets(sig)
    // candidate pairs from within-bucket expansion (single shuffle on the
    // bucket key; the self-join alternative shuffles the bucket table
    // twice) — capped at [[MaxBandBucket]] so no task ever expands a
    // skewed bucket quadratically
    val cand = buckets.groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("rep_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxBandBucket))
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.x.rep_id").as("doc_a"), col("p.y.rep_id").as("doc_b"))
      .distinct()
    val da = docs.select(col("doc_id").as("doc_a"), col("shs").as("a_shs"))
    val db = docs.select(col("doc_id").as("doc_b"), col("shs").as("b_shs"))
    val inter = size(array_intersect(col("a_shs"), col("b_shs")))
    val jac = inter.cast("double") /
      (size(col("a_shs")) + size(col("b_shs")) - inter).cast("double")
    val repPairs = cand.join(da, "doc_a").join(db, "doc_b")
      .withColumn("jaccard", round(jac, 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("jaccard"))
    val memberOf = sig.select(col("rep_id"), explode(col("members")).as("member"))
    val cross = expandRepPairs(repPairs, memberOf, Seq("jaccard"))
    // within-group pairs: identical texts, identical (non-empty by
    // construction) shingle sets → Jaccard exactly 1.0, no verification
    // or banding needed. Emitted directly from the group arrays — the
    // only quadratic left is the answer itself.
    val within = sig.filter(size(col("members")) >= 2)
      .select(explode(pairCombos(col("members"))).as("p"))
      .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Chunk-blocked SimHash candidate pairs with their Hamming distance
    * (the d4 pipeline before the <= 8 cutoff and top-20 ranking — also
    * the surface d4b verifies against an engine-independent truth).
    *
    * Same collapse discipline as d3: fingerprints are computed per
    * DISTINCT text (bit sums over a duplicate group are the per-doc sums
    * scaled by the group size — a positive factor that cannot change a
    * sign, so the group fingerprint IS the member fingerprint), chunk
    * buckets hold representatives only and are capped, and the verified
    * rep pairs re-expand over the duplicate groups (within-group pairs
    * at Hamming 0 by construction). */
  /** Collapsed SimHash fingerprints: one (rep_id, members, fp) row per
    * DISTINCT text (see [[simhashCandidates]] for the collapse argument).
    * The fingerprint is computed SCAN-SIDE by the [[simhash64]] codegen
    * kernel (one pass over the text; DedupSpec pins it against the
    * explode-every-word + 64-conditional-sum aggregate composition it
    * replaced); `first(fp)` is exact because identical texts fingerprint
    * identically, and a duplicate GROUP's aggregate fingerprint equals
    * any member's (group bit-sums are member sums scaled by a positive
    * count — a sign cannot change). */
  private[graft] def d4Signatures(docs: DataFrame): DataFrame =
    Materialize.reuse(docs
      .select(md5(col("text").cast("binary")).as("tfp"), col("doc_id"),
        simhash64(col("text")).as("fp"))
      .groupBy(col("tfp"))
      .agg(collect_set(col("doc_id")).as("members"), first(col("fp")).as("fp"))
      .select(array_min(col("members")).as("rep_id"), col("members"), col("fp")))

  /** 16-bit chunk-bucket occupancy of the SimHash fingerprints — the d4
    * analogue of [[d3Buckets]], exposed for the same headroom pin. */
  private[graft] def d4Chunks(sigs: DataFrame): DataFrame =
    sigs.select(col("rep_id"), col("fp"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col("fp"), 16 * j).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_idx", "chunk")))

  private def simhashCandidates(docs: DataFrame,
      maxChunkBucket: Int): DataFrame = {
    val sigs = d4Signatures(docs)
    val chunks = d4Chunks(sigs)
    val repCand = chunks.groupBy(col("chunk_idx"), col("chunk"))
      .agg(collect_list(struct(col("rep_id"), col("fp"))).as("ds"))
      .filter(size(col("ds")).between(2, maxChunkBucket))
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.x.rep_id").as("rep_a"), col("p.x.fp").as("fp_a"),
        col("p.y.rep_id").as("rep_b"), col("p.y.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
    val memberOf = sigs.select(col("rep_id"), explode(col("members")).as("member"))
    // least/greatest over (id, fp) structs keeps each doc's fingerprint
    // attached when restoring doc_a < doc_b order
    val cross = repCand
      .join(memberOf.select(col("rep_id").as("rep_a"), col("member").as("ma")), "rep_a")
      .join(memberOf.select(col("rep_id").as("rep_b"), col("member").as("mb")), "rep_b")
      .select(
        least(struct(col("ma").as("id"), col("fp_a").as("fp")),
              struct(col("mb").as("id"), col("fp_b").as("fp"))).as("pa"),
        greatest(struct(col("ma").as("id"), col("fp_a").as("fp")),
                 struct(col("mb").as("id"), col("fp_b").as("fp"))).as("pb"),
        col("hamming"))
      .select(col("pa.id").as("doc_a"), col("pa.fp").as("fp_a"),
        col("pb.id").as("doc_b"), col("pb.fp").as("fp_b"), col("hamming"))
    val within = sigs.filter(size(col("members")) >= 2)
      .select(col("fp"), explode(pairCombos(col("members"))).as("p"))
      .select(col("p.x").as("doc_a"), col("fp").as("fp_a"),
        col("p.y").as("doc_b"), col("fp").as("fp_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** d4 — SimHash near-dup: 64-bit fingerprint from term-frequency-
    * weighted word hashes; candidates must share one of four 16-bit
    * fingerprint chunks (pigeonhole: guaranteed for Hamming <= 3 when no
    * bucket overflows the cap, and structurally guaranteed at Hamming 0 —
    * identical texts pair via group expansion, never via bucket luck);
    * rank candidate pairs by Hamming distance. Output = the closest 20
    * pairs with both fingerprints and the distance.
    *
    * Full DuckDB oracle since r14 (previously rows-only): the only
    * engine-specific ingredient is Spark's XXH64(seed 42) per word, and
    * for the sub-32-byte inputs the corpus contract guarantees (words
    * are whitespace tokens; the generator caps them at 8 bytes) the
    * whole hash is a FIXED unrolled sequence of mod-2^64 multiplies,
    * rotates and xors — replayed exactly in DuckDB via HUGEINT
    * arithmetic (see [[xxh64ShortSqlCtes]]). Everything downstream
    * (fingerprint bit votes, chunk keys, bucket cap, expansion, the
    * ranked limit) was already deterministic integer arithmetic. */
  def d4Simhash(s: SparkSession, dir: String): DataFrame =
    simhashCandidates(Tables.documents(s, dir), MaxChunkBucket)
      .filter(col("hamming") <= 8)
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        hex(col("fp_a")).as("fp_a"), hex(col("fp_b")).as("fp_b"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(20)

  /** d4b's planted-duplicate augmentation: the corpus plus a copy of
    * every 50th document under a shifted id. The harness corpus has NO
    * organic exact duplicates below sf0.1 (the pre-r7 slice passed
    * vacuously, 0 rows == 0 rows, at the sf0.01 correctness gate), so
    * the slice plants its own — deterministically, and IDENTICALLY in
    * the DuckDB oracle — making the Hamming-0 guarantee non-vacuous at
    * every SF. The shift keeps planted ids disjoint from real ones. */
  private[graft] val D4bIdShift = 10000000L
  private[graft] val D4bEvery = 50
  private[graft] def d4bAugmented(docs: DataFrame): DataFrame =
    docs.unionByName(docs.filter(col("doc_id") % D4bEvery === 0)
      .withColumn("doc_id", col("doc_id") + D4bIdShift))

  /** d4b — the oracle-checkable slice of the SimHash pipeline: every pair
    * of md5-IDENTICAL documents (an engine-independent ground truth DuckDB
    * derives itself) must surface among the candidates with Hamming
    * distance exactly 0 — identical texts share a fingerprint, and the
    * collapse+expansion path emits their pairs directly. A lost pair
    * would coalesce to -1 and hash-mismatch the oracle. Runs over the
    * [[d4bAugmented]] corpus so the checked pair set is non-empty at
    * every SF. (Full d4 output stays rows+spec: its Hamming VALUES on
    * non-identical pairs are xxhash64-dependent, and the corpus gives
    * SimHash no clean Jaccard threshold — measured at sf0.1, 91k
    * background pairs sit at Hamming <= 8 below Jaccard 0.5.) */
  def d4SimhashExactDup(s: SparkSession, dir: String): DataFrame =
    d4SimhashExactDup(s, dir, MaxChunkBucket)

  /** [[d4SimhashExactDup]] under an explicit chunk-bucket cap. */
  private[graft] def d4SimhashExactDup(s: SparkSession, dir: String,
      maxChunkBucket: Int): DataFrame = {
    val docs = d4bAugmented(Tables.documents(s, dir))
    val fps = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("tfp"))
    val dupPairs = fps.as("x")
      .join(fps.as("y"),
        col("x.tfp") === col("y.tfp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    dupPairs
      .join(simhashCandidates(docs, maxChunkBucket)
          .select(col("doc_a"), col("doc_b"), col("hamming")),
        Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("hamming"), lit(-1)).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d5 — embedding near-dup: cosine similarity over the embedding
    * column via the fused [[graft.functions.CosineSim]] codegen kernel,
    * blocked two-level: cluster `label` × a 4-bit sign-LSH bucket from
    * [[d5Planes]], with oversized blocks dropped at [[D5MaxBlock]].
    * Top-20 most-similar within-block pairs.
    *
    * Label alone (r4's blocking) leaves block size O(N / #labels) — all-
    * pairs within a block is then O(N²/L), a scale-killer at fixed label
    * cardinality. The sign bits bound it: blocks shrink 2^bits × further
    * (raise [[D5Bits]] with the corpus), and the hard cap guarantees no
    * task goes quadratic even on a degenerate embedding cluster. Both
    * levels and the cap are DETERMINISTIC and mirrored exactly in the
    * DuckDB oracle, so the differential check stays hash-exact. */
  def d5EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    // sign bit b = (dot(embedding, plane_b) > 0); cosine_sim shares the
    // dot's sign (norms are positive) and is the fused kernel we have
    val bkt = (0 until D5Bits).map { b =>
      when(cosine_sim(col("embedding"), typedlit(d5Planes(b))) > 0, lit(1 << b))
        .otherwise(lit(0))
    }.reduce(_ + _)
    val sg = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("bkt", bkt)
    val capped = sg
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("label"), col("bkt"))))
      .filter(col("bsz") <= D5MaxBlock)
    val a = capped.select(col("label"), col("bkt"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = capped.select(col("label").as("b_label"), col("bkt").as("b_bkt"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("label") === col("b_label") && col("bkt") === col("b_bkt")
        && col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(cosine_sim(col("emb_a"), col("emb_b")), 4))
      .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Iteration cap for [[connectedComponents]]. The alternating algorithm
    * converges in O(log² n) rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014) — 50 covers any conceivable
    * corpus; hitting the cap is a bug, not a big input. */
  private val CcMaxIter = 50

  /** Connected components over an undirected edge list `(u, v)` by the
    * alternating large-star / small-star algorithm (Kiveris et al., SoCC
    * 2014). Returns the star forest at convergence as `(root, member)`
    * rows with root < member — every node of a component points at the
    * component's minimum id.
    *
    * Why this algorithm at 100 TB: naive min-label propagation needs
    * O(diameter) rounds — a chain-shaped near-dup cluster (A~B~C~… with
    * no transitive pair) makes that O(cluster size). The star operations
    * contract paths exponentially, giving O(log² n) rounds on ANY graph
    * shape. Each round is two whole-partition-window min steps on the
    * edge relation, each ONE exchange on the grouping node — no
    * adjacency list is ever materialized (the min over neighbors is a
    * window `min`, not a `collect_set`; a hub node's rows are buffered
    * spillably in its window group — exactly the rows the previous
    * aggregate-then-join shape already co-located in one sort-merge-join
    * task, while paying ~6 exchanges per round to this one's 4).
    *
    * Every SECOND iteration truncates the output
    * ([[graft.Materialize.truncate]]) and releases the previous
    * checkpoint's blocks: without lineage truncation the plan tree
    * doubles per round and analysis cost grows exponentially (the
    * standard failure mode of iterative DataFrame algorithms; GraphX's
    * Pregel does the same). Convergence = edge multiset unchanged across the
    * two-round batch, checked by a single-row (count, bit_xor of
    * row-hash) aggregate — no row data ever reaching the driver, and
    * half the actions of a per-round check (r22, guide §2's stage-ladder
    * cost; the batch-safety argument is at the loop). The checkpoints
    * are LAZY (`eager = false`): the signature aggregate is the action
    * that materializes them, so each batch launches one job instead of an
    * eager checkpoint job plus a signature job. */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame = {
    var edges = Materialize.truncate(edges0
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), eager = false)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    // One alternating round, both stars as a per-node WINDOW min instead
    // of the aggregate-then-self-join shape (r22, guide §2.4: the
    // groupBy+join formulation shuffles the edge relation TWICE per star
    // — once into the min aggregate, once into the join — plus the join's
    // second side; the whole-partition window computes the same min with
    // ONE exchange on the grouping node and attaches it to every row in
    // place). Trade-off vs the partial-agg'd min: a hub node's rows are
    // buffered (spillably) in one window group rather than map-side
    // combined — but the old join ALREADY co-located every hub row in one
    // sort-merge-join task, so the skew exposure is unchanged while the
    // exchange count per round drops from ~6 to 4. Results identical:
    // min-over-group is the same value wherever computed.
    def round(es: DataFrame): DataFrame = {
      val wC = Window.partitionBy(col("c"))
      // large-star: around every node c, attach each LARGER neighbor n to
      // m = min(neighbors(c) ∪ {c}). Emitted edges are (m, n), m < n.
      val sym = es.select(col("u").as("c"), col("v").as("n"))
        .unionAll(es.select(col("v").as("c"), col("u").as("n")))
      // NOT distinct'd (r22): the large-star intermediate may carry
      // duplicate (m, n) rows — two centers can attach the same n to the
      // same m. The small-star min below is duplicate-insensitive, the
      // round's OUTPUT is distinct'd, and a round's intermediate volume
      // stays ≤ |sym| rows (each input row emits at most one), so
      // dropping the dedup removes one of the round's four exchanges
      // without changing the emitted edge SET or letting volume compound
      // across rounds (the next round starts from the distinct'd output).
      val ls = sym
        .withColumn("m", least(min(col("n")).over(wC), col("c")))
        .filter(col("n") > col("c"))
        .select(col("m").as("u"), col("n").as("v"))
      // small-star: around every node c over its SMALLER neighbors n,
      // attach each n (and c itself) to m = min(neighbors). m < n <= c.
      // Every group has at least one row with n == m, and each such row
      // emits the group's (m, c) — possibly more than once when ls
      // carried duplicates, which the final distinct collapses; the old
      // `filter(n =!= m) ∪ (m, c)-per-group` union emitted the same SET.
      val dirE = ls.select(col("v").as("c"), col("u").as("n"))
      dirE
        .withColumn("m", min(col("n")).over(wC))
        .select(col("m").as("u"),
          when(col("n") === col("m"), col("c")).otherwise(col("n")).as("v"))
        .distinct()
    }
    var iter = 0
    var converged = false
    // The round LOOP runs with AQE off and a COUNT-DERIVED static
    // partition count (r22, guide §1.2 step 3 after the algorithm is
    // right). With AQE on, every exchange of every round is its own
    // sequentially-materialized job — replan + submit ≈ 90 ms of pure
    // driver latency per stage on a KiB-scale edge set, and the r21/r22
    // profiles put d6's wall almost entirely in that ladder (r22 after
    // the window rewrite: 35 jobs, Σtask 3.5 s, wall 4.4 s). AQE's only
    // contribution inside the loop is partition coalescing, and the loop
    // already MEASURES the exact edge count every batch (the signature);
    // deriving n from it replaces coalescing with the same decision made
    // for free, and a whole 2-round batch then runs as ONE job. This is
    // NOT the r21 rejected experiment (AQE off at the static 32-partition
    // session default: d6 3.6 → 4.9 s — 32-task stages on tiny data):
    // the partition count scales with the data, not the box. Everything
    // OUTSIDE the loop (the corpus-scale d3 pipeline, the initial
    // distinct) keeps AQE; the confs are restored in finally.
    val conf = edges0.sparkSession.conf
    val aqeWas = conf.get("spark.sql.adaptive.enabled", "true")
    val partsWas = conf.get("spark.sql.shuffle.partitions", "200")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      while (!converged && iter < CcMaxIter) {
        // ~4M edge rows (~100 MB of shuffle) per partition, capped at the
        // session's configured parallelism — the guide §2.2 sizing rule,
        // computed from the measured count rather than a local constant
        val n = math.max(1L,
          math.min(partsWas.toLong, sig._1 / (1L << 22) + 1)).toInt
        conf.set("spark.sql.shuffle.partitions", n.toString)
        // TWO rounds per checkpoint + convergence check (r22): halves the
        // action count. Result-identical: the star operators are
        // deterministic set maps with a unique fixpoint (Kiveris et al.
        // prove the potential strictly decreases until convergence — no
        // cycles), so sig(after 2k rounds) == sig(after 2k−2) ⇔ the
        // fixpoint was reached inside the batch, and extra rounds at the
        // fixpoint are identity. The star forest returned is the same one
        // the per-round check produced.
        val next = Materialize.truncate(round(round(edges)), eager = false)
        val nextSig = signature(next)
        // the signature materialized `next`; the superseded batch's
        // blocks can go
        Materialize.release(edges, blocking = false)
        edges = next
        converged = nextSig == sig
        sig = nextSig
        iter += 2
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqeWas)
      conf.set("spark.sql.shuffle.partitions", partsWas)
    }
    require(converged, s"connectedComponents did not converge in $CcMaxIter rounds")
    edges
  }

  /** d6 — duplicate-cluster assignment: the near-dup PAIRS of d3 are only
    * half the dedup story — a pipeline must then pick ONE canonical
    * document per transitive duplicate CLUSTER (A~B and B~C put A,C in
    * one cluster even when the A–C pair itself was never emitted).
    * Connected components over d3's verified pairs, cluster id = the
    * component's minimum doc_id, canonical = that document. Output is one
    * row per clustered document (singleton documents are not dup-cluster
    * members and are omitted). The DuckDB oracle recomputes the same
    * clusters from the brute-force pair set with a recursive CTE. */
  def d6DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = d3MinhashLsh(s, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val stars = connectedComponents(pairs)
    val assign = stars.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .unionAll(stars.select(col("u").as("doc_id"), col("u").as("cluster_id")).distinct())
    val w = Window.partitionBy(col("cluster_id"))
    assign
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** The verified near-dup pair set (d3's full output) as a shared
    * pipeline artifact ([[graft.SharedStage]]): downstream stages of the
    * dedup ladder — d7's cleaned corpus, p2's funnel near-dup stage —
    * consume the SAME pairs d3/d6 produce rather than re-running the
    * signature/banding/verify pipeline. d3 and d6 themselves do NOT read
    * the shared copy: their catalog entries measure the pipeline cold. */
  private[graft] def sharedVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.SharedStage.getOrCompute(s, dir, "d3_verified_pairs") {
      d3MinhashLsh(s, dir)
    }

  /** The CONVERGED star edges (connected components over the verified
    * pairs) as a shared pipeline artifact — the input to every
    * cluster-consuming stage (d7). Built on [[sharedVerifiedPairs]], so
    * priming this primes that too. */
  private[graft] def sharedStarEdges(s: SparkSession, dir: String): DataFrame =
    graft.SharedStage.getOrCompute(s, dir, "d3_star_edges") {
      connectedComponents(sharedVerifiedPairs(s, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
    }

  /** d7 — the cleaned corpus: what the dedup ladder exists to produce.
    * Drops every non-canonical member of a d6 dup cluster (keep-lowest-id
    * policy, matching d1) and profiles the survivors per source: total
    * docs, kept, dropped, and surviving characters — the numbers a
    * pipeline reports after a dedup pass.
    *
    * The drop set comes straight off the CONVERGED star edges: at the
    * connected-components fixpoint every edge is (root, member), so the
    * `v` column IS the non-canonical doc list — no window, no re-ranking.
    * The drop set is a small fraction of the corpus (the dup members
    * only), left-joined on doc_id; survivors aggregate per source in one
    * exchange. The star edges are the [[sharedStarEdges]] pipeline
    * artifact — d7 is the stage AFTER d6 in one pipeline, so its benched
    * steady-state cost is this marginal join + aggregate (the first run
    * primes the artifact and pays the full ladder; see SharedStage). */
  def d7CleanedCorpus(s: SparkSession, dir: String): DataFrame = {
    val drops = sharedStarEdges(s, dir)
      .select(col("v").as("doc_id"), lit(1).as("dropped"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(drops, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("dropped")).as("n_dropped"),
        sum(when(col("dropped").isNull, col("n_chars")).otherwise(lit(0L)))
          .as("chars_kept"))
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        col("n_dropped"), col("chars_kept"))
      .orderBy(col("source"))
  }

  /** Segment width (words) for d8's fine-grained dedup. `private[graft]`
    * so p3's survivors-only segmentation ([[Pipeline.p3CurationV2]]) and
    * both oracles interpolate the SAME constant — a change here cannot
    * silently desync engine and oracle (ADVICE r10). */
  private[graft] val SegWords = 20

  /** d8 — segment-level exact dedup (the RefinedWeb/SlimPajama
    * "line-dedup" shape, one granularity below d1: boilerplate headers,
    * license blocks and copied paragraphs recur across documents whose
    * full texts differ, so document-level fingerprints never see them).
    * Each document is cut into fixed [[SegWords]]-word segments by
    * `slice` over the split array — array arithmetic on the scan, no
    * per-word explode — and a segment is a duplicate iff an identical
    * segment exists earlier in corpus order (first occurrence is
    * canonical, matching d1's keep-lowest policy). Output is the per-doc
    * profile a curation run reports: segments, duplicated segments,
    * dup_ratio, and the token mass that survives segment-level pruning.
    *
    * Scale shape: one shuffle keyed on the 16-byte segment fingerprint
    * (the row_number window — same single-exchange contract as d1,
    * group size = corpus-wide copies of one segment, never hot), then
    * one keyed on doc_id for the profile. Segment rows are ~26 bytes of
    * key+position — the text itself never shuffles. Integer counts and
    * one final division keep DuckDB bit-identical. */
  def d8SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val nseg = expr(s"(size(ws) + ${SegWords - 1}) div $SegWords")
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), nseg - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        md5(array_join(slice(col("ws"),
          (col("seg_idx") * SegWords + 1).cast("int"), lit(SegWords)), " ")
          .cast("binary")).as("fp"),
        size(slice(col("ws"),
          (col("seg_idx") * SegWords + 1).cast("int"), lit(SegWords)))
          .cast("long").as("seg_tok"))
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("seg_idx"))
    segs.withColumn("is_dup", row_number().over(w) > 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_segs"),
        sum(col("seg_tok")).as("n_tok"),
        sum(when(col("is_dup"), 0L).otherwise(col("seg_tok")))
          .as("tok_kept"))
      .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
        round(col("n_dup_segs").cast("double") / col("n_segs"), 4)
          .as("dup_ratio"),
        col("n_tok"), col("tok_kept"))
      .orderBy(col("doc_id"))
  }

  /** d9 — quality-canonical cluster collapse: d6 answers WHICH documents
    * are transitive near-duplicates; d9 answers which one to KEEP. The
    * lowest-id policy (d6/d7's) is reproducible but arbitrary — a
    * production curation run keeps the highest-QUALITY member of each
    * cluster (the cleanest crawl of a page, not the first-crawled one).
    * Per cluster: the t2-quality argmax member (ties broken by lowest
    * doc_id — total order, deterministic), the member count, and whether
    * the quality policy picked a different doc than the id policy would
    * (`policy_differs` — the rows where this dataset's training corpus
    * actually changes).
    *
    * Scale shape: the cluster membership comes off the CONVERGED
    * [[sharedStarEdges]] artifact (root,member — the same stage d7
    * consumes; at the fixpoint root = min id, so the id-policy canonical
    * is free). Quality is evaluated ONLY for cluster members: the
    * members list (dup docs only, a small fraction of the corpus by
    * construction) joins the corpus scan on doc_id — AQE broadcasts the
    * small side — and the argmax is one row_number window over clusters,
    * whose partition count is the number of DUP GROUPS, not documents. */
  def d9QualityCanonical(s: SparkSession, dir: String): DataFrame = {
    val edges = sharedStarEdges(s, dir)
    val members = edges
      .select(col("u").as("cluster_id"), col("v").as("doc_id"))
      .unionByName(edges.select(col("u")).distinct()
        .select(col("u").as("cluster_id"), col("u").as("doc_id")))
    val scored = Tables.documents(s, dir)
      .join(members, "doc_id")
      .select(col("cluster_id"), col("doc_id"),
        round(TextAnalysis.qualityExpr(col("text"), col("n_chars")), 4)
          .as("quality"))
    val wRank = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val wAll = Window.partitionBy(col("cluster_id"))
    scored
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("doc_id").as("kept_doc"), col("quality").as("kept_quality"),
        (col("doc_id") =!= col("cluster_id")).as("policy_differs"))
      .orderBy(col("cluster_id"))
  }

  /** Shingle width for d10 span detection: 13-gram word shingles, the
    * decontamination-standard n (GPT-3 appendix C uses 13-gram overlap;
    * reference context: RDataFramesSQL.Rmd has no dedup — this family is
    * the training-pipeline extension). With the corpus's ~31-type
    * vocabulary, a random 13-gram collision is ~31^-13 — any cross-doc
    * repeat at this width is a genuine copied span, not noise. */
  private[graft] val D10K = 13

  /** Minimum consecutive duplicated shingles for a span to be reported
    * (runs shorter than this are boilerplate-phrase noise, not the
    * copied-paragraph signal segment pruning acts on). */
  private[graft] val D10MinRun = 3

  /** d10 — duplicated-SPAN detection (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" exact-substring shape,
    * at shingle granularity): d8 finds duplicated fixed segments; d10
    * finds the exact extent of every copied run — maximal stretches of
    * consecutive [[D10K]]-gram shingles that each occur in at least two
    * distinct documents. Output is one row per span (doc, start word,
    * shingle count, words covered), the unit a surgical span-removal
    * pass deletes where d7 would discard whole documents.
    *
    * Scale shape: shingles are hashed scan-side (built-in `xxhash64`
    * over the sliced 13-gram — codegen'd; 8-byte keys, the text itself
    * never shuffles). Cross-doc duplication is min(doc)≠max(doc) over a
    * shingle-keyed window — ONE exchange, no COUNT(DISTINCT), group
    * size = corpus-wide copies of one 13-gram (bounded by the d3
    * stop-shingle argument at this width). Spans then form per-doc via
    * the gaps-and-islands trick (pos − row_number over the doc window),
    * so the expensive global step is linear in shingle count and the
    * quadratic-looking "find all repeated substrings" never materializes
    * pairs at all — no suffix array, no all-pairs. 64-bit hashing makes
    * a false cross-doc match ~2^-64·|pairs| — absent at any SF this
    * corpus reaches; the oracle joins the shingle STRINGS and agreeing
    * with it is the differential evidence. */
  /** d12's delta split: a doc belongs to the ARRIVING batch iff its md5
    * id-bucket is >= this (~10% of the corpus); the rest is the
    * already-ingested EXISTING corpus. `private[graft]` so the engine
    * and the oracle interpolate the same constant. */
  private[graft] val D12DeltaBucket = "e6"

  /** d12 — incremental (delta) near-dup probe: the ingest-time question
    * a 100 TB corpus asks daily — "this new shard arrived; which of its
    * documents duplicate something we ALREADY HAVE (or each other)?" —
    * answered without ever re-running the dedup ladder over the
    * existing corpus. The existing side's collapsed signatures, capped
    * band occupancy, representative shingle sets and text-fingerprint
    * set are exactly what a production pipeline keeps as its stored
    * dedup index — here [[graft.SharedStage]] artifacts (first use
    * computes them; at 100 TB they'd be parquet tables maintained
    * across shards). The per-shard path scans ONLY delta rows: the
    * delta batch computes its own signatures, PROBES the stored
    * occupancy with a hash join on the band key — existing × existing
    * pairs are never expanded, so probe work scales with the DELTA, not
    * the corpus — and self-joins only within its own (capped) buckets.
    * Candidates verify by exact Jaccard (same kernel as d3) and expand
    * over both sides' exact-dup groups. One row per delta doc: an
    * is_exact_dup flag (an identical text exists in the corpus before
    * it — any existing doc, or an earlier delta doc), its verified
    * near-dup partner count and worst Jaccard.
    *
    * Recall contract: signatures are per-TEXT, so a pair's buckets are
    * the same whichever side its docs land on — any corpus pair with a
    * delta endpoint shares a bucket exactly as in d3, and the DuckDB
    * oracle replays brute-force all-pairs restricted to delta
    * endpoints (the same banding-recall argument d3's oracle rests
    * on; per-side bucket caps only ever drop stop-shingle buckets). */
  def d12DeltaNearDup(s: SparkSession, dir: String): DataFrame = {
    val isDeltaCol =
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) >=
        D12DeltaBucket
    // ---- the STORED INDEX (SharedStage artifacts — what a production
    // ingest keeps between shards; first use computes it, and the
    // benched steady state is the per-shard marginal cost, the d7/p2
    // convention): collapsed signatures, capped band occupancy, the
    // representatives' shingle sets for verification, and the exact
    // text-fingerprint set ----
    // one binding, not a def: the three index artifacts below all build
    // off this frame, and a localCheckpoint reuse has no plan-dedup — a
    // fresh call per artifact would shingle and checkpoint the corpus
    // three times during priming
    val existingDocs = d3ShingledDocs(s, dir).filter(!isDeltaCol)
    val exSig = graft.SharedStage.getOrCompute(s, dir, "d12_existing_sigs") {
      d3Signatures(existingDocs)
    }
    val exBkts = graft.SharedStage.getOrCompute(s, dir, "d12_existing_index") {
      d3Buckets(exSig)
        .groupBy(col("band"), col("bh"))
        .agg(collect_list(col("rep_id")).as("reps"))
        .filter(size(col("reps")) <= MaxBandBucket)
    }
    val exShs = graft.SharedStage
      .getOrCompute(s, dir, "d12_existing_rep_shingles") {
        existingDocs
          .join(exSig.select(col("rep_id").as("doc_id")), "doc_id")
          .select(col("doc_id").as("rep_a"), col("shs").as("a_shs"))
      }
    val exFps = graft.SharedStage.getOrCompute(s, dir, "d12_existing_fps") {
      existingDocs.select(col("tfp")).distinct()
    }
    // ---- per-shard work: every scan below touches ONLY delta rows ----
    val deltaDocs = Materialize.reuse(Tables.documents(s, dir)
      .filter(isDeltaCol)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("tfp"),
        word_shingle_hashes(col("text"), 3).as("shs")))
    val dlSig = d3Signatures(deltaDocs)
    val dlBk = d3Buckets(dlSig)
    val crossCand = dlBk
      .join(exBkts, Seq("band", "bh"))
      .select(explode(col("reps")).as("rep_a"), col("rep_id").as("rep_b"))
      .distinct()
    val selfCand = dlBk.groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("rep_id"))).as("ds"))
      .filter(size(col("ds")).between(2, MaxBandBucket))
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.x.rep_id").as("rep_a"), col("p.y.rep_id").as("rep_b"))
      .distinct()
    val inter = size(array_intersect(col("a_shs"), col("b_shs")))
    val jac = inter.cast("double") /
      (size(col("a_shs")) + size(col("b_shs")) - inter).cast("double")
    def verified(cand: DataFrame, aSide: DataFrame, bSide: DataFrame) =
      cand.join(aSide, "rep_a").join(bSide, "rep_b")
        .withColumn("jaccard", round(jac, 4))
        .filter(col("jaccard") >= 0.5)
        .select(col("rep_a"), col("rep_b"), col("jaccard"))
    val dlA = deltaDocs.select(col("doc_id").as("rep_a"), col("shs").as("a_shs"))
    val dlB = deltaDocs.select(col("doc_id").as("rep_b"), col("shs").as("b_shs"))
    val repPairs = verified(crossCand, exShs, dlB)
      .unionByName(verified(selfCand, dlA, dlB))
    val memberOf = exSig
      .select(col("rep_id"), explode(col("members")).as("member"))
      .unionByName(dlSig
        .select(col("rep_id"), explode(col("members")).as("member")))
    val expanded = expandRepPairs(repPairs, memberOf, Seq("jaccard"))
    // delta-internal exact-dup siblings: Jaccard 1.0 by construction,
    // straight off the group arrays (d3's convention)
    val within = dlSig.filter(size(col("members")) >= 2)
      .select(explode(pairCombos(col("members"))).as("p"))
      .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"),
        lit(1.0).as("jaccard"))
    val allPairs = expanded.unionByName(within)
    val sym = allPairs.select(col("doc_a").as("doc_id"), col("jaccard"))
      .unionByName(allPairs.select(col("doc_b").as("doc_id"), col("jaccard")))
    val ndAgg = sym.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neardup"), max(col("jaccard")).as("max_jaccard"))
    // exact-dup flag: delta fingerprints against the stored fp set plus
    // one window WITHIN the delta (covers shingle-less short docs the
    // near-dup path cannot see)
    val wDl = Window.partitionBy(col("tfp"))
    val flags = deltaDocs
      .withColumn("min_dl", min(col("doc_id")).over(wDl))
      .join(exFps.withColumn("ex_hit", lit(1)), Seq("tfp"), "left")
      .select(col("doc_id"),
        (col("ex_hit").isNotNull || col("doc_id") > col("min_dl"))
          .as("is_exact_dup"))
    flags.join(ndAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  def d10DupSpans(s: SparkSession, dir: String): DataFrame =
    d10SpansCore(s, dir).orderBy(col("doc_id"), col("start_word"))

  /** d10's span table without the presentation sort — the composable
    * core d10/d11 share. */
  private def d10SpansCore(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val shingled = Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"), size(ws).cast("long").as("m"))
      .select(col("doc_id"), col("ws"),
        explode(when(col("m") >= D10K, sequence(lit(0L), col("m") - D10K))
          .otherwise(array().cast("array<bigint>"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        xxhash64(array_join(
          slice(col("ws"), (col("pos") + 1).cast("int"), lit(D10K)), " "))
          .as("sh"))
    val wSh = Window.partitionBy(col("sh"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    shingled
      .withColumn("is_dup",
        min(col("doc_id")).over(wSh) =!= max(col("doc_id")).over(wSh))
      .filter(col("is_dup"))
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_word"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= D10MinRun)
      .select(col("doc_id"), col("start_word"), col("n_shingles"),
        (col("n_shingles") + (D10K - 1)).as("span_words"))
  }

  /** d10's span table as a shared pipeline artifact — d11 is the stage
    * AFTER d10 in the span-dedup ladder (detect → excise), so it and
    * p4's policy comparison consume the materialized spans at marginal
    * cost, the d6→d7 convention. d10's own catalog entry does NOT read
    * the shared copy: it measures detection cold. */
  private[graft] def sharedDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.SharedStage.getOrCompute(s, dir, "d10_dup_spans") {
      d10SpansCore(s, dir)
    }

  /** Per-document merged excision intervals off the d10 span table —
    * d11's core, shared with [[Pipeline]]'s p4 policy comparison.
    * Spans are maximal runs of consecutive duplicated shingles, so two
    * spans of one doc never share a shingle position — but their WORD
    * extents (n_shingles + K − 1 words) can still overlap or touch, and
    * excising them independently would double-delete. Intervals are
    * merged with the standard running-max gaps-and-islands pass (new
    * island iff start > max end so far + 1), then aggregated per doc:
    * `ivs` (the disjoint intervals), `n_excisions`, `words_removed`
    * (exact — intervals are disjoint after the merge).
    *
    * Scale shape: the interval table is O(spans), a small fraction of
    * the corpus; both windows partition by doc_id (span-count-bounded
    * groups) and the final aggregate is one exchange of interval rows —
    * the corpus text is never touched here. */
  private[graft] def d11Excisions(s: SparkSession, dir: String): DataFrame = {
    val iv = sharedDupSpans(s, dir)
      .select(col("doc_id"), col("start_word").as("s"),
        (col("start_word") + col("span_words") - 1).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val pmax = coalesce(
      max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
      lit(-2L))
    iv
      .withColumn("new_isl", when(col("s") > pmax + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_isl")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ms"), col("me")))).as("ivs"),
        count(lit(1)).as("n_excisions"),
        sum(col("me") - col("ms") + 1).as("words_removed"))
  }

  /** d11 — duplicated-span REMOVAL: materialize the corpus with d10's
    * copied spans excised (the Lee et al. 2022 surgical alternative to
    * d7's whole-document drops — a doc that shares one boilerplate
    * paragraph keeps everything but that paragraph). One row per
    * affected document: excision count, word counts before/removed, and
    * the stitched cleaned text.
    *
    * Scale shape: the excision table ([[d11Excisions]]) is O(affected
    * docs) with span-count-bounded interval arrays, joined back onto
    * the documents scan on doc_id — AQE broadcasts it at typical span
    * densities, so the corpus text never shuffles; the word filter +
    * stitch run scan-side as array expressions (no explode — a doc's
    * words never become rows). The DuckDB oracle replays the whole
    * derivation from the shingle STRINGS (same injectivity argument as
    * d10) through the same interval merge and reassembles the text
    * independently. */
  def d11SpanRemoval(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .join(d11Excisions(s, dir), "doc_id")
      .select(col("doc_id"), col("n_excisions"),
        size(col("ws")).cast("long").as("words_before"),
        col("words_removed"),
        expr("""array_join(
                  transform(
                    filter(sequence(0, size(ws) - 1),
                           p -> NOT exists(ivs, iv -> p >= iv.ms AND p <= iv.me)),
                    p -> element_at(ws, CAST(p + 1 AS INT))),
                  ' ')""").as("text_clean"))
      .orderBy(col("doc_id"))

  // ---- d13: semantic dedup (SemDeDup shape) -------------------------

  /** d13's cosine floor for "semantically duplicate": calibrated to the
    * synthetic embeddings' within-cell cosine distribution (the
    * random-pair band tops out near 0.51; 0.35 sits above the 99th
    * percentile, ~60 qualifying pairs at sf0.01, so the gate is
    * non-vacuous at every SF). A real corpus with trained embeddings
    * runs this at ~0.95. */
  private[graft] val D13Threshold = 0.35

  /** d13 — semantic deduplication (the SemDeDup shape — Abbas et al.
    * 2023, arXiv:2303.09540, public): cluster the embedding space with
    * s2's deterministic IVF cells, then inside each cell drop every
    * vector that has a LOWER-id neighbor at cosine ≥ [[D13Threshold]].
    * Survivors are exactly the vectors with no earlier in-cell semantic
    * duplicate (the greedy keep-first policy — d1's rule lifted from
    * exact hashes to embedding space). Reported per dropped vector: its
    * cell, its keeper (the smallest-id qualifying neighbor) and that
    * pair's cosine — the audit trail a curation run logs. Complements
    * d5 (which RANKS near-dup pairs under sign-LSH blocking): d13
    * makes the drop DECISION under semantic-cluster blocking.
    *
    * Scale shape: candidate pairs exist ONLY within a cell — the
    * cluster is the blocking key, so the quadratic is Σ|cell|² instead
    * of N², and at 100 TB the cell id is the partition key (each cell
    * compares co-located, exactly how reference SemDeDup shards by
    * k-means cluster). The centroid count grows like sqrt(N) at scale
    * (s2's documented rule), keeping cells bounded. Everything
    * rides the rounded-cosine determinism contract, so the DuckDB
    * oracle replays assignment, threshold, and keeper choice
    * bit-for-bit. */
  def d13SemanticDedup(s: SparkSession, dir: String): DataFrame =
    // the range sort samples its input in a job of its own before the
    // shuffle: the pin runs the scan once, not once per job
    Materialize.reuse(d13Core(d13Cells(s, dir), s.sparkContext.defaultParallelism,
      subCapFor(resolveAssignVia(s, dir)))).orderBy(col("vec_id"))

  /** d13's assigned-cells frame through the resolved assignment tier
    * (exposed for DedupSpec's pair-stage pin). */
  private[graft] def d13Cells(s: SparkSession, dir: String): DataFrame =
    Similarity.d13CellAssigned(resolveAssignVia(s, dir),
      Similarity.embeddingsFor(s, dir))

  /** The flat tier's ABSOLUTE sub-cell cap (r16): under `lshflat` the
    * cell population is CONSTRUCTED to be ~[[Similarity.FlatCellTarget]]
    * — a cell more than 2× over target is concentration (the
    * sign-identical-centroid eviction residual measured at 1.30 on the
    * clustered corpus, SCALING.md round-16), not geometry, so the
    * sub-cell bound may cap it absolutely: bnd = min(max(floor,
    * 4×mean), 2×target) pins the pair volume at N·2·target — LINEAR on
    * any geometry, closing the one term the flat construction left
    * growing. The relative 4×mean rule stays for every other tier,
    * where cells legitimately grow with the √-codebook and an absolute
    * cap would split real geometry. Recall price: only cells above
    * 2×target split harder than before — on the main corpus the flat
    * cells top out at ~1.1×target (no change); on the clustered corpus
    * the split severs only pairs inside concentration-inflated cells,
    * which are dup-dense (within-cluster cosines ≫ threshold), so a
    * lower-id keeper survives in every sub-cell — measured in SCALING.md
    * round-16 "The residual, retired the same round". */
  private[graft] def FlatSubCellCap: Long = 2L * Similarity.FlatCellTarget

  /** The sub-cell cap for a resolved assignVia value — shared by d13,
    * p5/p6's semanticDrops so every consumer of the flat tier runs the
    * identical split. */
  private[graft] def subCapFor(via: String): Option[Long] =
    if (via == "lshflat") Some(FlatSubCellCap) else None

  /** The d13 cell-ASSIGNMENT seam (r14, VERDICT r13 #3), one tier per
    * corpus geometry ([[Similarity.d13CellAssigned]] dispatches, and
    * rejects any other name): `exact` (default) scores every vector
    * against every centroid — N·C = N^1.5 under the balanced sqrt
    * codebook, and the path every oracle pins bit-for-bit; `lshflat`
    * (late r15) pairs the occupancy-capped sign-LSH join
    * ([[Similarity.cappedCodebook]]) with [[Similarity.centroidsFlat]]'s
    * C = N/target codebook so BOTH of d13's N^1.5 terms go linear —
    * assignment N·L·B (C-independent) and within-cell pairwise
    * N·target — recall priced in SCALING.md; `twolevel` (r15, VERDICT
    * r14 #4) routes through [[Similarity.twoLevelCellAssignedAgainst]]
    * — N·3·sqrt(C) ≈ N^1.25, the geometry-preserving middle tier whose
    * misses land in the runner-up super-cell instead of a sentinel.
    * Selection between the tiers is MEASURED, not guessed:
    * [[Similarity.assignMarginProbe]]'s sampled statistic + the
    * decision rule in SCALING.md — and since r15 the rule itself is a
    * seam value: `auto` resolves per corpus via [[resolveAssignVia]].
    * The env fallback reaches forked ScaleBench JVMs. */
  private[graft] def D13AssignVia: String =
    sys.props.get("graft.d13.assignVia")
      .orElse(sys.env.get("GRAFT_D13_ASSIGNVIA")).getOrElse("exact")

  /** The SCALING.md decision rule made executable: under
    * `graft.d13.assignVia=auto` the tier is picked per corpus by
    * [[Similarity.resolveAutoTier]] — the s12 sampled statistic PLUS
    * the corpus-size axis (r16, VERDICT r15 #1): deep corpora (vector
    * count ≥ [[Similarity.AutoFlatMinVectors]], the measured ~0.9
    * recall floor of the flat tier) route to `lshflat`, the only tier
    * measured LINEAR at depth (0.94 sf30→100, 10.2× over the exact
    * N^1.5 path at 2 M vectors); small clustered corpora
    * (mean_top1 ≥ [[Similarity.AutoTop1Threshold]]) keep the r15
    * `twolevel` routing; small near-uniform corpora stay `exact`,
    * where exact assignment is cheap and the approximate constants
    * never amortize. The probe is one 1-row driver action per
    * (dir, corpus stamp) — O(1) in corpus size by the idMix stride
    * (measured flat across a 1000× span, tail 0.34) — memoized on the
    * embeddings table's mtime so d13 and every SharedStage consumer
    * (p5/p6) resolve the SAME tier without re-probing, while a corpus
    * REGENERATED at the same path gets a fresh decision (ADVICE r15).
    * A degenerate probe (no sampled rows) falls back to `exact`
    * instead of throwing (ADVICE r15). The default stays `exact`:
    * auto is opt-in, so every driver-SF oracle pins the exact path
    * untouched. */
  private[graft] def resolveAssignVia(s: SparkSession, dir: String): String =
    D13AssignVia match {
      case "auto" => Similarity.autoAssignTier(s, dir)
      case v      => v
    }

  /** One row of d13's pair-stage input and one row of its output. */
  case class D13Member(vec_id: Long, cell: Long, sub: Long,
      embedding: Array[Float])
  case class D13Drop(vec_id: Long, cell: Long, kept_by: Long, cosine: Double)

  /** The d13 pair stage, the one copy: over an assigned
    * `cells(vec_id, embedding, cell)` frame keyed by vec_id, one unordered
    * row per dropped vector (vec_id, cell, kept_by, cosine), where
    * `kept_by` is the smallest lower id in the vector's (cell, sub) at
    * rounded cosine ≥ [[D13Threshold]]. The bounded sub-cells
    * ([[boundedSubCells]]) are repartitioned on (cell, sub) into `width`
    * tasks (an explicit count, which AQE does not coalesce: the stage's
    * work is quadratic in a (cell, sub)'s rows, which its bytes do not
    * show), sorted by (cell, sub, vec_id) within each task, and scanned
    * once ([[keepFirst]]). A vector lives in one (cell, sub), so the
    * scan's first qualifying id is the keeper, and the pair mass never
    * leaves the task. A vector with a null embedding or a null element
    * scores NULL against every other one, so it is neither a keeper nor
    * dropped and is filtered before the shuffle. d13, the d13b skew
    * companion and p5/p6's semantic stage (`Pipeline.semanticDrops`, the
    * vec_ids only) all run it. The d13 oracles replay it as their `qual`
    * CTE over [[Similarity.boundedSubCtes]] plus the `rn = 1` keeper
    * pick. */
  private[graft] def d13Core(cells0: DataFrame, width: Int,
      subCap: Option[Long] = None): DataFrame = {
    import cells0.sparkSession.implicits._
    // a SQL lambda keeps its own variable name; the DSL's forall(col, f)
    // would draw one from the JVM-wide counter and rename the lambdas of
    // every plan built after it
    boundedSubCells(cells0, subCap)
      .filter(expr("forall(embedding, e -> e IS NOT NULL)"))
      .repartition(width, col("cell"), col("sub"))
      .sortWithinPartitions(col("cell"), col("sub"), col("vec_id"))
      .select(col("vec_id"), col("cell"), col("sub"), col("embedding"))
      .as[D13Member]
      .mapPartitions(keepFirst)
      .toDF()
  }

  /** d13's keep-first rule over one task's rows, sorted by
    * (cell, sub, vec_id): each row is scored against the lower ids of its
    * (cell, sub), lowest first, up to the first keeper
    * ([[graft.functions.CosineSim.firstKeeper]]), then joins them. */
  private def keepFirst(rows: Iterator[D13Member]): Iterator[D13Drop] = {
    val group = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Float])]
    var cell = 0L
    var sub = 0L
    rows.flatMap { m =>
      if (group.isEmpty || m.cell != cell || m.sub != sub) {
        group.clear(); cell = m.cell; sub = m.sub
      }
      val hit = CosineSim.firstKeeper(group, m.embedding, D13Threshold)
      group += ((m.vec_id, m.embedding))
      hit.map { case (k, c) => D13Drop(m.vec_id, m.cell, k, c) }
    }
  }

  /** The bounded sub-cell split for the within-cell PAIR stages (see
    * [[Similarity.CellBoundFloor]] for the rationale and the measured
    * skew-corpus quadratic it prevents): cells above
    * max(floor, 4 × mean) split into hash sub-cells keyed by the same
    * affine id-mix the centroid seeds use — integer arithmetic end to
    * end, so every oracle replays the split exactly. Cells under the
    * bound get k_sub = 1 → sub = 0 for every member: a no-op, which is
    * why no output at the Verify scale factors changes. `cells` feeds
    * both the counts and the join, so it is pinned
    * ([[graft.Materialize.reuse]]): an unmaterialized assignment would
    * otherwise run its centroid join once per branch. */
  private[graft] def boundedSubCells(cells0: DataFrame,
      absCap: Option[Long] = None): DataFrame = {
    val cells = Materialize.reuse(cells0)
    // bnd derives from an unpartitioned window over the ≤C-row counts
    // frame (same integers as a separate total/count agg, two fewer
    // jobs; the "No Partition Defined" warning on this tiny frame is
    // the documented q6 pattern). Under the flat tier's absolute cap
    // (see [[FlatSubCellCap]]) the relative bound is additionally
    // clamped, pinning the pair volume linear on any geometry.
    val wAll = Window.partitionBy()
    val relBnd = greatest(lit(Similarity.CellBoundFloor),
      (lit(4L) * sum(col("c_n")).over(wAll)).divide(count(lit(1)).over(wAll))
        .cast("long"))
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("c_n"))
      .withColumn("bnd",
        absCap.fold(relBnd)(c => least(relBnd, lit(c))))
      .withColumn("k_sub", expr("(c_n + bnd - 1) div bnd"))
      .select(col("cell"), col("k_sub"))
    cells.join(broadcast(counts), "cell")
      .withColumn("sub", pmod(Similarity.idMixOf(col("vec_id")), col("k_sub")))
      .drop("k_sub")
  }

  /** d13b's planted-cluster augmentation (the d4b convention, lifted to
    * embedding space): one plant per organic vector, ALL derived from the
    * single lowest-id base embedding with one dimension (src mod 64)
    * bumped by +[[D13bBump]] — so every plant sits at cosine ≈0.97 to the
    * base and ≈0.94 to other plants (the tight-cluster geometry trained
    * embeddings show at ~0.95, which the organic synthetic corpus lacks —
    * its within-cell band tops out near 0.51), and ALL plants land in the
    * base vector's cell, making that cell hold ~53% of the augmented
    * corpus. Plant ids are shifted above every organic id, so plants can
    * never become keepers for organic vectors. The bump is an exact
    * binary fraction: a float add of 0.25 is bit-identical to DuckDB's
    * `CAST(x + 0.25 AS REAL)` (the double sum of two floats is exact, and
    * both engines round it to the same nearest float). */
  private[graft] val D13bIdShift = 20000000L
  private[graft] val D13bBump = 0.25f
  private[graft] def d13bAugmented(e: DataFrame): DataFrame = {
    val base = e.orderBy(col("vec_id").asc).limit(1)
      .select(col("embedding").as("base_emb"))
    val plants = e.select(col("vec_id").as("src"))
      .crossJoin(broadcast(base))
      .select(
        (col("src") + D13bIdShift).as("vec_id"),
        transform(col("base_emb"), (x, i) =>
          when(i.cast("bigint") === pmod(col("src"), lit(64L)),
            (x + lit(D13bBump)).cast("float")).otherwise(x)).as("embedding"))
    e.select(col("vec_id"), col("embedding")).unionByName(plants)
  }

  /** d13b — the skew-honest companion (VERDICT r12 #6): d13's greedy
    * keep-first rule under a DOMINANT cell. Cells are seeded from the
    * ORGANIC corpus (the stored-index position — new near-dup mass joins
    * existing cells) and the [[d13bAugmented]] corpus is assigned to
    * them, so one cell holds ~53% of all vectors and every planted pair
    * clears the threshold at trained-embedding-like cosines (~0.94–0.97,
    * vs the synthetic-calibrated [[D13Threshold]] band). DedupSpec pins
    * the stability contract: the organic slice of this output is
    * row-identical to d13 (plants sit above every organic id, so they
    * cannot perturb an organic keeper), and every plant drops with an
    * in-cell keeper below the shift. */
  def d13bSemanticDedupSkew(s: SparkSession, dir: String): DataFrame =
    Materialize.reuse(d13Core(d13bCells(s, dir), s.sparkContext.defaultParallelism))
      .orderBy(col("vec_id"))

  /** The d13b assigned-cells frame (exposed for DedupSpec's dominance
    * pin). */
  private[graft] def d13bCells(s: SparkSession, dir: String): DataFrame = {
    val organic = Similarity.embeddingsFor(s, dir)
    Similarity.cellAssignedAgainst(
      Similarity.centroidsOf(organic), d13bAugmented(organic))
  }

  /** The organic embeddings frame (exposed for DedupSpec's d13b pins). */
  private[graft] def d13bOrganic(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingsFor(s, dir)

  /** d14 — SOFT dedup: per-document loss weights 1/|cluster| instead of
    * d7's hard drops (the modern trade — duplicated text still
    * contributes signal, it just stops dominating the loss; dropping is
    * the weight-0 special case). Every document reports its d6 cluster
    * (its own id when unclustered), the cluster size, the rounded
    * weight, and a FIXED-POINT effective token mass
    * `tok·10⁴ div size` — integer arithmetic, so the corpus-level
    * effective-token accounting sums exactly in both engines (a float
    * weight×tok sum would be accumulation-order-dependent).
    *
    * Pure composition: clusters come off the converged
    * [[sharedStarEdges]] artifact (the dedup ladder's stored output);
    * d14 adds one 2-column corpus scan, a cluster-size aggregation, and
    * a co-partitioned join on cluster_id — no new pair work. */
  def d14SoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val edges = sharedStarEdges(s, dir)
    val members = edges.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .unionByName(
        edges.select(col("u").as("doc_id"), col("u").as("cluster_id"))
          .distinct())
    val tokd = Tables.documents(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val withC = tokd.join(members, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = withC.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    withC.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 4).as("weight"),
        col("tok"),
        expr("(tok * 10000) div cluster_size").as("tok_eff_1e4"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact"       -> d1DedupExact _,
    "d2_ngram_jaccard"     -> d2NgramJaccard _,
    "d3_minhash_lsh"       -> d3MinhashLsh _,
    "d4_simhash"           -> d4Simhash _,
    "d4_simhash_exactdup"  -> d4SimhashExactDup _,
    "d5_embedding_neardup" -> d5EmbeddingNearDup _,
    "d6_dup_clusters"      -> d6DupClusters _,
    "d7_cleaned_corpus"    -> d7CleanedCorpus _,
    "d8_segment_dedup"     -> d8SegmentDedup _,
    "d9_quality_canonical" -> d9QualityCanonical _,
    "d10_dup_spans"        -> d10DupSpans _,
    "d11_span_removal"     -> d11SpanRemoval _,
    "d12_delta_neardup"    -> d12DeltaNearDup _,
    "d13_semantic_dedup"   -> d13SemanticDedup _,
    "d13_semantic_dedup_skew" -> d13bSemanticDedupSkew _,
    "d14_soft_dedup_weights" -> d14SoftDedupWeights _,
  )

  /** DuckDB replay of Spark's XXH64 (seed 42) for inputs UNDER 32 BYTES,
    * as a chain of MATERIALIZED CTEs over the distinct whitespace words
    * of `documents` — the seam that flipped d4 from rows-only to a full
    * hash-exact oracle.
    *
    * Why it works: for len < 32 XXH64 has no stripe loop — it is a FIXED
    * sequence of mod-2^64 multiplies, rotates, xors and adds over at most
    * one 8-byte lane, one 4-byte lane and three tail bytes (15 bytes max;
    * the harness corpus caps words at 8). DuckDB replays each step in
    * HUGEINT: multiply via 32-bit split (a·b mod 2^64 =
    * lo(a)·lo(b) + ((hi(a)·lo(b)+lo(a)·hi(b)) mod 2^32)·2^32, every
    * intermediate < 2^65 < HUGEINT max), rotate as shift-add (disjoint
    * bits, so | = +), xor natively. Lanes read little-endian from
    * hex(encode(w)) so the replay is byte-exact for any UTF-8 input.
    * Each step is its own MATERIALIZED CTE: DuckDB inlines plain CTEs /
    * lateral aliases textually, and with ~4 references per step the
    * 25-step chain would explode exponentially at plan time (measured:
    * the un-materialized form never finishes planning; this form runs in
    * ~0.5 s). Words of 16+ bytes yield NULL (n<16 guard) — a LOUD hash
    * mismatch, never a silently wrong hash. */
  private[graft] val xxh64ShortSqlCtes: String = {
    val U = "18446744073709551616" // 2^64
    def mul(a: String, b: String) =
      s"((($a) % 4294967296) * (($b) % 4294967296)" +
        s" + (((($a) // 4294967296) * (($b) % 4294967296)" +
        s" + (($a) % 4294967296) * (($b) // 4294967296)) % 4294967296)" +
        s" * 4294967296) % $U"
    def rotl(x: String, r: Int) =
      s"((($x) * ${BigInt(1) << r}) % $U + ($x) // ${BigInt(1) << (64 - r)})"
    def add(a: String, b: String) = s"(($a) + ($b)) % $U"
    def xor(a: String, b: String) = s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"
    def shr(x: String, s0: Int) = s"(($x) // ${BigInt(1) << s0})"
    // XXH64 primes, as unsigned 64-bit decimals
    val P1 = "11400714785074694791"; val P2 = "14029467366897019727"
    val P3 = "1609587929392839161"; val P4 = "9650029242287828579"
    val P5 = "2870177450012600261"
    val lane8 = (0 until 8)
      .map(i => s"CAST(bs[${i + 1}] AS HUGEINT)*${BigInt(1) << (8 * i)}")
      .mkString(" + ")
    val lane4 = (0 until 4)
      .map(i => s"CAST(bs[off0+${i + 1}] AS HUGEINT)*${BigInt(1) << (8 * i)}")
      .mkString(" + ")
    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def c(name: String, expr: String): Unit = steps += ((name, expr))
    c("h0", s"(42 + $P5 + n) % $U")
    // one 8-byte lane (n >= 8): h ^= round(0, lane8); h = rotl(h,27)*P1+P4
    c("l8", s"($lane8)")
    c("a1", mul("l8", P2)); c("a2", rotl("a1", 31)); c("k1", mul("a2", P1))
    c("a3", xor("h0", "k1")); c("a4", rotl("a3", 27)); c("a5", mul("a4", P1))
    c("h1", s"CASE WHEN n>=8 THEN ${add("a5", P4)} ELSE h0 END")
    c("off0", "CASE WHEN n>=8 THEN 8 ELSE 0 END")
    // one 4-byte lane (n-off0 >= 4): h ^= lane4*P1; h = rotl(h,23)*P2+P3
    c("l4", s"($lane4)")
    c("b0", mul("l4", P1)); c("b1", xor("h1", "b0"))
    c("b2", rotl("b1", 23)); c("b3", mul("b2", P2))
    c("h2", s"CASE WHEN n-off0>=4 THEN ${add("b3", P3)} ELSE h1 END")
    c("off1", "CASE WHEN n-off0>=4 THEN off0+4 ELSE off0 END")
    // up to 3 tail bytes: h ^= byte*P5; h = rotl(h,11)*P1
    var prev = "h2"
    for (t <- 0 until 3) {
      c(s"t${t}m", mul(s"CAST(bs[off1+${t + 1}] AS HUGEINT)", P5))
      c(s"t${t}x", xor(prev, s"t${t}m"))
      c(s"t${t}r", rotl(s"t${t}x", 11))
      c(s"h3$t", s"CASE WHEN n-off1 > $t THEN ${mul(s"t${t}r", P1)} ELSE $prev END")
      prev = s"h3$t"
    }
    // avalanche
    c("v1", xor(prev, shr(prev, 33))); c("v2", mul("v1", P2))
    c("v3", xor("v2", shr("v2", 29))); c("v4", mul("v3", P3))
    c("hh", s"CASE WHEN n<16 THEN ${xor("v4", shr("v4", 32))} ELSE NULL END")
    val chain = steps.zipWithIndex.map { case ((name, expr), i) =>
      val src = if (i == 0) "wb" else s"x${i - 1}"
      s"x$i AS MATERIALIZED (SELECT *, $expr AS $name FROM $src)"
    }.mkString(",\n")
    s"""dw AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), words AS (
       |  SELECT DISTINCT w FROM dw
       |), wb AS MATERIALIZED (
       |  SELECT w, octet_length(encode(w)) AS n,
       |    list_transform(generate_series(1, octet_length(encode(w))),
       |      i -> (strpos('0123456789ABCDEF', substring(hex(encode(w)), 2*i-1, 1))-1)*16
       |         + (strpos('0123456789ABCDEF', substring(hex(encode(w)), 2*i, 1))-1)) AS bs
       |  FROM words
       |),
       |$chain,
       |wh AS MATERIALIZED (SELECT w, hh FROM x${steps.size - 1})""".stripMargin
  }

  /** DuckDB dot product of a list column against a ±1.0 literal plane —
    * left-to-right accumulation, bit-compatible with [[CosineSim]]'s sign. */
  private def planeDotSql(emb: String, plane: Array[Float]): String = {
    val lit = plane.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"list_sum(list_transform(generate_series(1, len($emb)), i -> CAST($emb[i] AS DOUBLE) * ($lit)[i]))"
  }

  /** Each document's distinct word 3-shingles as the list `shs` (empty
    * under three words), the shingle rule of the d2 and d3 oracles. */
  private val shingleListSql: String =
    """CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |             list_distinct(list_transform(
      |               generate_series(1, len(string_split(text, ' ')) - 2),
      |               i -> string_split(text, ' ')[i] || ' ' ||
      |                    string_split(text, ' ')[i+1] || ' ' ||
      |                    string_split(text, ' ')[i+2]))
      |           ELSE CAST([] AS VARCHAR[]) END AS shs""".stripMargin

  /** The brute-force all-pairs-Jaccard oracle core shared by d3 and d6
    * (and, package-wide, by st2's streaming-banding check and p2's funnel
    * near-dup stage): a `sh` shingle CTE and a `pairs(doc_a, doc_b,
    * jaccard)` CTE holding every pair at Jaccard >= 0.5 (doc_a < doc_b). */
  private[graft] val d3PairsSqlCtes: String =
    s"""sh AS (
      |  SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM (
      |    SELECT doc_id,
      |           $shingleListSql
      |    FROM documents)
      |),
      |pairs AS (
      |  SELECT doc_a, doc_b, jaccard FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           round(CAST(count(*) AS DOUBLE)
      |                 / (a.n_sh + b.n_sh - count(*)), 4) AS jaccard
      |    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |    GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      |  ) WHERE jaccard >= 0.5
      |)""".stripMargin

  /** DuckDB oracles. d4 is omitted (its output is a function of xxhash64,
    * which DuckDB cannot reproduce) → driver records a rows-only check;
    * its semantics are pinned by DedupSpec + the d4b differential slice. */
  /** d10's span derivation as oracle CTEs (`shing` → `marked` → `runs`
    * → `spans`), shared verbatim by the d10 and d11 oracles so the two
    * cannot desync (the [[d3PairsSqlCtes]] convention). */
  private[graft] val d10SpansSqlCtes: String =
    s"""shing AS (
       |  SELECT doc_id, p AS pos,
       |         array_to_string(list_slice(ws, p + 1, p + $D10K), ' ') AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |       unnest(range(greatest(len(ws) - ${D10K - 1}, 0))) AS t(p)
       |), marked AS (
       |  SELECT doc_id, pos,
       |         min(doc_id) OVER (PARTITION BY sh)
       |           <> max(doc_id) OVER (PARTITION BY sh) AS is_dup
       |  FROM shing
       |), runs AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (
       |           PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM marked WHERE is_dup
       |), spans AS (
       |  SELECT doc_id, min(pos) AS start_word, count(*) AS n_shingles,
       |         count(*) + ${D10K - 1} AS span_words
       |  FROM runs GROUP BY doc_id, grp
       |  HAVING count(*) >= $D10MinRun
       |)""".stripMargin

  /** d11's interval-merge derivation as oracle CTEs (`iv` → `ord` →
    * `isl` → `merged` → `perdoc`, consuming `spans` from
    * [[d10SpansSqlCtes]]) — shared verbatim by the d11 and p4 oracles so
    * a change to the merge rule cannot desync them (the same convention
    * as the span CTEs themselves). */
  private[graft] val d11MergeSqlCtes: String =
    """iv AS (
      |  SELECT doc_id, start_word AS s,
      |         start_word + span_words - 1 AS e
      |  FROM spans
      |), ord AS (
      |  SELECT doc_id, s, e,
      |         coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2)
      |           AS pmax
      |  FROM iv
      |), isl AS (
      |  SELECT doc_id, s, e,
      |         sum(CASE WHEN s > pmax + 1 THEN 1 ELSE 0 END) OVER (
      |           PARTITION BY doc_id ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS island
      |  FROM ord
      |), merged AS (
      |  SELECT doc_id, island, min(s) AS ms, max(e) AS me
      |  FROM isl GROUP BY doc_id, island
      |), perdoc AS (
      |  SELECT doc_id, count(*) AS n_excisions,
      |         CAST(sum(me - ms + 1) AS BIGINT) AS words_removed
      |  FROM merged GROUP BY doc_id
      |)""".stripMargin

  /** Connected components over `pairs(doc_a, doc_b)` as a recursive
    * closure (the query needs `WITH RECURSIVE`): `edges` makes the pairs
    * symmetric, `reach(node, lab)` closes (node, label) over them (UNION
    * dedup bounds it), and `comp(doc_id, cluster_id)` takes the minimum
    * reachable label — exactly the engine's star root. Used by d6, d7,
    * d9, d14, p2 (over its survivor pairs) and p4. */
  private[queries] def componentCtes(pairs: String): String =
    s"""edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM $pairs
       |  UNION SELECT doc_b, doc_a FROM $pairs
       |),
       |reach(node, lab) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
       |),
       |comp AS (
       |  SELECT node AS doc_id, min(lab) AS cluster_id
       |  FROM reach GROUP BY node
       |)""".stripMargin

  /** The rounded cosine of the pair `a`, `b` over normed columns. Used
    * by d13, d13b, p5 and p6 (through [[d13PairsSql]]) and st10. */
  private[queries] val pairCosineSql: String =
    Similarity.cosineSql("a.embedding", "a.nrm", "b.embedding", "b.nrm")

  /** d13's pair rule as a FROM … WHERE tail: the pairs `a`, `b` of
    * `cells(vec_id, embedding, nrm, cell, sub)` in one (cell, sub) with
    * `a.vec_id < b.vec_id` and [[pairCosineSql]] ≥ [[D13Threshold]].
    * Used by d13, d13b, p5 and p6. */
  private[queries] def d13PairsSql(cells: String): String =
    s"""FROM $cells a JOIN $cells b
       |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
       |  WHERE $pairCosineSql >= $D13Threshold""".stripMargin

  /** The greedy keep-first rule over `qual(vec_id, cell, kept_by,
    * cosine)`: each vector keeps its smallest qualifying `kept_by`. Used
    * by d13, d13b and st10. */
  private[queries] val keeperSelectSql: String =
    """SELECT vec_id, cell, kept_by, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |             ORDER BY kept_by ASC) AS rn
      |  FROM qual
      |) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** d13's answer over the sub-split cells `cells`: the [[d13PairsSql]]
    * pairs as `qual`, then [[keeperSelectSql]]. Used by d13 and d13b. */
  private def d13KeeperSql(cells: String): String =
    s"""qual AS (
       |  SELECT b.vec_id, b.cell, a.vec_id AS kept_by,
       |         $pairCosineSql AS cosine
       |  ${d13PairsSql(cells)}
       |)
       |$keeperSelectSql""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """WITH g AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents
        |)
        |SELECT doc_id,
        |       count(*) OVER (PARTITION BY fp) AS group_size,
        |       doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_keeper
        |FROM g ORDER BY doc_id""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH sh0 AS (
        |  SELECT source, doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM (
        |    SELECT source, doc_id,
        |           $shingleListSql
        |    FROM documents)
        |),
        |sh AS (  -- doc-frequency cap, mirroring the engine's stop-shingle filter
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY source, sh) AS df FROM sh0
        |  ) WHERE df <= $MaxShingleDocFreq
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
        |       round(CAST(count(*) AS DOUBLE)
        |             / (a.n_sh + b.n_sh - count(*)), 4) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // d4: full replay — XXH64 words (the MATERIALIZED chain), per-bit
    // tf-weighted sign votes, the four 16-bit chunk keys, the capped
    // bucket candidate join, group re-expansion, and the ranked limit.
    "d4_simhash" ->
      s"""WITH $xxh64ShortSqlCtes,
         |sign_rows AS (
         |  SELECT dw.doc_id, b.b,
         |    CASE WHEN (wh.hh // (CAST(1 AS HUGEINT) << b.b)) % 2 = 1
         |         THEN 1 ELSE -1 END AS s
         |  FROM dw JOIN wh USING (w)
         |  CROSS JOIN (SELECT unnest(generate_series(0,63)) AS b) b
         |), fps AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN cnt > 0 THEN CAST(1 AS HUGEINT) << b
         |             ELSE 0 END) AS HUGEINT) AS fp
         |  FROM (SELECT doc_id, b, sum(s) AS cnt FROM sign_rows
         |        GROUP BY doc_id, b)
         |  GROUP BY doc_id
         |), sigs AS MATERIALIZED (
         |  SELECT min(d.doc_id) AS rep_id, list(d.doc_id) AS members,
         |         min(f.fp) AS fp
         |  FROM documents d JOIN fps f USING (doc_id)
         |  GROUP BY md5(d.text)
         |), chunks AS MATERIALIZED (
         |  SELECT rep_id, fp, j.j AS chunk_idx,
         |    (fp // (CAST(1 AS HUGEINT) << (16*j.j))) % 65536 AS chunk
         |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,3)) AS j) j
         |), bkt AS (
         |  SELECT chunk_idx, chunk, count(*) AS sz
         |  FROM chunks GROUP BY chunk_idx, chunk
         |), repcand AS (
         |  SELECT DISTINCT a.rep_id AS rep_a, b.rep_id AS rep_b
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
         |   AND a.rep_id < b.rep_id
         |  JOIN bkt k ON k.chunk_idx = a.chunk_idx AND k.chunk = a.chunk
         |  WHERE k.sz BETWEEN 2 AND ${MaxChunkBucket}
         |), repham AS (
         |  SELECT rc.rep_a, rc.rep_b, sa.fp AS fp_a, sb.fp AS fp_b,
         |    bit_count(xor(CAST(sa.fp AS UBIGINT), CAST(sb.fp AS UBIGINT)))
         |      AS hamming
         |  FROM repcand rc
         |  JOIN sigs sa ON sa.rep_id = rc.rep_a
         |  JOIN sigs sb ON sb.rep_id = rc.rep_b
         |), mem AS MATERIALIZED (
         |  SELECT rep_id, unnest(members) AS m FROM sigs
         |), crossp AS (
         |  SELECT least(ma.m, mb.m) AS doc_a, greatest(ma.m, mb.m) AS doc_b,
         |    CASE WHEN ma.m < mb.m THEN r.fp_a ELSE r.fp_b END AS fp_a,
         |    CASE WHEN ma.m < mb.m THEN r.fp_b ELSE r.fp_a END AS fp_b,
         |    r.hamming
         |  FROM repham r
         |  JOIN mem ma ON ma.rep_id = r.rep_a
         |  JOIN mem mb ON mb.rep_id = r.rep_b
         |), withinp AS (
         |  SELECT a.m AS doc_a, b.m AS doc_b, s.fp AS fp_a, s.fp AS fp_b,
         |    0 AS hamming
         |  FROM sigs s
         |  JOIN mem a ON a.rep_id = s.rep_id
         |  JOIN mem b ON b.rep_id = s.rep_id
         |  WHERE a.m < b.m AND len(s.members) >= 2
         |), allp AS (
         |  SELECT * FROM crossp UNION ALL SELECT * FROM withinp
         |)
         |SELECT doc_a, doc_b, hamming,
         |  CASE WHEN fp_a = 0 THEN '0'
         |       ELSE ltrim(hex(CAST(fp_a AS UBIGINT)), '0') END AS fp_a,
         |  CASE WHEN fp_b = 0 THEN '0'
         |       ELSE ltrim(hex(CAST(fp_b AS UBIGINT)), '0') END AS fp_b
         |FROM allp WHERE hamming <= 8
         |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin,
    "d4_simhash_exactdup" ->
      s"""WITH docs AS (  -- planted-duplicate augmentation, mirroring d4bAugmented
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $D4bIdShift AS doc_id, text
        |  FROM documents WHERE doc_id % $D4bEvery = 0
        |),
        |f AS (SELECT doc_id, md5(text) AS tfp FROM docs)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming
        |FROM f a JOIN f b ON a.tfp = b.tfp AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $d3PairsSqlCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d14: the d6 recursive component closure, singleton fallback to the
    // doc's own id, cluster sizes, and the fixed-point effective mass
    "d14_soft_dedup_weights" ->
      s"""WITH RECURSIVE $d3PairsSqlCtes,
         |${componentCtes("pairs")},
         |tokd AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents
         |),
         |cl AS (
         |  SELECT t.doc_id, coalesce(c.cluster_id, t.doc_id) AS cluster_id,
         |         t.tok
         |  FROM tokd t LEFT JOIN comp c USING (doc_id)
         |),
         |sz AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size,
         |       round(1.0 / s.cluster_size, 4) AS weight, c.tok,
         |       (c.tok * 10000) // s.cluster_size AS tok_eff_1e4
         |FROM cl c JOIN sz s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,
    "d6_dup_clusters" ->
      // Connected components over the same brute-force pair set
      // ([[componentCtes]]), with each component's size.
      s"""WITH RECURSIVE $d3PairsSqlCtes,
         |${componentCtes("pairs")},
         |sz AS (
         |  SELECT cluster_id, count(*) AS cluster_size
         |  FROM comp GROUP BY cluster_id
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size,
         |       c.doc_id = c.cluster_id AS is_canonical
         |FROM comp c JOIN sz s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,
    "d9_quality_canonical" ->
      // same component closure as d6/d7; quality is t2's expression tree
      // (identical IEEE ops, rounded to 4 before the argmax rank, so the
      // winner choice replays bit-for-bit)
      s"""WITH RECURSIVE $d3PairsSqlCtes,
         |${componentCtes("pairs")},
         |qd AS (
         |  SELECT doc_id,
         |         ${TextAnalysis.qualityInputsSql}
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM comp)
         |),
         |q AS (
         |  SELECT doc_id,
         |         round(${TextAnalysis.qualitySql}, 4)
         |           AS quality
         |  FROM qd
         |),
         |r AS (
         |  SELECT c.cluster_id, c.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY q.quality DESC, c.doc_id)
         |           AS rn,
         |         count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM comp c JOIN q USING (doc_id)
         |)
         |SELECT cluster_id, n_members, doc_id AS kept_doc,
         |       quality AS kept_quality,
         |       doc_id <> cluster_id AS policy_differs
         |FROM r WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,
    "d7_cleaned_corpus" ->
      // same component closure; survivors = docs that are not a
      // non-root member of any component
      s"""WITH RECURSIVE $d3PairsSqlCtes,
         |${componentCtes("pairs")},
         |drops AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
         |SELECT d.source, count(*) AS n_docs,
         |       count(*) - count(x.doc_id) AS n_kept,
         |       count(x.doc_id) AS n_dropped,
         |       CAST(sum(CASE WHEN x.doc_id IS NULL THEN d.n_chars ELSE 0 END)
         |            AS BIGINT) AS chars_kept
         |FROM documents d LEFT JOIN drops x ON d.doc_id = x.doc_id
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,
    "d5_embedding_neardup" -> {
      val bits = (0 until D5Bits).map { b =>
        s"(CASE WHEN ${planeDotSql("embedding", d5Planes(b))} > 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH sg AS (
         |  SELECT vec_id, label, embedding,
         |         $bits AS bkt,
         |         ${Similarity.normSql("embedding")} AS nrm
         |  FROM embeddings
         |),
         |capped AS (  -- block cap, mirroring the engine's D5MaxBlock filter
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY label, bkt) AS bsz FROM sg
         |  ) WHERE bsz <= $D5MaxBlock
         |)
         |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_sum(list_transform(
         |               generate_series(1, len(a.embedding)),
         |               i -> CAST(a.embedding[i] AS DOUBLE)
         |                    * CAST(b.embedding[i] AS DOUBLE)))
         |             / (a.nrm * b.nrm), 4) AS cosine
         |FROM capped a JOIN capped b
         |  ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         |ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""".stripMargin
    },
    "d8_segment_dedup" ->
      s"""WITH segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |         md5(array_to_string(
        |           list_slice(ws, i * $SegWords + 1,
        |                      i * $SegWords + $SegWords), ' ')) AS fp,
        |         len(list_slice(ws, i * $SegWords + 1,
        |                        i * $SegWords + $SegWords)) AS seg_tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |       unnest(range((len(ws) + ${SegWords - 1}) // $SegWords)) AS t(i)
        |), marked AS (
        |  SELECT doc_id, seg_tok,
        |         row_number() OVER (
        |           PARTITION BY fp ORDER BY doc_id, seg_idx) > 1 AS is_dup
        |  FROM segs
        |)
        |SELECT doc_id,
        |       count(*) AS n_segs,
        |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_segs,
        |       round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 4) AS dup_ratio,
        |       CAST(sum(seg_tok) AS BIGINT) AS n_tok,
        |       CAST(sum(CASE WHEN is_dup THEN 0 ELSE seg_tok END) AS BIGINT)
        |         AS tok_kept
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d12: brute-force all-pairs Jaccard (the d3 CTE) restricted to
    // delta endpoints, plus the exact-dup window over md5(text) — the
    // incremental probe must find exactly what a full-corpus recompute
    // would have found touching the delta (same banding-recall argument
    // as d3's oracle; a lost cross probe, a capped-away bucket that
    // mattered, or a broken per-side collapse drops a partner count and
    // hash-mismatches).
    "d12_delta_neardup" ->
      s"""WITH $d3PairsSqlCtes,
         |m AS (
         |  SELECT doc_id, md5(text) AS tfp,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
         |           >= '$D12DeltaBucket' AS is_delta
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, is_delta,
         |         sum(CASE WHEN is_delta THEN 0 ELSE 1 END)
         |           OVER (PARTITION BY tfp) AS n_ex,
         |         min(CASE WHEN is_delta THEN doc_id END)
         |           OVER (PARTITION BY tfp) AS min_dl
         |  FROM m
         |), sym AS (
         |  SELECT doc_a AS doc_id, jaccard FROM pairs
         |  UNION ALL
         |  SELECT doc_b, jaccard FROM pairs
         |), nd AS (
         |  SELECT doc_id, count(*) AS n_neardup, max(jaccard) AS max_jaccard
         |  FROM sym GROUP BY doc_id
         |)
         |SELECT f.doc_id,
         |       (f.n_ex > 0 OR f.doc_id > f.min_dl) AS is_exact_dup,
         |       CAST(coalesce(nd.n_neardup, 0) AS BIGINT) AS n_neardup,
         |       coalesce(nd.max_jaccard, 0.0) AS max_jaccard
         |FROM f LEFT JOIN nd USING (doc_id)
         |WHERE f.is_delta
         |ORDER BY f.doc_id""".stripMargin,
    // d10: string shingles where the engine uses xxhash64 — the t8/t17
    // injectivity contract; positions and the islands arithmetic mirror
    // the engine exactly.
    "d10_dup_spans" ->
      s"""WITH $d10SpansSqlCtes
         |SELECT doc_id, start_word, n_shingles, span_words
         |FROM spans
         |ORDER BY doc_id, start_word""".stripMargin,
    // d11: the d10 spans (same CTEs) widened to word intervals, merged
    // with the identical running-max islands pass, then the text
    // reassembled INDEPENDENTLY of the engine (positional word unnest +
    // anti-semijoin against the merged intervals + ordered string_agg)
    // — a stitch bug, an off-by-one interval bound, or a double-deleted
    // overlap shifts text_clean/words_removed and hash-mismatches.
    "d11_span_removal" ->
      s"""WITH $d10SpansSqlCtes,
         |$d11MergeSqlCtes, words AS (
         |  SELECT doc_id, p AS pos, ws[p + 1] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM perdoc)),
         |       unnest(range(len(ws))) AS t(p)
         |), kept AS (
         |  SELECT w.doc_id, string_agg(w.word, ' ' ORDER BY w.pos)
         |           AS text_clean
         |  FROM words w
         |  WHERE NOT EXISTS (SELECT 1 FROM merged m
         |                    WHERE m.doc_id = w.doc_id
         |                      AND w.pos BETWEEN m.ms AND m.me)
         |  GROUP BY w.doc_id
         |)
         |SELECT p.doc_id, p.n_excisions,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |         AS words_before,
         |       p.words_removed,
         |       coalesce(k.text_clean, '') AS text_clean
         |FROM perdoc p
         |JOIN documents d USING (doc_id)
         |LEFT JOIN kept k USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    // d13: the s2 cell-assignment CTEs verbatim (shared text), then the
    // within-cell pairwise threshold and the smallest-keeper argmin —
    // the greedy keep-first rule replayed exactly
    "d13_semantic_dedup" ->
      s"""WITH ${Similarity.sharedOracleCtes},
         |${Similarity.cellsOracleCtes},
         |${Similarity.boundedSubCtes("cells", "bcells")},
         |${d13KeeperSql("bcells")}""".stripMargin,
    // d13b: the same cent seeds (ORGANIC en), the planted augmentation
    // replayed with exact float adds, assignment + threshold + argmin
    // over the augmented normed corpus
    "d13_semantic_dedup_skew" ->
      s"""WITH ${Similarity.sharedOracleCtes},
         |${Similarity.centOracleCte},
         |base AS (
         |  SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1
         |),
         |aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT e.vec_id + $D13bIdShift,
         |         list_transform(generate_series(1, len(b.embedding)),
         |           i -> CASE WHEN i - 1 = e.vec_id % 64
         |                THEN CAST(b.embedding[CAST(i AS INT)] + 0.25 AS REAL)
         |                ELSE b.embedding[CAST(i AS INT)] END)
         |  FROM embeddings e CROSS JOIN base b
         |),
         |${Similarity.normedCte("aug_en", "aug")},
         |${Similarity.rankedCellsCte("acells", "aug_en a", "cent c",
              Similarity.EnRow, "= 1")},
         |${Similarity.boundedSubCtes("acells", "bacells")},
         |${d13KeeperSql("bacells")}""".stripMargin,
  )

}
