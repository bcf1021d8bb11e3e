package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashFunctions.word_shingle_hashes
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline, over the harness
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Extends the reference's scalar-function surface (SURVEY.md §2.7 — the
  * reference only needs year-extraction and arithmetic) with the analysis
  * kit a 100 TB corpus pipeline needs: token counting, quality scoring,
  * language identification, and content fingerprinting.
  *
  * Every query here is a narrow projection over a single scan — no joins,
  * no shuffles except the final aggregation/sort — so at scale each is one
  * map stage over the corpus plus a small reduce. All expressions are
  * Spark built-ins (codegen'd, no UDFs) chosen so DuckDB can evaluate the
  * exact same arithmetic for the differential oracle:
  *   - tokenization = split on a single literal space on both sides;
  *   - ratios are IEEE-double ops on per-row values (deterministic, no
  *     cross-row float accumulation), rounded for display;
  *   - fingerprints = md5 hex (lowercase in both engines).
  */
object TextAnalysis {

  /** Words-per-language profiles for the stopword-hit language scorer.
    * Standard high-frequency function words (public knowledge). */
  private val stopEn = Seq("the", "a", "of", "to", "in", "and")
  private val stopDe = Seq("der", "die", "und", "das", "ein", "von")
  private val stopFr = Seq("le", "la", "les", "et", "un", "des")
  private val stopEs = Seq("el", "los", "las", "una", "que", "es")

  private def words(c: Column): Column = split(c, " ")

  /** Count of tokens from `words` that appear in `stops`. Uses the
    * higher-order `filter` (codegen-friendly, no UDF); identical lambda is
    * expressible in DuckDB's `list_filter`. */
  private def stopHits(c: Column, stops: Seq[String]): Column =
    size(filter(words(c), w => w.isin(stops: _*)))

  /** Token counting three ways: whitespace split, BPE-ish word-piece regex
    * (`[a-z0-9]+` runs), and punctuation-ish residue (`[^a-z0-9 ]`). The
    * regex token count is the standard pre-tokenizer estimate for LLM
    * training budgets. */
  /** Expensive per-row projections sit ABOVE the presentation sort (r22,
    * guide §1.2 "don't compute things you throw away"): a global orderBy
    * plans as a range exchange whose partitioner SAMPLES its child — the
    * sample pass executes the full child plan and discards it, so any
    * expensive projection below the sort is evaluated TWICE per row
    * (measured on t1 at ScaleGen sf10: two 32-task stages of ~445 s task
    * time each, one of them the sample). With the projection above the
    * sort, the sampled child is the bare scan and the regex kernels run
    * once. Trade-off, documented: the range exchange now carries `text`
    * instead of three ints (§2.3 would prefer the narrow shuffle), but
    * the duplicated compute costs ~0.9 ms/doc against ~0.5 µs/doc of
    * extra exchange bytes — compute-once wins by three orders of
    * magnitude, at every scale. Output rows, schema and order unchanged
    * (the projection is a narrow, order-preserving map over the sorted
    * stream). Same pattern: t2, t19, m5. */
  def t1TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("word_tokens"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).as("punct_chars"),
        col("n_chars"))

  /** Document quality scoring: length, average word length, stopword
    * ratio, punctuation ratio, folded into one bounded [0,1] score —
    * the usual cheap heuristics for corpus filtering. All arithmetic is
    * per-row IEEE double (no cross-row accumulation), so Spark and DuckDB
    * agree bit-for-bit before the display rounding. */
  /** The t2 quality formula as a reusable expression (same term order in
    * the DuckDB mirror — IEEE ops are exactly specified, so identical
    * expression trees produce identical bits; [[Pipeline]] thresholds on
    * the UNROUNDED value and stays differential). */
  private[queries] def qualityExpr(text: Column, nChars: Column): Column = {
    val nWords = size(words(text)).cast("double")
    val stopRatio = stopHits(text, stopEn).cast("double") / nWords
    val punctRatio =
      regexp_count(text, lit("[^a-z0-9 ]")).cast("double") /
        nChars.cast("double")
    lit(0.5) * least(nWords / lit(50.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.2) * least(stopRatio * lit(5.0), lit(1.0))
  }

  def t2QualityScore(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(words(col("text"))).cast("double")
    val stopRatio = stopHits(col("text"), stopEn).cast("double") / nWords
    val punctRatio =
      regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("double") /
        col("n_chars").cast("double")
    // projection above the presentation sort — the t1 sample-pass rule
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        nWords.cast("int").as("n_words"),
        round(stopRatio, 4).as("stop_ratio"),
        round(punctRatio, 4).as("punct_ratio"),
        round(qualityExpr(col("text"), col("n_chars")), 4).as("quality"))
  }

  /** Language identification by stopword-profile scoring (the classic
    * cheap n-gram/function-word heuristic): score each candidate language
    * by hits of its function words, CJK codepoints short-circuit to "zh",
    * argmax with a fixed tie-break order, "und" when nothing matches.
    * Output = confusion counts vs the table's `lang` ground truth. */
  /** The t3 language-ID decision as a reusable expression ([[Pipeline]]
    * gates its langid stage on this exact chain). */
  private[queries] def predictedExpr(t: Column): Column = {
    val he = stopHits(t, stopEn); val hd = stopHits(t, stopDe)
    val hf = stopHits(t, stopFr); val hs = stopHits(t, stopEs)
    // Java regex unicode escape; the DuckDB oracle spells the same class
    // as RE2 \x{...} — same codepoint range.
    val cjk = regexp_count(t, lit("[\\x{4e00}-\\x{9fff}]"))
    when(cjk > 0, "zh")
      .when(greatest(he, hd, hf, hs) === 0, "und")
      .when(he >= greatest(hd, hf, hs), "en")
      .when(hd >= greatest(hf, hs), "de")
      .when(hf >= hs, "fr")
      .otherwise("es")
  }

  def t3LangId(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("lang"), predictedExpr(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Content fingerprinting for exact-dup detection scaffolding: md5 of
    * the text (lowercase hex in both engines), rolled up per source with
    * distinct-fingerprint counts — the map-side of hash-dedup at scale
    * (the dedup itself is in [[Dedup]]). */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("distinct_fp"),
        min(col("fp")).as("min_fp"))
      .orderBy(col("source"))

  /** t5 — winnowing document fingerprints over the [[graft.functions
    * .RollingHash]] codegen kernel: every 8-char window is Rabin-Karp
    * hashed in one O(n) pass, then winnowing keeps the minimum hash of
    * each 4-hash window — the classic local fingerprinting scheme whose
    * guarantee is that any sufficiently long shared substring yields at
    * least one shared fingerprint. Full DuckDB oracle since r14: the
    * rolling recurrence mod P is exactly the direct polynomial hash
    * Σ byte·B^j mod P (modular arithmetic is exact), and with B=131,
    * k=8 every window's un-reduced polynomial sum < 1.8e17 fits BIGINT —
    * so the oracle hex-decodes the UTF-8 bytes and replays each window
    * directly, no rolling state needed. The O(n·w) slice-min replay of
    * [[graft.functions.SlidingMin]] is fine at oracle scale. Semantics
    * additionally pinned by TextAnalysisSpec.
    */
  def t5WinnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.{rolling_hash, sliding_min}
    val w = 4
    val hs = rolling_hash(col("text"), 8)
    // O(n) monotonic-deque window minimum (SlidingMin); documents shorter
    // than the winnow window keep all their hashes as fingerprints
    val fps = when(size(col("hs")) >= w,
      array_distinct(sliding_min(col("hs"), w)))
      .otherwise(array_distinct(col("hs")))
    Tables.documents(s, dir)
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_windows"), fps.as("fps"))
      .select(col("doc_id"), col("n_windows"),
        size(col("fps")).as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"))
      .orderBy(col("doc_id"))
  }

  /** t5b — the oracle-checkable INVARIANTS of t5 (whose hash values
    * DuckDB cannot reproduce): the window count is a pure function of the
    * text's BYTE length (n_windows = max(byte_len - 7, 0) — DuckDB's
    * `strlen` is byte length), and the winnowed fingerprint count obeys
    * 0 < n_fp <= n_windows exactly when any window exists (value-level
    * dedup means no tighter position-based lower bound holds — a
    * repetitive document can collapse every window to one hash). The
    * booleans are computed from engine-specific values but their TRUTH is
    * engine-independent, so the driver's hash compare becomes a real
    * differential gate over t5's algebra. */
  def t5WinnowInvariants(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.{rolling_hash, sliding_min}
    val w = 4
    val fps = when(size(col("hs")) >= w,
      array_distinct(sliding_min(col("hs"), w)))
      .otherwise(array_distinct(col("hs")))
    Tables.documents(s, dir)
      .select(col("doc_id"), rolling_hash(col("text"), 8).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_windows"), fps.as("fps"))
      .select(
        col("doc_id"),
        col("n_windows"),
        ((col("n_windows") === 0 && size(col("fps")) === 0) ||
          (col("n_windows") >= 1 && size(col("fps")).between(1, col("n_windows"))))
          .as("fp_count_ok"),
        // every Rabin-Karp hash lives in [0, 2^31-1)
        (size(col("fps")) === 0 ||
          (array_min(col("fps")) >= 0 && array_max(col("fps")) < 2147483647L))
          .as("fp_range_ok"))
      .orderBy(col("doc_id"))
  }

  /** t6 — deterministic content-hash train/val split: a document's split
    * is a pure function of its id (first md5 hex byte < 0xcd ≈ 80.1%),
    * so the assignment is stable across runs, engines, partitionings and
    * scale — the property random `sample()` lacks and a reproducible
    * training pipeline requires. Output = lang × split counts. */
  def t6TrainValSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    Tables.documents(s, dir)
      .select(col("lang"),
        when(bucket < "cd", "train").otherwise("val").as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))
  }

  /** t7's per-stratum keep rates, expressed as the 4-hex-digit md5-prefix
    * threshold they compile to (rate r keeps prefixes < hex(r·16⁴)) and
    * the 1/r importance weight a downsampled corpus must carry into
    * training. `en` dominates the harness corpus and is cut to 1/4; `zh`
    * is kept at 3/4; the rest at 1/2. */
  private val t7Strata: Seq[(String, String, Double)] = Seq(
    ("en", "4000", 4.0), ("zh", "c000", 1.3333))
  private val t7Default: (String, Double) = ("8000", 2.0)

  /** t7 — deterministic stratified (language-rebalancing) sampling: keep
    * a document iff a 16-bit uniform derived from its id-hash falls under
    * its stratum's rate, and attach the 1/rate importance weight. Same
    * engine-independence contract as t6: membership is a pure function of
    * doc_id, so the sample is identical across runs, engines, partition
    * layouts and scale factors — `df.sample()` guarantees none of these.
    * At 100 TB this is a scan-side filter (no shuffle, no state): the
    * rate schedule is a constant-folded CASE, and adding strata means
    * editing a literal table, not re-shuffling the corpus. Output is the
    * row-level sample itself, so the oracle check is membership-exact. */
  def t7StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val prefix = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
    val th = t7Strata.foldLeft(null: Column) { case (acc, (lang, hex, _)) =>
      if (acc == null) when(col("lang") === lang, hex)
      else acc.when(col("lang") === lang, hex)
    }.otherwise(t7Default._1)
    val weight = t7Strata.foldLeft(null: Column) { case (acc, (lang, _, w)) =>
      if (acc == null) when(col("lang") === lang, w)
      else acc.when(col("lang") === lang, w)
    }.otherwise(t7Default._2)
    Tables.documents(s, dir)
      .filter(prefix < th)
      .select(col("doc_id"), col("lang"), weight.as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Shingle width for the t8 contamination check. 5-gram word shingles
    * discriminate on this corpus: 3-grams flag every val doc (stop-phrase
    * collisions), 5-grams flag only genuine cross-split text reuse. Real
    * decontamination pipelines use 8–13; the width is a single literal. */
  private val ContamN = 5

  /** t8: train→val contamination check (benchmark-decontamination shape).
    * Splits the corpus with t6's deterministic md5 rule, builds the
    * DISTINCT train-side shingle set, and scores every val doc by the
    * fraction of its distinct 5-gram shingles that appear anywhere in
    * train. Flagged docs are what a pipeline would quarantine before
    * using `val` as an eval set.
    *
    * Scale shape: both sides come off one scan; the join key is the
    * 8-byte shingle hash (word_shingle_hashes kernel, same contract as
    * d2). Because the train side is DISTINCT, every val shingle matches
    * at most ONE train row — stop-shingle skew cannot amplify the join
    * output (unlike pair expansion in d2, which needs a doc-freq cap), so
    * the whole check is two shuffles (distinct + join-then-agg) with
    * output exactly |val shingles| rows. No cap, no cross-row floats:
    * the frac is a per-row integer division rounded at the end. */
  def t8Contamination(s: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), (bucket < "cd").as("is_train"),
        word_shingle_hashes(col("text"), ContamN).as("shs"))
      .select(col("doc_id"), col("is_train"), explode(col("shs")).as("sh"))
    val trainSh = ex.filter(col("is_train")).select(col("sh")).distinct()
    ex.filter(!col("is_train"))
      .join(trainSh.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh").cast("double"), 4)
          .as("contam_frac"))
      .orderBy(col("contam_frac").desc, col("doc_id"))
      .limit(20)
  }

  /** A token is "rare" when its whole-corpus occurrence count is at or
    * below this. ≤2 keeps hapax/dis legomena — the gibberish signal. */
  private val RareMaxFreq = 2L

  /** t9: corpus-frequency quality filter (the two-pass CCNet shape:
    * derive a statistic FROM the corpus, then score each doc against
    * it). Pass 1 builds whole-corpus token frequencies; pass 2 scores
    * every doc by the fraction of its token occurrences that are rare
    * (corpus freq ≤ [[RareMaxFreq]]). High rare_ratio = likely gibberish,
    * OCR noise, or boilerplate IDs — what an LM-quality filter drops.
    *
    * Scale shape: two scans of the corpus (inherent to two-pass corpus
    * statistics; a pipeline would cache the token projection). The probe
    * join's build side is pre-filtered to the RARE vocab slice, and rare
    * tokens have ≤ [[RareMaxFreq]] occurrences BY CONSTRUCTION, so no
    * join key on either side is hot — frequent tokens ("the") simply
    * miss the left join and amplify nothing. All arithmetic is integer
    * counts plus one final per-row division (no logs, no cross-row
    * floats), so DuckDB reproduces the hash bit-for-bit. */
  def t9RareTokens(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val rare = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= RareMaxFreq)
      .select(col("tok"), lit(1).as("rare"))
    tok.join(rare, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), count(col("rare")).as("n_rare"))
      .select(col("doc_id"), col("n_tok"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_tok").cast("double"), 4)
          .as("rare_ratio"))
      .orderBy(col("rare_ratio").desc, col("doc_id"))
      .limit(20)
  }

  /** Context-window width (tokens) for t10's concat-and-chunk packing. */
  private val PackWindow = 2048L

  /** t10 — sequence-packing provenance (the concat-and-chunk prep every
    * LLM pretraining run does: documents concatenated in a deterministic
    * order, the token stream chunked into fixed context windows). Each
    * doc's window is the chunk its FIRST token lands in — computed from
    * the running token count via one ordered window per source — and the
    * output profiles every chunk: docs starting there, their token mass,
    * and the fill ratio (can exceed 1 where a long doc straddles chunks;
    * that's the straddle accounting, not an error).
    *
    * Scale shape: ONE shuffle on `source` then an in-partition sort by
    * doc_id — a running sum is inherently sequential within its pack
    * unit, so the pack key IS the parallelism knob: real runs pack per
    * (source, shard) with shard = a hash of doc_id to bound partition
    * size; the harness corpus packs per source. Integer token counts and
    * integer division keep both engines bit-identical. */
  def t10SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", expr(s"cum_before div $PackWindow"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .select(col("source"), col("bin"), col("n_docs"), col("n_tok"),
        round(col("n_tok").cast("double") / PackWindow, 4).as("fill_ratio"))
      .orderBy(col("source"), col("bin"))
  }

  /** t11 — repetition signals (the Gopher-report repetition filters,
    * Rae et al. 2021 §A1.1, word-level): per doc, the fraction of token
    * OCCURRENCES belonging to a repeated type (`rep_ratio`) and the
    * single most frequent type's share (`top_share`). Machine-generated
    * or template text scores high on both; t2's length/punct heuristics
    * can't see it.
    *
    * Scale shape: explode → count per (doc, type) → re-aggregate per
    * doc. Both shuffles key on doc_id(+type) — fine-grained by
    * construction, partial-agg'd map-side, no hot key possible (a doc's
    * own length bounds its group). Deliberately NOT the per-row
    * `transform(array_distinct(...), count-occurrences)` composition:
    * that is O(types × tokens) per document — quadratic in doc length,
    * a scale-killer on book-length docs — while this shape stays O(n).
    * Integer counts + one final division keep DuckDB bit-identical. */
  def t11Repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n")).as("n_tok"), count(lit(1)).as("n_types"),
        max(col("n")).as("top_freq"),
        sum(when(col("n") > 1L, col("n")).otherwise(lit(0L))).as("rep_occ"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("n_types"),
        round(col("rep_occ").cast("double") / col("n_tok"), 4).as("rep_ratio"),
        round(col("top_freq").cast("double") / col("n_tok"), 4).as("top_share"))
      .orderBy(col("doc_id"))

  /** t12 — quantized-surprisal unigram LM score (the CCNet-style
    * "perplexity filter" shape, Wenzek et al. 2019 §4.3: score every doc
    * against a language-model statistic derived from a reference corpus;
    * here the corpus's own unigram distribution). A token's surprisal is
    * quantized to whole BITS via pure integer/string ops —
    * `length(bin(total div freq)) - 1` = floor(log2(total/freq)) — so
    * there is NO floating-point log and NO cross-row float accumulation
    * anywhere: per-doc totals are integer sums, and the mean is one final
    * per-row division. Both engines therefore agree bit-for-bit, where a
    * sum of `ln()`s over shuffled rows would be order-dependent and
    * engine-dependent. High mean_bits = improbable-token text (gibberish,
    * IDs, OCR noise); low = repetitive/templated text.
    *
    * Scale shape: two corpus scans (inherent to two-pass corpus
    * statistics, same contract as t9) feeding three shuffles — the
    * (doc, tok) pre-aggregation, the vocab aggregation, and the
    * freq-lookup join. The probe side is per-(doc,tok) DISTINCT, so the
    * hottest key ("the") carries at most n_docs rows — never
    * n_occurrences — and the build side has exactly ONE row per key, so
    * the join amplifies nothing; residual partition imbalance is what
    * AQE's skew-join split exists for. This single-shuffle-join lookup is
    * the right plan for a vocabulary WITHOUT frequency skew — measured:
    * the harness corpus is near-uniform over its 31 types (top-8 carry
    * 27% of occurrences, duckdb, sf0.1) — while a Zipf-skewed open-web
    * corpus wants [[t12SurprisalZipf]]'s head-broadcast split instead. */
  def t12Surprisal(s: SparkSession, dir: String): DataFrame =
    surprisalCore(s, dir, materializePairs = false) { (docTok, scoredVocab) =>
      docTok.join(scoredVocab.select(col("tok"), col("bits")), Seq("tok"))
    }

  /** Head-vocab size for t12's Zipf broadcast split. The harness corpus
    * has 31 token types, so 8 keeps BOTH branches non-trivially
    * exercised at every SF; on an open-web corpus this is the "few
    * thousand types cover ~90% of occurrences" knob. */
  private val HeadVocabK = 8

  /** t12 variant — the Zipf head-vocab broadcast split of the surprisal
    * freq lookup (same rows as [[t12Surprisal]], same oracle): the
    * top-[[HeadVocabK]] types by frequency are BROADCAST, so on a
    * Zipf-skewed corpus — where a few thousand head types cover ~90% of
    * occurrences — the hot pair rows resolve map-side and never reach an
    * exchange. The tail join stays a shuffle (hint-pinned: the tail
    * vocab is billions of cold types at corpus scale, never
    * broadcastable), and a broadcast anti-join prefilters the probe so
    * ONLY tail pairs are hashed into it. The (doc,tok) aggregate feeding
    * three branches (vocab, head probe, tail probe) is
    * [[graft.Materialize]]d — one materialization of the pre-aggregated
    * pairs instead of two corpus re-scans, the d3-shingle tradeoff.
    *
    * Kept as its OWN catalog entry rather than replacing t12: the split
    * is a DATA-SHAPE-conditional plan choice, not a universal win. On
    * the harness corpus the vocabulary is near-uniform (head-8 covers
    * 27% of occurrences, not ~90%), so the split's extra stage barriers
    * (head TakeOrdered + broadcast + anti + union) cost ~0.5 s at sf0.1
    * against the single-join's 0.55 s with no exchange-volume win
    * anywhere — the honest default for this data is the single join, and
    * this entry measures what the split costs so the crossover is a
    * recorded number, not a guess (see SCALING.md). */
  def t12SurprisalZipf(s: SparkSession, dir: String): DataFrame =
    surprisalCore(s, dir, materializePairs = true) { (docTok, scoredVocab) =>
      // head selection is a TakeOrdered over the vocab (tiny relative to
      // the corpus); freq-tie boundary membership cannot change the
      // result because head and tail carry identical bits for the same
      // type. The SAME broadcast subtree serves the equi-join and both
      // anti-joins so the exchange is built once and reused
      val head = broadcast(
        scoredVocab.orderBy(col("freq").desc, col("tok")).limit(HeadVocabK)
          .select(col("tok"), col("bits")))
      val tailScored = scoredVocab.join(head, Seq("tok"), "left_anti")
        .select(col("tok"), col("bits"))
      val headHit = docTok.join(head, Seq("tok"))
        .select(col("tok"), col("doc_id"), col("n_dt"), col("bits"))
      val tailHit = docTok.join(head, Seq("tok"), "left_anti")
        .join(tailScored.hint("shuffle_hash"), Seq("tok"))
        .select(col("tok"), col("doc_id"), col("n_dt"), col("bits"))
      headHit.union(tailHit)
    }

  /** Shared t12 skeleton: corpus → (doc,tok) counts → scored vocab →
    * `lookup` (the freq-join strategy under test) → per-doc mean bits.
    * `materializePairs` decides whether the (doc,tok) aggregate is
    * materialized (the Zipf split consumes it thrice; the single join's
    * two consumers measured faster re-deriving it from the scan). */
  private def surprisalCore(s: SparkSession, dir: String,
      materializePairs: Boolean)(
      lookup: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n_dt"))
    val docTok = if (materializePairs) graft.Materialize(pairs) else pairs
    // vocab feeds BOTH the per-type bits and the grand total: without the
    // materialization the plan recomputes the (doc,tok) agg a third time
    // just to sum the frequencies (graft.Explain, sf0.1)
    val vocab = graft.Materialize(
      docTok.groupBy(col("tok")).agg(sum(col("n_dt")).as("freq")))
    val total = vocab.agg(sum(col("freq")).as("total"))
    // 1-row grand total: Spark broadcasts it (BroadcastNestedLoopJoin of
    // a single row), so no shuffle is added
    val scoredVocab = vocab.crossJoin(broadcast(total))
      .select(col("tok"), col("freq"),
        (length(bin(expr("total div freq"))) - 1).cast("long").as("bits"))
    lookup(docTok, scoredVocab)
      .groupBy(col("doc_id"))
      .agg(sum(col("n_dt")).as("n_tok"),
        sum(col("n_dt") * col("bits")).as("bits_sum"))
      .select(col("doc_id"), col("n_tok"), col("bits_sum"),
        round(col("bits_sum").cast("double") / col("n_tok").cast("double"), 4)
          .as("mean_bits"))
      .orderBy(col("doc_id"))
  }

  /** Per-source document cap for t13. 15 keeps 300 of 500 docs at
    * sf0.01 and 300 of 5000 at sf0.1 — a real cut at every harness SF. */
  private val QuotaPerSource = 15

  /** t13 — per-source quota capping (the domain-mixing step of corpus
    * curation: no single domain may contribute more than N documents).
    * The N survivors per source are chosen by md5-of-id order — the same
    * engine-independent determinism contract as t6/t7, so the kept set is
    * a pure function of ids, stable across runs, engines and partition
    * layouts, where `ORDER BY random()` or `sample()` would not be.
    *
    * Scale shape: one shuffle on `source`, and the rank filter is
    * planned as WindowGroupLimit (pinned in PlanSpec): each map-side
    * partition keeps only its local top-N per source BEFORE the
    * exchange, so the shuffle moves O(sources × N × partitions) rows —
    * not the corpus — and a 10^9-doc source never materializes a full
    * sorted group. */
  def t13SourceQuota(s: SparkSession, dir: String): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), h.as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= QuotaPerSource)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** t14 — source vocabulary-overlap matrix: pairwise Jaccard of the
    * DISTINCT token vocabularies of every source pair — the
    * domain-similarity input a data-mixing step weighs sources by
    * (near-identical vocabularies → redundant domains; disjoint →
    * complementary). Pure set arithmetic: |A∩B| via a token-keyed join
    * of the deduplicated (source, token) projection, |A∪B| by
    * inclusion–exclusion from per-source sizes, one rounded division.
    *
    * Scale shape: the (source, token) DISTINCT collapses occurrence
    * volume before any join (same discipline as e9/e10), and the
    * token-keyed self-join expands each token to at most
    * #sources²/2 pairs — a CONSTANT per token (document-pair expansion
    * has no such bound; that's why d2 needs a doc-frequency cap and
    * this needs none). Output is the #sources²/2-row matrix. */
  def t14SourceVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** t15's mixture: per-source token-mass weights for the training mix
    * (the "data mixing" table of every LLM pretraining recipe — RedPajama
    * / Dolma-style source proportions). Named sources get explicit
    * weights; the remainder split the rest uniformly (17 others here).
    * Weights sum to 1 by construction. */
  private[queries] val t15Weights: Seq[(String, Double)] =
    Seq(("src0", 0.15), ("src1", 0.15), ("src2", 0.10))
  private[queries] val t15DefaultWeight: Double = (1.0 - 0.40) / 17
  /** Token budget as a fraction of the corpus: B = total div 2. */
  private[queries] val t15BudgetDen = 2

  /** The per-source mixture-weight CASE expression over `source`
    * (shared by t15 and p5's mixture stage). */
  private[queries] def t15WeightExpr: Column =
    t15Weights.foldLeft(null: Column) { case (acc, (src, w)) =>
      if (acc == null) when(col("source") === src, w)
      else acc.when(col("source") === src, w)
    }.otherwise(t15DefaultWeight)

  /** The same CASE as oracle SQL text. */
  private[queries] def t15WeightSql: String =
    t15Weights.map { case (src, w) => s"WHEN '$src' THEN $w" }
      .mkString("CASE source ", " ", s" ELSE $t15DefaultWeight END")

  /** t15 — token-budget mixture sampling: realize a target training mix
    * (per-source token weights × a global token budget) as a
    * deterministic per-document sample. The two-pass corpus-statistic
    * shape (t9/t12's): pass 1 aggregates per-source available token
    * mass; the plan (target tokens, keep rate) is derived per source;
    * pass 2 keeps a document iff its id-hash 16-bit uniform falls under
    * its source's rate — t6/t7's engine-independence contract, so the
    * realized sample is identical across runs, engines and partition
    * layouts. An over-subscribed source (available ≤ target) keeps
    * everything; an under-subscribed one carries the 65536/threshold
    * importance weight into training.
    *
    * The keep threshold is INTEGER arithmetic end-to-end:
    * th = (target·65536) div available — no float rate ever compares
    * against a hash, so the engine and the DuckDB oracle realize the
    * exact same membership (the float-rate formulation would be one
    * ULP away from flipping a boundary doc).
    *
    * Scale shape: pass 1 is a per-source partial agg (20 groups); the
    * 20-row plan broadcast-joins back onto the scan; pass 2 is a
    * scan-side filter + one per-source agg. Two corpus scans total
    * (inherent to corpus-statistic gating), zero wide shuffles. */
  def t15MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val wCase = t15WeightExpr
    val tokd = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
          .as("u4"))
    val avail = tokd.groupBy(col("source"))
      .agg(sum(col("tok")).as("avail_tok"), count(lit(1)).as("n_docs"))
    val total = avail.agg(sum(col("avail_tok")).as("total_tok"))
    val plan = avail.crossJoin(broadcast(total))
      .withColumn("target_tok",
        floor(wCase *
          expr(s"total_tok div $t15BudgetDen").cast("double")).cast("long"))
      .withColumn("th",
        when(col("avail_tok") <= col("target_tok"), lit(65536L))
          .otherwise(expr("(target_tok * 65536) div avail_tok")))
      .withColumn("th_hex", lpad(lower(hex(least(col("th"), lit(65535L)))),
        4, "0"))
    val sampled = tokd
      .join(broadcast(plan.select(col("source"), col("th"), col("th_hex"))),
        "source")
      .filter(col("th") === 65536L || col("u4") < col("th_hex"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("tok")).as("tok_sampled"))
    plan
      .join(broadcast(sampled), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("avail_tok"),
        col("target_tok"),
        round(least(col("th"), lit(65536L)).cast("double") / 65536.0, 4)
          .as("rate"),
        // th can floor to 0 (tiny weight x tiny budget vs a large
        // source): rate 0 admits nothing, so the importance weight is
        // moot — report 0.0 instead of the 65536/0 = Infinity row
        // (ADVICE r11)
        when(col("th") === 0L, lit(0.0))
          .otherwise(round(
            lit(65536.0) / least(col("th"), lit(65536L)).cast("double"), 4))
          .as("weight"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("tok_sampled"), lit(0L)).as("tok_sampled"))
      .orderBy(col("source"))
  }

  /** t16 — train/val split leakage audit: the check a pipeline runs
    * AFTER t6's split and d3's near-dup pass — a validation document
    * whose near-duplicate sits in train is leaked (its eval loss is
    * memorization, not generalization; the reason decontamination
    * exists). Reports every affected val doc with its train-side
    * near-dup count and the worst Jaccard.
    *
    * Composition, not recomputation: split membership is t6's pure
    * id-hash function and the verified pairs are the
    * [[Dedup.sharedVerifiedPairs]] pipeline artifact, so the audit
    * never scans the corpus at all — it filters and aggregates the
    * pair set (a small fraction of the corpus by construction). At
    * 100 TB this is the cheapest query in the catalog: O(|pairs|)
    * with a 2-hex-char comparison per endpoint. First use computes
    * the d3 ladder, keeping the entry self-contained under Verify. */
  def t16SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    def isTrain(id: Column): Column =
      substring(md5(id.cast("string").cast("binary")), 1, 2) < "cd"
    val pairs = Dedup.sharedVerifiedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val sym = pairs
      .select(col("doc_a").as("v"), col("doc_b").as("t"), col("jaccard"))
      .unionByName(pairs
        .select(col("doc_b").as("v"), col("doc_a").as("t"), col("jaccard")))
    sym.filter(!isTrain(col("v")) && isTrain(col("t")))
      .groupBy(col("v").as("val_doc"))
      .agg(count(lit(1)).as("n_train_dups"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("val_doc"))
  }

  /** t17 — first-occurrence novelty scoring (the data-valuation shape:
    * how much does each document ADD to the corpus, in ingestion order?).
    * A shingle's owner is the lowest-id document containing it; a
    * document's novelty is the fraction of its distinct 5-gram shingles
    * it owns. Early documents score ≈1, boilerplate-heavy and
    * near-duplicate late arrivals score ≈0 — the per-doc marginal
    * contribution a curation run ranks by before paying dedup cost
    * (documents with novelty ≈0 are droppable WITHOUT pairwise
    * comparison: everything they say, an earlier doc said).
    *
    * Scale shape: explode the scan-side shingle-hash kernel (t8's
    * [[word_shingle_hashes]], distinct within doc by construction), ONE
    * groupBy(shingle) min-agg for ownership, join back on the shingle
    * hash — the build side is 1 row/key by construction, so hot
    * shingles ("the a of…") match exactly one row and amplify nothing
    * (t8/t9's skew-free argument) — then one per-doc agg. Ownership is
    * min(doc_id): associative, partial-aggregates map-side. */
  def t17NoveltyScore(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(word_shingle_hashes(col("text"), ContamN)).as("sh"))
    val owner = ex.groupBy(col("sh")).agg(min(col("doc_id")).as("owner"))
    ex.join(owner, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
      .select(col("doc_id"), col("n_sh"), col("n_first"),
        round(col("n_first").cast("double") / col("n_sh").cast("double"), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** t18's planted-PII augmentation (the d4b convention): every 25th
    * doc gets a variant under a shifted id with one email, one phone
    * number and one IPv4 address appended, all derived from doc_id —
    * the harness corpus is lowercase words with no organic PII, so an
    * unaugmented run would pass vacuously (0 rows ≡ 0 rows). Both
    * engines construct the plant identically. */
  private[graft] val T18IdShift = 20000000L
  private[graft] val T18Every = 25

  /** t18's patterns. Kept inside the ASCII subset where Java regex
    * (Spark) and RE2 (DuckDB) agree exactly: character classes,
    * bounded/unbounded repetition, non-capturing groups and ASCII
    * word boundaries — no backreferences, no lookaround (RE2 has
    * neither). */
  private[graft] val T18Email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val T18Phone = "\\b555-[0-9]{4}\\b"
  private[graft] val T18Ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** t18 — PII detection + redaction: the scrub stage every production
    * corpus runs before training (emails, phone numbers, IP addresses →
    * typed placeholders). Output is one row per PII-BEARING document:
    * per-category counts and the redacted text. Clean documents emit
    * nothing — a false positive on a clean doc adds a row and fails
    * the oracle's row-count/hash compare, so precision is gated too.
    *
    * Scale shape: a pure per-doc map — `regexp_count`/`regexp_replace`
    * are codegen'd Catalyst expressions evaluated at the scan, no
    * shuffle before the presentation sort. Replacement is chained
    * email → phone → IP in both engines (the categories cannot overlap
    * on these patterns, so order is cosmetic but pinned anyway). The
    * DuckDB oracle replays the same augmentation, the same RE2-safe
    * patterns and the same chained replacement with the 'g' flag. */
  def t18PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % T18Every === 0)
      .select((col("doc_id") + T18IdShift).as("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
    base.unionByName(planted)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(T18Email)).as("n_email"),
        regexp_count(col("text"), lit(T18Phone)).as("n_phone"),
        regexp_count(col("text"), lit(T18Ip)).as("n_ip"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          T18Email, "<EMAIL>"), T18Phone, "<PHONE>"), T18Ip, "<IP>")
          .as("text_redacted"))
      .filter(col("n_email") + col("n_phone") + col("n_ip") > 0)
      .orderBy(col("doc_id"))
  }

  /** t19's rule thresholds, calibrated so every rule fires on a real
    * fraction of the harness corpus (word counts span 10–99, mean word
    * lengths 3.7–5.3, 47 docs carry zero English stopwords). */
  private[graft] val T19MinWords = 20
  private[graft] val T19MaxWords = 90
  private[graft] val T19MinMeanLen = 4.0
  private[graft] val T19MaxMeanLen = 5.0
  private[graft] val T19MinStops = 2
  private[graft] val T19MinDistinct = 0.4

  /** t19 — composite rule-based quality filter (the Gopher/MassiveText
    * document-rule shape, Rae et al. 2021 §A1.1, public): word-count
    * bounds, mean-word-length bounds, minimum function-word evidence,
    * and a duplicate-word (distinct-ratio) bound, each reported as its
    * own flag plus the conjunction. Complements t2 (a weighted score)
    * with the hard-cutoff formulation production pipelines actually
    * gate on — a doc must clear EVERY rule.
    *
    * Scale shape: a pure per-doc map over one scan, all Spark built-ins
    * (higher-order `aggregate`/`array_distinct`, codegen'd) — no
    * shuffle before the presentation sort. Rules are evaluated on the
    * UNROUNDED doubles; both engines build the identical IEEE
    * expression tree over exact integers, so the booleans agree
    * bit-for-bit (the t2/p1 convention). */
  def t19GopherRules(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val sumLen = aggregate(
      transform(w, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
    val meanLen = sumLen.cast("double") / nWords.cast("double")
    val distinctRatio =
      size(array_distinct(w)).cast("double") / nWords.cast("double")
    val stops = stopHits(col("text"), stopEn)
    // projection above the presentation sort — the t1 sample-pass rule
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        round(meanLen, 4).as("mean_wlen"),
        round(distinctRatio, 4).as("distinct_ratio"),
        stops.as("stop_hits"),
        (nWords >= T19MinWords && nWords <= T19MaxWords).as("r_nwords"),
        (meanLen >= T19MinMeanLen && meanLen <= T19MaxMeanLen)
          .as("r_meanlen"),
        (stops >= T19MinStops).as("r_stops"),
        (distinctRatio >= T19MinDistinct).as("r_distinct"))
      .withColumn("pass",
        col("r_nwords") && col("r_meanlen") && col("r_stops") &&
          col("r_distinct"))
  }

  /** t20's tail prune: bigrams seen fewer times are dropped AFTER the
    * marginal is computed, so conditional probabilities stay exact. */
  private[graft] val T20MinCount = 30L

  /** t20 — bigram language-model estimation (the KenLM-style counting
    * step): explode each document into adjacent token pairs, count
    * pairs, compute each pair's conditional probability
    * P(w2|w1) = n(w1 w2) / n(w1 ·) via a window sum over the AGGREGATED
    * pair table, and prune the tail below [[T20MinCount]].
    *
    * Scale shape: one corpus scan + explode, ONE shuffle for the pair
    * aggregation (map-side partial combine shrinks it to the distinct
    * pair vocabulary), then the marginal window runs over pair-table
    * rows (≤ vocab² — corpus-size-independent). The min-count prune is
    * what bounds the output at web scale; the marginal is computed
    * BEFORE pruning so probabilities are exact. */
  def t20BigramLm(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] AS w1, w[i+1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val counts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val wMarginal = Window.partitionBy(col("w1"))
    counts
      .withColumn("n_w1", sum(col("n_pair")).over(wMarginal))
      .withColumn("p_cond",
        round(col("n_pair").cast("double") / col("n_w1").cast("double"), 4))
      .filter(col("n_pair") >= T20MinCount)
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
  }

  /** t21 — vocabulary-growth (Heaps-law) curve: cumulative token count
    * and cumulative DISTINCT-token count at ten corpus prefixes, the
    * measurement that sizes a tokenizer vocabulary before training.
    * Prefixes are deciles of the doc_id RANGE (min + d·span/10), not of
    * the row rank: range bucketing is one O(1) min/max aggregate
    * broadcast back onto the scan, where rank deciles would need a
    * global row_number — an unpartitioned window that cannot scale.
    *
    * Each token's FIRST bucket (min bucket over its occurrences) turns
    * "distinct tokens in prefix d" into a cumulative sum over a 10-row
    * histogram: one explode + one (token → min bucket) aggregation, no
    * per-prefix rescan. The cumulative windows run over ≤10 rows.
    * All bucket arithmetic is integer division — bit-identical in both
    * engines. */
  def t21VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
    val stats = docs.agg(min(col("doc_id")).as("mn"),
      (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
    val bucketed = docs.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr("CAST(((doc_id - mn) * 10) DIV span AS INT) + 1"))
    val perBucket = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("n_tokens"))
    val firstBucket = bucketed
      .select(col("bucket"), explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket")).agg(count(lit(1)).as("n_new_types"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .join(firstBucket, col("bucket") === col("first_bucket"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("docs_cum", sum(col("n_docs")).over(wCum))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(wCum))
      .withColumn("vocab_cum", sum(col("n_new_types")).over(wCum))
      .withColumn("ttr", round(
        col("vocab_cum").cast("double") / col("tokens_cum").cast("double"),
        6))
      .select(col("bucket").as("decile"), col("docs_cum"),
        col("tokens_cum"), col("vocab_cum"), col("ttr"))
      .orderBy(col("decile"))
  }

  /** t22's n-gram width. The Gopher duplicate-n-gram rule family (Rae
    * et al. 2021, Table A1) spans 2–10-grams; 3 is calibrated to this
    * corpus the way t19's thresholds are — trigram repeats occur in a
    * real slice of the harness documents (27 docs at sf0.01) while
    * widths ≥ 4 never fire on its 10–100-token random-draw shape, which
    * would leave the dup branch dead in every gate. */
  private[graft] val T22N = 3

  /** t22 — intra-document duplicate n-gram fraction: for each document,
    * the share of its [[T22N]]-gram occurrences that belong to an
    * n-gram repeated WITHIN the same document — the Gopher
    * "duplicate n-gram" rule family at n-gram granularity, the
    * repetition signal t11's unigram counts cannot see (templated
    * boilerplate repeats phrases built from common words; every unigram
    * can look ordinary while the n-grams scream). Complements d10: d10
    * finds spans copied ACROSS documents, t22 scores repetition INSIDE
    * one.
    *
    * Scale shape: grams are hashed scan-side (d10's slice + array_join
    * + xxhash64 pattern — 8-byte keys, the text never shuffles), then
    * two doc_id-keyed aggregations with map-side partial combine; every
    * group is bounded by a single document's length, so no hot key is
    * possible and nothing ever carries more than the per-doc distinct
    * gram table. The 64-bit hash stands in for the gram string exactly
    * as in d10: a within-doc collision is ~2^-64·grams² and the
    * string-keyed DuckDB oracle is the differential check that none
    * occurred. */
  def t22DupNgrams(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), ws.as("ws"), size(ws).cast("long").as("m"))
      .select(col("doc_id"), col("ws"),
        explode(when(col("m") >= T22N, sequence(lit(0L), col("m") - T22N))
          .otherwise(array().cast("array<bigint>"))).as("pos"))
      .select(col("doc_id"),
        xxhash64(array_join(
          slice(col("ws"), (col("pos") + 1).cast("int"), lit(T22N)), " "))
          .as("gh"))
      .groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_grams"), count(lit(1)).as("n_distinct"),
        sum(when(col("n") > 1L, col("n")).otherwise(lit(0L))).as("dup_occ"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        col("dup_occ"),
        round(col("dup_occ").cast("double") / col("n_grams"), 4)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** t23's hashed-feature space: DSIR's memory bound. 512 buckets keeps
    * the feature table broadcastable at ANY corpus size — the whole point
    * of hashing the n-grams instead of keeping the open vocabulary. */
  private[graft] val T23Buckets = 512

  /** t23's resample size (top-K by importance). */
  private[graft] val T23SelectK = 50

  /** t23's bucket hash: a byte-wise polynomial fold mod a prime, chosen
    * over xxhash64 because BOTH engines can replay it with a plain
    * integer fold (the DuckDB oracle uses `list_reduce` over `unicode`
    * char codes — no unrolled-CTE machinery; d4's XXH64 replay works but
    * is capped at 32-byte inputs, and bigrams are not). acc < P keeps
    * acc*131+c < 2^31, far inside BIGINT. Spark-side the fold runs in
    * the [[graft.functions.BigramPolyBuckets]] codegen kernel — the
    * equivalent built-in `transform`+`aggregate` chain is interpreted
    * (CodegenFallback) and measured ~6 s for the scan at sf0.1 vs ~0.3 s
    * total with the kernel. */
  private[graft] val T23HashP = 1000003L

  /** t23's target-distribution language (the "high-quality domain"
    * stand-in). ONE constant interpolated into both the engine's
    * `count_if` and the DuckDB oracle's FILTER (the s11
    * [[graft.queries.Similarity.S11SrcLang]] convention, ADVICE r14) so
    * the two sides cannot silently desynchronize. */
  private[graft] val T23TargetLang = "en"

  /** t23 — DSIR importance scoring (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every document
    * by how much more likely its hashed bigram features are under a
    * TARGET distribution (here the `lang = [[T23TargetLang]]` slice, the
    * "high-quality domain" stand-in) than under the RAW corpus
    * distribution, then keep the top-[[T23SelectK]]. The importance
    * weight is  log p_target(x) − p_raw(x)  summed over the doc's hashed
    * bigrams; like t12's surprisal it is quantized to whole BITS via
    * `length(bin(n)) − 1` = floor(log2 n) on INTEGER counts — no
    * floating-point log, no cross-row float accumulation, so both
    * engines agree bit-for-bit. Per occurrence of bucket b the
    * contribution is floor(log2(n_t(b)+1)) − floor(log2(n_r(b)+1))
    * (Laplace +1 — a bucket can be empty in the target), and the
    * normalizing  log2(T_raw/T_target)  constant is added once per
    * bigram from a 1-row broadcast — never as a count product, which
    * would overflow at corpus scale.
    *
    * Scale shape: the feature bucket is hashed scan-side (codegen'd
    * integer fold — the bigram STRING never shuffles), the feature
    * table is ONE shuffle collapsing to ≤ [[T23Buckets]] rows — bounded
    * by construction at any corpus size, hence broadcast back — and the
    * per-doc score is one doc_id-keyed aggregation with map-side
    * combine. The scored table (1 row per doc) is [[graft.Materialize]]d
    * because two consumers need it: the K-th-score threshold (a
    * TakeOrdered + 1-row broadcast — never a global window) and the
    * final selection flag. That is 1 corpus scan + 2 bounded shuffles
    * total; DSIR's hashing is exactly what makes the feature table
    * O(buckets) instead of O(vocab). */
  def t23DsirImportance(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.bigram_poly_buckets
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(bigram_poly_buckets(col("text"), T23HashP, T23Buckets))
          .as("bucket"))
    val feat = occ.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_r"),
        expr(s"count_if(lang = '$T23TargetLang')").as("n_t"))
    // whole-corpus totals: one row off the ≤512-row feature table
    val tot = feat.agg(sum(col("n_r")).cast("long").as("t_r"),
      sum(col("n_t")).cast("long").as("t_t"))
    def bits(c: Column): Column = length(bin(c)) - lit(1)
    val scored = graft.Materialize(occ
      .join(broadcast(feat), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(bits(col("n_t") + lit(1L)) - bits(col("n_r") + lit(1L)))
          .cast("long").as("s_raw"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        (col("s_raw") + col("n_bigrams") *
          (bits(col("t_r") + lit(T23Buckets.toLong)) -
            bits(col("t_t") + lit(T23Buckets.toLong))).cast("long"))
          .as("score_bits")))
    val kth = scored.orderBy(col("score_bits").desc, col("doc_id"))
      .limit(T23SelectK).agg(min(col("score_bits")).as("kth"))
    scored.crossJoin(broadcast(kth))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score_bits"),
        round(col("score_bits").cast("double") / col("n_bigrams"), 4)
          .as("bits_per_bigram"),
        (col("score_bits") >= col("kth")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** t24's default merge-round count: four rounds is enough that later
    * rounds merge symbols EARLIER rounds produced (the part of BPE
    * training a single pair count cannot exercise). */
  private[graft] val T24RoundsDefault = 4

  /** The rounds-axis seam (r19, VERDICT r18 #4): `graft.t24.rounds`
    * (env SPARK_GRAFT_T24_ROUNDS) overrides the merge-round count so
    * the ROUNDS axis of the training loop can be measured — each round
    * is one vocab-bounded pair aggregation + a 1-row winner broadcast +
    * one fold pass, sequenced through the driver, so the loop's cost is
    * linear-in-rounds with a per-round floor of Spark's job-scheduling
    * constants (the corpus-size axis, measured at slope ≈ 0.2 in
    * SCALING.md r18, does not price this). SCALING.md r19 records the
    * measured slope and the stated posture for the 10⁴–10⁵-merge regime
    * of a production tokenizer. The ORACLE follows the resolved value
    * ([[t24OracleSql]] generates one CTE per round) and its multiply-
    * referenced per-round CTEs are `AS MATERIALIZED` (r20, ADVICE r19 —
    * the plain form inlined them once per reference and the replay went
    * exponential in R, unarming the gate at exactly the elevated
    * settings the seam exists for), so the gate stays armed at any
    * setting; the gated entries pin the default.
    *
    * Early-stop divergence (ADVICE r19, documented not changed): when a
    * merge round finds NO adjacent pairs (every word already one
    * symbol), canonical BPE trainers (Sennrich et al.'s reference
    * implementation) stop early and return fewer merges; this engine
    * instead raise_errors with an instruction to lower
    * `graft.t24.rounds` — the repo's loud-miss convention, chosen so a
    * mis-sized rounds setting can never silently ship a shorter merge
    * table than the operator configured. */
  private[graft] def T24Rounds: Int =
    sys.props.get("graft.t24.rounds")
      .orElse(sys.env.get("SPARK_GRAFT_T24_ROUNDS"))
      .map(_.toInt).getOrElse(T24RoundsDefault)

  /** One greedy BPE merge of the winning pair (l, r) applied to a symbol
    * sequence — the canonical left-to-right rule (Sennrich et al. 2016,
    * arXiv:1508.07909 §3.2): scan the sequence once; whenever the last
    * emitted symbol is `l` and the current one is `r`, replace the pair
    * with the merged token. A fold is exactly that scan, and it cannot
    * over-merge: after a merge the last emitted symbol is `l || r`,
    * which can never equal `l` again (r is non-empty), so overlapping
    * occurrences — possible only for l = r runs — resolve to the
    * canonical alternating pattern (aaaa → [aa, aa]). The lambda
    * branches through nested `when`s (evaluated lazily in order) so
    * `element_at(acc, -1)` is never touched on the empty accumulator —
    * ANSI mode would throw on it. */
  private def bpeMergeFold(syms: Column, l: Column, r: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) === 0, concat(acc, array(t)))
          .otherwise(when(element_at(acc, -1) === l && t === r,
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(l, r))))
            .otherwise(concat(acc, array(t)))))

  /** t24 — BPE tokenizer-training merge steps (the primitive under every
    * subword vocabulary): [[T24Rounds]] rounds of (adjacent-pair count →
    * winning pair → greedy merge) over the corpus, reported as the merge
    * TABLE — per round the merged pair, its corpus pair count at merge
    * time, and the symbol-vocabulary size after the merge. Words start
    * as character sequences (no end-of-word marker — merges are
    * word-internal, the whitespace pre-tokenization split of t1); the
    * winner is the max-count pair with a (left, right) lexicographic
    * tie-break so both engines pick identically.
    *
    * Scale shape: ONE corpus scan builds the (word, freq) table — the
    * same vocab-bounded state t20/t21 ship (the pair explode, the merge
    * fold, and every subsequent round run over DISTINCT WORDS, so round
    * cost is corpus-size-INDEPENDENT); each round is one map-side-
    * combined pair aggregation, a 1-row TakeOrdered winner broadcast
    * back onto the vocab table, and a per-word fold (no explode of the
    * corpus, no shuffle of text). The per-round tables are lazily
    * `localCheckpoint`ed (the d6 iterative convention — see the note in
    * [[bpeRounds]]): round k+1's counts consume round k's merge output
    * without re-folding earlier rounds, and the lineage truncation
    * keeps analysis cost linear in the round count rather than
    * exponential. The DuckDB oracle replays the greedy rule positionally
    * (occurrence runs → alternating keeps — the same sequences the fold
    * produces), so all four merge rows gate bit-for-bit. */
  def t24BpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeRounds(s, dir)._1.reduce(_ unionAll _).orderBy(col("round"))

  /** The shared BPE training loop: [[T24Rounds]] count→win→merge rounds
    * over the distinct-word table. Returns the per-round winner rows
    * (t24's merge table) and the FINAL per-word symbol table (t25's
    * tokenizer — a word's token count under the learned vocabulary is
    * the length of its final symbol sequence). */
  /** The (word, freq, char-symbols) table every BPE entry trains on —
    * char symbols via 1-based substring, the exact arithmetic the
    * oracle's substr() replays (split(word, '') would append Java's
    * trailing empty match as a phantom symbol). Shared by the
    * single-merge loop ([[bpeRounds]]) and the batched one
    * ([[t26BpeBatchMerges]]). */
  private def bpeWords0(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  private def bpeRounds(s: SparkSession,
      dir: String): (Seq[DataFrame], DataFrame) = {
    val words0 = bpeWords0(s, dir)
    // Per-round LAZY localCheckpoint, not Materialize (r19, VERDICT r18
    // #4): round r's word table references round r-1 TWICE — through
    // the winner aggregate AND through the merge join — so without
    // lineage truncation the logical tree doubles per round and
    // analysis cost grows exponentially in the round count (the d6
    // connected-components scaladoc names this exact failure mode;
    // measured here: rounds=16 under cache-based materialization never
    // finished planning, while checkpointed rounds time linearly —
    // SCALING.md r19 has the rounds-axis table). Checkpoints stay
    // un-released: every round's winner row is part of t24's OUTPUT,
    // so earlier rounds' blocks must survive until the final union
    // materializes (unlike d6, which only keeps the converged edges).
    var syms = words0.localCheckpoint(false)
    val rows = (1 to T24Rounds).map { r =>
      val win = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS lsym, syms[i+1] AS rsym))")).as("p"))
        .groupBy(col("p.lsym").as("lsym"), col("p.rsym").as("rsym"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lsym"), col("rsym"))
        .limit(1)
      // LEFT join on a constant key, not crossJoin (ADVICE r18): if a
      // round's pair table is EMPTY (every word already reduced to one
      // symbol before T24Rounds), a crossJoin against the 0-row winner
      // would silently empty the whole word table — t24 would drop rows
      // and t25 return zero rows, and the oracle (which replays the same
      // shape) could never catch it. Under the left join an empty winner
      // surfaces as a null lsym on every row, which raises loudly at
      // first execution instead — the repo's loud-miss convention.
      syms = syms.withColumn("_k", lit(1))
        .join(broadcast(win.withColumn("_k", lit(1))), Seq("_k"), "left")
        .select(col("word"), col("freq"),
          when(col("lsym").isNull, raise_error(lit(
            s"t24/t25: merge round $r found no adjacent pairs — corpus " +
              "fully merged before T24Rounds; lower graft.t24.rounds")))
            .otherwise(bpeMergeFold(col("syms"), col("lsym"), col("rsym")))
            .as("syms"))
        .localCheckpoint(false)
      val vocab = syms.select(explode(col("syms")).as("sym"))
        .agg(countDistinct(col("sym")).as("vocab_size"))
      win.crossJoin(broadcast(vocab))
        .select(lit(r).as("round"), col("lsym"), col("rsym"),
          col("pair_count"), col("vocab_size"))
    }
    (rows, syms)
  }

  /** t25's dictionary-join size gate (r19, VERDICT r18 #3). The
    * harness-SF dictionary is a few hundred distinct words and
    * BROADCAST is plainly right — but the distinct-word table of an
    * open-vocabulary 100 TB web corpus is ~10⁹ rows, beyond any
    * broadcast budget (Spark hard-caps a broadcast relation at 8 GB /
    * 512 M rows, and driver + every executor must hold it), so an
    * unconditional `broadcast()` is an OOM at exactly the scale where
    * tokenizer application is run over the FULL corpus. t25 counts the
    * trained dictionary — one cheap action against the training loop's
    * already-materialized word table — and broadcasts iff it holds ≤
    * this many rows (4 M ≈ a few hundred MB hashed relation with
    * generous margin under the caps); above it the join is hint-pinned
    * SHUFFLE_HASH on the word key — both sides exchange once on
    * `word`, the dictionary side builds the per-partition hash table,
    * and no sort of the exploded corpus is ever required (the
    * t12-zipf tail convention). The result is identical either way —
    * the oracle gates the broadcast path, and TextAnalysisSpec/PlanSpec
    * reach the shuffle branch through a 0-row cap. */
  private[graft] val T25DictBroadcastMaxRows = 4000000L

  /** t25 — BPE tokenizer APPLICATION (the other half of the t24 loop,
    * and what a pipeline actually runs at corpus scale): encode every
    * document under the vocabulary the [[T24Rounds]] learned merges
    * produce, reporting per doc the word count, the alphabetic character
    * mass, the BPE token count, and chars-per-token (the compression
    * ratio that decides a tokenizer's effective context budget).
    *
    * Scale shape: the trained word → token-count table is VOCAB-BOUNDED
    * (distinct words with their final symbol-sequence LENGTH — the
    * symbols themselves never leave the training loop), joined onto
    * one corpus scan under the [[T25DictBroadcastMaxRows]] size gate
    * (broadcast at harness vocabularies, shuffle-hash at open-vocab
    * corpus scale where a ~10⁹-word dictionary cannot be broadcast);
    * per-doc counts are one map-side-combined aggregation. No
    * per-document re-merging: a word's encoding is a pure function of
    * the word, so tokenizing N documents costs one dictionary join,
    * not N fold evaluations. */
  def t25BpeEncode(s: SparkSession, dir: String): DataFrame =
    t25BpeEncode(s, dir, T25DictBroadcastMaxRows)

  /** [[t25BpeEncode]] under an explicit broadcast cap (a 0-row cap
    * takes the shuffle branch). */
  private[graft] def t25BpeEncode(s: SparkSession, dir: String,
      broadcastMaxRows: Long): DataFrame = {
    val trained = bpeRounds(s, dir)._2
      .select(col("word"), size(col("syms")).cast("long").as("n_sym"),
        length(col("word")).cast("long").as("n_char"))
    // the count action runs against the training loop's checkpointed
    // word table (one block-scan job), and is exactly the statistic the
    // broadcast decision needs — never guess what you can measure.
    // Known trade (ADVICE r19): this makes DataFrame CONSTRUCTION eager
    // — a plan-only caller (explain tooling) pays the training loop
    // before any action. Accepted: the alternative (deciding at first
    // action) would need a custom plan node, and the training loop is
    // already eager through its per-round localCheckpoints —
    // construction cost is the loop, not the count
    val useBroadcast = trained.count() <= broadcastMaxRows
    val dict = if (useBroadcast) broadcast(trained)
               else trained.hint("SHUFFLE_HASH")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(dict, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_char")).as("n_chars_alpha"),
        sum(col("n_sym")).as("n_tokens_bpe"))
      .withColumn("chars_per_token",
        round(col("n_chars_alpha").cast("double") / col("n_tokens_bpe"), 4))
      .orderBy(col("doc_id"))
  }

  /** t26's knobs: 2 rounds exercises batching over symbols earlier
    * BATCHES produced; pool 16 bounds the ranked candidate table the
    * conflict anti-join runs on; batch 4 is wide enough that multiple
    * non-conflicting pairs are selected per round on the harness
    * corpus (spec-asserted). The oracle generates [[T26Batch]]
    * positional sub-steps per round, so these are compile-time
    * constants, not seams. */
  private[graft] val T26Rounds = 2
  private[graft] val T26Pool = 16
  private[graft] val T26Batch = 4

  /** One left-to-right scan applying EVERY pair of a (rank-sorted,
    * mutually non-conflicting) merge batch: like [[bpeMergeFold]] but
    * the merge test is membership in the batch array instead of one
    * (l, r). Correct as a single pass exactly BECAUSE of the batch
    * selection invariant: selected pairs share no symbol and no
    * pair's concatenation equals another's component, so one pair's
    * merge can neither create nor destroy another's occurrences
    * (a merge replaces two adjacent symbols by one — it never makes
    * two OTHER symbols newly adjacent), and the post-merge
    * accumulator tail (l || r) can never match any batch lsym. A
    * sequential per-pair application in any order — what the DuckDB
    * oracle replays, one positional sub-step per batch rank — is
    * therefore identical to this simultaneous scan. */
  private def bpeBatchFold(syms: Column, batch: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, t) =>
        when(size(acc) === 0, concat(acc, array(t)))
          .otherwise {
            val hit = filter(batch, p =>
              p.getField("lsym") === element_at(acc, -1) &&
                p.getField("rsym") === t)
            when(size(hit) > 0,
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(hit, 1).getField("lsym"),
                  element_at(hit, 1).getField("rsym")))))
              .otherwise(concat(acc, array(t)))
          })

  /** t26 — BATCHED BPE merge rounds (r19, the production answer to the
    * 30k-merge posture in SCALING.md round-19): per round, rank all
    * adjacent pairs by (count desc, lsym, rsym), keep the top
    * [[T26Pool]] candidates, select up to [[T26Batch]] of them that
    * conflict with NO higher-ranked candidate, and merge the whole
    * batch in ONE per-word scan. Two pairs conflict when they share a
    * symbol or one pair's concatenation equals a component of the
    * other — the invariant that makes batch application
    * order-independent (see [[bpeBatchFold]]). The selection rule is
    * deliberately one-pass ("no conflict with any higher-ranked
    * CANDIDATE", an anti-join) rather than greedy-over-selected: the
    * greedy rule needs a sequential scan over the ranked list, while
    * the anti-join is a bounded self-join DuckDB replays verbatim —
    * and it is conservative only when a high-ranked candidate was
    * itself excluded, costing batch width, never correctness.
    * MEASURED COST of that conservatism (r20, VERDICT r19 #4): on
    * zipf10 the anti-join rule saturates at ~2.2 selected/round
    * regardless of batch width (width 16 and 64 both select ~165
    * merges in 64 rounds — top pairs chain through shared symbols and
    * the whole chain tail dies with its excluded head), so the r19
    * "30k/B rounds" posture was wrong as arithmetic. The `greedy` rule
    * (t26b, see [[t26BatchLoop]]) is the production answer: measured
    * 0.037–0.056 s/merge at widths 16–64 (6.7–8.9x over sequential
    * t24, rate RISING with vocab diversity, 1 718 merges measured in
    * one run) — measurements/r20/T26_MERGE_SCALE.txt has the full
    * table.
    *
    * Output: one row per selected pair — (round, batch_rank, lsym,
    * rsym, pair count at round start, vocab size after the round).
    *
    * Scale shape: identical per-round cost family to t24 (one
    * map-side-combined pair aggregation over DISTINCT WORDS, a
    * ≤[[T26Pool]]-row TakeOrdered, a ≤Pool²-row broadcast anti-join
    * or a one-row greedy fold, one fold pass, per-round lineage
    * truncation) — the vocabulary advances up to [[T26Batch]] merges
    * per round against t24's one, and the measured per-merge cost at
    * production widths is the table above, not a division. A round
    * with no pairs left raises loudly (the t24 convention). */
  def t26BpeBatchMerges(s: SparkSession, dir: String): DataFrame =
    t26BatchLoop(s, dir, T26Rounds, T26Pool, T26Batch, "antijoin")

  /** t26b — the batched trainer under the GREEDY selection rule as its
    * own gated entry (r20): same rounds/pool/batch pins as t26, but the
    * selection is the maximal independent set in rank order (see
    * [[t26BatchLoop]]) — the rule the width measurement chose for
    * production — with its own recursive-CTE oracle, so the greedy
    * path is driver-gated every round rather than only spec-pinned. */
  def t26bBpeGreedyMerges(s: SparkSession, dir: String): DataFrame =
    t26BatchLoop(s, dir, T26Rounds, T26Pool, T26Batch, "greedy")

  /** The batched training loop behind [[t26BpeBatchMerges]], with the
    * (rounds, pool, batch) axes as parameters — the gated entry pins
    * the compile-time constants (the oracle's sub-step count follows
    * them); the SAME code was run at production widths (r20, VERDICT
    * r19 #4: the 30k-merge posture was arithmetic on an 8-merge
    * measurement; ≥1k merges at width 16–64 make the rounds/width law
    * a measurement, not an extrapolation —
    * measurements/r20/T26_MERGE_SCALE.txt). `selectRule` is one of the
    * two batch-selection rules (r20, VERDICT r19 #4 — the second added
    * because MEASURING the width law refuted the first):
    *
    *   - `antijoin` (t26, the r19 rule): select candidates that
    *     conflict with NO higher-ranked CANDIDATE. One bounded
    *     self-join, order-independent — but measured on zipf10 it
    *     SATURATES at ~2.2 selected/round regardless of batch width
    *     (width 16 and width 64 both selected ~165 merges in 64
    *     rounds; rate slightly DECLINES 2.58→2.03 over 256 rounds —
    *     measurements/r20/T26_MERGE_SCALE.txt): top-ranked pairs chain
    *     through shared symbols ((a,b),(b,c),(c,d)…), and the anti-join
    *     excludes a candidate conflicting with an EXCLUDED higher one,
    *     so a chain yields ~1-2 picks however wide the batch.
    *   - `greedy` — the canonical fast-trainer rule: scan the ranked
    *     pool once, select a candidate iff it conflicts with no
    *     already-SELECTED pair (a maximal independent set in rank
    *     order, capped at the batch width). Strictly ⊇ the anti-join's
    *     set below the cap (anything conflict-free against ALL higher
    *     candidates is conflict-free against the selected subset), and
    *     the one that actually delivers the width: the selection is a
    *     single Catalyst `aggregate` fold over the ≤pool-row collected
    *     pool ON ONE ROW — no driver collect, no per-candidate join.
    *     The DuckDB oracle replays it as a recursive CTE carrying the
    *     selected set as a LIST accumulator, so the gate stays armed. */
  private[graft] def t26BatchLoop(s: SparkSession, dir: String,
      t26Rounds: Int, t26Pool: Int, t26Batch: Int,
      selectRule: String): DataFrame = {
    val wRank = Window.orderBy(col("pair_count").desc, col("lsym"), col("rsym"))
    var syms = bpeWords0(s, dir).localCheckpoint(false)
    val rows = (1 to t26Rounds).map { r =>
      val cand = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS lsym, syms[i+1] AS rsym))")).as("p"))
        .groupBy(col("p.lsym").as("lsym"), col("p.rsym").as("rsym"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lsym"), col("rsym"))
        .limit(t26Pool)
        .withColumn("rn", row_number().over(wRank))
      val sel = (selectRule match {
        case "greedy" =>
          // one Catalyst fold over the rank-sorted pool ON ONE ROW
          // (≤pool structs): select iff no conflict with any already-
          // SELECTED pair and the batch cap not reached — the maximal
          // independent set in rank order. No driver collect: the pool
          // is collapsed by collect_list the same way batchAgg below
          // collapses the selection.
          val conflictWith = (sc: Column, cc: Column) => {
            def g(x: Column, n: String) = x.getField(n)
            g(sc, "lsym") === g(cc, "lsym") ||
            g(sc, "lsym") === g(cc, "rsym") ||
            g(sc, "rsym") === g(cc, "lsym") ||
            g(sc, "rsym") === g(cc, "rsym") ||
            concat(g(sc, "lsym"), g(sc, "rsym")) === g(cc, "lsym") ||
            concat(g(sc, "lsym"), g(sc, "rsym")) === g(cc, "rsym") ||
            concat(g(cc, "lsym"), g(cc, "rsym")) === g(sc, "lsym") ||
            concat(g(cc, "lsym"), g(cc, "rsym")) === g(sc, "rsym")
          }
          val zero = array().cast(
            "array<struct<lsym:string,rsym:string,pair_count:bigint>>")
          cand
            .agg(array_sort(collect_list(struct(col("rn"), col("lsym"),
              col("rsym"), col("pair_count")))).as("ks"))
            .select(aggregate(
              transform(col("ks"), p => struct(
                p.getField("lsym").as("lsym"),
                p.getField("rsym").as("rsym"),
                p.getField("pair_count").as("pair_count"))),
              zero,
              (acc, c) => when(size(acc) < t26Batch &&
                  !exists(acc, sc => conflictWith(sc, c)),
                concat(acc, array(c))).otherwise(acc)).as("sel"))
            .select(posexplode(col("sel")))
            .select((col("pos") + 1).cast("int").as("k"),
              col("col.lsym").as("lsym"), col("col.rsym").as("rsym"),
              col("col.pair_count").as("pair_count"))
        case "antijoin" =>
          val h = cand.select(col("rn").as("h_rn"), col("lsym").as("h_l"),
            col("rsym").as("h_r"))
          val conflict = col("h_rn") < col("rn") && (
            col("h_l") === col("lsym") || col("h_l") === col("rsym") ||
            col("h_r") === col("lsym") || col("h_r") === col("rsym") ||
            concat(col("h_l"), col("h_r")) === col("lsym") ||
            concat(col("h_l"), col("h_r")) === col("rsym") ||
            concat(col("lsym"), col("rsym")) === col("h_l") ||
            concat(col("lsym"), col("rsym")) === col("h_r"))
          cand.join(broadcast(h), conflict, "left_anti")
            .orderBy(col("rn")).limit(t26Batch)
            .withColumn("k", row_number().over(wRank))
      }).localCheckpoint(false)
      // rank-sorted batch as ONE array row: array_sort on (k, l, r)
      // structs orders by k first, so the fold sees rank order
      val batchAgg = sel
        .agg(array_sort(collect_list(
          struct(col("k"), col("lsym"), col("rsym")))).as("ks"))
        .select(transform(col("ks"), p =>
          struct(p.getField("lsym").as("lsym"),
            p.getField("rsym").as("rsym"))).as("batch"))
      syms = syms.crossJoin(broadcast(batchAgg))
        .select(col("word"), col("freq"),
          when(size(col("batch")) === 0, raise_error(lit(
            s"t26: batch round $r found no adjacent pairs — corpus " +
              "fully merged before T26Rounds")))
            .otherwise(bpeBatchFold(col("syms"), col("batch")))
            .as("syms"))
        .localCheckpoint(false)
      val vocab = syms.select(explode(col("syms")).as("sym"))
        .agg(countDistinct(col("sym")).as("vocab_size"))
      sel.crossJoin(broadcast(vocab))
        .select(lit(r).as("round"), col("k").cast("long").as("batch_rank"),
          col("lsym"), col("rsym"), col("pair_count"), col("vocab_size"))
    }
    rows.reduce(_ unionAll _).orderBy(col("round"), col("batch_rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_count"   -> t1TokenCount _,
    "t2_quality_score" -> t2QualityScore _,
    "t3_langid"        -> t3LangId _,
    "t4_fingerprint"   -> t4Fingerprint _,
    "t5_winnow_fingerprint" -> t5WinnowFingerprint _,
    "t5_winnow_invariants"  -> t5WinnowInvariants _,
    "t6_train_val_split"    -> t6TrainValSplit _,
    "t7_stratified_sample"  -> t7StratifiedSample _,
    "t8_contamination"      -> t8Contamination _,
    "t9_rare_tokens"        -> t9RareTokens _,
    "t10_sequence_packing"  -> t10SequencePacking _,
    "t11_repetition"        -> t11Repetition _,
    "t12_surprisal"         -> t12Surprisal _,
    "t12_surprisal_zipf"    -> t12SurprisalZipf _,
    "t13_source_quota"      -> t13SourceQuota _,
    "t14_source_vocab_overlap" -> t14SourceVocabOverlap _,
    "t15_mixture_sample"    -> t15MixtureSample _,
    "t16_split_leakage"     -> t16SplitLeakage _,
    "t17_novelty_score"     -> t17NoveltyScore _,
    "t18_pii_redaction"     -> t18PiiRedaction _,
    "t19_gopher_rules"      -> t19GopherRules _,
    "t20_bigram_lm"         -> t20BigramLm _,
    "t21_vocab_growth"      -> t21VocabGrowth _,
    "t22_dup_ngrams"        -> t22DupNgrams _,
    "t23_dsir_importance"   -> t23DsirImportance _,
    "t24_bpe_merges"        -> t24BpeMerges _,
    "t25_bpe_encode"        -> t25BpeEncode _,
    "t26_bpe_batch_merges"  -> t26BpeBatchMerges _,
    "t26b_bpe_greedy_merges" -> t26bBpeGreedyMerges _,
  )

  /** The t24 oracle, built per round: DuckDB replays the greedy merge
    * POSITIONALLY — pair-occurrence positions, maximal consecutive runs
    * (overlaps exist only for l = r), alternating keeps within each run
    * (exactly the sequence the left-to-right fold emits), then the list
    * is rebuilt with kept positions merged and their successors dropped.
    * Sums are cast back to BIGINT (DuckDB sums integers into HUGEINT). */
  private def t24OracleSql: String = {
    val rounds = (1 to T24Rounds).map(bpeRoundCte).mkString(",\n")
    val out = (1 to T24Rounds).map { r =>
      s"""SELECT $r AS round, lsym, rsym, pair_count,
         |       (SELECT vocab_size FROM vocab$r) AS vocab_size
         |FROM win$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeOracleCtes(rounds)}
       |$out
       |ORDER BY round""".stripMargin
  }

  /** One positional merge round of the BPE oracle (see [[t24OracleSql]]'s
    * map entry comment for the greedy-rule replay). The multiply-
    * referenced CTEs are `AS MATERIALIZED` (r20, ADVICE r19): DuckDB
    * inlines plain CTEs once PER REFERENCE, and posx$r/win$r feed three
    * consumers each while keep$r/syms$r feed two — so the plain form
    * expanded the corpus-scan subtree ~3^R-fold and the elevated-rounds
    * oracle replay hit the exact exponential failure t26's oracle
    * documents (the engine-side twin is [[bpeRounds]]'s per-round
    * localCheckpoint). With the materialization the rounds seam's
    * "oracle stays armed at any setting" claim is actually true:
    * replay cost is linear in R (measured at R=16 in the r20 self-
    * check, where the plain form did not finish). */
  private def bpeRoundCte(r: Int): String = {
      val prev = s"syms${r - 1}"
      s"""pos$r AS (
         |  SELECT word, freq, syms,
         |         unnest(generate_series(1, len(syms))) AS i
         |  FROM $prev
         |),
         |posx$r AS MATERIALIZED (
         |  SELECT word, freq, i, syms[i] AS s,
         |         lead(syms[i]) OVER (PARTITION BY word ORDER BY i) AS nxt
         |  FROM pos$r
         |),
         |win$r AS MATERIALIZED (
         |  SELECT s AS lsym, nxt AS rsym,
         |         CAST(sum(freq) AS BIGINT) AS pair_count
         |  FROM posx$r WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2
         |  ORDER BY pair_count DESC, lsym, rsym LIMIT 1
         |),
         |occ$r AS (
         |  SELECT x.word, x.i FROM posx$r x, win$r w
         |  WHERE x.s = w.lsym AND x.nxt = w.rsym
         |),
         |keep$r AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i,
         |           row_number() OVER (PARTITION BY word, grp
         |                              ORDER BY i) AS rn
         |    FROM (
         |      SELECT word, i,
         |             i - row_number() OVER (PARTITION BY word
         |                                    ORDER BY i) AS grp
         |      FROM occ$r
         |    )
         |  ) WHERE rn % 2 = 1
         |),
         |syms$r AS MATERIALIZED (
         |  SELECT p.word, max(p.freq) AS freq,
         |         list(CASE WHEN k1.i IS NOT NULL THEN w.lsym || w.rsym
         |                   ELSE p.s END ORDER BY p.i) AS syms
         |  FROM posx$r p
         |  CROSS JOIN win$r w
         |  LEFT JOIN keep$r k1 ON k1.word = p.word AND k1.i = p.i
         |  LEFT JOIN keep$r k2 ON k2.word = p.word AND k2.i = p.i - 1
         |  WHERE k2.word IS NULL
         |  GROUP BY p.word
         |),
         |vocab$r AS (
         |  SELECT count(DISTINCT sym) AS vocab_size
         |  FROM (SELECT unnest(syms) AS sym FROM syms$r)
         |)""".stripMargin
  }

  /** The t25 oracle: the same training rounds, then the dictionary join —
    * per-word final symbol count onto one pass over the documents. */
  private def t25OracleSql: String = {
    val rounds = (1 to T24Rounds).map(bpeRoundCte).mkString(",\n")
    s"""WITH ${bpeOracleCtes(rounds)},
       |wordlen AS (
       |  SELECT word, len(syms) AS n_sym, len(word) AS n_char
       |  FROM syms$T24Rounds
       |),
       |docw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |)
       |SELECT d.doc_id,
       |       count(*) AS n_words,
       |       CAST(sum(w.n_char) AS BIGINT) AS n_chars_alpha,
       |       CAST(sum(w.n_sym) AS BIGINT) AS n_tokens_bpe,
       |       round(CAST(sum(w.n_char) AS DOUBLE) / sum(w.n_sym), 4)
       |         AS chars_per_token
       |FROM docw d JOIN wordlen w USING (word)
       |WHERE d.word <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** The t26 oracle: per round, the ranked candidate pool, the
    * no-conflict-with-any-higher-ranked anti-join selection, then
    * [[T26Batch]] STATIC positional sub-steps — each the t24 merge
    * replay conditioned on "the k-th selected pair exists" (an empty
    * bw table makes its occ/keep sets empty, the scalar subqueries
    * NULL, and the sub-step an exact pass-through), so the
    * data-dependent batch width needs no recursion. Sequential
    * sub-step application equals the engine's single batch scan by
    * the non-conflict invariant (see [[bpeBatchFold]]).
    *
    * The per-step word tables and the selection are `AS MATERIALIZED`:
    * DuckDB inlines plain CTEs once PER REFERENCE, and each sub-step
    * references its predecessor ~3 ways (scan, occurrence, keep-chain)
    * — the un-materialized expansion re-opened the documents parquet
    * ~3^(rounds·batch) times ("too many open files" at 2×4 steps),
    * the oracle-side twin of the engine's per-round localCheckpoint. */
  private def t26RoundCte(r: Int, select: String): String = {
    val prev = if (r == 1) "syms0" else s"b${r - 1}_$T26Batch"
    // the selection sub-CTE follows the engine's selection rule: the
    // anti-join rule is one EXISTS self-join; the greedy rule is a
    // recursive CTE walking the ranked pool once, carrying the
    // selected set as a LIST accumulator (the engine's aggregate-fold
    // replayed exactly — t26OracleSqlFor emits WITH RECURSIVE for it)
    val selCte = select match {
      case "greedy" =>
        s"""bgsel$r AS (
           |  SELECT 0 AS grn,
           |         CAST([] AS STRUCT(lsym VARCHAR, rsym VARCHAR,
           |                           pair_count BIGINT)[]) AS gsel
           |  UNION ALL
           |  SELECT c.rn AS grn,
           |    CASE WHEN len(g.gsel) < $T26Batch AND NOT EXISTS (
           |        SELECT 1 FROM unnest(g.gsel) u(s) WHERE
           |          s.lsym = c.lsym OR s.lsym = c.rsym OR
           |          s.rsym = c.lsym OR s.rsym = c.rsym OR
           |          s.lsym || s.rsym = c.lsym OR
           |          s.lsym || s.rsym = c.rsym OR
           |          c.lsym || c.rsym = s.lsym OR
           |          c.lsym || c.rsym = s.rsym)
           |      THEN list_append(g.gsel,
           |             {'lsym': c.lsym, 'rsym': c.rsym,
           |              'pair_count': c.pair_count})
           |      ELSE g.gsel END AS gsel
           |  FROM bgsel$r g JOIN bcand$r c ON c.rn = g.grn + 1
           |),
           |bselz$r AS (
           |  SELECT gsel FROM bgsel$r ORDER BY grn DESC LIMIT 1
           |),
           |bselu$r AS (
           |  SELECT gsel, unnest(generate_series(1, len(gsel))) AS k
           |  FROM bselz$r
           |),
           |bsel$r AS MATERIALIZED (
           |  SELECT gsel[k].lsym AS lsym, gsel[k].rsym AS rsym,
           |         gsel[k].pair_count AS pair_count, k
           |  FROM bselu$r
           |)""".stripMargin
      case "antijoin" =>
        s"""bsel$r AS MATERIALIZED (
           |  SELECT lsym, rsym, pair_count,
           |         row_number() OVER (ORDER BY rn) AS k
           |  FROM (SELECT c.* FROM bcand$r c
           |        WHERE NOT EXISTS (
           |          SELECT 1 FROM bcand$r h WHERE h.rn < c.rn AND (
           |            h.lsym = c.lsym OR h.lsym = c.rsym OR
           |            h.rsym = c.lsym OR h.rsym = c.rsym OR
           |            h.lsym || h.rsym = c.lsym OR
           |            h.lsym || h.rsym = c.rsym OR
           |            c.lsym || c.rsym = h.lsym OR
           |            c.lsym || c.rsym = h.rsym))
           |        ORDER BY c.rn LIMIT $T26Batch)
           |)""".stripMargin
    }
    val head =
      s"""bpos$r AS MATERIALIZED (
         |  SELECT word, freq, syms,
         |         unnest(generate_series(1, len(syms))) AS i
         |  FROM $prev
         |),
         |bposx$r AS MATERIALIZED (
         |  SELECT word, freq, i, syms[i] AS s,
         |         lead(syms[i]) OVER (PARTITION BY word ORDER BY i) AS nxt
         |  FROM bpos$r
         |),
         |bcand$r AS MATERIALIZED (
         |  SELECT lsym, rsym, pair_count,
         |         row_number() OVER (ORDER BY pair_count DESC, lsym, rsym)
         |           AS rn
         |  FROM (SELECT s AS lsym, nxt AS rsym,
         |               CAST(sum(freq) AS BIGINT) AS pair_count
         |        FROM bposx$r WHERE nxt IS NOT NULL GROUP BY 1, 2)
         |  ORDER BY rn LIMIT $T26Pool
         |),
         |$selCte""".stripMargin
    val subs = (1 to T26Batch).map { k =>
      val pv = if (k == 1) prev else s"b${r}_${k - 1}"
      s"""bw${r}_$k AS (SELECT lsym, rsym FROM bsel$r WHERE k = $k),
         |bp${r}_$k AS (
         |  SELECT word, freq, syms,
         |         unnest(generate_series(1, len(syms))) AS i
         |  FROM $pv
         |),
         |bx${r}_$k AS MATERIALIZED (
         |  SELECT word, freq, i, syms[i] AS s,
         |         lead(syms[i]) OVER (PARTITION BY word ORDER BY i) AS nxt
         |  FROM bp${r}_$k
         |),
         |bo${r}_$k AS (
         |  SELECT x.word, x.i FROM bx${r}_$k x
         |  WHERE x.s = (SELECT lsym FROM bw${r}_$k)
         |    AND x.nxt = (SELECT rsym FROM bw${r}_$k)
         |),
         |bk${r}_$k AS (
         |  SELECT word, i FROM (
         |    SELECT word, i,
         |           row_number() OVER (PARTITION BY word, grp
         |                              ORDER BY i) AS rn
         |    FROM (
         |      SELECT word, i,
         |             i - row_number() OVER (PARTITION BY word
         |                                    ORDER BY i) AS grp
         |      FROM bo${r}_$k
         |    )
         |  ) WHERE rn % 2 = 1
         |),
         |b${r}_$k AS MATERIALIZED (
         |  SELECT p.word, max(p.freq) AS freq,
         |         list(CASE WHEN k1.i IS NOT NULL
         |                   THEN (SELECT lsym || rsym FROM bw${r}_$k)
         |                   ELSE p.s END ORDER BY p.i) AS syms
         |  FROM bx${r}_$k p
         |  LEFT JOIN bk${r}_$k k1 ON k1.word = p.word AND k1.i = p.i
         |  LEFT JOIN bk${r}_$k k2 ON k2.word = p.word AND k2.i = p.i - 1
         |  WHERE k2.word IS NULL
         |  GROUP BY p.word
         |)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$subs,
       |bvocab$r AS (
       |  SELECT count(DISTINCT sym) AS vocab_size
       |  FROM (SELECT unnest(syms) AS sym FROM b${r}_$T26Batch)
       |)""".stripMargin
  }

  private def t26OracleSqlFor(select: String): String = {
    val rounds = (1 to T26Rounds).map(t26RoundCte(_, select)).mkString(",\n")
    val out = (1 to T26Rounds).map { r =>
      s"""SELECT $r AS round, k AS batch_rank, lsym, rsym, pair_count,
         |       (SELECT vocab_size FROM bvocab$r) AS vocab_size
         |FROM bsel$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    // the greedy selection CTEs are recursive; DuckDB requires the
    // whole WITH to carry the RECURSIVE keyword (harmless to the
    // non-recursive members)
    val rec = if (select == "greedy") "RECURSIVE " else ""
    s"""WITH $rec${bpeOracleCtes(rounds)}
       |$out
       |ORDER BY round, batch_rank""".stripMargin
  }

  /** The shared WITH-body of the BPE oracles: word frequencies, char
    * split, and the [[T24Rounds]] positional merge rounds (built by
    * [[t24OracleSql]]'s per-round text). */
  private def bpeOracleCtes(rounds: String): String =
    s"""wf AS (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> ''
       |  GROUP BY word
       |),
       |syms0 AS (
       |  SELECT word, freq,
       |         list_transform(generate_series(1, len(word)),
       |                        i -> substr(word, i, 1)) AS syms
       |  FROM wf
       |),
       |$rounds""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t1_token_count" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z0-9]+')) AS word_tokens,
        |       len(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct_chars,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              w -> w IN ('the','a','of','to','in','and'))) AS DOUBLE) AS stop_hits,
        |         CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
        |           / CAST(n_chars AS DOUBLE) AS punct_ratio
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n_words AS INT) AS n_words,
        |       round(stop_hits / n_words, 4) AS stop_ratio,
        |       round(punct_ratio, 4) AS punct_ratio,
        |       round(0.5 * least(n_words / 50.0, 1.0)
        |           + 0.3 * (1.0 - punct_ratio)
        |           + 0.2 * least((stop_hits / n_words) * 5.0, 1.0), 4) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "t3_langid" ->
      """WITH h AS (
        |  SELECT lang,
        |         len(list_filter(string_split(text, ' '),
        |             w -> w IN ('the','a','of','to','in','and'))) AS he,
        |         len(list_filter(string_split(text, ' '),
        |             w -> w IN ('der','die','und','das','ein','von'))) AS hd,
        |         len(list_filter(string_split(text, ' '),
        |             w -> w IN ('le','la','les','et','un','des'))) AS hf,
        |         len(list_filter(string_split(text, ' '),
        |             w -> w IN ('el','los','las','una','que','es'))) AS hs,
        |         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk
        |  FROM documents
        |), p AS (
        |  SELECT lang,
        |         CASE WHEN cjk > 0 THEN 'zh'
        |              WHEN greatest(he, hd, hf, hs) = 0 THEN 'und'
        |              WHEN he >= greatest(hd, hf, hs) THEN 'en'
        |              WHEN hd >= greatest(hf, hs) THEN 'de'
        |              WHEN hf >= hs THEN 'fr'
        |              ELSE 'es' END AS predicted
        |  FROM h
        |)
        |SELECT lang, predicted, count(*) AS n_docs
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "t4_fingerprint" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS distinct_fp,
        |       min(md5(text)) AS min_fp
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t5_winnow_fingerprint" -> {
      // Direct polynomial replay of RollingHash (B=131, P=2^31-1, k=8):
      // window hash = (Σ_{j=0..7} byte_{i+j} · 131^(7-j)) mod P, identical
      // to the kernel's rolling recurrence; max un-reduced sum ≈ 1.8e17
      // fits BIGINT. Bytes come from hex(encode(text)) so the replay is
      // byte-exact for any UTF-8 input, not just ASCII.
      val poly = (0 to 7)
        .map(j => s"bs[i+$j]*${BigInt(131).pow(7 - j)}")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents
         |), byt AS (
         |  SELECT doc_id, n,
         |    list_transform(generate_series(1, n),
         |      i -> (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1))-1)*16
         |         + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1))-1)) AS bs
         |  FROM b
         |), hs AS (
         |  SELECT doc_id,
         |    CASE WHEN n >= 8 THEN
         |      list_transform(generate_series(1, n-7), i -> ($poly) % 2147483647)
         |    ELSE CAST([] AS BIGINT[]) END AS hs
         |  FROM byt
         |), fp AS (
         |  SELECT doc_id, len(hs) AS n_windows,
         |    CASE WHEN len(hs) >= 4 THEN
         |      list_distinct(list_transform(generate_series(1, len(hs)-3),
         |        i -> list_min(hs[i:i+3])))
         |    ELSE list_distinct(hs) END AS fps
         |  FROM hs
         |)
         |SELECT doc_id, n_windows, len(fps) AS n_fingerprints,
         |       list_min(fps) AS min_fp
         |FROM fp ORDER BY doc_id""".stripMargin
    },
    "t5_winnow_invariants" ->
      """SELECT doc_id,
        |       greatest(strlen(text) - 7, 0) AS n_windows,
        |       TRUE AS fp_count_ok,
        |       TRUE AS fp_range_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t6_train_val_split" ->
      """SELECT lang,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |            THEN 'train' ELSE 'val' END AS split,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "t7_stratified_sample" -> {
      val thCase = t7Strata.map { case (l, hex, _) => s"WHEN '$l' THEN '$hex'" }
        .mkString("CASE lang ", " ", s" ELSE '${t7Default._1}' END")
      val wCase = t7Strata.map { case (l, _, w) => s"WHEN '$l' THEN $w" }
        .mkString("CASE lang ", " ", s" ELSE ${t7Default._2} END")
      s"""SELECT doc_id, lang, CAST($wCase AS DOUBLE) AS weight
         |FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < $thCase
         |ORDER BY doc_id""".stripMargin
    },
    "t8_contamination" -> {
      val joins = (0 until ContamN)
        .map(k => s"string_split(text, ' ')[i+$k]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train,
         |         unnest(shs) AS sh
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(string_split(text, ' ')) >= $ContamN THEN
         |        list_distinct(list_transform(
         |          generate_series(1, len(string_split(text, ' ')) - ${ContamN - 1}),
         |          i -> $joins))
         |      ELSE CAST([] AS VARCHAR[]) END AS shs
         |    FROM documents)
         |),
         |tr AS (SELECT DISTINCT sh FROM sh WHERE is_train)
         |SELECT s.doc_id, count(*) AS n_sh, count(t.sh) AS n_hit,
         |       round(CAST(count(t.sh) AS DOUBLE) / count(*), 4) AS contam_frac
         |FROM sh s LEFT JOIN tr t ON s.sh = t.sh
         |WHERE NOT s.is_train
         |GROUP BY s.doc_id
         |ORDER BY contam_frac DESC, doc_id LIMIT 20""".stripMargin
    },
    "t9_rare_tokens" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
         |),
         |rare AS (
         |  SELECT tok FROM (SELECT tok, count(*) AS freq FROM tok GROUP BY 1)
         |  WHERE freq <= $RareMaxFreq
         |)
         |SELECT t.doc_id, count(*) AS n_tok, count(r.tok) AS n_rare,
         |       round(CAST(count(r.tok) AS DOUBLE) / count(*), 4) AS rare_ratio
         |FROM tok t LEFT JOIN rare r ON t.tok = r.tok
         |GROUP BY t.doc_id
         |ORDER BY rare_ratio DESC, doc_id LIMIT 20""".stripMargin,
    "t10_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
         |  FROM documents
         |), c AS (
         |  SELECT source, n_tok,
         |         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |                               ROWS UNBOUNDED PRECEDING) - n_tok
         |              AS BIGINT) AS cum_before
         |  FROM t
         |)
         |SELECT source, cum_before // $PackWindow AS bin,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |       round(CAST(sum(n_tok) AS DOUBLE) / $PackWindow, 4)
         |         AS fill_ratio
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t11_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), cnt AS (
        |  SELECT doc_id, source, tok, count(*) AS n FROM tok GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, source,
        |       CAST(sum(n) AS BIGINT) AS n_tok,
        |       count(*) AS n_types,
        |       round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
        |             / sum(n), 4) AS rep_ratio,
        |       round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_share
        |FROM cnt GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,
    "t12_surprisal" ->
      """WITH dt AS (
        |  SELECT doc_id, tok, count(*) AS n_dt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), vocab AS (
        |  SELECT tok, CAST(sum(n_dt) AS BIGINT) AS freq FROM dt GROUP BY tok
        |), scored AS (
        |  SELECT tok,
        |         CAST(length(bin((SELECT sum(freq) FROM vocab) // freq)) - 1
        |              AS BIGINT) AS bits
        |  FROM vocab
        |)
        |SELECT dt.doc_id,
        |       CAST(sum(dt.n_dt) AS BIGINT) AS n_tok,
        |       CAST(sum(dt.n_dt * s.bits) AS BIGINT) AS bits_sum,
        |       round(CAST(sum(dt.n_dt * s.bits) AS DOUBLE)
        |             / sum(dt.n_dt), 4) AS mean_bits
        |FROM dt JOIN scored s USING (tok)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,
    // the Zipf split is a pure plan-topology variant: same result set,
    // same oracle text — a differential check that the head/tail
    // decomposition loses and double-counts nothing
    "t12_surprisal_zipf" ->
      """WITH dt AS (
        |  SELECT doc_id, tok, count(*) AS n_dt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), vocab AS (
        |  SELECT tok, CAST(sum(n_dt) AS BIGINT) AS freq FROM dt GROUP BY tok
        |), scored AS (
        |  SELECT tok,
        |         CAST(length(bin((SELECT sum(freq) FROM vocab) // freq)) - 1
        |              AS BIGINT) AS bits
        |  FROM vocab
        |)
        |SELECT dt.doc_id,
        |       CAST(sum(dt.n_dt) AS BIGINT) AS n_tok,
        |       CAST(sum(dt.n_dt * s.bits) AS BIGINT) AS bits_sum,
        |       round(CAST(sum(dt.n_dt * s.bits) AS DOUBLE)
        |             / sum(dt.n_dt), 4) AS mean_bits
        |FROM dt JOIN scored s USING (tok)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,
    "t13_source_quota" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents
        |)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars
        |FROM ranked WHERE rank <= 15 ORDER BY source, rank""".stripMargin,
    "t14_source_vocab_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), sz AS (
        |  SELECT source, count(*) AS n FROM v GROUP BY source
        |), inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS n_common
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT i.source_a, i.source_b,
        |       sa.n AS n_a, sb.n AS n_b, i.n_common,
        |       round(CAST(i.n_common AS DOUBLE)
        |             / (sa.n + sb.n - i.n_common), 4) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.source = i.source_a
        |JOIN sz sb ON sb.source = i.source_b
        |ORDER BY i.source_a, i.source_b""".stripMargin,
    "t15_mixture_sample" -> {
      val wCase = t15WeightSql
      s"""WITH tokd AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS u4
         |  FROM documents
         |), avail AS (
         |  SELECT source, CAST(sum(tok) AS BIGINT) AS avail_tok,
         |         count(*) AS n_docs
         |  FROM tokd GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(avail_tok) AS BIGINT) AS total_tok FROM avail),
         |plan AS (
         |  SELECT a.*,
         |         CAST(floor(($wCase)
         |           * CAST(total_tok // $t15BudgetDen AS DOUBLE))
         |           AS BIGINT) AS target_tok
         |  FROM avail a, tot
         |), plan2 AS (
         |  SELECT *,
         |         CASE WHEN avail_tok <= target_tok THEN 65536
         |              ELSE (target_tok * 65536) // avail_tok END AS th
         |  FROM plan
         |), plan3 AS (
         |  SELECT *, lpad(lower(hex(least(th, 65535))), 4, '0') AS th_hex
         |  FROM plan2
         |), sampled AS (
         |  SELECT t.source, count(*) AS n_sampled,
         |         CAST(sum(t.tok) AS BIGINT) AS tok_sampled
         |  FROM tokd t JOIN plan3 p ON t.source = p.source
         |  WHERE p.th = 65536 OR t.u4 < p.th_hex
         |  GROUP BY 1
         |)
         |SELECT p.source, p.n_docs, p.avail_tok, p.target_tok,
         |       round(CAST(least(p.th, 65536) AS DOUBLE) / 65536.0, 4)
         |         AS rate,
         |       CASE WHEN p.th = 0 THEN 0.0
         |            ELSE round(65536.0 / CAST(least(p.th, 65536) AS DOUBLE), 4)
         |       END AS weight,
         |       coalesce(s.n_sampled, 0) AS n_sampled,
         |       coalesce(s.tok_sampled, 0) AS tok_sampled
         |FROM plan3 p LEFT JOIN sampled s ON p.source = s.source
         |ORDER BY p.source""".stripMargin
    },
    "t16_split_leakage" ->
      s"""WITH ${Dedup.d3PairsSqlCtes},
         |sym AS (
         |  SELECT doc_a AS v, doc_b AS t, jaccard FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS v, doc_a AS t, jaccard FROM pairs
         |)
         |SELECT v AS val_doc, count(*) AS n_train_dups,
         |       max(jaccard) AS max_jaccard
         |FROM sym
         |WHERE substr(md5(CAST(v AS VARCHAR)), 1, 2) >= 'cd'
         |  AND substr(md5(CAST(t AS VARCHAR)), 1, 2) < 'cd'
         |GROUP BY v
         |ORDER BY val_doc""".stripMargin,
    "t17_novelty_score" -> {
      val joins = (0 until ContamN)
        .map(k => s"string_split(text, ' ')[i+$k]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(shs) AS sh
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(string_split(text, ' ')) >= $ContamN THEN
         |        list_distinct(list_transform(
         |          generate_series(1, len(string_split(text, ' ')) - ${ContamN - 1}),
         |          i -> $joins))
         |      ELSE CAST([] AS VARCHAR[]) END AS shs
         |    FROM documents)
         |),
         |owner AS (SELECT sh, min(doc_id) AS owner FROM sh GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_sh,
         |       CAST(sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_first,
         |       round(CAST(sum(CASE WHEN o.owner = s.doc_id
         |                          THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 4) AS novelty
         |FROM sh s JOIN owner o ON s.sh = o.sh
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin
    },
    // t18: same planted augmentation, same RE2-safe patterns, same
    // chained replacement — DuckDB needs the 'g' flag (its
    // regexp_replace is first-match by default; Spark's is global)
    "t18_pii_redaction" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $T18IdShift,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@example.com call 555-'
         |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |              || '.7'
         |  FROM documents WHERE doc_id % $T18Every = 0
         |), counted AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(text, '$T18Email')) AS n_email,
         |         len(regexp_extract_all(text, '$T18Phone')) AS n_phone,
         |         len(regexp_extract_all(text, '$T18Ip')) AS n_ip,
         |         regexp_replace(regexp_replace(regexp_replace(text,
         |           '$T18Email', '<EMAIL>', 'g'),
         |           '$T18Phone', '<PHONE>', 'g'),
         |           '$T18Ip', '<IP>', 'g') AS text_redacted
         |  FROM aug
         |)
         |SELECT * FROM counted
         |WHERE n_email + n_phone + n_ip > 0
         |ORDER BY doc_id""".stripMargin,
    // t19: identical IEEE expression tree (exact-integer divides), rules
    // evaluated on the UNROUNDED doubles in both engines
    "t19_gopher_rules" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         len(string_split(text, ' ')) AS n_words,
         |         CAST(list_sum(list_transform(string_split(text, ' '),
         |              w -> strlen(w))) AS DOUBLE)
         |           / CAST(len(string_split(text, ' ')) AS DOUBLE)
         |           AS mean_wlen,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |           / CAST(len(string_split(text, ' ')) AS DOUBLE)
         |           AS distinct_ratio,
         |         len(list_filter(string_split(text, ' '),
         |             w -> w IN ('the','a','of','to','in','and'))) AS stop_hits
         |  FROM documents
         |)
         |SELECT doc_id, n_words,
         |       round(mean_wlen, 4) AS mean_wlen,
         |       round(distinct_ratio, 4) AS distinct_ratio,
         |       stop_hits,
         |       n_words BETWEEN $T19MinWords AND $T19MaxWords AS r_nwords,
         |       mean_wlen >= $T19MinMeanLen AND mean_wlen <= $T19MaxMeanLen
         |         AS r_meanlen,
         |       stop_hits >= $T19MinStops AS r_stops,
         |       distinct_ratio >= $T19MinDistinct AS r_distinct,
         |       (n_words BETWEEN $T19MinWords AND $T19MaxWords)
         |         AND mean_wlen >= $T19MinMeanLen
         |         AND mean_wlen <= $T19MaxMeanLen
         |         AND stop_hits >= $T19MinStops
         |         AND distinct_ratio >= $T19MinDistinct AS pass
         |FROM f ORDER BY doc_id""".stripMargin,
    // t20: DuckDB lists are 1-based (range(1, len) pairs l[i] with
    // l[i+1]); the marginal window runs before the min-count prune in
    // both engines, and the window sum is cast back to BIGINT (DuckDB
    // widens to HUGEINT)
    "t20_bigram_lm" ->
      s"""WITH toks AS (
         |  SELECT string_split(text, ' ') AS l FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2
         |), bg AS (
         |  SELECT unnest(list_transform(range(1, len(l)),
         |                i -> l[i] || ' ' || l[i+1])) AS b
         |  FROM toks
         |), c AS (
         |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         |         count(*) AS n_pair
         |  FROM bg GROUP BY 1, 2
         |), t AS (
         |  SELECT w1, w2, n_pair,
         |         CAST(sum(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
         |  FROM c
         |)
         |SELECT w1, w2, n_pair, n_w1,
         |       round(CAST(n_pair AS DOUBLE) / CAST(n_w1 AS DOUBLE), 4)
         |         AS p_cond
         |FROM t WHERE n_pair >= $T20MinCount
         |ORDER BY n_pair DESC, w1, w2""".stripMargin,
    // t21: same integer range-bucket rule (// is DuckDB's integer
    // division, DIV Spark's); cumulative sums cast back to BIGINT
    "t21_vocab_growth" ->
      """WITH stats AS (
        |  SELECT min(doc_id) AS mn, max(doc_id) - min(doc_id) + 1 AS span
        |  FROM documents
        |), b AS (
        |  SELECT CAST(((doc_id - mn) * 10) // span AS INT) + 1 AS bucket,
        |         string_split(text, ' ') AS w
        |  FROM documents, stats
        |), per_bucket AS (
        |  SELECT bucket, count(*) AS n_docs,
        |         CAST(sum(len(w)) AS BIGINT) AS n_tokens
        |  FROM b GROUP BY 1
        |), first_b AS (
        |  SELECT tok, min(bucket) AS first_bucket
        |  FROM (SELECT bucket, unnest(w) AS tok FROM b)
        |  GROUP BY 1
        |), new_types AS (
        |  SELECT first_bucket, count(*) AS n_new_types
        |  FROM first_b GROUP BY 1
        |)
        |SELECT p.bucket AS decile,
        |       CAST(sum(p.n_docs) OVER win AS BIGINT) AS docs_cum,
        |       CAST(sum(p.n_tokens) OVER win AS BIGINT) AS tokens_cum,
        |       CAST(sum(coalesce(n.n_new_types, 0)) OVER win AS BIGINT)
        |         AS vocab_cum,
        |       round(CAST(sum(coalesce(n.n_new_types, 0)) OVER win AS DOUBLE)
        |             / CAST(sum(p.n_tokens) OVER win AS DOUBLE), 6) AS ttr
        |FROM per_bucket p LEFT JOIN new_types n
        |  ON p.bucket = n.first_bucket
        |WINDOW win AS (ORDER BY p.bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY decile""".stripMargin,
    // t22: gram construction over the STRING grams (1-based inclusive
    // list slice = Spark's slice(ws, pos+1, n)); the engine's 64-bit
    // gram hashes matching these string-keyed counts is the
    // no-collision differential evidence, as in d10
    "t22_dup_ngrams" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), g AS (
         |  SELECT doc_id,
         |         array_to_string(
         |           w[CAST(i AS INT):CAST(i + ${T22N - 1} AS INT)], ' ')
         |           AS gram
         |  FROM t, unnest(range(1, len(w) - ${T22N - 2})) AS r(i)
         |), c AS (
         |  SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
         |       count(*) AS n_distinct,
         |       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
         |         AS dup_occ,
         |       round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
         |             / sum(n), 4) AS dup_ratio
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t23: the bucket hash is the same integer fold in both engines
    // (DuckDB list_reduce seeds from the FIRST element, so a 0 is
    // prepended to match Spark aggregate's explicit zero); bits =
    // length(bin(n)) - 1 = floor(log2 n), t12's integer-log trick.
    // DuckDB range(1, n+1) is [1..n]; b[i] is 1-based char indexing.
    "t23_dsir_importance" ->
      s"""WITH bg AS (
         |  SELECT doc_id, lang,
         |         unnest(list_transform(range(1, len(w)),
         |                i -> w[i] || ' ' || w[i+1])) AS b
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
         |        FROM documents WHERE len(string_split(text, ' ')) >= 2)
         |), occ AS (
         |  SELECT doc_id, lang,
         |         CAST(list_reduce(
         |                list_prepend(CAST(0 AS BIGINT),
         |                  list_transform(range(1, length(b) + 1),
         |                    i -> CAST(unicode(b[CAST(i AS INT)]) AS BIGINT))),
         |                (acc, c) -> (acc * 131 + c) % $T23HashP)
         |              % $T23Buckets AS INT) AS bucket
         |  FROM bg
         |), feat AS (
         |  SELECT bucket, count(*) AS n_r,
         |         count(*) FILTER (WHERE lang = '$T23TargetLang') AS n_t
         |  FROM occ GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_r) AS BIGINT) AS t_r,
         |         CAST(sum(n_t) AS BIGINT) AS t_t FROM feat
         |), per_doc AS (
         |  SELECT o.doc_id, o.lang, count(*) AS n_bigrams,
         |         CAST(sum((length(bin(f.n_t + 1)) - 1)
         |                - (length(bin(f.n_r + 1)) - 1)) AS BIGINT) AS s_raw
         |  FROM occ o JOIN feat f USING (bucket) GROUP BY 1, 2
         |), scored AS (
         |  SELECT doc_id, lang, n_bigrams,
         |         s_raw + n_bigrams *
         |           ((length(bin(t_r + $T23Buckets)) - 1)
         |          - (length(bin(t_t + $T23Buckets)) - 1)) AS score_bits
         |  FROM per_doc, tot
         |), kth AS (
         |  SELECT min(score_bits) AS k FROM (
         |    SELECT score_bits FROM scored
         |    ORDER BY score_bits DESC, doc_id LIMIT $T23SelectK)
         |)
         |SELECT doc_id, lang, n_bigrams,
         |       CAST(score_bits AS BIGINT) AS score_bits,
         |       round(CAST(score_bits AS DOUBLE) / n_bigrams, 4)
         |         AS bits_per_bigram,
         |       score_bits >= k AS selected
         |FROM scored, kth ORDER BY doc_id""".stripMargin,
    "t24_bpe_merges" -> t24OracleSql,
    "t25_bpe_encode" -> t25OracleSql,
    "t26_bpe_batch_merges" -> t26OracleSqlFor("antijoin"),
    "t26b_bpe_greedy_merges" -> t26OracleSqlFor("greedy"),
  )
}
