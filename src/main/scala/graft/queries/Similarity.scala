package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosine_sim, dot_product}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>[64], label).
  *
  * Three tiers, mirroring a production ANN stack:
  *   s1 brute force  — exact cosine top-k; the ground truth and the
  *                     correctness baseline (DuckDB-oracle-checked)
  *   s2 IVF          — coarse quantization into a FIXED number of cells,
  *                     probe the nearest cells only; reports measured
  *                     recall@10 vs brute (DuckDB-oracle-checked: the
  *                     centroid rule is deterministic SQL)
  *   s3 LSH          — multi-table random-hyperplane sign buckets;
  *                     reports measured recall@10 vs brute (DuckDB-
  *                     oracle-checked: the planes are embedded as
  *                     literals in the oracle SQL)
  *
  * Scale design: the query set is tiny and broadcast; the corpus side is
  * only ever scanned, never collected. s1 is one broadcast-nested-loop
  * over the corpus + per-query top-k (TakeOrdered shape). s2/s3 shrink
  * the scanned fraction to the probed cells/buckets — at 100 TB the
  * bucket column becomes the partition key so a probe touches only its
  * partitions. s2's centroid count is FIXED (not a fraction of the
  * corpus), so the assignment pass is O(N·K) with an O(K) broadcast —
  * the every-100th-vector rule it replaces made assignment O(N²/100)
  * and grew the broadcast with the corpus. The cosine kernel is the
  * fused codegen [[graft.functions.CosineSim]] expression.
  */
object Similarity {

  private val K = 10          // top-k neighbors
  private val NumQueries = 5  // vec_id < 5 are the query vectors
  // s2: coarse codebook sized by the BALANCED sqrt RULE (r13): the
  // centroid count is max(NumCentroids, ceil(sqrt(N / 8))). A fixed
  // codebook makes cell size ∝ N and d13/p5's within-cell pair stage
  // Σ|cell|² ∝ N² — the scale-killer the r13 slope run measured (tail
  // 1.3+ and climbing). A fixed target CELL SIZE makes the pair stage
  // linear but the brute-force assignment (every vector × every
  // centroid) ∝ N² instead. C ∝ sqrt(N) balances the two at N^1.5 each
  // — the best this layer can do without ANN-assisted assignment
  // (hierarchical IVF: assign vectors to centroids through an index
  // over the centroids themselves — the named future linearization).
  // sqrt(2000/8) = 15.8 → 16, so the rule coincides with the historic
  // 16-centroid codebook at every driver-gated SF and every
  // oracle-checked output is bit-identical to the fixed-size era.
  private val NumCentroids = 16
  private[queries] val CentroidDivisor = 8
  private val ProbeCells = 4
  // s3: multi-table sign-LSH. Collision prob per bit for neighbors at
  // cosine ~0.45 is ~0.65, so one table of many bits has hopeless recall;
  // L tables of k bits give recall 1-(1-0.65^k)^L ≈ 0.5 at (6, 5) while
  // scanning ~L/2^k ≈ 19% of the corpus.
  private[graft] val NumTables = 6
  private val BitsPerTable = 5

  /** Deterministic pseudo-random hyperplanes (fixed seed, ±1 components —
    * sign-random projections need no Gaussian). [[planesFor]] extends
    * the SAME seeded sequence to any count, so the first 30 planes —
    * and with them every 5-bit bucket id the s3/s9/s13 oracles embed —
    * are identical no matter how many more the adaptive-bits tier
    * draws. */
  private def planesFor(n: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(n)(Array.fill(64)(if (rnd.nextBoolean()) 1f else -1f))
  }

  /** Flattened plane array per count, memoized so two `sign_buckets`
    * expressions at the same bit width share ONE float[] reference
    * (ADVICE r15: a fresh array per call made logically identical
    * expressions compare unequal, defeating Catalyst canonicalization
    * and CSE — the kernel also content-compares as a second line of
    * defense). */
  private val flatPlanesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Float]]()
  private def flatPlanesFor(n: Int): Array[Float] =
    flatPlanesCache.computeIfAbsent(n, k => planesFor(k).flatten)

  /** Deterministic pseudo-random id mix BOTH engines can compute with
    * plain BIGINT arithmetic (a Knuth-style affine mix — NOT xxhash64,
    * which DuckDB cannot reproduce). Safe under ANSI overflow for ids up
    * to ~8e9; beyond that, split the multiply. The s2 centroids are the
    * [[NumCentroids]] vectors with the smallest (mix, vec_id). */
  private val MixA = 1103515245L
  private val MixB = 12345L
  private val MixM = 2147483648L
  private def idMix(id: Column): Column =
    pmod(id * lit(MixA) + lit(MixB), lit(MixM))

  /** [[idMix]] for composing families (d13's bounded sub-cell split keys
    * on it, s12's probe sample strides by it), plus its SQL text for
    * their oracles. */
  private[graft] def idMixOf(id: Column): Column = idMix(id)
  private[queries] def mixSql(c: String): String =
    s"(($c * $MixA + $MixB) % $MixM)"

  /** The bounded sub-cell split as oracle CTE text (mirrors
    * [[Dedup.boundedSubCells]] integer for integer): `src` must expose
    * (vec_id, embedding, nrm, cell); emits `<out>` with an added `sub`
    * column. */
  private[queries] def boundedSubCtes(src: String, out: String): String =
    s"""${out}_counts AS (
       |  SELECT cell, count(*) AS c_n FROM $src GROUP BY cell
       |),
       |${out}_bnd AS (
       |  SELECT greatest($CellBoundFloor,
       |         (4 * CAST(sum(c_n) AS BIGINT)) // count(*)) AS bnd
       |  FROM ${out}_counts
       |),
       |$out AS (
       |  SELECT s.vec_id, s.embedding, s.nrm, s.cell,
       |         ${mixSql("s.vec_id")} % ((cc.c_n + b.bnd - 1) // b.bnd) AS sub
       |  FROM $src s
       |  JOIN ${out}_counts cc USING (cell)
       |  CROSS JOIN ${out}_bnd b
       |)""".stripMargin

  /** Worst-case cell bound for the within-cell PAIR stages (d13/d13b/p5):
    * a cell above max([[CellBoundFloor]], 4 × mean cell size) is split
    * into hash sub-cells of at most that bound, capping Σ|cell|² at
    * N × bound — LINEAR worst case even under an adversarial dominant
    * cluster, and bounding the per-(cell, sub) pair-join task at bound²
    * cosines (the pair stage shuffles on that key, so the bound IS the
    * task granularity — the straggler cap). The price is dedup
    * completeness inside a mega-cluster (each sub-cell keeps one
    * member), the same recall-for-boundedness trade as d3's
    * MaxBandBucket. Why it exists: the r13 skew-corpus slope run
    * measured tail ≈2.0 — a tight cluster does NOT split across random
    * centroid seeds (argmax-cosine concentrates on the most central
    * seed; k-means would reposition centroids into the dense region, a
    * deterministic id-mix seed rule cannot). The floor sits 4× above
    * the largest driver-SF ORGANIC cell (152) and above d13b's sf0.01
    * augmented dominant cell (536), so every oracle-gated output is
    * unchanged; d13b's sf0.1 fixture cell (2115) deliberately splits —
    * the bench entry exercises the bounded path, not the straggler.
    * Applied in the PAIR stages only — s2/s7 probe pruning keeps
    * geometric cells (a hash sub-split of a probed cell would scatter
    * true neighbors). */
  private[queries] val CellBoundFloor = 600L

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))

  private def querySet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Exact top-k per query: broadcast the query set against the corpus,
    * rank by (rounded cosine, vec_id) for cross-engine determinism.
    *
    * Scale note (audited r14, pinned in PlanSpec): the
    * `row_number() <= K` formulation lets Spark insert a PARTIAL
    * `WindowGroupLimit` BELOW the per-query exchange — every map
    * partition keeps only its local top-K before anything shuffles, so
    * the q_id reducer receives ≤ K rows per map partition (with the
    * embeddings already pruned), never the corpus. A salted two-phase
    * rewrite was measured and REVERTED: it duplicates what
    * WindowGroupLimit already provides and pays a second exchange+sort
    * for it. The pin exists because the guarantee is formulation-
    * sensitive — `rank()`/`filter` shapes that the rule cannot match
    * would silently ship N rows to 5 reducers. */
  private def bruteTopK(e: DataFrame): DataFrame = {
    val q = querySet(e)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** s1 — exact brute-force cosine top-10 for each query vector. */
  def s1KnnBrute(s: SparkSession, dir: String): DataFrame =
    bruteTopK(embeddings(s, dir)).orderBy(col("q_id"), col("rank"))

  /** Measured recall@K of an approximate result against the exact one —
    * the honest quality metric for an ANN tier.
    *
    * ONE pass over `approx` (r22, guide §1.2/§7.2 "duplicated subtrees"):
    * the old shape ran two aggregates over the approx subtree — a
    * left-semi hit count and a returned count — so every ANN tier's
    * whole candidate pipeline appeared TWICE in the plan (doubling both
    * Catalyst planning time and, wherever AQE could not prove exchange
    * reuse, execution). A left join against the brute top-K is exact
    * here because brute has at most ONE row per (q_id, neighbor_id)
    * (row_number ranks distinct pairs), so it cannot duplicate approx
    * rows: count(*) is n_returned and count(hit) is the semi-join hit
    * count, bit-identical to the old two-aggregate result. */
  private def recallVsBrute(e: DataFrame, approx: DataFrame,
      extraCols: Seq[Column]): DataFrame = {
    val brute = bruteTopK(e)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
    val perQ = approx.join(brute, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_returned"), count(col("hit")).as("hits"))
    // anchor on the query list so a query whose probes found NO candidates
    // still reports (n_returned = 0, recall 0) instead of vanishing
    val base = querySet(e).select((col("q_id") +: extraCols): _*)
    base.join(perQ, Seq("q_id"), "left")
      .withColumn("n_returned", coalesce(col("n_returned"), lit(0L)))
      .withColumn("recall_at_10",
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4))
      .drop("hits")
      .orderBy(col("q_id"))
  }

  /** The s2 centroid seed table: the [[NumCentroids]] vectors with the
    * smallest deterministic id-mix — an O(N) TakeOrdered scan, fixed-size
    * broadcast. */
  private def centroids(e: DataFrame): DataFrame = {
    // one metadata-cheap count action sizes the codebook (see the
    // balanced sqrt rule above); the seed scan stays a lazy TakeOrdered
    seedCodebook(e, math.max(NumCentroids,
      math.ceil(math.sqrt(e.count() / CentroidDivisor.toDouble)).toInt))
  }

  /** The idMix seed rule: the `k` vectors with the smallest (idMix,
    * vec_id), as `(c_id, c_emb)` — an O(N) TakeOrdered scan. Every
    * codebook is this rule at its own size: s2's √ rule
    * ([[centroids]]), the flat rule ([[centroidsFlat]]) and s4/s7's
    * fixed [[NumCentroids]]. The oracles replay it as the `cent` CTE
    * ([[centOracleCte]]). */
  private def seedCodebook(e: DataFrame, k: Int): DataFrame =
    e.orderBy(idMix(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** [[centroids]] for composing families (d13b seeds its cells from the
    * ORGANIC corpus while assigning an augmented one — the stored-index
    * position, where new near-dup mass joins existing cells). */
  private[graft] def centroidsOf(e: DataFrame): DataFrame = centroids(e)

  /** Every vector assigned to its max-cosine centroid cell in one
    * broadcast pass (row_number argmax on the per-vector × per-centroid
    * product; cosines rounded to 4 decimals BEFORE ranking with c_id
    * tie-break, so the DuckDB oracle reproduces every assignment
    * bit-for-bit). Shared by s2/s7's IVF probe path and
    * [[Dedup.d13SemanticDedup]]'s cluster blocking. */
  private[graft] def cellAssigned(e: DataFrame): DataFrame =
    cellAssignedAgainst(centroids(e), e)

  /** [[cellAssigned]] against an explicit centroid table (d13b assigns an
    * augmented corpus to cells seeded from the organic one).
    *
    * r14 shape change (same outputs, bit-for-bit): the argmax is a
    * map-side-combinable `max_by` over (rounded cosine, −c_id) — the
    * ordering the row_number window used — instead of a window. The
    * window shape shuffled ALL N·C scored rows (each carrying the
    * 64-float embedding) into a vec_id sort just to keep row 1; the
    * aggregate collapses to one row per vector BEFORE its exchange
    * (each vector's C candidates are co-partitioned by construction —
    * the codebook is broadcast onto e's partitioning), so only N
    * (vec_id, embedding, cell) rows ever cross. `first(embedding)` is
    * deterministic here: every candidate row of a group carries the
    * same embedding. This is the exact-assignment twin of
    * [[lshAssignCore]]'s agg, pinned by PlanSpec. */
  private[queries] def cellAssignedAgainst(cent: DataFrame,
      e: DataFrame): DataFrame =
    scored(e.join(broadcast(cent), lit(true)))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"), cellArgmax.as("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** Scores per-(vector, centroid) candidate rows `(vec_id, embedding,
    * c_id, c_emb, …)`: adds `c_cos`, the cosine rounded to 4 decimals
    * BEFORE any ranking, so both engines rank identical values. */
  private def scored(cand: DataFrame): DataFrame =
    cand.withColumn("c_cos", round(cosine_sim(col("embedding"), col("c_emb")), 4))

  /** The cell argmax rule, over [[scored]] rows grouped by vector: the
    * centroid with the highest rounded cosine, the LOWEST `c_id` on ties
    * (struct order on (c_cos, −c_id)). A map-side-combinable aggregate,
    * so each vector's candidates collapse to one row before the exchange.
    * Every assignment tier and gate fixture argmaxes through it; the
    * oracles replay it as `row_number() OVER (PARTITION BY vec_id ORDER
    * BY cos DESC, c_id) = 1` (the `cells` CTE of [[cellsOracleCtes]]). */
  private def cellArgmax: Column =
    max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).as("nid")))

  /** Top-P probe ranking: each prober `id` ranks its candidate centroids
    * `cand(id, emb, c_id, c_emb, …)` by the 4-dp rounded cosine (column
    * `cos`) descending, then `c_id` ascending, and keeps the first `p`.
    * Returns `(id, emb, cell, rank)`, the 1-based probe rank in column
    * `rank`. A `row_number() <= p` window, so Spark plans a partial
    * WindowGroupLimit below the exchange. The oracles replay it as the
    * `probes` CTE (`row_number() OVER (PARTITION BY q_id ORDER BY cos
    * DESC, c_id) <= P`). */
  private def topProbes(cand: DataFrame, id: String, emb: String, p: Int,
      cos: String, rank: String): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col(cos).desc, col("c_id").asc)
    cand.withColumn(cos, round(cosine_sim(col(emb), col("c_emb")), 4))
      .withColumn(rank, row_number().over(w))
      .filter(col(rank) <= p)
      .select(col(id), col(emb), col("c_id").as("cell"), col(rank))
  }

  /** The s2 query set's [[ProbeCells]] probes against codebook `cent`. */
  private def queryProbes(e: DataFrame, cent: DataFrame, cos: String,
      rank: String): DataFrame =
    topProbes(querySet(e).join(broadcast(cent), lit(true)), "q_id", "q_emb",
      ProbeCells, cos, rank)

  /** The embeddings table for other catalog families composing on the
    * cell machinery (e.g. d13). */
  private[queries] def embeddingsFor(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)

  /** The s2 cell assignment as a shared pipeline artifact
    * ([[graft.SharedStage]]): the IVF index a production run builds once
    * and every downstream consumer (p5's semantic-dedup stage) probes at
    * marginal cost. s2 itself deliberately reads the cold path — upstream
    * index construction stays measured at full cost, the d6/d7
    * convention; first use computes, so consumers stay self-contained
    * under Verify.
    *
    * Honors the `graft.d13.assignVia` seam (r14): the artifact feeds the
    * SEMANTIC-DEDUP consumers (p5/p6 run d13's drop rule over it), so the
    * index itself is built through [[d13CellAssigned]] — a linear tier
    * linearizes the assignment for the whole pipeline, not just the
    * standalone d13 entry. The memo key carries the tier so a
    * mid-session toggle can never serve a stale path's artifact. s2/s7's
    * PROBE path stays on [[cellAssigned]] unconditionally: probe pruning
    * needs geometric cells, and its oracles pin them. */
  private[queries] def sharedCells(s: SparkSession, dir: String): DataFrame = {
    val via = Dedup.resolveAssignVia(s, dir)
    val key = if (via == "exact") "s2_cells" else s"s2_cells_$via"
    graft.SharedStage.getOrCompute(s, dir, key) {
      d13CellAssigned(via, embeddings(s, dir))
    }
  }

  /** d13's assignment tiers by RESOLVED `assignVia` name (`auto` is
    * resolved first by [[Dedup.resolveAssignVia]]) — the one dispatch
    * d13 and [[sharedCells]] (so p5/p6) share: `exact` (the oracle-pinned
    * default), `lshflat` (the linear tier `auto` picks on deep corpora)
    * and `twolevel` (its pick on small clustered ones). Unknown names
    * FAIL LOUDLY: a typo'd or retired tier (`lsh`, `lshcap`) must not
    * silently run exact. */
  private[queries] def d13CellAssigned(via: String, e: DataFrame): DataFrame =
    via match {
      case "exact"    => cellAssigned(e)
      case "lshflat"  => lshFlatCellAssigned(e)
      case "twolevel" => twoLevelCellAssigned(e)
      case other => sys.error(
        s"unknown d13 assignVia tier '$other' (exact|lshflat|twolevel|auto)")
    }

  /** s2 — IVF: [[NumCentroids]] deterministic sampled centroid seeds
    * (smallest id-mix values — an O(N) TakeOrdered scan, fixed-size
    * broadcast); every vector is assigned to its max-cosine cell in one
    * broadcast pass; queries probe their [[ProbeCells]] nearest cells and
    * search only those. Cosines are rounded to 4 decimals BEFORE ranking
    * (with c_id / vec_id tie-breaks) so the DuckDB oracle reproduces the
    * assignment and probe choices bit-for-bit. */
  def s2AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    s2CoreWith(e, centroids(e))
  }

  /** The s2 pipeline against an EXPLICIT codebook — probe ranking, probed
    * cells only, recall vs brute. Shared by s2 (seed codebook) and s17
    * (one-Lloyd-iteration refined codebook), so the two entries differ
    * in nothing but the centroid table and their recall deltas are
    * attributable to codebook quality alone. */
  private def s2CoreWith(e: DataFrame, cent: DataFrame): DataFrame = {
    val cells = cellAssignedAgainst(cent, e)
    val probes = queryProbes(e, cent, "c_cos", "rn").drop("rn")
    // search only the probed cells
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = broadcast(probes)
      .join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    recallVsBrute(e, approx, Seq(lit(ProbeCells).as("probed_cells")))
  }

  /** The embedding dimensionality of the harness/ScaleGen corpora (the
    * sign planes and the PQ subspace slicing already pin it). */
  private val EmbDim = 64

  /** One Lloyd refinement iteration over an explicit codebook (r18,
    * VERDICT r17 #3 — the cheapest quality lever left in the similarity
    * stack: every IVF-family tier builds on idMix-strided SEED vectors,
    * which are corpus samples, not cluster centers): assign every
    * vector to its max-cosine centroid (the existing exact argmax),
    * replace each centroid with its cell's INTEGER-QUANTIZED mean —
    * per dimension, sum of round(x·10⁴) as BIGINT, one double division
    * by n·10⁴, cast to float — and keep the seed embedding for any cell
    * the argmax left empty (possible only when duplicate embeddings
    * seed two centroids; the c_id set is PRESERVED, so downstream
    * determinism contracts keyed on c_id are unchanged). Exact
    * arithmetic end to end: the DuckDB oracle replays the refined
    * codebook bit-for-bit, float cast included (IEEE round-to-nearest
    * in both engines).
    *
    * Scale shape: the assignment is the same N·C pass the IVF build
    * already pays (map-side max_by, nothing but (vec_id, cell) rows
    * cross); the mean is ONE groupBy(cell) carrying 64 map-side-combined
    * integer sums — no explode, the corpus never leaves its scan
    * partition — with a ≤C-row output. A second iteration is the same
    * two stages again; SCALING.md r18 records where even ONE pays (d13
    * drop recall +1.4 to +1.5 points on both geometries, clustered
    * probe search) and where it does not (deep near-uniform probe
    * search, −0.02 — random near-orthogonal vectors have no cluster
    * centers to find). */
  private[graft] def refineCentroids(cent: DataFrame,
      e: DataFrame): DataFrame =
    refinedFrom(cent, cellAssignedAgainst(cent, e))

  /** The mean-and-replace half of a Lloyd step, over an assigned
    * (vec_id, embedding, cell) frame ([[refineCentroids]]'s exact
    * argmax). */
  private def refinedFrom(cent: DataFrame, cells: DataFrame): DataFrame = {
    // Loud dim guard (ADVICE r18): the per-dimension sum columns below
    // are generated from the STATIC [[EmbDim]], while the rest of the
    // stack derives dimensionality from the data — on a corpus with a
    // different embedding dim the refined centroids would be silently
    // truncated (dim > EmbDim) or built over null element_at lookups
    // (dim < EmbDim), yielding wrong cosines downstream with no error.
    // raise_error makes the mismatch fail at the first executed row.
    val guarded = cells.withColumn("embedding",
      when(size(col("embedding")) === EmbDim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"codebook refine: expected ${EmbDim}-dim embeddings, got "),
          size(col("embedding")).cast("string")))))
    val sums = (0 until EmbDim).map { i =>
      sum(round(element_at(col("embedding"), i + 1).cast("double")
        * 10000, 0).cast("long")).as(s"s$i")
    }
    val means = guarded.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cell"),
        array((0 until EmbDim).map(i =>
          (col(s"s$i").cast("double") / (col("n") * lit(10000.0)))
            .cast("float")): _*).as("m_emb"))
    cent.join(means, cent("c_id") === means("cell"), "left")
      .select(col("c_id"), coalesce(col("m_emb"), col("c_emb")).as("c_emb"))
  }

  /** s17 — s2's IVF search over a ONE-Lloyd-iteration refined codebook:
    * identical schema and probe budget, so the recall@10 delta vs s2 is
    * the measured value of the refinement (seed recall 0.54 mean at
    * harness SF — s10's curve endpoint; SCALING.md r18 records the
    * refined numbers at harness and ScaleGen depths). Opt-in by entry:
    * every existing oracle pin stays on the seed path. */
  def s17IvfRefined(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    // Materialized (r22, guide §7.2):
    // s2CoreWith embeds the codebook twice (cell assignment + probe
    // ranking) and recallVsBrute's consumers used to double that again —
    // un-materialized, the refine's N·C assignment + 64-sum aggregate
    // subtree appeared 4× in the plan, and s17 measured driver-planning
    // bound (r21 profile: wall 2.2 s ≫ Σjob 0.9 ≫ Σtask 0.4, rules
    // 0.26 s). The refined table is ≤C rows.
    s2CoreWith(e, graft.Materialize(refineCentroids(centroids(e), e)))
  }

  /** s10 — the IVF probe-budget TUNING CURVE: recall@10 at EVERY probe
    * count 1..[[ProbeCells]] in one query — the measurement that picks
    * s2's operating point (each extra probed cell buys recall with a
    * proportional scan cost; the answer is a curve, not a number).
    * Candidates are materialized ONCE: each candidate explodes to every
    * probe budget ≥ its cell's probe rank, so the sweep costs one
    * explode over the single-probe candidate set, not ProbeCells
    * re-searches. Output: (q_id, probed_cells, n_returned, recall@10)
    * per query per budget. */
  def s10ProbeSweep(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cent = centroids(e)
    val cells = cellAssignedAgainst(cent, e)
    val probes = queryProbes(e, cent, "c_cos", "crank")
    val wTop = Window.partitionBy(col("q_id"), col("p"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = broadcast(probes).join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .withColumn("p", explode(sequence(col("crank"), lit(ProbeCells))))
      .select(col("q_id"), col("p"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    val brute = bruteTopK(e).select(col("q_id"), col("neighbor_id"))
    val grid = querySet(e).select(col("q_id"))
      .withColumn("p", explode(sequence(lit(1), lit(ProbeCells))))
    val hits = approx.join(brute, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy(col("q_id"), col("p")).agg(count(lit(1)).as("hits"))
    val returned = approx.groupBy(col("q_id"), col("p"))
      .agg(count(lit(1)).as("n_returned"))
    grid.join(returned, Seq("q_id", "p"), "left")
      .join(hits, Seq("q_id", "p"), "left")
      .select(col("q_id"), col("p").as("probed_cells"),
        coalesce(col("n_returned"), lit(0L)).as("n_returned"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / K, 4)
          .as("recall_at_10"))
      .orderBy(col("q_id"), col("probed_cells"))
  }

  /** s11's margin neighborhood size (the k in "avg of the top-k cosines"
    * that normalizes the match score) and acceptance threshold —
    * CCMatrix-era mining uses margins around 1.05–1.06. */
  private[graft] val S11MarginK = 4
  private[graft] val S11Threshold = 1.05

  /** The BLOCKED tiers' acceptance threshold (r18, VERDICT r17 #2 — the
    * operating point CHOSEN by the s16 sweep, not asserted): blocked
    * margins are systematically ATTENUATED relative to exact ones — the
    * t-side neighborhood is defined over the per-(source, cell)
    * shortlist, whose top-k is drawn from already-high-cosine
    * candidates, so the margin's denominator is relatively larger and
    * the same numeric threshold under-accepts. The s16 depth sweep
    * (via=flat + production cap, sf30, both geometries — SCALING.md
    * round-18 "s16: the margin-threshold acceptance sweep",
    * measurements/r18/S16_DEPTH_SWEEP.jsonl) measured the recovery:
    * at 1.02 the blocked tier accepts 209/263 of exact's accepted
    * sources on clustered geometry
    * (vs 68/263 at 1.05) and 415/550 on near-uniform (vs 133/550), the
    * blocked-accepted set is a strict SUBSET of the exact-accepted set
    * in every measured row (overlap_any == blocked_accepted — no
    * spurious acceptances at source granularity), and mean regret over
    * the accepted set stays bounded (0.066–0.068 vs 0.042–0.046). The
    * exact tier keeps [[S11Threshold]] — its margins are unattenuated. */
  private[graft] val S11BlockedThreshold = 1.02
  private[graft] val S11SrcLang = "de"
  private[graft] val S11TgtLang = "en"
  /** Probed target cells per source vector in the blocked tier (s2's
    * recall-vs-scan knob, re-used for mining candidates). */
  private[graft] val S11bProbe = 2
  /** Per-(source, probed-cell) candidate shortlist kept by the blocked
    * tier BEFORE the margin stage (r15, VERDICT r14 #2). Set to
    * [[S11MarginK]] because that is exactly what the margin arithmetic
    * consumes from the source side: the global top-k of a union of
    * probed cells is contained in the union of the per-cell top-k's
    * (any global top-k member is in its own cell's top-k), so the
    * s-side neighborhood sums AND the best match are IDENTICAL to the
    * unshortlisted tier — only the t-side neighborhood is now computed
    * over the shortlisted pair set (the documented blocked-tier rule,
    * replayed by the s11b oracle). */
  private[graft] val S11ShortlistK = S11MarginK

  /** The flat mining tier's ABSOLUTE per-(source, probed-cell) scan cap
    * (r17, VERDICT r16 #1 — deep clustered MINING was the last measured
    * superlinear tier): the flat codebook CONSTRUCTS cells at
    * ~[[FlatCellTarget]] members, so — exactly the d13
    * `FlatSubCellCap` argument — a probed cell more than 2× over
    * target is sign-eviction CONCENTRATION (sign-identical cluster
    * centroids collapsing into few survivors; the mechanism quantified
    * in SCALING.md round-16 "The residual, retired the same round"),
    * not geometry, and the candidate scan may be bounded absolutely.
    * Unlike d13's pair stage, both pair members here are NOT residents
    * of the cell (the source is an external prober), so a plain
    * sub-cell split would sever every source from the residents outside
    * "its" sub — instead each (source, probed cell) scans ONE idMix-fair
    * sub-cell of ≤ ~cap residents ([[scanCapped]]): every resident stays
    * reachable (by the 1/k_scan slice of sources whose mix picks its
    * sub), candidate mass is pinned at N_src·probe·cap — linear on ANY
    * geometry — and the whole construction is integer arithmetic end to
    * end. Cells at ≤ cap get k_scan = 1 ⇒ sub = 0 on both sides: a no-op
    * join key, which is why main-geometry plans and harness-SF outputs
    * are unchanged (spec-pinned against an explicitly-unbounded run).
    * Recall price on concentration cells is measured by the s11b
    * differential under `via=flat` (SCALING.md round-17). Specs reach
    * other caps through the [[s11BitextMargin]] overload. */
  private[graft] val S11FlatScanCap = 2L * FlatCellTarget

  /** s11 — margin-based bitext mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 §3; the CCMatrix/LASER parallel-corpus shape): for
    * every source-language document, the best target-language match by
    * embedding cosine, scored by the RATIO margin
    * cos(x,y) / ((avgₖ-cos of x's neighborhood + avgₖ-cos of y's
    * neighborhood)/2) — absolute cosine is a poor mining signal because
    * hub vectors are near everything; the margin asks "is y close to x
    * relative to how close ANYTHING is to either". Accepted = margin ≥
    * [[S11Threshold]] on the exact tier; the blocked tiers accept at
    * [[S11BlockedThreshold]] — their margins are attenuated by the
    * shortlisted neighborhood, and the s16 sweep chose their operating
    * point (see the threshold docs). Languages come from the documents
    * table over the m4 linkage (vec_id = doc_id).
    *
    * Determinism: cosines are quantized to integer ten-thousandths
    * (c4 = round(cos·10⁴)) at the pair level, so BOTH margin-sum
    * aggregations are exact BIGINT sums — no cross-row float
    * accumulation — and the margin is ONE final double division
    * 2·c4·nₐ·n_b / (saₐ·n_b + sb_b·nₐ) (counts, not the constant k, so
    * slices smaller than k stay exact averages).
    *
    * Scale shape: this is the mining ladder's EXACT tier (s1's role):
    * the src×tgt score matrix is a broadcast-nested-loop of the SOURCE
    * slice (the structurally smaller side here — see
    * [[s11ExactPairs]]) — quadratic in slice size, ground truth at
    * harness scale. The production tier at 100 TB is the same margin arithmetic
    * over s3/s9's bucket-blocked candidate pairs (candidate generation
    * is ALREADY measured there; the margin stage adds two bounded
    * integer aggregations on whatever pair set feeds it — both
    * neighborhood windows key on one side's id, so they shuffle once
    * each and no window ever spans more than one vector's candidates). */
  /** The source/target language slices over the m4 linkage, shared by
    * s11's tiers. */
  private def s11Side(s: SparkSession, dir: String, lang: String,
      idc: String, embc: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val e = embeddings(s, dir)
    e.join(docs, e("vec_id") === docs("doc_id"))
      .filter(col("lang") === lang)
      .select(col("vec_id").as(idc), col("embedding").as(embc))
  }

  /** The exact src×tgt pair matrix with integer ten-thousandth cosines.
    * The SOURCE slice is always the broadcast side (ADVICE r14 — the code
    * never measures which slice is smaller): with the catalog's
    * [[S11SrcLang]] = "de" (~15% of the corpus by the harness lang mix)
    * against [[S11TgtLang]] = "en" (~40%), that IS the smaller side at
    * every SF. A deployment mining FROM the larger language should swap
    * the mining direction (the margin is symmetric in x and y —
    * arXiv:1811.01136 §3 — so mining en→de and transposing the pair is
    * the memory-safe formulation), not broadcast the larger slice. */
  private def s11ExactPairs(src: DataFrame, tgt: DataFrame): DataFrame =
    broadcast(src).join(tgt, col("s_id") =!= col("t_id"))
      .select(col("s_id"), col("t_id"),
        round(cosine_sim(col("s_emb"), col("t_emb")) * 10000, 0)
          .cast("long").as("c4"))

  /** IVF-blocked candidate pairs (the production tier's pair source):
    * the TARGET slice is quantized into cells by the s2 machinery
    * (balanced sqrt codebook, argmax-cosine assignment), each source
    * vector probes its [[S11bProbe]] nearest cells, and candidates are
    * the probed cells' members — N_src·C assignment cosines plus
    * N_src·P·(N_tgt/C) candidate cosines instead of N_src·N_tgt,
    * the s2 posture (N^1.5 under the sqrt rule; s9's LSH-assisted
    * assignment is the further linearization, unchanged here). Cells
    * partition tgt, so the candidate set needs no dedup.
    *
    * r15 (VERDICT r14 #2 — the sf30 N^1.5 stage was NOT the cosine
    * flops but the full probed-cell pair mass flowing through
    * [[s11MarginCore]]'s two windows and three joins): each
    * (source, probed cell) keeps only its top-[[S11ShortlistK]]
    * candidates by (c4, t_id), expressed as `row_number() <= k` so
    * Spark plans a PARTIAL WindowGroupLimit below the exchange (the s1
    * pattern, PlanSpec-pinned) — every map partition emits at most k
    * rows per (s_id, cell) group, so downstream volume is O(N_src·P·k)
    * regardless of cell size. The scored-candidate volume itself is
    * unchanged (that term is linear-per-row and codegen'd); what the
    * shortlist removes is the superlinear shuffle/sort mass. Source-side
    * margins and the best match are EXACTLY the unshortlisted tier's
    * (per-cell top-k contains the global top-k — see [[S11ShortlistK]]);
    * the t-side neighborhood is defined over the shortlisted set and the
    * s11b oracle replays that rule. */
  private def s11IvfPairs(src: DataFrame, tgt: DataFrame): DataFrame = {
    val tgtE = tgt.select(col("t_id").as("vec_id"), col("t_emb").as("embedding"))
    val cent = centroidsOf(tgtE)
    val cells = cellAssignedAgainst(cent, tgtE)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        col("cell"))
    s11CellPairs(s11Probes(src.join(broadcast(cent), lit(true))), cells)
  }

  /** Each source's top-[[S11bProbe]] cells among its candidate centroids
    * `cand(s_id, s_emb, c_id, c_emb)` ([[topProbes]]). */
  private def s11Probes(cand: DataFrame): DataFrame =
    topProbes(cand, "s_id", "s_emb", S11bProbe, "p_cos", "rn").drop("rn")

  /** The shared candidate-scoring + shortlist tail of every blocked s11
    * tier: join probes to cell members, score c4, keep each
    * (source, probed cell)'s top-[[S11ShortlistK]]. On the CELL-KEYED
    * tiers (ivf/twolevel — see [[s11IvfPairs]]) the shortlist's
    * WindowGroupLimit needs no exchange below it: the cell join's
    * partitioning already clusters the (s_id, cell) group key. The
    * flat tier joins on (cell, sub) — its per-(source, cell) scan cap
    * (r17) lives in the JOIN KEY, so capped-away residents are never
    * emitted by the hash join, not generated-then-filtered — and that
    * key does NOT cluster (s_id, cell), so the flat tier pays one
    * extra (s_id, cell) exchange + sort above the capped join (the
    * price the r17 shuffle-hash A/B measured and accepted; see the
    * [[s11FlatPairs]] note). */
  private def s11CellPairs(probes: DataFrame, cells: DataFrame,
      keys: Seq[String] = Seq("cell")): DataFrame = {
    val wShort = Window.partitionBy(col("s_id"), col("cell"))
      .orderBy(col("c4").desc, col("t_id").asc)
    probes.join(cells, keys)
      .select(col("s_id"), col("cell"), col("t_id"),
        round(cosine_sim(col("s_emb"), col("t_emb")) * 10000, 0)
          .cast("long").as("c4"))
      .withColumn("sr", row_number().over(wShort))
      .filter(col("sr") <= S11ShortlistK)
      .select(col("s_id"), col("t_id"), col("c4"))
  }

  /** The margin arithmetic over ANY (s_id, t_id, c4) pair source:
    * neighborhood ranks both directions, exact BIGINT margin sums,
    * best-match pick, one final double division. Returns one row per
    * s_id present in `pairs` with (s_id, match_id, cosine, margin,
    * accepted, n_cand). */
  private def s11MarginCore(pairs0: DataFrame,
      threshold: Double = S11Threshold): DataFrame = {
    val pairs = graft.Materialize(pairs0)
    val wS = Window.partitionBy(col("s_id"))
      .orderBy(col("c4").desc, col("t_id").asc)
    val wT = Window.partitionBy(col("t_id"))
      .orderBy(col("c4").desc, col("s_id").asc)
    val rk = pairs.withColumn("rs", row_number().over(wS))
      .withColumn("rt", row_number().over(wT))
    val aSrc = rk.filter(col("rs") <= S11MarginK)
      .groupBy(col("s_id"))
      .agg(sum(col("c4")).as("sa4"), count(lit(1)).as("na"))
    val bTgt = rk.filter(col("rt") <= S11MarginK)
      .groupBy(col("t_id"))
      .agg(sum(col("c4")).as("sb4"), count(lit(1)).as("nb"))
    val nCand = pairs.groupBy(col("s_id")).agg(count(lit(1)).as("n_cand"))
    val den = col("sa4") * col("nb") + col("sb4") * col("na")
    rk.filter(col("rs") === 1).select(col("s_id"), col("t_id"), col("c4"))
      .join(aSrc, "s_id").join(bTgt, "t_id").join(nCand, "s_id")
      .withColumn("margin", when(den > 0,
        round((lit(2L) * col("c4") * col("na") * col("nb")).cast("double")
          / den, 4)))
      .select(col("s_id"), col("t_id").as("match_id"),
        round(col("c4") / 10000.0, 4).as("cosine"),
        col("margin"),
        coalesce(col("margin") >= threshold, lit(false)).as("accepted"),
        col("n_cand"))
  }

  /** The acceptance threshold a given pair-source tier ships with:
    * exact margins use [[S11Threshold]]; every blocked tier uses the
    * sweep-chosen [[S11BlockedThreshold]] (see its doc). */
  private def s11ThresholdFor(via: String): Double =
    if (via == "exact") S11Threshold else S11BlockedThreshold

  /** The two-level candidate source (`via=twolevel`, r15): both N·C
    * assignment terms of [[s11IvfPairs]] — the target-side cell build
    * AND the source-side probe scoring — go through the two-level
    * codebook ([[twoLevelCellAssignedAgainst]] /
    * [[twoLevelCodebook]]): a vector scores ~3·sqrt(C) centroids
    * instead of C, cutting the tier's one remaining superlinear stage
    * (the r15 shortlist removed the pair-mass term;
    * `measurements/scale/SCALE_300X_S11SHORT.json` measured what was
    * left at tail 1.23 — assignment). Source probes
    * rank the top-[[S11bProbe]] cells among the candidate centroids of
    * their top-[[TwoLevelProbe]] super-cells; same rounded-cosine /
    * lowest-id determinism as every other tier. */
  private def s11TwoLevelPairs(src: DataFrame, tgt: DataFrame): DataFrame = {
    val tgtE = tgt.select(col("t_id").as("vec_id"), col("t_emb").as("embedding"))
    val cent = centroidsOf(tgtE)
    // ONE codebook build feeds both the target-side cell assignment and
    // the source-side probes — the build has an eager cent.count() and a
    // C·S scoring subplan, so constructing it twice (the first r15
    // formulation) charged the measured tier two extra driver actions
    val (supers, centGroups) = twoLevelCodebook(cent)
    val cells = twoLevelCellAssignedWith(supers, centGroups, tgtE)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        col("cell"))
      .filter(col("cell") >= 0) // sentinel singletons are unreachable
    val sProbes = twoLevelProbes(supers, src, "s_id", "s_emb")
    s11CellPairs(
      s11Probes(sProbes.join(broadcast(centGroups), Seq("grp"))), cells)
  }

  /** The flat candidate source (`via=flat`, late r15) — s11 with NO
    * superlinear stage left, the same three-pin construction as d13's
    * `lshflat`: the target side is cell-assigned through the flat
    * codebook (C = N_tgt/target, adaptive bits, capped buckets — all
    * linear), source probes rank their top-[[S11bProbe]] cells among
    * their capped-bucket candidates (N_src·L·cap cosines — linear,
    * C-independent), and the pair stage scans probed cells whose
    * population the flat rule PINS (~[[FlatCellTarget]] members), so
    * candidate mass is N_src·probe·target — linear, where every √-rule
    * tier pays N_src·√N_tgt. Mining recall is the priced honesty
    * number (the SimilaritySpec subset pin + the SCALING.md
    * differential); a source whose probed cells are empty simply mines
    * nothing — visible by absence against the exact tier, the s11b
    * convention. */
  private def s11FlatPairs(src: DataFrame, tgt: DataFrame,
      cap: Long): DataFrame = {
    val tgtE = tgt.select(col("t_id").as("vec_id"),
      col("t_emb").as("embedding"))
    val k = flatCodebookSize(tgtE, FlatCellTarget)
    val bits = flatBits(k, FlatTargetOcc)
    val cb = cappedCodebookN(seedCodebook(tgtE, k), LshBucketCap, bits)
    val cells = lshAssignCore(cb, tgtE, bits)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        col("cell"))
      .filter(col("cell") >= 0) // sentinel singletons are unreachable
    val probes = s11Probes(src
      .select(col("s_id"), col("s_emb"),
        explode(tableBucketsN(col("s_emb"), bits)).as("bucket"))
      .join(broadcast(cb), Seq("bucket"))
      .dropDuplicates("s_id", "c_id"))
    val (cellsSub, probesSub) = scanCapped(cells, "t_id", probes, "s_id", cap)
    // Measured and REVERTED (r17): a shuffle_hash hint on the probe
    // side (the q5 lesson — the pair SMJ's (cell, sub) sorts feed a
    // window that re-sorts by (s_id, cell) anyway) read 38.0 s
    // min-of-3 at skew sf30 against this SMJ shape's 26.5 on the same
    // harness: the per-partition hash build over the probe rows costs
    // more than the two sorts it saves on this pair distribution, and
    // the SMJ shape is what the 0.83-tail depth rows were measured on.
    s11CellPairs(probesSub, cellsSub, Seq("cell", "sub"))
  }

  /** The per-(prober, cell) scan cap (see [[S11FlatScanCap]]): the
    * residents `cells(resId, …, cell)` of a cell hash into
    * k_scan = ⌈c_n / cap⌉ sub-cells by their own idMix, and each probe
    * `probes(probeId, …, cell)` picks ONE sub by
    * idMix(idMix(probeId) XOR idMix(cell)); the sub rides the JOIN KEY,
    * so capped-away residents are never emitted. Returns the residents as
    * `(cell, sub, …)` and the probes with `(c_n, k_scan, sub)` added; the
    * ≤C-row counts frame is broadcast. s11's `flat` tier and its gate s15
    * run this; the s15 oracle replays it (`counts`, `subs`, `psub`).
    *
    * BOTH XOR operands are pre-mixed into [0, 2³¹): a raw centroid-id
    * operand overflows idMix's ANSI-safe ±8e9 contract at scale-corpus
    * ids (every via=flat run at sf30+ threw ARITHMETIC_OVERFLOW), and an
    * unmixed prober id narrows it to ~6.2e9 (r18). XOR, not addition:
    * idMix is affine, so adding a constant would shift, never reorder. */
  private def scanCapped(cells: DataFrame, resId: String, probes: DataFrame,
      probeId: String, cap: Long): (DataFrame, DataFrame) = {
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("c_n"))
      .withColumn("k_scan", expr(s"(c_n + $cap - 1) div $cap"))
    val cellsSub = cells.join(broadcast(counts), Seq("cell"))
      .withColumn("sub", pmod(idMix(col(resId)), col("k_scan")))
      .select((Seq("cell", "sub") ++ cells.columns.filter(_ != "cell"))
        .map(col): _*)
    val probesSub = probes.join(broadcast(counts), Seq("cell"))
      .withColumn("sub", pmod(
        idMix(idMix(col(probeId)).bitwiseXOR(idMix(col("cell")))),
        col("k_scan")))
    (cellsSub, probesSub)
  }

  /** s11's pair-source seam (the d13 `assignVia` convention): `exact`
    * (default — the oracle-gated brute matrix), `ivf` (the blocked
    * production path [[s11IvfPairs]], N^1.5 under the sqrt rule),
    * `twolevel` (ivf with the two-level codebook on both assignment
    * terms — [[s11TwoLevelPairs]]), `flat` (the fully linear
    * [[s11FlatPairs]], late r15), or `auto` (r16, VERDICT r15 #4):
    * resolve per corpus off the SAME s12 statistic d13's seam uses —
    * [[resolveAutoTier]] over the TARGET slice (the side the codebook
    * and candidate structure are built on), with the d13 tier names
    * mapped onto the mining ladder's (`lshflat`→`flat`; `twolevel` and
    * `exact` are shared names). System property `graft.s11.via` or
    * env SPARK_GRAFT_S11_VIA; ScaleBench runs with the non-default
    * values measure the tiered slopes on the same catalog entry. */
  private def s11Via: String =
    sys.props.get("graft.s11.via").orElse(sys.env.get("SPARK_GRAFT_S11_VIA"))
      .getOrElse("exact")

  /** The resolved `auto` tier for s11's mining ladder: the shared
    * probe + size rule over the target-language slice, memoized per
    * (dir, tgt-lang, corpus stamp). The size axis reads the SLICE
    * count — the candidate structure is built over the targets, so the
    * exact tier's quadratic and the blocked tiers' growth are both in
    * |tgt| (and |src| scales every tier identically). */
  private def s11AutoVia(dir: String, tgt: DataFrame): String =
    resolveAutoTierFor(dir, s"s11:$S11TgtLang",
      tgt.select(col("t_id").as("vec_id"), col("t_emb").as("embedding")))
    match {
      case "lshflat" => "flat"
      case v         => v // twolevel | exact — shared tier names
    }

  /** Tier-name dispatch. Unknown names FAIL LOUDLY (ADVICE r16): a
    * wildcard falling through to exact would let a typo'd (or retired,
    * e.g. `lsh`) tier name silently measure the exact tier under
    * another tier's name. `lshflat` is accepted as the
    * d13-seam spelling of `flat` (the same mapping [[s11AutoVia]] applies). */
  private def s11PairsFor(via: String, src: DataFrame,
      tgt: DataFrame, scanCap: Long): DataFrame = via match {
    case "ivf"              => s11IvfPairs(src, tgt)
    case "twolevel"         => s11TwoLevelPairs(src, tgt)
    case "flat" | "lshflat" => s11FlatPairs(src, tgt, scanCap)
    case "exact"            => s11ExactPairs(src, tgt)
    case other => sys.error(
      s"unknown s11 via tier '$other' (exact|ivf|twolevel|flat|auto)")
  }

  def s11BitextMargin(s: SparkSession, dir: String): DataFrame = {
    val via = s11Via match {
      case "auto" =>
        s11AutoVia(dir, s11Side(s, dir, S11TgtLang, "t_id", "t_emb"))
      case v      => v
    }
    s11BitextMargin(s, dir, via, S11FlatScanCap)
  }

  /** [[s11BitextMargin]] on a resolved tier under an explicit
    * [[S11FlatScanCap]]. */
  private[graft] def s11BitextMargin(s: SparkSession, dir: String,
      via: String, scanCap: Long): DataFrame = {
    val src = s11Side(s, dir, S11SrcLang, "s_id", "s_emb")
    val tgt = s11Side(s, dir, S11TgtLang, "t_id", "t_emb")
    s11MarginCore(s11PairsFor(via, src, tgt, scanCap), s11ThresholdFor(via))
      .drop("n_cand").orderBy(col("s_id"))
  }

  /** s11b — the blocked production tier as its own DIFFERENTIAL entry
    * (the d4b/st3 convention: it runs BOTH tiers, so it is excluded from
    * the bench to avoid double-charging s11's pipeline): margins over
    * the [[s11IvfPairs]] candidate set, anchored on every source doc the
    * exact tier matched, with the candidate count and an `agree` flag
    * (blocked best match == exact best match). A source whose probes
    * miss every candidate keeps a −1 sentinel match and `accepted =
    * false` — a LOUD miss, never a silently absent row. The honest
    * numbers at sf0.01: agreement where the probe finds the true match,
    * misses reported as such. */
  def s11bBitextBlocked(s: SparkSession, dir: String): DataFrame = {
    val src = s11Side(s, dir, S11SrcLang, "s_id", "s_emb")
    val tgt = s11Side(s, dir, S11TgtLang, "t_id", "t_emb")
    val exactBest = s11MarginCore(s11ExactPairs(src, tgt))
      .select(col("s_id"), col("match_id").as("exact_match"))
    val blocked =
      s11MarginCore(s11IvfPairs(src, tgt), S11BlockedThreshold)
    exactBest.join(blocked, Seq("s_id"), "left")
      .select(col("s_id"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        col("cosine"), col("margin"),
        coalesce(col("accepted"), lit(false)).as("accepted"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("match_id") === col("exact_match"), lit(false))
          .as("agree"))
      .orderBy(col("s_id"))
  }

  /** s16's threshold grid — brackets the CCMatrix operating band around
    * [[S11Threshold]] (arXiv:1811.01136 mines at 1.05–1.06; lower
    * recovers acceptance, higher buys precision). */
  private[graft] val S16Thresholds = Seq(1.02, 1.05, 1.10, 1.15)

  /** s16 — the margin-threshold ACCEPTANCE sweep (r18, VERDICT r17 #2):
    * the s10 probe-sweep convention applied to s11's acceptance knob.
    * The r17 regret differential priced match QUALITY, but for a
    * CCMatrix-style user the ACCEPTED SET is the product, and on
    * clustered geometry the blocked tier accepted 68 pairs where exact
    * accepted 263 (SCALING.md r17) — at a threshold that was asserted,
    * not chosen. This entry measures, at every threshold in
    * [[S16Thresholds]], both tiers' accepted counts, the accepted-set
    * overlap (any-match and same-match), and the cosine regret over the
    * blocked-accepted set — the acceptance/quality trade as a CURVE, so
    * the operating point is a decision with numbers behind it.
    *
    * Cost shape (the s10 one-explode rule): BOTH margin cores run ONCE —
    * the threshold only gates the final `accepted` comparison — and the
    * sweep is one 4-way explode + one aggregation over the joined
    * differential, never a re-mine per threshold. Regret stays integer
    * (ten-thousandth units, BIGINT sums; one final double division), so
    * the DuckDB oracle replays every cell bit-for-bit. The blocked side
    * is the `ivf` tier, so the oracle replays the whole blocked chain
    * from proven CTEs; the depth sweep under `flat` that chose the
    * operating point is SCALING.md round-18 "s16: the margin-threshold
    * acceptance sweep" (measurements/r18/S16_DEPTH_SWEEP.jsonl). */
  def s16MarginSweep(s: SparkSession, dir: String): DataFrame = {
    val src = s11Side(s, dir, S11SrcLang, "s_id", "s_emb")
    val tgt = s11Side(s, dir, S11TgtLang, "t_id", "t_emb")
    s16SweepOver(
      s11MarginCore(s11ExactPairs(src, tgt)),
      s11MarginCore(s11IvfPairs(src, tgt)))
  }

  /** The sweep aggregation over an (exact, blocked) margin-core pair.
    * Anchored on the exact side (every source row appears at every
    * threshold); a missed source joins null margins and counts as
    * not-accepted at every threshold — the s11b loud-miss convention
    * folded into the aggregate. */
  private[graft] def s16SweepOver(exact0: DataFrame,
      blocked0: DataFrame): DataFrame = {
    val exact = exact0.select(col("s_id"),
      col("match_id").as("exact_match"),
      col("cosine").as("exact_cosine"),
      col("margin").as("exact_margin"))
    val blocked = blocked0.select(col("s_id"), col("match_id"),
      col("cosine"), col("margin"))
    val eAcc = coalesce(col("exact_margin") >= col("thr"), lit(false))
    val bAcc = coalesce(col("margin") >= col("thr"), lit(false))
    // both cosines are the quantized c4/10⁴ doubles, so ×10⁴ + round(0)
    // recovers the exact integer difference (blocked ⊆ exact pairs ⇒
    // regret ≥ 0 on every matched row; an accepted row always has a
    // match, so the when() never sees a null cosine)
    val regret4 =
      round((col("exact_cosine") - col("cosine")) * 10000, 0).cast("long")
    exact.join(blocked, Seq("s_id"), "left")
      .select(col("*"),
        explode(array(S16Thresholds.map(lit(_)): _*)).as("thr"))
      .groupBy(col("thr"))
      .agg(
        count(lit(1)).as("n_src"),
        sum(when(eAcc, 1L).otherwise(0L)).as("exact_accepted"),
        sum(when(bAcc, 1L).otherwise(0L)).as("blocked_accepted"),
        sum(when(eAcc && bAcc, 1L).otherwise(0L)).as("overlap_any"),
        sum(when(eAcc && bAcc &&
            col("match_id") === col("exact_match"), 1L).otherwise(0L))
          .as("overlap_same"),
        sum(when(bAcc, regret4).otherwise(0L)).as("acc_regret4_sum"))
      .withColumn("mean_acc_regret",
        when(col("blocked_accepted") > 0,
          round(col("acc_regret4_sum").cast("double")
            / col("blocked_accepted") / 10000.0, 4)))
      .orderBy(col("thr"))
  }

  /** s3 — multi-table sign-random-projection LSH: each of the 6 tables
    * hashes a vector to a 5-bit bucket of hyperplane signs; a query
    * probes its exact bucket in every table and candidates are the union
    * across tables (deduped), then exact-ranked. At scale the bucket id
    * is the shuffle/partition key, so each probe touches ~1/32 of each
    * table's partitions. */
  /** Array of [[NumTables]] sign-LSH bucket ids; table t's id is
    * prefixed into the key space so tables never collide: bucket =
    * t * 2^bits + signBits. Sign tests use the raw DOT, not cosine:
    * positive norms can't flip the sign, and cosine_sim would recompute
    * |emb| (and the constant plane's norm) for every one of the 30
    * planes — 3× the flops on the full-corpus bucketing scan for the
    * identical bucket ids. This is also literally the oracle's formula
    * (dot(emb, plane) > 0). Shared by s3 (neighbor search) and s9
    * (assignment pre-filter). */
  private def tableBuckets(emb: Column): Column =
    tableBucketsN(emb, BitsPerTable)

  /** [[tableBuckets]] at an arbitrary bit width — the adaptive-bits
    * tier ([[lshFlatCellAssigned]]) widens buckets as its codebook
    * grows so occupancy stays pinned. At `bits` = [[BitsPerTable]] this
    * produces bit-for-bit the fixed-width ids (same plane prefix, same
    * indexing). Since late r15 this is ONE fused
    * [[graft.functions.SignBuckets]] codegen kernel instead of a
    * when-chain over tables·bits separate [[dot_product]]s: the chain
    * form is arithmetically identical but its generated method grows
    * with the plane count and falls off the JIT cliff past ~30 planes —
    * the adaptive tier's 48-plane assignment measured MINUTES instead
    * of seconds before the kernel (SCALING.md round-15). Every oracle
    * replays plane literals against unchanged bucket values. */
  private def tableBucketsN(emb: Column, bits: Int): Column =
    graft.functions.VectorFunctions.sign_buckets(
      emb, flatPlanesFor(NumTables * bits), NumTables, bits)

  def s3AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val bucketed = e
      .select(col("vec_id"), col("embedding"),
        explode(tableBuckets(col("embedding"))).as("bucket"))
    val probes = querySet(e)
      .select(col("q_id"), col("q_emb"),
        explode(tableBuckets(col("q_emb"))).as("bucket"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = broadcast(probes)
      .join(bucketed, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id"), col("embedding"))
      .dropDuplicates("q_id", "vec_id") // same pair can collide in several tables
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    recallVsBrute(e, approx, Seq(lit(NumTables).as("probed_tables")))
  }

  /** The sign-LSH codebook: every centroid exploded to its L bucket
    * ids — O(C·L) rows, always the broadcast side of the assignment
    * join. s9/s13's uncapped side; [[cappedCodebook]] bounds it per
    * bucket. */
  private[graft] def bucketedCodebook(cent: DataFrame): DataFrame =
    bucketedCodebookN(cent, BitsPerTable)

  private def bucketedCodebookN(cent: DataFrame, bits: Int): DataFrame =
    cent.select(col("c_id"), col("c_emb"),
      explode(tableBucketsN(col("c_emb"), bits)).as("bucket"))

  /** The bucket join + map-side argmax of the linear tiers (d13
    * `lshflat`, s11 `flat`): every vector scores only the centroids
    * sharing at least one `bits`-wide sign bucket ([[bucketJoin]]) and
    * takes their [[cellArgmax]]. The one difference from [[lshPick]]
    * (the s9/s13/s14 measurement): no dropDuplicates — same-(vector,
    * centroid) collisions across tables carry IDENTICAL (c_cos, c_id)
    * sort keys, so the argmax is unchanged and the dedup exchange is pure
    * cost. A vector whose buckets hold no centroid gets the sentinel
    * singleton cell of [[argmaxOrSentinel]]: it simply isn't deduped —
    * visible in the output as a never-dropped vector, never silently
    * misclustered. */
  private def lshAssignCore(cb: DataFrame, e: DataFrame,
      bits: Int): DataFrame =
    argmaxOrSentinel(e, bucketJoin(e, cb, bits))

  /** Every vector's `bits`-wide sign buckets joined to the bucketed
    * codebook `cb(bucket, c_id, c_emb)`: one row per (vector, bucket,
    * co-bucketed centroid), the probe side never leaving its scan
    * partition. */
  private def bucketJoin(e: DataFrame, cb: DataFrame, bits: Int): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        explode(tableBucketsN(col("embedding"), bits)).as("bucket"))
      .join(broadcast(cb), Seq("bucket"))

  /** `e(vec_id, embedding)` with each vector's [[cellArgmax]] over its
    * candidate rows `cand(vec_id, embedding, c_id, c_emb, …)` as `cell`;
    * a vector with no candidate falls back to the SENTINEL singleton cell
    * −vec_id − 1 (disjoint from real c_ids), a visible miss. */
  private def argmaxOrSentinel(e: DataFrame, cand: DataFrame): DataFrame = {
    val assigned = scored(cand).groupBy(col("vec_id"))
      .agg(cellArgmax.as("cell"))
    e.join(assigned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"),
        coalesce(col("cell"), -col("vec_id") - 1).as("cell"))
  }

  /** The LSH bucket pick with its candidate count, the measured form of
    * [[lshAssignCore]] that the gate fixtures s9, s13 and s14 report:
    * [[bucketJoin]], then ONE row per (vector, centroid) — a pair that
    * co-buckets in several tables counts once — then the [[cellArgmax]]
    * as column `cell` and the candidate count as column `n`. A vector
    * with no co-bucketed centroid has no row. The s9/s13/s14 oracles
    * replay it as their distinct candidate CTE plus the rank-1 pick. */
  private def lshPick(e: DataFrame, cb: DataFrame, bits: Int, cell: String,
      n: String): DataFrame =
    scored(bucketJoin(e, cb, bits).dropDuplicates("vec_id", "c_id"))
      .groupBy(col("vec_id"))
      .agg(cellArgmax.as(cell), count(lit(1)).as(n))

  /** Residents kept per sign-LSH bucket by the linear tiers' capped
    * codebook. With the flat tier's adaptive bit width pinning mean
    * occupancy at [[FlatTargetOcc]] = 8, the cap is a BACKSTOP against
    * hot buckets rather than the steady-state evictor; on a CLUSTERED
    * corpus sign buckets are hot-skewed and it binds — the case the
    * flat-tier recall numbers in SCALING.md price. */
  private[graft] val LshBucketCap = 8

  /** The eviction rank key — idMix over (c_id XOR bucket·[[CapRankMixP]]):
    * PER-BUCKET decorrelated, deliberately NOT the global idMix(c_id).
    * Measured and fixed (SCALING.md round-15): under a global rank the
    * same low-mix centroids survive in EVERY bucket and the rest are
    * evicted from every bucket at once — at sf100 (occupancy ~15.6 vs
    * cap 8) 91 of 500 centroids vanished entirely, concentrating cells
    * and inflating d13's downstream within-cell quadratic
    * (Σ|cell|² 8.09G → 13.1G, and the measured wall-clock tracked it:
    * 547 → 898 s, the two +62/+64 % within noise of each other). The
    * decorrelation must be NON-AFFINE: idMix is a linear map, so any
    * additive fold (idMix(c_id + f(bucket))) shifts every resident of a
    * bucket by the same constant and never reorders within the bucket —
    * the first fix attempt was exactly that no-op, caught by a numpy
    * replication before it shipped. XOR breaks the affinity: per-bucket
    * survival becomes independent, a centroid misses ALL its L buckets
    * with probability (1−B/occ)^L (8 of 500 at sf100 instead of 91),
    * and Σ|cell|² lands at 9.35G (+16 % over the uncapped tier — the
    * honest residual cost of eviction-induced drift). The multiplier
    * keeps bucket·P inside INT32 and the XOR'd key·MixA far inside
    * BIGINT for every corpus the oracle replays. */
  private val CapRankMixP = 100003L

  /** The occupancy-CAPPED sign-LSH codebook (r15): every bucket keeps
    * at most `cap` resident centroids — a DETERMINISTIC sample ranked by
    * [[CapRankMixP]]'s per-bucket idMix — so the assignment join output
    * is bounded by N·L·cap, linear in corpus size and C-independent.
    * The cap is enforced scan-side (groupBy + array_sort + slice over
    * the O(C·L) codebook — no window, rows bounded by C·L before AND
    * after), so the capped codebook is the same broadcast shape as
    * [[bucketedCodebook]]; with cap ≥ C it keeps every (bucket,
    * centroid) pair (SimilaritySpec pins both ends). */
  private[graft] def cappedCodebook(cent: DataFrame, cap: Int): DataFrame =
    cappedCodebookN(cent, cap, BitsPerTable)

  private def cappedCodebookN(cent: DataFrame, cap: Int,
      bits: Int): DataFrame =
    bucketedCodebookN(cent, bits)
      .groupBy(col("bucket"))
      .agg(slice(array_sort(collect_list(struct(
          idMix(col("c_id").bitwiseXOR(col("bucket") * lit(CapRankMixP)))
            .as("rk"),
          col("c_id").as("c_id"),
          col("c_emb").as("c_emb")))), 1, cap).as("res"))
      .select(col("bucket"), explode(col("res")).as("r"))
      .select(col("bucket"), col("r.c_id").as("c_id"),
        col("r.c_emb").as("c_emb"))

  /** Target cell population of the `lshflat` tier's codebook. 512
    * keeps the within-cell pairwise block comfortably inside one task
    * while leaving cells deep enough that near-duplicates co-assign
    * (they share sign buckets, hence candidate sets). `final` makes it
    * a compile-time constant, which [[S11FlatScanCap]], defined earlier
    * in this object, needs to read it during initialization. */
  private[graft] final val FlatCellTarget = 512

  /** Target mean bucket occupancy of the `lshflat` tier: its bit width
    * grows with the codebook (2^bits ≈ C / this) so occupancy — and
    * with it both the per-vector candidate count and the eviction
    * pressure — stays PINNED as C grows. Without this the fixed 6×32
    * bucket space saturates: at sf100 (C = 3 907, occupancy 122 vs
    * cap 8) per-bucket survival is 6.6 %, two thirds of the flat
    * codebook survives NOWHERE, the effective cell count stops growing
    * with N, and the pairwise term quietly reverts to quadratic — the
    * measured 1.50 slope of the fixed-width flat tier
    * (`measurements/scale/SCALE_1000X_D13FLAT5.json`). */
  private[graft] val FlatTargetOcc = 8

  /** The flat codebook size: C = max([[NumCentroids]], ⌈N / target⌉) —
    * linear in the corpus, against the standard rule's √. At the
    * production [[FlatCellTarget]] and harness SFs (N ≤ target) this
    * degenerates to the floor, i.e. the standard codebook. The s14 gate
    * passes its tight [[S14CellTarget]]; its oracle replays the rule as
    * the `kv` CTE. */
  private def flatCodebookSize(e: DataFrame, target: Int): Int =
    math.max(NumCentroids, math.ceil(e.count().toDouble / target).toInt)

  /** [[seedCodebook]] at the production [[flatCodebookSize]] — the
    * spec hook. */
  private[graft] def centroidsFlat(e: DataFrame): DataFrame =
    seedCodebook(e, flatCodebookSize(e, FlatCellTarget))

  /** The adaptive bit width: bits = max([[BitsPerTable]],
    * ⌈log2(k / occ)⌉), so mean bucket occupancy stays near `occ` as the
    * codebook grows; the floor keeps small codebooks on the oracle's
    * 5-bit prefix. Production passes [[FlatTargetOcc]], the s14 gate its
    * tight [[S14TargetOcc]] (replayed as its oracle's `bitsv` CTE). */
  private def flatBits(k: Int, occ: Int): Int =
    math.max(BitsPerTable,
      math.ceil(math.log(k.toDouble / occ) / math.log(2)).toInt)

  /** The `lshflat` assignment tier (late r15) — the first d13 path
    * with no N^1.5 term BY CONSTRUCTION, closing the "honest boundary"
    * of the cap alone; measured LINEAR (0.94) at 2 M vectors on
    * near-uniform geometry. On CLUSTERED geometry the construction's
    * premise partially fails — sign-identical cluster centroids cannot
    * be separated by any bit width, eviction re-concentrates the
    * cluster into few surviving cells, and the measured tail is 1.30
    * (still the best deep tier there on both axes; mechanism and
    * cell-population numbers in SCALING.md round-16). Three pins, each
    * with its own invariant: (1) the flat codebook
    * C = N/target pins CELL population, so the within-cell pairwise
    * term is N·target — linear; (2) the bit width grows with the
    * codebook (2^bits ≈ C/[[FlatTargetOcc]]) pinning bucket OCCUPANCY,
    * so the effective codebook stays ≈ C instead of saturating at the
    * fixed bucket space (the measured failure of the fixed-width flat
    * tier — slope 1.50, SCALING.md); (3) the XOR-capped join bounds the
    * assignment at N·L·cap — linear, C-independent, with the cap now a
    * BACKSTOP against hot buckets rather than the steady-state evictor.
    * Every prior tier left one N^1.5 term standing; this path has
    * none. Recall price recorded in SCALING.md round-15 "The flat
    * codebook" and round-19 "The production flat tier, read against
    * the unblocked ideal"; misses stay visible sentinels. At harness
    * SFs the whole construction degenerates to the standard 16-centroid
    * codebook at 5 bits with a non-binding cap — vector-for-vector s9's
    * LSH assignment (spec-pinned). */
  private[graft] def lshFlatCellAssigned(e: DataFrame): DataFrame = {
    val k = flatCodebookSize(e, FlatCellTarget)
    val bits = flatBits(k, FlatTargetOcc)
    lshAssignCore(
      cappedCodebookN(seedCodebook(e, k), LshBucketCap, bits), e, bits)
  }

  /** Super-cells probed per vector in the two-level assignment: 2 keeps
    * the cost at ~3·sqrt(C) scored centroids per vector while covering
    * the argmax whenever it sits in the first OR second super-cell. */
  private[graft] val TwoLevelProbe = 2

  /** The two-level codebook: S = ceil(sqrt C) super-centroids seeded
    * from the CENTROID table by the same idMix TakeOrdered rule, and
    * every centroid assigned to its argmax super-cell (C·S cosines —
    * vanishing; both tables broadcast). Shared by
    * [[twoLevelCellAssignedAgainst]] and s11's `twolevel` probe side so
    * the two sides can never drift. */
  private[queries] def twoLevelCodebook(cent: DataFrame)
      : (DataFrame, DataFrame) = {
    val s = math.max(2, math.ceil(math.sqrt(cent.count().toDouble)).toInt)
    val supers = cent.orderBy(idMix(col("c_id")), col("c_id")).limit(s)
      .select(col("c_id").as("g_id"), col("c_emb").as("g_emb"))
    val centGroups = cent.join(broadcast(supers), lit(true))
      .withColumn("g_cos", round(cosine_sim(col("c_emb"), col("g_emb")), 4))
      .groupBy(col("c_id"))
      .agg(first(col("c_emb")).as("c_emb"),
        max_by(col("g_id"), struct(col("g_cos"), (-col("g_id")).as("nid")))
          .as("grp"))
      .select(col("grp"), col("c_id"), col("c_emb"))
    (supers, centGroups)
  }

  /** Two-level (hierarchical-codebook) cell assignment —
    * `assignVia=twolevel` (r15, VERDICT r14 #4): instead of scoring all
    * C centroids (N·C = N^1.5 under the sqrt rule — the engine's one
    * superlinear default term), the CODEBOOK itself is clustered:
    * S = ceil(sqrt C) super-centroids are seeded from the centroid
    * table by the same idMix TakeOrdered rule, each centroid joins its
    * argmax super-cell (C·S cosines — vanishing), and a vector scores
    * the S supers, probes its top-[[TwoLevelProbe]], and scores only
    * the centroids resident there: N·(S + P·E[C/S]) ≈ N·3·sqrt(C)
    * cosines, i.e. N^1.25 under C ∝ sqrt(N) — against uncapped sign-LSH's
    * N·C·L/2^bits. This is the classic two-level IVF / IMI build shape
    * (e.g. Babenko & Lempitsky's inverted multi-index, arXiv public).
    *
    * Approximate like sign-LSH — the true argmax can live in an unprobed
    * super-cell — so it lives behind the same [[Dedup.D13AssignVia]]
    * seam, its recall is measured against exact (SCALING.md round-15
    * "The two-level codebook"), and the driver-SF oracles
    * stay pinned to the exact default. Failure mode differs from LSH in
    * the right direction for dedup: a miss lands in the RUNNER-UP
    * super-cell's best centroid — geometrically adjacent, so cluster
    * mass stays together — where an LSH miss with no co-bucketed
    * centroid is a sentinel singleton. Every super-cell holds ≥0
    * centroids (supers are seeds, assignment is by argmax); a vector
    * whose probed supers are both empty of centroids keeps the LSH
    * sentinel convention (−vec_id − 1, visibly undeduped), though with
    * P = 2 and argmax assignment this requires two adjacent empty
    * super-cells — not observed on any measured corpus.
    *
    * Plan shape: both codebook tables are broadcast (S and C rows); the
    * probe top-P is SCAN-SIDE — the S supers are packed into one
    * broadcast row and each vector picks its top-P by
    * `slice(array_sort(...))` over struct(−cos, g_id), so NO window and
    * NO embedding-carrying exchange exists anywhere in the probe stage
    * (the first formulation used `row_number() <= P`, which shipped
    * N·P embedding rows through a vec_id exchange — at sf30 a ~360 MB
    * shuffle that erased the cosine savings); the final argmax is the
    * map-side max_by of [[cellAssignedAgainst]] — bit-identical
    * ordering (4-dp rounded cosine, lowest-id tie-break; struct
    * ascending on (−cos, id) IS (cos desc, id asc)) at every level, so
    * the DuckDB honesty-kit replays are exact. */
  private[graft] def twoLevelCellAssignedAgainst(cent: DataFrame,
      e: DataFrame): DataFrame = {
    val (supers, centGroups) = twoLevelCodebook(cent)
    twoLevelCellAssignedWith(supers, centGroups, e)
  }

  /** [[twoLevelCellAssignedAgainst]] over an already-built codebook —
    * the shared core, so a caller that also needs the codebook for its
    * own probes (s11's `twolevel` tier) builds it exactly once. */
  private[queries] def twoLevelCellAssignedWith(supers: DataFrame,
      centGroups: DataFrame, e: DataFrame): DataFrame = {
    val probes =
      twoLevelProbes(supers, e, "vec_id", "embedding")
    argmaxOrSentinel(e, probes.join(broadcast(centGroups), Seq("grp")))
  }

  /** Scan-side top-[[TwoLevelProbe]] super-cells for each row of `e`:
    * the packed-broadcast + array_sort formulation (see
    * [[twoLevelCellAssignedAgainst]]'s plan note) — one row per
    * (vector, probed super-cell), columns (idc, embc, grp), produced
    * without any exchange. Shared by the d13 assignment and s11's
    * `twolevel` probe side. */
  private def twoLevelProbes(supers: DataFrame, e: DataFrame,
      idc: String, embc: String): DataFrame = {
    val packed = supers
      .agg(collect_list(struct(col("g_id"), col("g_emb"))).as("gs"))
    e.crossJoin(broadcast(packed))
      .select(col(idc), col(embc),
        explode(slice(
          array_sort(transform(col("gs"), g =>
            struct((-round(cosine_sim(col(embc), g("g_emb")), 4)).as("nc"),
              g("g_id").as("g_id")))),
          1, TwoLevelProbe)).as("tp"))
      .select(col(idc), col(embc), col("tp.g_id").as("grp"))
  }

  /** [[twoLevelCellAssignedAgainst]] with self-seeded centroids — the
    * `twolevel` arm of [[d13CellAssigned]]. */
  private[graft] def twoLevelCellAssigned(e: DataFrame): DataFrame =
    twoLevelCellAssignedAgainst(centroids(e), e)

  /** Sampled top1−top2 assignment-margin statistic (r15, VERDICT r14
    * #3 — make `assignVia` selection measured, not manual): one cheap
    * aggregate over ~`sampleTarget` idMix-strided vectors scoring the
    * REAL codebook (the same centroid table d13 assigns against),
    * reporting the mean/median/p25 of (top1 − top2) rounded-cosine
    * margin plus the mean top-1 cosine. The two statistics separate the
    * corpus geometries the honesty kit quantified: a CLUSTERED
    * (trained-embedding-like) corpus reads mean_top1 near the
    * within-cluster band (≈0.9+) because most vectors sit on a dense
    * centroid, while the near-uniform synthetic corpus tops out near
    * the random-pair band (≈0.5). The decision rule calibrated on the
    * measured corpora lives in SCALING.md round-15 "Measured seam
    * selection". */
  /** [[s12AssignMargin]]'s sample-size knob: ~1 000 vectors keeps the
    * probe a constant-cost aggregate at any corpus size (the idMix
    * stride grows with N). */
  private[graft] val MarginSampleTarget = 1000L

  /** The `assignVia=auto` clustered-geometry threshold on the probe's
    * mean_top1 (see [[graft.queries.Dedup.resolveAssignVia]]):
    * calibrated in SCALING.md round-15 against the measured corpora —
    * clustered skew reads 0.57–0.60, near-uniform main reads 0.23–0.28,
    * a no-overlap 2× gap; 0.45 splits it with margin on both sides. */
  private[graft] val AutoTop1Threshold = 0.45

  /** The corpus-size axis of the auto rule (r16, VERDICT r15 #1): the
    * vector count above which the flat tier's measured recall floor
    * clears ~0.9 — main sf10 (200 k vectors) reads drop recall 0.907 /
    * precision 0.985 while main sf1 (20 k) reads 0.782 (SCALING.md
    * flat-tier table), so 200 k is the measured boundary, not a guess.
    * Below it the corpus is small enough that exact assignment is
    * cheap anyway (its N·C wall is a DEPTH phenomenon); above it the
    * exact default is the measured 12.7-minute N^1.5 path at 2 M
    * vectors vs lshflat's linear 74 s at 0.91/0.985. */
  private[graft] val AutoFlatMinVectors = 200000L

  /** The pure auto-tier rule, unit-testable without a corpus (r16 —
    * extends the r15 geometry-only rule with the corpus-size axis the
    * 1000×-span measurements demanded):
    *
    *   - no usable probe statistic (NaN — empty sample / degenerate
    *     codebook, ADVICE r15) ⇒ `exact`, the oracle-pinned default;
    *   - DEEP corpus (n ≥ [[AutoFlatMinVectors]], where the flat
    *     tier's recall floor clears ~0.9) ⇒ `lshflat` on EITHER
    *     geometry: near-uniform it is the only tier measured LINEAR
    *     (0.94 sf30→100 vs exact's 1.40 / uncapped lsh's 1.49, 10.2×
    *     over exact at 2 M vectors; d13 drop recall RISES with depth —
    *     0.901 sf30 / 0.927 sf100, SCALING.md round-17); clustered it
    *     reads 1.06 with the [[graft.queries.Dedup.FlatSubCellCap]]
    *     sub-cell cap (uncapped 1.30 — sign-identical cluster
    *     centroids defeat occupancy pinning; the cap retired it at
    *     recall unchanged, SCALING.md round-16) at recall 0.924/0.996,
    *     and the mining ladder's [[S11FlatScanCap]] closes the same
    *     mechanism for s11 (0.83 sf30→100, round-17). Every
    *     √-codebook tier reverts to N^1.5 at depth on every geometry —
    *     twolevel's r15 0.93 was its constant amortizing, re-measured
    *     1.49 on sf30→100;
    *   - small + clustered geometry (mean_top1 ≥
    *     [[AutoTop1Threshold]]) ⇒ `twolevel` (recall 0.91–0.95 there,
    *     the r15 rule unchanged);
    *   - small + near-uniform ⇒ `exact` (cheap at this size, perfect
    *     recall, and the approximate tiers are measured slower below
    *     the depth where their constants amortize).
    *
    * Values are d13 `assignVia` seam names; s11's mining ladder maps
    * them onto its own tier names ([[s11AutoVia]]). */
  private[graft] def decideAssignTier(meanTop1: Double, n: Long): String =
    if (meanTop1.isNaN) "exact"
    else if (n >= AutoFlatMinVectors) "lshflat"
    else if (meanTop1 >= AutoTop1Threshold) "twolevel"
    else "exact"

  /** Shared per-corpus auto resolution: ONE probe + one count per
    * (cache key), memoized for the JVM. The key embeds
    * [[corpusStamp]] — the embeddings table's latest mtime — so a
    * corpus regenerated at the same path in the same JVM gets a fresh
    * decision instead of a silently stale one (ADVICE r15). The probe
    * row is read null-guarded: a degenerate probe (no sampled rows)
    * yields NaN and the rule falls back to `exact` rather than
    * throwing (ADVICE r15). */
  private val autoTierCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The memo-invalidation stamp for a corpus dir: the max mtime across
    * BOTH the embeddings and the documents parquet dirs (ADVICE r16 —
    * s11's auto decision reads the documents lang slice, so a
    * regenerated documents table must invalidate too; for d13 the
    * extra axis costs at most one cheap re-probe). Returns 0 when
    * NEITHER table is visible as a local file (a non-local path, where
    * java.io.File.lastModified is 0 forever) — the resolvers treat 0
    * as UNSTAMPABLE and skip the memo entirely instead of caching a
    * possibly-stale decision on a constant key (ADVICE r16). */
  private[graft] def corpusStamp(dir: String): Long = {
    def tableStamp(name: String): Long = {
      val p = new java.io.File(s"$dir/$name")
      val kids = Option(p.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.foldLeft(p.lastModified())((m, f) => math.max(m, f.lastModified()))
    }
    val e = tableStamp("embeddings.parquet")
    val d = tableStamp("documents.parquet")
    if (e == 0L && d == 0L) 0L else 31L * e + d
  }

  /** One probe + ONE count per resolution (ADVICE r16 — the old shape
    * counted the frame here and again inside the probe; the count now
    * sizes the probe's stride directly). */
  private def computeAutoTier(e: DataFrame): String = {
    val n = e.count()
    val row = assignMarginProbeN(e, n).select(col("mean_top1")).head()
    val meanTop1 = if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
    decideAssignTier(meanTop1, n)
  }

  /** Memoized resolution for a STAMPABLE corpus (the caller embeds the
    * non-zero [[corpusStamp]] in the key); unstampable corpora resolve
    * fresh each time via [[resolveAutoTierFor]]. */
  private[graft] def resolveAutoTier(cacheKey: String,
      e: => DataFrame): String =
    autoTierCache.computeIfAbsent(cacheKey, _ => computeAutoTier(e))

  /** The shared stamped-or-fresh entry: memo keyed on
    * (dir, scope, stamp) when the corpus is locally stampable, a fresh
    * probe per call otherwise (never a silently-stale cache on a
    * non-local path — ADVICE r16). */
  private[graft] def resolveAutoTierFor(dir: String, scope: String,
      e: => DataFrame): String = {
    val st = corpusStamp(dir)
    if (st == 0L) computeAutoTier(e)
    else resolveAutoTier(s"$dir@$scope@$st", e)
  }

  /** d13's auto resolution over a corpus dir (the `assignVia=auto`
    * entry point — see [[graft.queries.Dedup.resolveAssignVia]]). */
  private[graft] def autoAssignTier(s: SparkSession, dir: String): String =
    resolveAutoTierFor(dir, "d13", embeddings(s, dir))

  private[graft] def assignMarginProbe(e: DataFrame): DataFrame =
    assignMarginProbeN(e, e.count())

  private def assignMarginProbeN(e: DataFrame, n: Long): DataFrame = {
    // the caller's count sizes the stride (the centroids() convention;
    // auto resolution passes the count it already needed — ADVICE r16);
    // everything downstream is EXACT integer arithmetic —
    // cosines quantized to ten-thousandths (the s11 c4 convention), so
    // the margin sums are BIGINT (no cross-row float accumulation) and
    // the percentiles interpolate integer-valued doubles identically in
    // both engines (the proven x6 percentile↔quantile_cont contract)
    val stride = math.max(1L, n / MarginSampleTarget)
    val sample = e.filter(pmod(idMixOf(col("vec_id")), lit(stride)) === 0)
    val cent = centroids(e)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c4").desc, col("c_id").asc)
    val top2 = sample.join(broadcast(cent), lit(true))
      .withColumn("c4",
        round(cosine_sim(col("embedding"), col("c_emb")) * 10000, 0)
          .cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("c4"))).as("c1"),
        max(when(col("rn") === 2, col("c4"))).as("c2"))
      .withColumn("m4", col("c1") - col("c2"))
    top2.agg(count(lit(1)).as("n_sampled"),
      round(sum(col("m4")).cast("double") / count(lit(1)) / 10000.0, 4)
        .as("mean_margin"),
      round(expr("percentile(m4, 0.5D)") / 10000.0, 4).as("median_margin"),
      round(expr("percentile(m4, 0.25D)") / 10000.0, 4).as("p25_margin"),
      round(sum(col("c1")).cast("double") / count(lit(1)) / 10000.0, 4)
        .as("mean_top1"),
      round(expr("percentile(c1, 0.5D)") / 10000.0, 4).as("median_top1"))
  }

  /** s12 — the assignment-margin pre-flight as a first-class gated
    * operator (r15, VERDICT r14 #3): the sampled statistic that PICKS
    * the `assignVia` tier per corpus (decision rule in SCALING.md
    * round-15 — mean_top1 ≥ 0.45 ⇒ clustered geometry ⇒ approximate
    * assignment safe; calibrated against the measured drop recall on
    * the clustered and near-uniform corpora). One output row
    * of six statistics over ~[[MarginSampleTarget]] idMix-strided
    * vectors scoring the REAL codebook ([[centroids]] — the same table
    * d13 assigns against).
    *
    * Scale shape: the sample is a stride filter on the scan (no
    * shuffle), the codebook is the usual broadcast, the top-2 is a
    * WindowGroupLimit over ≤2·sample rows, and the final aggregate is
    * one row — a constant-cost pre-flight at any corpus size, which is
    * the point: a 100 TB run spends seconds here to avoid choosing the
    * wrong assignment path for hours. */
  def s12AssignMargin(s: SparkSession, dir: String): DataFrame =
    assignMarginProbe(embeddings(s, dir))

  /** The bucket cap pinned by the s13 catalog entry and its oracle —
    * deliberately TIGHT (1) so the eviction rule actually fires at
    * harness SF (the sf0.01 codebook has occupancy-3 buckets; the
    * production default [[LshBucketCap]] = 8 would be a no-op there and
    * the gate would only re-test s9). The production flat tier ships
    * [[LshBucketCap]], not this pin. */
  private[graft] val S13Cap = 1

  /** s13 — occupancy-capped LSH assignment as a first-class gated
    * operator (late r15): the measurement of the occupancy cap the
    * `assignVia=lshflat` production tier ships ([[cappedCodebook]]).
    * Every bucket of the sign-LSH codebook keeps only its [[S13Cap]]
    * smallest-idMix residents (the deterministic fair-stride rule), and
    * each vector is scored against BOTH codebooks — capped and
    * uncapped — plus the exact N·C argmax. Reported per vector: the
    * capped cell, the uncapped lsh cell, the exact cell, both candidate
    * counts, and the two agreement flags; candidate-count shrinkage
    * (n_cand_cap ≤ n_cand_lsh, pinned by spec) is the linearity
    * mechanism made visible row by row, and the agreement flags price
    * it. A vector whose capped buckets hold no centroid reports cell
    * −1, s9's visible-miss convention.
    *
    * Scale shape: identical to s9 — the capped codebook is a strictly
    * SMALLER broadcast (≤ min(C·L, buckets·cap) rows, the cap enforced
    * scan-side by [[cappedCodebook]]'s bounded groupBy), the probe side
    * never leaves its scan partition, and both argmaxes are map-side
    * max_by partial-aggregates. The join output is bounded at N·L·cap
    * rows — the linear-by-construction assignment the flat tier
    * ships — while s9's uncapped join grows with occupancy (C/2^bits,
    * C ∝ √N): at 100 TB this entry IS the plan shape of the only
    * assignment tier whose cost does not bend. The DuckDB oracle
    * replays plane literals, bucket ids, the per-bucket idMix rank cap,
    * both picks and the exact argmax bit-for-bit.
    *
    * Gates the production code it measures: both picks are [[lshPick]]
    * (the bucket join and [[cellArgmax]] of [[lshAssignCore]]), the
    * capped side over [[cappedCodebook]], the exact side
    * [[cellAssignedAgainst]]. */
  def s13LshCapAssign(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cent = centroids(e)
    val capPick = lshPick(e, cappedCodebook(cent, S13Cap), BitsPerTable,
      "cell_cap", "n_cand_cap")
    val uncapped = lshPick(e, bucketedCodebook(cent), BitsPerTable,
      "cell_lsh", "n_cand_lsh")
    cellAssignedAgainst(cent, e)
      .select(col("vec_id"), col("cell").as("cell_exact"))
      .join(capPick, Seq("vec_id"), "left")
      .join(uncapped, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cell_cap"), lit(-1L)).as("cell_cap"),
        coalesce(col("cell_lsh"), lit(-1L)).as("cell_lsh"),
        col("cell_exact"),
        coalesce(col("n_cand_cap"), lit(0L)).as("n_cand_cap"),
        coalesce(col("n_cand_lsh"), lit(0L)).as("n_cand_lsh"),
        (coalesce(col("cell_cap"), lit(-1L)) ===
          coalesce(col("cell_lsh"), lit(-1L))).as("cap_agree_lsh"),
        (coalesce(col("cell_cap"), lit(-1L)) === col("cell_exact"))
          .as("cap_agree_exact"))
      .orderBy(col("vec_id"))
  }

  /** s14's construction knobs, pinned TIGHT (the s13 convention, r16 —
    * VERDICT r15 #3): at production values the flat tier's two
    * distinctive mechanisms DEGENERATE at harness SF (N=500 /
    * target 512 → the 16-centroid floor at the fixed 5-bit width —
    * vector-for-vector s9's assignment, so the gate would only re-test
    * s9/s13).
    * Cell target 4 forces the linear codebook rule to BIND
    * (k = ceil(500/4) = 125 ≫ the 16 floor) and occupancy target 1
    * forces the adaptive width to BIND (ceil(log2 125) = 7 > the 5-bit
    * floor), so both adaptive formulas are exercised — and
    * oracle-REPLAYED: the DuckDB side recomputes k and bits from
    * count(*) and compares them as output columns, so a drift in
    * either formula hash-fails loudly. The production tier ships
    * [[FlatCellTarget]]/[[FlatTargetOcc]], not these pins. */
  private[graft] val S14CellTarget = 4
  private[graft] val S14TargetOcc = 1
  private[graft] val S14Cap = 8

  /** s14 — the `lshflat` construction as a first-class gated operator
    * (r16): the measurement companion to the `assignVia=lshflat`
    * production tier.
    * The FLAT codebook (k = ceil(N/[[S14CellTarget]]) idMix seeds —
    * linear in the corpus, against the standard √ rule) is bucketed at
    * the ADAPTIVE width (2^bits ≈ k/[[S14TargetOcc]], hyperplanes
    * extended deterministically from the same seeded sequence), capped
    * per bucket, and every vector reports its capped-flat pick, the
    * exact argmax over the SAME codebook, the candidate count, the
    * agreement flag, and the two adaptive quantities (k, bits)
    * themselves. A vector whose buckets hold no centroid reports
    * cell −1, s9's visible-miss convention.
    *
    * Scale shape: identical to the production flat tier — the capped
    * codebook is a bounded broadcast (≤ min(k·L, 2^bits·L·cap) rows),
    * the probe side never leaves its scan partition, the argmax is a
    * map-side max_by partial-aggregate, and the join output is bounded
    * at N·L·cap rows with cell population pinned at the target — BOTH
    * of the d13 family's N^1.5 terms linear by construction, the plan
    * whose measured 0.94 slope at 2 M vectors is the repo's deepest
    * scale result. The exact-argmax column is the gate fixture's
    * honesty reference (harness N·k only), not part of the production
    * plan. The DuckDB oracle replays the 42 plane literals, the flat
    * seed rank, the per-bucket idMix cap, both picks, and the adaptive
    * k/bits arithmetic bit-for-bit.
    *
    * Gates the production code it measures: k and bits come from
    * [[flatCodebookSize]] and [[flatBits]], the seeds from
    * [[seedCodebook]], the cap from `cappedCodebookN`, and the pick is
    * [[lshPick]] — [[lshFlatCellAssigned]]'s construction at the tight
    * pins. */
  def s14FlatAssign(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val k = flatCodebookSize(e, S14CellTarget)
    val bits = flatBits(k, S14TargetOcc)
    val cent = seedCodebook(e, k)
    val pick = lshPick(e, cappedCodebookN(cent, S14Cap, bits), bits,
      "cell_flat", "n_cand")
    cellAssignedAgainst(cent, e)
      .select(col("vec_id"), col("cell").as("cell_exact"))
      .join(pick, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cell_flat"), lit(-1L)).as("cell_flat"),
        col("cell_exact"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        (coalesce(col("cell_flat"), lit(-1L)) === col("cell_exact"))
          .as("flat_agree"),
        lit(k.toLong).as("codebook_k"),
        lit(bits.toLong).as("bucket_bits"))
      .orderBy(col("vec_id"))
  }

  /** The scan-cap gate's own TIGHT cap (the s13/s14 convention:
    * deliberately small so the mechanism BINDS at harness SF — sf0.01
    * cells average ~31 members, so k_scan = 4 and the sub arithmetic
    * is non-trivial in every oracle row; the production mining cap
    * stays [[S11FlatScanCap]] = 1024 and is a no-op at harness SF by
    * design). */
  private[graft] val S15Cap = 8L

  /** s15 — the r17 per-(prober, cell) scan-cap construction as a
    * first-class gated operator (the measurement companion to
    * [[S11FlatScanCap]], exactly as s14 is to `lshflat` and s13 to its
    * bucket cap): over the harness embeddings, cells are assigned by the
    * EXACT argmax (the d13 oracle path — the cap arithmetic is
    * tier-independent, so gating it over exact cells keeps the oracle
    * to proven CTEs), and the s2 query set's [[ProbeCells]] probes are
    * capped at the tight [[S15Cap]]. It gates the production code it
    * measures: the sub split and each prober's pick are [[scanCapped]],
    * the helper s11's `flat` tier runs, and the probes are
    * [[topProbes]]. One row per (q_id, probed cell): the cell
    * population, k_scan, the chosen sub, and the number of residents
    * actually scanned — an empty chosen sub is a visible n_scanned = 0
    * row, never an absent one.
    *
    * Scale shape: identical to the production cap — the counts frame
    * is ≤C rows (broadcast), the sub rides the JOIN KEY so capped-away
    * residents are never emitted, and the scanned mass is bounded at
    * probers·probe·~cap on any geometry. */
  def s15FlatScanCap(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cent = centroids(e)
    val cells = cellAssignedAgainst(cent, e)
      .select(col("vec_id"), col("cell"))
    val probes = queryProbes(e, cent, "p_cos", "rn")
      .select(col("q_id"), col("cell"))
    val (cellsSub, probesSub) = scanCapped(cells, "vec_id", probes, "q_id", S15Cap)
    probesSub.join(cellsSub, Seq("cell", "sub"), "left")
      .groupBy(col("q_id"), col("cell"), col("c_n"), col("k_scan"),
        col("sub"))
      .agg(count(col("vec_id")).as("n_scanned"))
      .orderBy(col("q_id"), col("cell"))
  }

  /** s9 — LSH-assisted cell ASSIGNMENT: the hierarchical-IVF build path,
    * i.e. the "ANN-assisted assignment" named as d13/s2's future
    * linearization when the balanced sqrt codebook was landed. Instead
    * of scoring every vector against every centroid (the N^1.5 term),
    * the CODEBOOK is bucketed by the s3 sign-LSH tables and each vector
    * scores only centroids sharing at least one bucket — assignment cost
    * drops from N·C cosines to N·(expected bucket co-occupancy)
    * ≈ N·C·L/2^bits, with the probe side never leaving its scan
    * partition (the bucketed codebook is an O(C·L) broadcast). Reports
    * per vector: the LSH-assigned cell, the exact cell, the candidate
    * count, and the agreement flag — assignment recall is the honest
    * quality metric, and a vector whose buckets hold no centroid
    * reports cell −1 (the miss is visible, not papered over). The s2/
    * d13 catalog entries deliberately stay on exact assignment (their
    * oracles pin exact cells); s9 IS the measured migration path.
    *
    * Measured recall honesty (sign-LSH discriminates the argmax only
    * when the argmax has margin): on the near-uniform synthetic corpus
    * agreement is ~33–36% (sf0.01/sf1) at a 5.5× candidate cut —
    * near-orthogonal vectors make every cell argmax fragile; on the
    * CLUSTERED skew corpus (trained-embedding geometry) agreement
    * doubles to ~64–67% at a ~3× cut, and misses drop 25→11 per 20k.
    * For semantic dedup the failure mode is benign: a vector assigned
    * to its runner-up cell still lands with its cluster-mates whenever
    * the cluster dominates both cells' co-occupancy.
    *
    * Gates the production code it measures: the LSH side is [[lshPick]]
    * over [[bucketedCodebook]] (the bucket join and [[cellArgmax]] that
    * [[lshAssignCore]] runs), the exact side [[cellAssignedAgainst]]. */
  def s9LshAssign(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    // both the LSH side and the exact reference side below assign
    // against the SAME codebook, so the agreement statistic stays a
    // property of the assignment mechanism
    val cent = centroids(e)
    val approx = lshPick(e, bucketedCodebook(cent), BitsPerTable,
      "cell_lsh", "n_cand")
    cellAssignedAgainst(cent, e)
      .select(col("vec_id"), col("cell").as("cell_exact"))
      .join(approx, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cell_lsh"), lit(-1L)).as("cell_lsh"),
        col("cell_exact"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        (coalesce(col("cell_lsh"), lit(-1L)) === col("cell_exact")).as("agree"))
      .orderBy(col("vec_id"))
  }

  // s4: product quantization — 4 subspaces × 16 dims, 16 sub-centroids
  // per subspace (the s2 seed vectors, sliced), ADC-scored shortlist of
  // 40 re-ranked exactly.
  private val PqM = 4
  private val PqSubDim = 16
  private val PqShortlist = 40

  private def pqSub(c: Column, m: Int): Column =
    slice(c, m * PqSubDim + 1, PqSubDim)

  /** The per-query ADC lookup table — dot of each query slice with each
    * sub-centroid — as ONE broadcastable row per query: (q_id, q_nrm,
    * map from sub-centroid id to its [[PqM]] per-subspace dots). r22,
    * guide §7.2 duplicated-subtree cost: the previous shape joined a
    * NumQueries × NumCentroids lut TABLE once per subspace — 4 broadcast
    * joins, each embedding its own copy of the querySet × codebook
    * subtree — for what is a constant-size dictionary lookup. The map
    * folds into the ONE per-query join the ADC scan already pays; dp
    * values come from the same dot_product expressions over the same
    * rows, so every looked-up double is bit-identical to the joined one.
    * `q` must expose (q_id, q_nrm, q_emb); map keys are unique (c_id is
    * the codebook key). */
  private def pqQueryLut(q: DataFrame, cent: DataFrame): DataFrame = {
    val entry = struct(col("c_id"),
      struct((0 until PqM).map(m =>
        dot_product(pqSub(col("q_emb"), m), pqSub(col("c_emb"), m))
          .as(s"dp$m")): _*))
    q.join(broadcast(cent), lit(true))
      .groupBy(col("q_id"), col("q_nrm"))
      .agg(map_from_entries(collect_list(entry)).as("lut"))
  }

  /** Σ over subspaces of the [[pqQueryLut]] lookup for this row's codes —
    * accumulation order m = 0..PqM−1, identical to the old 4-join form. */
  private def pqDpSum: Column = (0 until PqM)
    .map(m => element_at(col("lut"), col(s"k$m.id")).getField(s"dp$m"))
    .reduce(_ + _)

  /** s4 — product-quantization ANN: encode every vector as [[PqM]] small
    * codes (nearest sub-centroid per 16-dim slice, standard PQ argmin-L2
    * via the expanded form |c|² − 2·v·c), score candidates against a
    * query with asymmetric distance computation (ADC: cosine between the
    * query and the vector's RECONSTRUCTION from sub-centroids), then
    * exactly re-rank a [[PqShortlist]]-deep shortlist. Reports measured
    * recall@10 vs brute force.
    *
    * THE memory-compression scale path: at 100 TB an ADC scan touches
    * 4 bytes of codes per vector instead of 256 bytes of floats (64×
    * less memory bandwidth), and the per-query lookup table (dot of each
    * query slice with each sub-centroid — [[NumCentroids]]·[[PqM]] rows)
    * is O(K·M) regardless of corpus size. Encoding is one broadcast
    * pass: per (vector, seed) distances feed a partial-agg'd `min_by`
    * per subspace, so the map-side combine reduces K·N rows to N before
    * the one shuffle. Everything — codebook, argmin tie-breaks, ADC
    * arithmetic order — is deterministic and replayed exactly by the
    * DuckDB oracle. */
  def s4AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val seeds = seedCodebook(e, NumCentroids)
    val joined = e.join(broadcast(seeds), lit(true))
    val codeAggs = (0 until PqM).map { m =>
      val csq = dot_product(pqSub(col("c_emb"), m), pqSub(col("c_emb"), m))
      val d2 = round(
        csq - lit(2.0) * dot_product(pqSub(col("embedding"), m), pqSub(col("c_emb"), m)), 6)
      min_by(struct(col("c_id").as("id"), csq.as("csq")),
        struct(d2.as("d"), col("c_id").as("c"))).as(s"k$m")
    }
    val codes = joined.groupBy(col("vec_id")).agg(codeAggs.head, codeAggs.tail: _*)
    // per-query ADC lookup table as ONE broadcast map column
    // ([[pqQueryLut]] — r22): the previous shape joined a
    // NumQueries × NumCentroids lut table FOUR times, once per subspace,
    // each join embedding its own copy of the querySet × seeds subtree.
    val q = querySet(e)
      .withColumn("q_nrm", sqrt(dot_product(col("q_emb"), col("q_emb"))))
    val adc = codes
      .join(broadcast(pqQueryLut(q, seeds)), lit(true))
      .filter(col("vec_id") =!= col("q_id"))
    val dpSum = pqDpSum
    val csqSum = (0 until PqM).map(m => col(s"k$m.csq")).reduce(_ + _)
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = adc
      .withColumn("adc", round(dpSum / (col("q_nrm") * sqrt(csqSum)), 4))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank of the tiny shortlist
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = shortlist
      .join(e, "vec_id")
      .join(broadcast(querySet(e)), "q_id")
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    recallVsBrute(e, approx, Seq(lit(PqM).as("m_subspaces")))
  }

  /** s5: prefix width for the truncated-dimension shortlist pass, and
    * the shortlist depth the exact re-rank consumes. */
  private val S5PrefixDims = 16
  private val S5Shortlist = 40

  /** s5 — truncated-dimension two-stage retrieval (the matryoshka-
    * embedding serving pattern, Kusupati et al. 2022: a prefix of a
    * nested-trained embedding is itself a usable low-dim embedding, so
    * retrieval shortlists on the cheap prefix and re-ranks the shortlist
    * at full precision). Stage 1 ranks the corpus by cosine over the
    * first [[S5PrefixDims]] of 64 dims — a 4× cut in bytes read and
    * flops on the side that scans the WHOLE corpus, and at a real
    * deployment the prefix is materialized as its own column so the
    * full vectors are only fetched for the [[S5Shortlist]]-deep
    * shortlist (the same memory-bandwidth argument as s4's ADC, traded
    * differently: no codebook training, recall bounded by how much of
    * the cosine mass the prefix carries). Stage 2 re-ranks the
    * shortlist with exact full-dim cosine and reports measured
    * recall@10 — the harness embeddings are NOT matryoshka-trained, so
    * the measured recall is the honest untrained-prefix baseline.
    *
    * Fully oracle-replayed: prefix slicing, both cosine roundings and
    * both tie-broken rankings are deterministic in each engine. */
  def s5AnnTruncated(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val pre = e.select(col("vec_id"), col("embedding"),
      slice(col("embedding"), 1, S5PrefixDims).as("emb_p"))
    val q = querySet(e)
      .withColumn("q_p", slice(col("q_emb"), 1, S5PrefixDims))
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("p_cos").desc, col("vec_id").asc)
    val short = broadcast(q).join(pre, col("vec_id") =!= col("q_id"))
      .withColumn("p_cos", round(cosine_sim(col("q_p"), col("emb_p")), 4))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= S5Shortlist)
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = short
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    recallVsBrute(e, approx, Seq(lit(S5PrefixDims).as("prefix_dims")))
  }

  /** s6 — metadata-filtered exact kNN: top-k restricted to corpus
    * vectors sharing the query's label (the filtered-vector-search
    * serving shape — "nearest neighbors among docs in my language /
    * my tenant / this date range"). The filter is applied PRE-search
    * (fused into the join condition, so it prunes before any cosine is
    * computed), not post-search — post-filtering a global top-k
    * under-returns whenever the filter is selective, the classic
    * filtered-ANN correctness trap. Here the pre-filter is exact by
    * construction; an IVF/LSH tier under a filter needs per-bucket
    * probing with the same pre-filter, which this query is the ground
    * truth for.
    *
    * Scale shape: identical to s1 (broadcast query set, one corpus
    * scan, per-query TakeOrdered) with the label equality evaluated
    * scan-side — at 100 TB with the corpus partitioned by label the
    * filter becomes partition pruning. */
  def s6FilteredKnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    broadcast(q)
      .join(e, col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("q_label").as("label"),
        col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** s7 — IVF-PQ, the two scale cuts COMPOSED the way a production ANN
    * index (the FAISS IndexIVFPQ shape, here without residual encoding)
    * actually serves: the IVF coarse quantizer (s2's cells) decides
    * WHICH vectors are scanned — a query touches only its
    * [[ProbeCells]] probed cells — and the PQ codes (s4's) decide how
    * many BYTES each scanned vector costs — ADC reads 4 sub-codes, not
    * 256 float bytes. Candidates are ADC-scored, a
    * [[PqShortlist]]-deep shortlist is re-ranked exactly, and measured
    * recall@10 vs brute force is reported alongside both knobs.
    *
    * Scale shape: at 100 TB the cell id is the partition key (a probe
    * prunes to ProbeCells/NumCentroids of the corpus partitions) and
    * the codes column is the only thing the ADC scan reads — the two
    * savings multiply, which is why this composition IS the default
    * large-scale ANN index. The recall losses multiply too — on these
    * unclustered synthetic embeddings s7's measured recall sits at
    * roughly the product of s2's and s4's, the honest cost of the
    * combined cut (a trained corpus with real cluster structure is
    * where the trade earns its keep). Encoding and assignment are each
    * one broadcast pass over the corpus (index build, not query cost).
    * Everything — centroid rule, assignment/probe tie-breaks, code
    * argmins, ADC arithmetic — is deterministic and the DuckDB oracle
    * replays the full pipeline. */
  def s7AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    // ONE fixed NumCentroids codebook serves BOTH halves — the IVF
    // coarse quantizer (cells + probes) and, sliced per subspace, the
    // PQ sub-centroid tables
    val cent = seedCodebook(e, NumCentroids)
    // IVF half: s2's cell assignment + per-query probe list
    val cells = cellAssignedAgainst(cent, e).select(col("vec_id"), col("cell"))
    val probes = queryProbes(e, cent, "c_cos", "rn")
      .select(col("q_id"), col("cell"))
    // PQ half: whole-corpus encoding (index build — s4's codes)
    val joined = e.join(broadcast(cent), lit(true))
    val codeAggs = (0 until PqM).map { m =>
      val csq = dot_product(pqSub(col("c_emb"), m), pqSub(col("c_emb"), m))
      val d2 = round(
        csq - lit(2.0) * dot_product(pqSub(col("embedding"), m), pqSub(col("c_emb"), m)), 6)
      min_by(struct(col("c_id").as("id"), csq.as("csq")),
        struct(d2.as("d"), col("c_id").as("c"))).as(s"k$m")
    }
    val codes = joined.groupBy(col("vec_id")).agg(codeAggs.head, codeAggs.tail: _*)
    val q = querySet(e)
      .withColumn("q_nrm", sqrt(dot_product(col("q_emb"), col("q_emb"))))
    // the composition: ADC scores ONLY vectors in the query's probed
    // cells (the IVF cut applied before any code is read). The per-query
    // lut rides the q_id join as ONE broadcast map column ([[pqQueryLut]]
    // — r22; this replaces four per-subspace lut joins AND the separate
    // q_nrm broadcast join).
    val adc = codes
      .join(cells, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(pqQueryLut(q, cent)), Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
    val dpSum = pqDpSum
    val csqSum = (0 until PqM).map(m => col(s"k$m.csq")).reduce(_ + _)
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = adc
      .withColumn("adc", round(dpSum / (col("q_nrm") * sqrt(csqSum)), 4))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val approx = shortlist
      .join(e, "vec_id")
      .join(broadcast(querySet(e)), "q_id")
      .withColumn("cosine", round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
    recallVsBrute(e, approx,
      Seq(lit(ProbeCells).as("probed_cells"), lit(PqM).as("m_subspaces")))
  }

  /** s8's cosine radius, on the ROUNDED cosine so the boundary set is
    * identical in both engines (calibrated: the query set's neighbors
    * top out near 0.40 on these synthetic embeddings, so 0.30 returns
    * 1–6 matches per query at sf0.01). */
  private val S8Radius = 0.30

  /** s8 — radius (threshold) similarity search: every corpus vector
    * within cosine ≥ [[S8Radius]] of each query vector, the "find all
    * sufficiently-similar" primitive (retrieval dedup candidates,
    * policy screens) that top-k cannot express — k is unknown and
    * varies per query.
    *
    * Scale shape: identical to s1's broadcast-nested-loop — the
    * fixed-size query set broadcasts, the corpus is scanned once, and
    * the threshold is evaluated scan-side (no per-query sort at all,
    * cheaper than s1: radius search needs no ranking state). At 100 TB
    * the same IVF/LSH cell pruning as s2/s3 applies unchanged — a
    * radius probe scans the probed cells and keeps everything above
    * the threshold. */
  def s8RadiusSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    broadcast(querySet(e)).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round(cosine_sim(col("q_emb"), col("embedding")), 4))
      .filter(col("cosine") >= S8Radius)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("q_id"), col("cosine").desc, col("neighbor_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_brute" -> s1KnnBrute _,
    "s2_ann_ivf"   -> s2AnnIvf _,
    "s3_ann_lsh"   -> s3AnnLsh _,
    "s9_lsh_assign" -> s9LshAssign _,
    "s13_lshcap_assign" -> s13LshCapAssign _,
    "s14_flat_assign" -> s14FlatAssign _,
    "s15_flat_scan_cap" -> s15FlatScanCap _,
    "s10_probe_sweep" -> s10ProbeSweep _,
    "s4_ann_pq"    -> s4AnnPq _,
    "s5_ann_truncated" -> s5AnnTruncated _,
    "s6_filtered_knn" -> s6FilteredKnn _,
    "s7_ann_ivfpq" -> s7AnnIvfPq _,
    "s8_radius_search" -> s8RadiusSearch _,
    "s11_bitext_margin" -> s11BitextMargin _,
    "s11b_bitext_blocked" -> s11bBitextBlocked _,
    "s12_assign_margin" -> s12AssignMargin _,
    "s16_margin_sweep" -> s16MarginSweep _,
    "s17_ivf_refined" -> s17IvfRefined _,
  )

  // ---- DuckDB oracle construction -----------------------------------
  //
  // s2/s3 are fully differential: the centroid rule (affine id mix) and
  // the hyperplanes (fixed-seed ±1 literals) are deterministic, so the
  // oracle replays the whole pipeline — assignment, probing, candidate
  // ranking, and the recall@10 arithmetic — in SQL. Every cosine that
  // feeds an ORDER BY is rounded to 4 decimals with an id tie-break in
  // BOTH engines (the established CosineSim↔list_sum bit-parity contract).

  /** Dot product of two list columns, left-to-right — the oracle half of
    * the [[graft.functions.CosineSim]] determinism contract. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def cosSql(a: String, an: String, b: String, bn: String): String =
    s"round(${dotSql(a, b)} / ($an * $bn), 4)"

  /** Shared oracle CTEs: normed corpus `en`, normed queries `qn`, and the
    * exact brute-force top-10 `brute` (the same text as the s1 oracle). */
  private def commonCtes: String =
    s"""en AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(embedding,
       |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |),
       |qn AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM en WHERE vec_id < $NumQueries
       |),
       |brute AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT qn.q_id, en.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
       |                      en.vec_id ASC) AS rank
       |    FROM qn JOIN en ON en.vec_id <> qn.q_id
       |  ) WHERE rank <= $K
       |)""".stripMargin

  /** Recall report over an `approx(q_id, neighbor_id)` CTE — mirrors
    * [[recallVsBrute]] (anchored on the query list, zero-filled). */
  private def recallSql(extraCol: String): String =
    s"""SELECT qn.q_id, $extraCol,
       |       coalesce(r.n_returned, 0) AS n_returned,
       |       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / $K, 4) AS recall_at_10
       |FROM qn
       |LEFT JOIN (SELECT q_id, count(*) AS n_returned FROM approx GROUP BY q_id) r
       |  ON r.q_id = qn.q_id
       |LEFT JOIN (SELECT a.q_id, count(*) AS hits
       |           FROM approx a JOIN brute b
       |             ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
       |           GROUP BY a.q_id) h
       |  ON h.q_id = qn.q_id
       |ORDER BY qn.q_id""".stripMargin

  /** The centroid-seed + cell-assignment CTE pair (the engine's
    * [[cellAssigned]] as oracle SQL), appended after [[commonCtes]].
    * Shared by the s2 oracle and Dedup's d13 oracle. */
  private[queries] def centOracleCte: String =
    s"""cent AS (  -- codebook sized by the fixed-target-cell-size rule
       |  SELECT c_id, c_emb, c_nrm FROM (
       |    SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm,
       |           row_number() OVER (
       |             ORDER BY (vec_id * $MixA + $MixB) % $MixM, vec_id) AS crn
       |    FROM en
       |  ) WHERE crn <= greatest($NumCentroids,
       |      CAST(ceil(sqrt(CAST((SELECT count(*) FROM en) AS DOUBLE)
       |                     / $CentroidDivisor)) AS BIGINT))
       |)""".stripMargin

  private[queries] def cellsOracleCtes: String =
    s"""$centOracleCte,
       |cells AS (
       |  SELECT vec_id, embedding, nrm, cell FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM en CROSS JOIN cent c
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** The shared norm/query/brute CTE text for composing oracles outside
    * this object (d13 reuses en + the cell CTEs; unreferenced CTEs cost
    * DuckDB nothing). */
  private[queries] def sharedOracleCtes: String = commonCtes

  /** The rounded-cosine SQL fragment over normed columns, for composing
    * oracles outside this object. */
  private[queries] def cosineSql(a: String, an: String, b: String,
      bn: String): String = cosSql(a, an, b, bn)

  private def s2OracleSql: String =
    s"""WITH $commonCtes,
       |$cellsOracleCtes,
       |probes AS (
       |  SELECT q_id, q_emb, q_nrm, cell FROM (
       |    SELECT qn.q_id, qn.q_emb, qn.q_nrm, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM qn CROSS JOIN cent c
       |  ) WHERE rn <= $ProbeCells
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT p.q_id, a.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY p.q_id
       |             ORDER BY ${cosSql("p.q_emb", "p.q_nrm", "a.embedding", "a.nrm")} DESC,
       |                      a.vec_id ASC) AS rank
       |    FROM probes p JOIN cells a ON a.cell = p.cell AND a.vec_id <> p.q_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($ProbeCells AS INTEGER) AS probed_cells")}""".stripMargin

  /** The engine's table-bucket rule as oracle SQL: for table t, bucket =
    * t·2^bits + Σ_b (dot(emb, plane[t·bits+b]) > 0 ? 2^b : 0). The
    * width-parameterized form serves s14's adaptive-bits replay — the
    * plane sequence extends deterministically, so the flat indexing
    * (t·bits + b) matches [[graft.functions.SignBuckets]]'s layout at
    * any width. */
  private def bucketsSqlN(emb: String, t: Int, nBits: Int): String = {
    val all = planesFor(NumTables * nBits)
    val terms = (0 until nBits).map { b =>
      val plane = all(t * nBits + b)
      val lit = plane.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, len($emb)), i -> CAST($emb[i] AS DOUBLE) * ($lit)[i])) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    s"$terms + ${t * (1 << nBits)}"
  }

  private def bucketsSql(emb: String, t: Int): String =
    bucketsSqlN(emb, t, BitsPerTable)

  /** The s17 oracle: the s2 replay with the refinement spliced between
    * the seed assignment and the search — per-(cell, dim) BIGINT sums of
    * round(x·10⁴), one double division, REAL cast (IEEE round-to-nearest
    * in both engines), empty cells coalesced back to their seeds —
    * then probes/cells/recall re-derived against the refined codebook. */
  private def s17OracleSql: String =
    s"""WITH $commonCtes,
       |$cellsOracleCtes,
       |msum AS (
       |  SELECT cell, i,
       |         CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 10000,
       |                             0) AS BIGINT)) AS BIGINT) AS s4,
       |         count(*) AS n
       |  FROM (SELECT cell, embedding,
       |               unnest(generate_series(1, $EmbDim)) AS i
       |        FROM cells)
       |  GROUP BY cell, i
       |),
       |mcent AS (
       |  SELECT cell,
       |         list(CAST(CAST(s4 AS DOUBLE) / (n * 10000.0) AS REAL)
       |              ORDER BY i) AS m_emb
       |  FROM msum GROUP BY cell
       |),
       |rcent AS (
       |  SELECT c.c_id, coalesce(m.m_emb, c.c_emb) AS c_emb
       |  FROM cent c LEFT JOIN mcent m ON m.cell = c.c_id
       |),
       |rcn AS (
       |  SELECT c_id, c_emb,
       |         sqrt(list_sum(list_transform(c_emb,
       |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS c_nrm
       |  FROM rcent
       |),
       |rcells AS (
       |  SELECT vec_id, embedding, nrm, cell FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM en CROSS JOIN rcn c
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT q_id, q_emb, q_nrm, cell FROM (
       |    SELECT qn.q_id, qn.q_emb, qn.q_nrm, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM qn CROSS JOIN rcn c
       |  ) WHERE rn <= $ProbeCells
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT p.q_id, a.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY p.q_id
       |             ORDER BY ${cosSql("p.q_emb", "p.q_nrm", "a.embedding", "a.nrm")} DESC,
       |                      a.vec_id ASC) AS rank
       |    FROM probes p JOIN rcells a ON a.cell = p.cell AND a.vec_id <> p.q_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($ProbeCells AS INTEGER) AS probed_cells")}""".stripMargin

  private def s3OracleSql: String = {
    val eb = (0 until NumTables).map { t =>
      s"SELECT vec_id, ${bucketsSql("embedding", t)} AS bucket FROM en"
    }.mkString("\nUNION ALL\n")
    val qb = (0 until NumTables).map { t =>
      s"SELECT q_id, ${bucketsSql("q_emb", t)} AS bucket FROM qn"
    }.mkString("\nUNION ALL\n")
    s"""WITH $commonCtes,
       |eb AS (
       |$eb
       |),
       |qb AS (
       |$qb
       |),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, eb.vec_id
       |  FROM qb JOIN eb ON eb.bucket = qb.bucket AND eb.vec_id <> qb.q_id
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT c.q_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY c.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
       |                      c.vec_id ASC) AS rank
       |    FROM cand c
       |    JOIN qn ON qn.q_id = c.q_id
       |    JOIN en ON en.vec_id = c.vec_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($NumTables AS INTEGER) AS probed_tables")}""".stripMargin
  }

  private def s10OracleSql: String =
    s"""WITH $commonCtes,
       |$cellsOracleCtes,
       |pr AS (
       |  SELECT q_id, q_emb, q_nrm, cell, crank FROM (
       |    SELECT qn.q_id, qn.q_emb, qn.q_nrm, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS crank
       |    FROM qn CROSS JOIN cent c
       |  ) WHERE crank <= $ProbeCells
       |),
       |cand AS (
       |  SELECT p.q_id, p.crank, a.vec_id,
       |         ${cosSql("p.q_emb", "p.q_nrm", "a.embedding", "a.nrm")} AS cosine
       |  FROM pr p JOIN cells a ON a.cell = p.cell AND a.vec_id <> p.q_id
       |),
       |expanded AS (
       |  SELECT q_id, vec_id, cosine,
       |         unnest(generate_series(crank, $ProbeCells)) AS p
       |  FROM cand
       |),
       |approx AS (
       |  SELECT q_id, p, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id, p
       |             ORDER BY cosine DESC, vec_id ASC) AS rnk
       |    FROM expanded
       |  ) WHERE rnk <= $K
       |),
       |grid AS (
       |  SELECT q_id, unnest(generate_series(1, $ProbeCells)) AS p FROM qn
       |),
       |ret AS (
       |  SELECT q_id, p, count(*) AS n_returned FROM approx GROUP BY 1, 2
       |),
       |hit AS (
       |  SELECT a.q_id, a.p, count(*) AS hits
       |  FROM approx a JOIN brute b
       |    ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY 1, 2
       |)
       |SELECT g.q_id, g.p AS probed_cells,
       |       coalesce(r.n_returned, 0) AS n_returned,
       |       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / $K, 4)
       |         AS recall_at_10
       |FROM grid g
       |LEFT JOIN ret r ON r.q_id = g.q_id AND r.p = g.p
       |LEFT JOIN hit h ON h.q_id = g.q_id AND h.p = g.p
       |ORDER BY g.q_id, g.p""".stripMargin

  /** s13's oracle: the s9 replay plus the per-bucket idMix rank cap
    * (`cbcap`) and a second pick over the capped candidate set. */
  private def s13OracleSql: String = {
    val cb = (0 until NumTables).map { t =>
      s"SELECT c_id, ${bucketsSql("c_emb", t)} AS bucket FROM cent"
    }.mkString("\nUNION ALL\n")
    val vb = (0 until NumTables).map { t =>
      s"SELECT vec_id, ${bucketsSql("embedding", t)} AS bucket FROM en"
    }.mkString("\nUNION ALL\n")
    def pick(candSrc: String, name: String): String =
      s"""$name AS (
         |  SELECT vec_id, c_id, n_cand FROM (
         |    SELECT vec_id, c_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY c_cos DESC, c_id ASC) AS rn,
         |           count(*) OVER (PARTITION BY vec_id) AS n_cand
         |    FROM (
         |      SELECT c.vec_id, c.c_id,
         |             ${cosSql("en.embedding", "en.nrm", "cent.c_emb", "cent.c_nrm")}
         |               AS c_cos
         |      FROM (SELECT DISTINCT vb.vec_id, $candSrc.c_id
         |            FROM vb JOIN $candSrc USING (bucket)) c
         |      JOIN en ON en.vec_id = c.vec_id
         |      JOIN cent ON cent.c_id = c.c_id
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    s"""WITH $commonCtes,
       |$centOracleCte,
       |cb AS (
       |$cb
       |),
       |cbcap AS (
       |  SELECT bucket, c_id FROM (
       |    SELECT bucket, c_id,
       |           row_number() OVER (PARTITION BY bucket
       |             ORDER BY ${mixSql(s"xor(c_id, bucket * $CapRankMixP)")},
       |                      c_id) AS rn
       |    FROM cb
       |  ) WHERE rn <= $S13Cap
       |),
       |vb AS (
       |$vb
       |),
       |${pick("cbcap", "pick_cap")},
       |${pick("cb", "pick_lsh")},
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT en.vec_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM en CROSS JOIN cent c
       |  ) WHERE rn = 1
       |)
       |SELECT x.vec_id,
       |       coalesce(pc.c_id, -1) AS cell_cap,
       |       coalesce(pl.c_id, -1) AS cell_lsh,
       |       x.cell AS cell_exact,
       |       coalesce(pc.n_cand, 0) AS n_cand_cap,
       |       coalesce(pl.n_cand, 0) AS n_cand_lsh,
       |       coalesce(pc.c_id, -1) = coalesce(pl.c_id, -1) AS cap_agree_lsh,
       |       coalesce(pc.c_id, -1) = x.cell AS cap_agree_exact
       |FROM cells x
       |LEFT JOIN pick_cap pc USING (vec_id)
       |LEFT JOIN pick_lsh pl USING (vec_id)
       |ORDER BY x.vec_id""".stripMargin
  }

  /** s14's oracle: the flat-codebook seed rank, the 42 seven-bit plane
    * literals, the per-bucket idMix cap, both picks, AND the adaptive
    * k/bits arithmetic recomputed in SQL from count(*) — the baked
    * 7-bit plane set is cross-checked by the SQL-computed bucket_bits
    * column, so a corpus where the adaptive width would NOT be 7
    * hash-fails loudly instead of silently diverging. */
  /** Replays the whole s15 construction: exact cells (the proven d13
    * CTEs), counts → k_scan at the pinned tight cap, the resident sub
    * hash, the s2 probe rule, and the prober's pre-mixed-XOR sub
    * choice — every integer of the r17 scan cap, DuckDB-side. */
  private def s15OracleSql: String =
    s"""WITH $commonCtes,
       |$cellsOracleCtes,
       |counts AS (
       |  SELECT cell, count(*) AS c_n,
       |         (count(*) + $S15Cap - 1) // $S15Cap AS k_scan
       |  FROM cells GROUP BY cell
       |),
       |subs AS (
       |  SELECT s.cell, ${mixSql("s.vec_id")} % cc.k_scan AS sub, s.vec_id
       |  FROM cells s JOIN counts cc USING (cell)
       |),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT qn.q_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM qn CROSS JOIN cent c
       |  ) WHERE rn <= $ProbeCells
       |),
       |psub AS (
       |  SELECT p.q_id, p.cell, cc.c_n, cc.k_scan,
       |         ${mixSql(s"xor(${mixSql("p.q_id")}, ${mixSql("p.cell")})")}
       |           % cc.k_scan AS sub
       |  FROM probes p JOIN counts cc USING (cell)
       |)
       |SELECT p.q_id, p.cell, p.c_n, p.k_scan, p.sub,
       |       count(s.vec_id) AS n_scanned
       |FROM psub p LEFT JOIN subs s ON s.cell = p.cell AND s.sub = p.sub
       |GROUP BY 1, 2, 3, 4, 5
       |ORDER BY p.q_id, p.cell""".stripMargin

  private def s14OracleSql: String = {
    // The ADAPTIVE bit width is exactly what s14 gates, so the oracle
    // must follow it across SFs, not pin one solved value (r20: the
    // old hardcoded 7 matched the harness corpus and silently
    // diverged at the sf0.1 two-scale replay, where the engine
    // computes 9 — every candidate set was wrong while the REPORTED
    // bucket_bits column, computed independently, read 9 on both
    // sides). Bucket expressions are structural in the bit count
    // (nb sign-plane terms, plane slice t*nb+b), so the oracle
    // generates one branch per width in [BitsPerTable, 10] — covering
    // every testdata SF (sf0.001/0.01/0.1 need 5/7/9; 10 allows
    // corpora to 4096 vectors) — each branch killed by a scalar
    // `bits` guard; a corpus needing a wider codebook fails LOUDLY
    // through error() rather than replaying the wrong geometry.
    val bitsLo = BitsPerTable
    val bitsHi = 10
    def side(from: String, idc: String, emb: String) =
      (bitsLo to bitsHi).flatMap { nb =>
        (0 until NumTables).map { t =>
          s"SELECT $idc, ${bucketsSqlN(emb, t, nb)} AS bucket FROM $from" +
            s" WHERE (SELECT bits FROM bitsv) = $nb"
        }
      }.mkString("\nUNION ALL\n")
    val cb = side("flatcent", "c_id", "c_emb")
    val vb = side("en", "vec_id", "embedding")
    s"""WITH $commonCtes,
       |kv AS (
       |  SELECT greatest($NumCentroids,
       |      CAST(ceil(CAST((SELECT count(*) FROM en) AS DOUBLE)
       |                / $S14CellTarget) AS BIGINT)) AS k
       |),
       |bitsv AS (
       |  SELECT CASE WHEN b > $bitsHi THEN CAST(error(
       |           's14 oracle: adaptive bits ' || b ||
       |           ' beyond the generated branch range $bitsLo..$bitsHi')
       |           AS BIGINT)
       |         ELSE b END AS bits
       |  FROM (SELECT greatest($BitsPerTable,
       |          CAST(ceil(ln(CAST(k AS DOUBLE) / $S14TargetOcc)
       |                    / ln(2)) AS BIGINT)) AS b FROM kv)
       |),
       |flatcent AS (  -- the FLAT codebook: k = ceil(N / $S14CellTarget) idMix seeds
       |  SELECT c_id, c_emb, c_nrm FROM (
       |    SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm,
       |           row_number() OVER (
       |             ORDER BY (vec_id * $MixA + $MixB) % $MixM, vec_id) AS crn
       |    FROM en
       |  ) WHERE crn <= (SELECT k FROM kv)
       |),
       |cb AS (
       |$cb
       |),
       |cbcap AS (
       |  SELECT bucket, c_id FROM (
       |    SELECT bucket, c_id,
       |           row_number() OVER (PARTITION BY bucket
       |             ORDER BY ${mixSql(s"xor(c_id, bucket * $CapRankMixP)")},
       |                      c_id) AS rn
       |    FROM cb
       |  ) WHERE rn <= $S14Cap
       |),
       |vb AS (
       |$vb
       |),
       |pick AS (
       |  SELECT vec_id, c_id, n_cand FROM (
       |    SELECT vec_id, c_id,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY c_cos DESC, c_id ASC) AS rn,
       |           count(*) OVER (PARTITION BY vec_id) AS n_cand
       |    FROM (
       |      SELECT c.vec_id, c.c_id,
       |             ${cosSql("en.embedding", "en.nrm", "fc.c_emb", "fc.c_nrm")}
       |               AS c_cos
       |      FROM (SELECT DISTINCT vb.vec_id, cbcap.c_id
       |            FROM vb JOIN cbcap USING (bucket)) c
       |      JOIN en ON en.vec_id = c.vec_id
       |      JOIN flatcent fc ON fc.c_id = c.c_id
       |    )
       |  ) WHERE rn = 1
       |),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT en.vec_id, fc.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "fc.c_emb", "fc.c_nrm")} DESC,
       |                      fc.c_id ASC) AS rn
       |    FROM en CROSS JOIN flatcent fc
       |  ) WHERE rn = 1
       |)
       |SELECT x.vec_id,
       |       coalesce(p.c_id, -1) AS cell_flat,
       |       x.cell AS cell_exact,
       |       coalesce(p.n_cand, 0) AS n_cand,
       |       coalesce(p.c_id, -1) = x.cell AS flat_agree,
       |       (SELECT count(*) FROM flatcent) AS codebook_k,
       |       (SELECT bits FROM bitsv) AS bucket_bits
       |FROM cells x
       |LEFT JOIN pick p USING (vec_id)
       |ORDER BY x.vec_id""".stripMargin
  }

  private def s9OracleSql: String = {
    val cb = (0 until NumTables).map { t =>
      s"SELECT c_id, ${bucketsSql("c_emb", t)} AS bucket FROM cent"
    }.mkString("\nUNION ALL\n")
    val vb = (0 until NumTables).map { t =>
      s"SELECT vec_id, ${bucketsSql("embedding", t)} AS bucket FROM en"
    }.mkString("\nUNION ALL\n")
    s"""WITH $commonCtes,
       |$centOracleCte,
       |cb AS (
       |$cb
       |),
       |vb AS (
       |$vb
       |),
       |cand AS (
       |  SELECT DISTINCT vb.vec_id, cb.c_id
       |  FROM vb JOIN cb USING (bucket)
       |),
       |scored AS (
       |  SELECT c.vec_id, c.c_id,
       |         ${cosSql("en.embedding", "en.nrm", "cent.c_emb", "cent.c_nrm")}
       |           AS c_cos
       |  FROM cand c
       |  JOIN en ON en.vec_id = c.vec_id
       |  JOIN cent ON cent.c_id = c.c_id
       |),
       |pick AS (
       |  SELECT vec_id, c_id, n_cand FROM (
       |    SELECT vec_id, c_id,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY c_cos DESC, c_id ASC) AS rn,
       |           count(*) OVER (PARTITION BY vec_id) AS n_cand
       |    FROM scored
       |  ) WHERE rn = 1
       |),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT en.vec_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM en CROSS JOIN cent c
       |  ) WHERE rn = 1
       |)
       |SELECT c.vec_id,
       |       coalesce(p.c_id, -1) AS cell_lsh,
       |       c.cell AS cell_exact,
       |       coalesce(p.n_cand, 0) AS n_cand,
       |       coalesce(p.c_id, -1) = c.cell AS agree
       |FROM cells c LEFT JOIN pick p USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin
  }

  /** DuckDB dot product over one PQ subspace's index range — same
    * left-to-right accumulation as [[dot_product]] over the slice. */
  private def pqSubDotSql(a: String, b: String, m: Int): String = {
    val lo = m * PqSubDim + 1
    val hi = (m + 1) * PqSubDim
    s"list_sum(list_transform(generate_series($lo, $hi), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  }

  private def s4OracleSql: String = {
    val cms = (0 until PqM).map { m =>
      val csq = pqSubDotSql("s.c_emb", "s.c_emb", m)
      val dot = pqSubDotSql("e.embedding", "s.c_emb", m)
      s"""cm$m AS (
         |  SELECT vec_id, c_id, csq FROM (
         |    SELECT e.vec_id, s.c_id, $csq AS csq,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY round($csq - 2.0 * $dot, 6), s.c_id) AS rn
         |    FROM en e CROSS JOIN seeds s
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val seedJoins = (1 until PqM).map(m =>
      s"JOIN cm$m c$m ON c$m.vec_id = c0.vec_id").mkString("\n  ") + "\n  " +
      (0 until PqM).map(m =>
        s"JOIN seeds s$m ON s$m.c_id = c$m.c_id").mkString("\n  ")
    val dpSum = (0 until PqM).map(m => pqSubDotSql("q.q_emb", s"s$m.c_emb", m))
      .mkString(" + ")
    val csqSum = (0 until PqM).map(m => s"c$m.csq").mkString(" + ")
    s"""WITH $commonCtes,
       |seeds AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM en
       |  ORDER BY (vec_id * $MixA + $MixB) % $MixM, vec_id
       |  LIMIT $NumCentroids
       |),
       |$cms,
       |adc AS (
       |  SELECT q.q_id, c0.vec_id,
       |         round(($dpSum) / (q.q_nrm * sqrt($csqSum)), 4) AS adc
       |  FROM qn q CROSS JOIN cm0 c0
       |  $seedJoins
       |  WHERE c0.vec_id <> q.q_id
       |),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY adc DESC, vec_id ASC) AS rn
       |    FROM adc
       |  ) WHERE rn <= $PqShortlist
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT sl.q_id, sl.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY sl.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
       |                      sl.vec_id ASC) AS rank
       |    FROM shortlist sl
       |    JOIN qn ON qn.q_id = sl.q_id
       |    JOIN en ON en.vec_id = sl.vec_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($PqM AS INTEGER) AS m_subspaces")}""".stripMargin
  }

  private def s5OracleSql: String = {
    val pref = s"list_slice(embedding, 1, $S5PrefixDims)"
    s"""WITH $commonCtes,
       |pre AS (
       |  SELECT vec_id, embedding, nrm, $pref AS emb_p,
       |         sqrt(list_sum(list_transform($pref,
       |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS pnrm
       |  FROM en
       |),
       |qp AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
       |         emb_p AS q_p, pnrm AS q_pnrm
       |  FROM pre WHERE vec_id < $NumQueries
       |),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qp.q_id, p.vec_id,
       |           row_number() OVER (PARTITION BY qp.q_id
       |             ORDER BY ${cosSql("qp.q_p", "qp.q_pnrm", "p.emb_p", "p.pnrm")} DESC,
       |                      p.vec_id ASC) AS rn
       |    FROM qp JOIN pre p ON p.vec_id <> qp.q_id
       |  ) WHERE rn <= $S5Shortlist
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT sl.q_id, sl.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY sl.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
       |                      sl.vec_id ASC) AS rank
       |    FROM short sl
       |    JOIN qn ON qn.q_id = sl.q_id
       |    JOIN en ON en.vec_id = sl.vec_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($S5PrefixDims AS INTEGER) AS prefix_dims")}""".stripMargin
  }

  /** s7: the s2 cell/probe CTEs and the s4 code/ADC CTEs composed — the
    * candidate set is the probed-cells join, the scoring is ADC, the
    * shortlist re-ranks exactly. */
  private def s7OracleSql: String = {
    val cms = (0 until PqM).map { m =>
      val csq = pqSubDotSql("c.c_emb", "c.c_emb", m)
      val dot = pqSubDotSql("e.embedding", "c.c_emb", m)
      s"""cm$m AS (
         |  SELECT vec_id, c_id, csq FROM (
         |    SELECT e.vec_id, c.c_id, $csq AS csq,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY round($csq - 2.0 * $dot, 6), c.c_id) AS rn
         |    FROM en e CROSS JOIN cent c
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val cmJoins = (1 until PqM).map(m =>
      s"JOIN cm$m c$m ON c$m.vec_id = c0.vec_id").mkString("\n  ") + "\n  " +
      (0 until PqM).map(m =>
        s"JOIN cent s$m ON s$m.c_id = c$m.c_id").mkString("\n  ")
    val dpSum = (0 until PqM).map(m => pqSubDotSql("q.q_emb", s"s$m.c_emb", m))
      .mkString(" + ")
    val csqSum = (0 until PqM).map(m => s"c$m.csq").mkString(" + ")
    s"""WITH $commonCtes,
       |cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM en
       |  ORDER BY (vec_id * $MixA + $MixB) % $MixM, vec_id
       |  LIMIT $NumCentroids
       |),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT en.vec_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY en.vec_id
       |             ORDER BY ${cosSql("en.embedding", "en.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM en CROSS JOIN cent c
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT qn.q_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY qn.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "c.c_emb", "c.c_nrm")} DESC,
       |                      c.c_id ASC) AS rn
       |    FROM qn CROSS JOIN cent c
       |  ) WHERE rn <= $ProbeCells
       |),
       |$cms,
       |adc AS (
       |  SELECT q.q_id, c0.vec_id,
       |         round(($dpSum) / (q.q_nrm * sqrt($csqSum)), 4) AS adc
       |  FROM qn q
       |  JOIN probes p ON p.q_id = q.q_id
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN cm0 c0 ON c0.vec_id = cl.vec_id
       |  $cmJoins
       |  WHERE c0.vec_id <> q.q_id
       |),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY adc DESC, vec_id ASC) AS rn
       |    FROM adc
       |  ) WHERE rn <= $PqShortlist
       |),
       |approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT sl.q_id, sl.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY sl.q_id
       |             ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
       |                      sl.vec_id ASC) AS rank
       |    FROM shortlist sl
       |    JOIN qn ON qn.q_id = sl.q_id
       |    JOIN en ON en.vec_id = sl.vec_id
       |  ) WHERE rank <= $K
       |)
       |${recallSql(s"CAST($ProbeCells AS INTEGER) AS probed_cells, CAST($PqM AS INTEGER) AS m_subspaces")}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "s1_knn_brute" ->
      s"""WITH $commonCtes,
         |ranked AS (
         |  SELECT qn.q_id, en.vec_id AS neighbor_id,
         |         ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} AS cosine,
         |         row_number() OVER (PARTITION BY qn.q_id
         |           ORDER BY ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} DESC,
         |                    en.vec_id ASC) AS rank
         |  FROM qn JOIN en ON en.vec_id <> qn.q_id
         |)
         |SELECT q_id, neighbor_id, rank, cosine FROM ranked
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    "s2_ann_ivf" -> s2OracleSql,
    "s3_ann_lsh" -> s3OracleSql,
    "s9_lsh_assign" -> s9OracleSql,
    "s13_lshcap_assign" -> s13OracleSql,
    "s14_flat_assign" -> s14OracleSql,
    "s15_flat_scan_cap" -> s15OracleSql,
    "s10_probe_sweep" -> s10OracleSql,
    "s17_ivf_refined" -> s17OracleSql,
    "s4_ann_pq"  -> s4OracleSql,
    "s5_ann_truncated" -> s5OracleSql,
    "s7_ann_ivfpq" -> s7OracleSql,
    "s6_filtered_knn" ->
      s"""WITH enl AS (
         |  SELECT vec_id, embedding, label,
         |         sqrt(list_sum(list_transform(embedding,
         |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |),
         |qnl AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |         label AS q_label
         |  FROM enl WHERE vec_id < $NumQueries
         |),
         |ranked AS (
         |  SELECT q.q_id, q.q_label AS label, e.vec_id AS neighbor_id,
         |         ${cosSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} AS cosine,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${cosSql("q.q_emb", "q.q_nrm", "e.embedding", "e.nrm")} DESC,
         |                    e.vec_id ASC) AS rank
         |  FROM qnl q JOIN enl e
         |    ON e.vec_id <> q.q_id AND e.label = q.q_label
         |)
         |SELECT q_id, label, neighbor_id, rank, cosine FROM ranked
         |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin,
    // s8: threshold on the ROUNDED cosine — the boundary set is pinned
    // identically in both engines (the s1 determinism contract)
    "s8_radius_search" ->
      s"""WITH $commonCtes
         |SELECT qn.q_id, en.vec_id AS neighbor_id,
         |       ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} AS cosine
         |FROM qn JOIN en ON en.vec_id <> qn.q_id
         |WHERE ${cosSql("qn.q_emb", "qn.q_nrm", "en.embedding", "en.nrm")} >= $S8Radius
         |ORDER BY qn.q_id, cosine DESC, neighbor_id""".stripMargin,
    // s11: c4 mirrors the engine exactly — the RAW cosine ×10⁴ rounded
    // to an integer (not round(cos,4)·10⁴, which re-rounds); both margin
    // sums are BIGINT; the margin is the one final double division.
    "s11_bitext_margin" ->
      s"""WITH $commonCtes,
         |src AS (
         |  SELECT e.vec_id AS s_id, e.embedding AS s_emb, e.nrm AS s_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11SrcLang'
         |),
         |tgt AS (
         |  SELECT e.vec_id AS t_id, e.embedding AS t_emb, e.nrm AS t_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11TgtLang'
         |),
         |pairs AS (
         |  SELECT s_id, t_id,
         |         CAST(round(${dotSql("s_emb", "t_emb")}
         |                    / (s_nrm * t_nrm) * 10000, 0) AS BIGINT) AS c4
         |  FROM src JOIN tgt ON s_id <> t_id
         |),
         |rk AS (
         |  SELECT s_id, t_id, c4,
         |         row_number() OVER (PARTITION BY s_id
         |           ORDER BY c4 DESC, t_id ASC) AS rs,
         |         row_number() OVER (PARTITION BY t_id
         |           ORDER BY c4 DESC, s_id ASC) AS rt
         |  FROM pairs
         |),
         |a AS (
         |  SELECT s_id, CAST(sum(c4) AS BIGINT) AS sa4, count(*) AS na
         |  FROM rk WHERE rs <= $S11MarginK GROUP BY 1
         |),
         |b AS (
         |  SELECT t_id, CAST(sum(c4) AS BIGINT) AS sb4, count(*) AS nb
         |  FROM rk WHERE rt <= $S11MarginK GROUP BY 1
         |),
         |best AS (
         |  SELECT s_id, t_id, c4 FROM rk WHERE rs = 1
         |),
         |scored AS (
         |  SELECT best.s_id, best.t_id AS match_id,
         |         round(CAST(c4 AS DOUBLE) / 10000, 4) AS cosine,
         |         CASE WHEN sa4 * nb + sb4 * na > 0 THEN
         |           round(CAST(2 * c4 * na * nb AS DOUBLE)
         |                 / (sa4 * nb + sb4 * na), 4) END AS margin
         |  FROM best
         |  JOIN a USING (s_id)
         |  JOIN b ON b.t_id = best.t_id
         |)
         |SELECT s_id, match_id, cosine, margin,
         |       coalesce(margin >= $S11Threshold, false) AS accepted
         |FROM scored ORDER BY s_id""".stripMargin,
    // s11b: the blocked tier replayed whole — tgt-slice codebook by the
    // balanced sqrt rule, argmax cell assignment, top-P probes per src,
    // the per-(src, cell) top-K shortlist (r15), margins over the
    // shortlisted pairs, agreement vs the exact best.
    // acceptance at the BLOCKED threshold (1.02, the s16-sweep-chosen
    // operating point — see S11BlockedThreshold): blocked margins are
    // attenuated by the shortlisted t-side neighborhood, so the exact
    // tier's 1.05 under-accepts here by design, not by measurement.
    "s11b_bitext_blocked" ->
      s"""WITH $commonCtes,
         |src AS (
         |  SELECT e.vec_id AS s_id, e.embedding AS s_emb, e.nrm AS s_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11SrcLang'
         |),
         |tgt AS (
         |  SELECT e.vec_id AS t_id, e.embedding AS t_emb, e.nrm AS t_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11TgtLang'
         |),
         |epairs AS (
         |  SELECT s_id, t_id,
         |         CAST(round(${dotSql("s_emb", "t_emb")}
         |                    / (s_nrm * t_nrm) * 10000, 0) AS BIGINT) AS c4
         |  FROM src JOIN tgt ON s_id <> t_id
         |),
         |ebest AS (
         |  SELECT s_id, t_id AS exact_match FROM (
         |    SELECT s_id, t_id, row_number() OVER (PARTITION BY s_id
         |             ORDER BY c4 DESC, t_id ASC) AS rs
         |    FROM epairs
         |  ) WHERE rs = 1
         |),
         |cent AS (
         |  SELECT c_id, c_emb, c_nrm FROM (
         |    SELECT t_id AS c_id, t_emb AS c_emb, t_nrm AS c_nrm,
         |           row_number() OVER (
         |             ORDER BY (t_id * $MixA + $MixB) % $MixM, t_id) AS crn
         |    FROM tgt
         |  ) WHERE crn <= greatest($NumCentroids,
         |      CAST(ceil(sqrt(CAST((SELECT count(*) FROM tgt) AS DOUBLE)
         |                     / $CentroidDivisor)) AS BIGINT))
         |),
         |cells AS (
         |  SELECT t_id, t_emb, t_nrm, cell FROM (
         |    SELECT t.t_id, t.t_emb, t.t_nrm, c.c_id AS cell,
         |           row_number() OVER (PARTITION BY t.t_id
         |             ORDER BY ${cosSql("t.t_emb", "t.t_nrm", "c.c_emb", "c.c_nrm")} DESC,
         |                      c.c_id ASC) AS rn
         |    FROM tgt t CROSS JOIN cent c
         |  ) WHERE rn = 1
         |),
         |probes AS (
         |  SELECT s_id, s_emb, s_nrm, cell FROM (
         |    SELECT s.s_id, s.s_emb, s.s_nrm, c.c_id AS cell,
         |           row_number() OVER (PARTITION BY s.s_id
         |             ORDER BY ${cosSql("s.s_emb", "s.s_nrm", "c.c_emb", "c.c_nrm")} DESC,
         |                      c.c_id ASC) AS rn
         |    FROM src s CROSS JOIN cent c
         |  ) WHERE rn <= $S11bProbe
         |),
         |cand AS (
         |  SELECT p.s_id, a.cell, a.t_id,
         |         CAST(round(${dotSql("p.s_emb", "a.t_emb")}
         |                    / (p.s_nrm * a.t_nrm) * 10000, 0) AS BIGINT) AS c4
         |  FROM probes p JOIN cells a USING (cell)
         |),
         |short AS (
         |  SELECT s_id, t_id, c4 FROM (
         |    SELECT s_id, t_id, c4,
         |           row_number() OVER (PARTITION BY s_id, cell
         |             ORDER BY c4 DESC, t_id ASC) AS sr
         |    FROM cand
         |  ) WHERE sr <= $S11ShortlistK
         |),
         |rk AS (
         |  SELECT s_id, t_id, c4,
         |         row_number() OVER (PARTITION BY s_id
         |           ORDER BY c4 DESC, t_id ASC) AS rs,
         |         row_number() OVER (PARTITION BY t_id
         |           ORDER BY c4 DESC, s_id ASC) AS rt
         |  FROM short
         |),
         |a AS (
         |  SELECT s_id, CAST(sum(c4) AS BIGINT) AS sa4, count(*) AS na
         |  FROM rk WHERE rs <= $S11MarginK GROUP BY 1
         |),
         |b AS (
         |  SELECT t_id, CAST(sum(c4) AS BIGINT) AS sb4, count(*) AS nb
         |  FROM rk WHERE rt <= $S11MarginK GROUP BY 1
         |),
         |nc AS (
         |  SELECT s_id, count(*) AS n_cand FROM short GROUP BY 1
         |),
         |best AS (
         |  SELECT s_id, t_id, c4 FROM rk WHERE rs = 1
         |),
         |blocked AS (
         |  SELECT best.s_id, best.t_id AS match_id,
         |         round(CAST(c4 AS DOUBLE) / 10000, 4) AS cosine,
         |         CASE WHEN sa4 * nb + sb4 * na > 0 THEN
         |           round(CAST(2 * c4 * na * nb AS DOUBLE)
         |                 / (sa4 * nb + sb4 * na), 4) END AS margin,
         |         nc.n_cand
         |  FROM best
         |  JOIN a USING (s_id)
         |  JOIN b ON b.t_id = best.t_id
         |  JOIN nc ON nc.s_id = best.s_id
         |)
         |SELECT e.s_id,
         |       coalesce(bl.match_id, -1) AS match_id,
         |       bl.cosine, bl.margin,
         |       coalesce(bl.margin >= $S11BlockedThreshold, false)
         |         AS accepted,
         |       coalesce(bl.n_cand, 0) AS n_cand,
         |       coalesce(bl.match_id = e.exact_match, false) AS agree
         |FROM ebest e LEFT JOIN blocked bl USING (s_id)
         |ORDER BY e.s_id""".stripMargin,
    // s16: the threshold sweep replayed whole — the s11 exact chain WITH
    // margins (not just the best match), the s11b blocked ivf chain, one
    // unnest over the threshold grid, and the integer-regret aggregation.
    // Both margin pipelines are the proven s11/s11b CTE texts verbatim;
    // the sweep itself is pure arithmetic over their join.
    "s16_margin_sweep" ->
      s"""WITH $commonCtes,
         |src AS (
         |  SELECT e.vec_id AS s_id, e.embedding AS s_emb, e.nrm AS s_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11SrcLang'
         |),
         |tgt AS (
         |  SELECT e.vec_id AS t_id, e.embedding AS t_emb, e.nrm AS t_nrm
         |  FROM en e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = '$S11TgtLang'
         |),
         |epairs AS (
         |  SELECT s_id, t_id,
         |         CAST(round(${dotSql("s_emb", "t_emb")}
         |                    / (s_nrm * t_nrm) * 10000, 0) AS BIGINT) AS c4
         |  FROM src JOIN tgt ON s_id <> t_id
         |),
         |erk AS (
         |  SELECT s_id, t_id, c4,
         |         row_number() OVER (PARTITION BY s_id
         |           ORDER BY c4 DESC, t_id ASC) AS rs,
         |         row_number() OVER (PARTITION BY t_id
         |           ORDER BY c4 DESC, s_id ASC) AS rt
         |  FROM epairs
         |),
         |ea AS (
         |  SELECT s_id, CAST(sum(c4) AS BIGINT) AS sa4, count(*) AS na
         |  FROM erk WHERE rs <= $S11MarginK GROUP BY 1
         |),
         |eb AS (
         |  SELECT t_id, CAST(sum(c4) AS BIGINT) AS sb4, count(*) AS nb
         |  FROM erk WHERE rt <= $S11MarginK GROUP BY 1
         |),
         |ebest AS (
         |  SELECT s_id, t_id, c4 FROM erk WHERE rs = 1
         |),
         |escored AS (
         |  SELECT ebest.s_id, ebest.t_id AS exact_match,
         |         round(CAST(c4 AS DOUBLE) / 10000, 4) AS exact_cosine,
         |         CASE WHEN sa4 * nb + sb4 * na > 0 THEN
         |           round(CAST(2 * c4 * na * nb AS DOUBLE)
         |                 / (sa4 * nb + sb4 * na), 4) END AS exact_margin
         |  FROM ebest
         |  JOIN ea USING (s_id)
         |  JOIN eb ON eb.t_id = ebest.t_id
         |),
         |cent AS (
         |  SELECT c_id, c_emb, c_nrm FROM (
         |    SELECT t_id AS c_id, t_emb AS c_emb, t_nrm AS c_nrm,
         |           row_number() OVER (
         |             ORDER BY (t_id * $MixA + $MixB) % $MixM, t_id) AS crn
         |    FROM tgt
         |  ) WHERE crn <= greatest($NumCentroids,
         |      CAST(ceil(sqrt(CAST((SELECT count(*) FROM tgt) AS DOUBLE)
         |                     / $CentroidDivisor)) AS BIGINT))
         |),
         |cells AS (
         |  SELECT t_id, t_emb, t_nrm, cell FROM (
         |    SELECT t.t_id, t.t_emb, t.t_nrm, c.c_id AS cell,
         |           row_number() OVER (PARTITION BY t.t_id
         |             ORDER BY ${cosSql("t.t_emb", "t.t_nrm", "c.c_emb", "c.c_nrm")} DESC,
         |                      c.c_id ASC) AS rn
         |    FROM tgt t CROSS JOIN cent c
         |  ) WHERE rn = 1
         |),
         |probes AS (
         |  SELECT s_id, s_emb, s_nrm, cell FROM (
         |    SELECT s.s_id, s.s_emb, s.s_nrm, c.c_id AS cell,
         |           row_number() OVER (PARTITION BY s.s_id
         |             ORDER BY ${cosSql("s.s_emb", "s.s_nrm", "c.c_emb", "c.c_nrm")} DESC,
         |                      c.c_id ASC) AS rn
         |    FROM src s CROSS JOIN cent c
         |  ) WHERE rn <= $S11bProbe
         |),
         |cand AS (
         |  SELECT p.s_id, a.cell, a.t_id,
         |         CAST(round(${dotSql("p.s_emb", "a.t_emb")}
         |                    / (p.s_nrm * a.t_nrm) * 10000, 0) AS BIGINT) AS c4
         |  FROM probes p JOIN cells a USING (cell)
         |),
         |short AS (
         |  SELECT s_id, t_id, c4 FROM (
         |    SELECT s_id, t_id, c4,
         |           row_number() OVER (PARTITION BY s_id, cell
         |             ORDER BY c4 DESC, t_id ASC) AS sr
         |    FROM cand
         |  ) WHERE sr <= $S11ShortlistK
         |),
         |rk AS (
         |  SELECT s_id, t_id, c4,
         |         row_number() OVER (PARTITION BY s_id
         |           ORDER BY c4 DESC, t_id ASC) AS rs,
         |         row_number() OVER (PARTITION BY t_id
         |           ORDER BY c4 DESC, s_id ASC) AS rt
         |  FROM short
         |),
         |a AS (
         |  SELECT s_id, CAST(sum(c4) AS BIGINT) AS sa4, count(*) AS na
         |  FROM rk WHERE rs <= $S11MarginK GROUP BY 1
         |),
         |b AS (
         |  SELECT t_id, CAST(sum(c4) AS BIGINT) AS sb4, count(*) AS nb
         |  FROM rk WHERE rt <= $S11MarginK GROUP BY 1
         |),
         |best AS (
         |  SELECT s_id, t_id, c4 FROM rk WHERE rs = 1
         |),
         |blocked AS (
         |  SELECT best.s_id, best.t_id AS match_id,
         |         round(CAST(c4 AS DOUBLE) / 10000, 4) AS cosine,
         |         CASE WHEN sa4 * nb + sb4 * na > 0 THEN
         |           round(CAST(2 * c4 * na * nb AS DOUBLE)
         |                 / (sa4 * nb + sb4 * na), 4) END AS margin
         |  FROM best
         |  JOIN a USING (s_id)
         |  JOIN b ON b.t_id = best.t_id
         |),
         |j AS (
         |  SELECT e.s_id, e.exact_match, e.exact_cosine, e.exact_margin,
         |         bl.match_id, bl.cosine, bl.margin
         |  FROM escored e LEFT JOIN blocked bl USING (s_id)
         |),
         |grid AS (SELECT unnest([${S16Thresholds.mkString(", ")}]) AS thr)
         |SELECT g.thr,
         |       count(*) AS n_src,
         |       CAST(sum(CASE WHEN coalesce(j.exact_margin >= g.thr, false)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS exact_accepted,
         |       CAST(sum(CASE WHEN coalesce(j.margin >= g.thr, false)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS blocked_accepted,
         |       CAST(sum(CASE WHEN coalesce(j.exact_margin >= g.thr, false)
         |                 AND coalesce(j.margin >= g.thr, false)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS overlap_any,
         |       CAST(sum(CASE WHEN coalesce(j.exact_margin >= g.thr, false)
         |                 AND coalesce(j.margin >= g.thr, false)
         |                 AND j.match_id = j.exact_match
         |                THEN 1 ELSE 0 END) AS BIGINT) AS overlap_same,
         |       CAST(sum(CASE WHEN coalesce(j.margin >= g.thr, false)
         |                THEN CAST(round((j.exact_cosine - j.cosine) * 10000,
         |                               0) AS BIGINT)
         |                ELSE 0 END) AS BIGINT) AS acc_regret4_sum,
         |       CASE WHEN sum(CASE WHEN coalesce(j.margin >= g.thr, false)
         |                     THEN 1 ELSE 0 END) > 0 THEN
         |         round(CAST(sum(CASE WHEN coalesce(j.margin >= g.thr, false)
         |                    THEN CAST(round((j.exact_cosine - j.cosine)
         |                                    * 10000, 0) AS BIGINT)
         |                    ELSE 0 END) AS DOUBLE)
         |               / sum(CASE WHEN coalesce(j.margin >= g.thr, false)
         |                     THEN 1 ELSE 0 END) / 10000.0, 4)
         |       END AS mean_acc_regret
         |FROM j CROSS JOIN grid g
         |GROUP BY g.thr ORDER BY g.thr""".stripMargin,
    // s12: the assignVia pre-flight replayed whole — idMix stride
    // sample, real codebook, integer ten-thousandth cosines (exact
    // BIGINT sums), top-2 per vector, and the proven
    // percentile↔quantile_cont interpolation on integer-valued doubles
    "s12_assign_margin" ->
      s"""WITH $commonCtes,
         |$centOracleCte,
         |st AS (
         |  SELECT greatest(1, count(*) // $MarginSampleTarget) AS stride
         |  FROM en
         |),
         |smp AS (
         |  SELECT e.vec_id, e.embedding, e.nrm FROM en e, st
         |  WHERE ((e.vec_id * $MixA + $MixB) % $MixM) % st.stride = 0
         |),
         |t2 AS (
         |  SELECT vec_id,
         |         max(CASE WHEN rn = 1 THEN c4 END) AS c1,
         |         max(CASE WHEN rn = 2 THEN c4 END) AS c2
         |  FROM (
         |    SELECT s.vec_id,
         |           CAST(round(${dotSql("s.embedding", "c.c_emb")}
         |                      / (s.nrm * c.c_nrm) * 10000, 0) AS BIGINT)
         |             AS c4,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY CAST(round(${dotSql("s.embedding", "c.c_emb")}
         |                      / (s.nrm * c.c_nrm) * 10000, 0) AS BIGINT)
         |                      DESC, c.c_id ASC) AS rn
         |    FROM smp s CROSS JOIN cent c
         |  ) WHERE rn <= 2 GROUP BY vec_id
         |),
         |m AS (SELECT vec_id, c1, c1 - c2 AS m4 FROM t2)
         |SELECT count(*) AS n_sampled,
         |       round(CAST(sum(m4) AS DOUBLE) / count(*) / 10000.0, 4)
         |         AS mean_margin,
         |       round(quantile_cont(m4, 0.5) / 10000.0, 4) AS median_margin,
         |       round(quantile_cont(m4, 0.25) / 10000.0, 4) AS p25_margin,
         |       round(CAST(sum(c1) AS DOUBLE) / count(*) / 10000.0, 4)
         |         AS mean_top1,
         |       round(quantile_cont(c1, 0.5) / 10000.0, 4) AS median_top1
         |FROM m""".stripMargin,
  )
}
