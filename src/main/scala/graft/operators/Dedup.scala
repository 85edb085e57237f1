package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication suite for LLM-data pipelines (BASELINE.json north star):
  * exact, n-gram Jaccard, MinHash-LSH, SimHash. All are declarative
  * DataFrame pipelines — shuffles only on the join/group keys, no
  * driver-side loops, no UDFs — so they scale with executors.
  */
object Dedup {

  /** Exact dedup on normalized text: one row per distinct content with
    * the surviving (minimum) id and the duplicate count. Plain
    * hash-groupBy: one shuffle on the (high-cardinality) digest. */
  def exact(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(TextAnalysis.fingerprint(textCol).as("fp"), idCol.as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set (distinct, first-occurrence order) — the
    * native [[graft.expressions.WordShingles]] loop (the HOF chain below
    * is kept for differential testing). */
  def shingles(textCol: Column, n: Int): Column =
    graft.expressions.WordShingles(TextAnalysis.tokens(textCol), n)

  private[graft] def shinglesHof(textCol: Column, n: Int): Column = {
    val t = TextAnalysis.tokens(textCol)
    array_distinct(
      when(size(t) < n, array())
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => array_join(slice(t, i + 1, lit(n)), " "))))
  }

  /** Exact pairwise n-gram Jaccard similarity >= threshold.
    *
    * Default path is PPJoin-style PREFIX FILTERING, which is exact:
    * order each doc's shingles by (global frequency asc, shingle) and
    * index only the first floor((1-t)*|A|)+1 of them — any pair with
    * J >= t must collide inside both prefixes under a shared total
    * order, so candidates are complete; each candidate is then verified
    * with a full set intersection. Hot (frequent) shingles sort LAST, so
    * the quadratic blowup of the inverted-index join on them disappears
    * — the difference between feasible and not at corpus scale.
    * [[ngramJaccardPairsFullIndex]] keeps the naive full inverted-index
    * join for differential testing. */
  def ngramJaccardPairs(df: DataFrame, textCol: Column, idCol: Column,
                        n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n)
    val ordered = rarestFirst(sets, threshold)
      .repartition(col("id"))
    val prefixes = ordered.select(col("id"), col("n_sh"),
      posexplode(slice(col("osh"), lit(1), col("plen"))).as(Seq("p0", "g")))
      .withColumn("p", (col("p0") + 1).cast("long")).drop("p0")
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          // size filter: J >= t forces t*|A| <= |B| <= |A|/t; epsilon
          // guards the exact-boundary case under FP threshold rounding
          col("b.n_sh") * lit(threshold) <= col("a.n_sh") + lit(1e-6) &&
          col("a.n_sh") * lit(threshold) <= col("b.n_sh") + lit(1e-6) &&
          // PPJoin POSITION filter: J >= t needs overlap >= t/(1+t) *
          // (|A|+|B|); a collision at 1-based prefix positions (pa, pb)
          // under the shared total order caps the remaining overlap at
          // min(|A|-pa, |B|-pb) + 1. Epsilon-weakened (no ceil), so it
          // only drops pairs the exact bound already excludes —
          // exactness is pinned by the prefix==full-index differential
          // spec. Measured 3.7x candidate reduction on the sf0.1 corpus
          // (47780 -> 12784 pairs, identical final result).
          least(col("a.n_sh") - col("a.p"), col("b.n_sh") - col("b.p")) + 1 >=
            (col("a.n_sh") + col("b.n_sh")) *
              lit(threshold / (1.0 + threshold)) - lit(1e-6))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerified(candidates, setsAs(sets, "id_a", "sh_a"),
      setsAs(sets, "id_b", "sh_b"), threshold)
  }

  /** Naive full inverted-index variant (kept for differential testing —
    * must produce exactly the same pairs as the prefix-filtered path). */
  private[graft] def ngramJaccardPairsFullIndex(
      df: DataFrame, textCol: Column, idCol: Column,
      n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n)
    val sizes = sets.select(col("id"), size(col("sh")).cast("long").as("n_sh"))
    val exploded = sets.select(col("id"), explode(col("sh")).as("g"))
      .repartition(col("g"))
    val inter = exploded.as("a")
      .join(exploded.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id, sh) shingle-set table — the exchange-bracketed shingle
    * computation every n-gram and MinHash path starts from. Barrier
    * rationale: shuffle the RAW rows first (a single-row-group parquet
    * scan is ONE task, so computing the HOF in the scan stage
    * serializes it); pre-filter on the cheap token count BEFORE the
    * shingle expr (a post-projection size filter would collapse onto
    * the projection and evaluate it twice per row); a second (tiny)
    * exchange AFTER the computation so every downstream consumer
    * (frequencies, inverted index, both verification joins) reuses the
    * materialized arrays instead of re-running the expression. */
  private[graft] def shingleSets(df: DataFrame, textCol: Column,
                                 idCol: Column, n: Int): DataFrame =
    df.select(idCol.as("id"), textCol.as("__text"))
      .repartition(col("id"))
      .filter(size(TextAnalysis.tokens(col("__text"))) >= n)
      .select(col("id"), shingles(col("__text"), n).as("sh"))
      .repartition(col("id"))

  /** Keys of `df` that occur >= 2 times corpus-wide, with their count
    * in `countCol` — the duplicated tail. A key missing from it occurs
    * exactly once BY DEFINITION, so a left join back plus
    * coalesce(count, 1) reproduces every count exactly, while the
    * join's right side shrinks from every distinct key to the tail —
    * small enough that AQE converts the join to broadcast at runtime,
    * which also removes the key exchange of the joined stream (and,
    * when that stream stays partitioned by id, the per-doc groupBy
    * exchange after it). A huge tail just keeps the shuffled join. */
  private def recurring(df: DataFrame, countCol: String,
                        keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(countCol))
      .filter(col(countCol) >= 2)

  /** Per-doc rarest-first shingle order — (id, osh, n_sh, plen): each
    * doc's shingles sorted by (global frequency asc, shingle), the
    * shared total order of the prefix filters, and the prefix length
    * floor((1-t)*|A|) + 1 with one extra slot of slack: t is not
    * exactly representable in binary (e.g. 0.8), so the FP product can
    * round the floor down at integer boundaries and lose a required
    * candidate. Slack only adds candidates — the final intersection
    * keeps the result exact. (A boundary pair at sf0.1, |B| = t*|A|
    * exactly, caught this.) */
  private def rarestFirst(sets: DataFrame, threshold: Double): DataFrame = {
    val exploded = sets.select(col("id"), explode(col("sh")).as("g"))
    exploded.join(recurring(exploded, "f", "g"), Seq("g"), "left")
      .select(col("id"), col("g"), coalesce(col("f"), lit(1L)).as("f"))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("f"), col("g")))),
        x => x.getField("g")).as("osh"))
      .withColumn("n_sh", size(col("osh")).cast("long"))
      .withColumn("plen",
        (floor(size(col("osh")) * lit(1.0 - threshold) + lit(1e-9)) + 2).cast("int"))
  }

  /** `sets` as (idName, shName) — one side of a candidate verification. */
  private def setsAs(sets: DataFrame, idName: String, shName: String): DataFrame =
    sets.select(col("id").as(idName), col("sh").as(shName))

  /** Candidate pairs with both shingle sets joined in: `a` and `b` are
    * (id, set) tables from [[setsAs]], joined on their id names. */
  private def withSets(candidates: DataFrame, a: DataFrame,
                       b: DataFrame): DataFrame =
    candidates.join(a, a.columns.head).join(b, b.columns.head)

  /** Exact verification of candidate pairs: the round-6 Jaccard of the
    * two shingle sets (one array intersection per candidate pair, never
    * the full inverted index), keeping pairs at or above `threshold`.
    * Output: the candidate columns (extra ones ride along) + jaccard. */
  private def jaccardVerified(candidates: DataFrame, a: DataFrame,
                              b: DataFrame, threshold: Double): DataFrame = {
    val (sa, sb) = (col(a.columns(1)), col(b.columns(1)))
    withSets(candidates, a, b)
      .withColumn("n_inter", size(array_intersect(sa, sb)).cast("long"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (size(sa) + size(sb) - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(candidates.columns.map(col) :+ col("jaccard"): _*)
  }

  // ------------------------------------------------------------- MinHash

  /** k permutation coefficients (a, b), fixed by seed — the SINGLE
    * derivation shared with the codegen expression (they must stay
    * bit-identical for the differential tests and the LSH == exact
    * equivalence to hold). */
  private def coeffs(k: Int, seed: Long): Seq[(Long, Long)] = {
    val (as, bs) = graft.expressions.MinHashCoeffs(k, seed)
    as.toSeq.zip(bs.toSeq)
  }

  /** Shingle base hashes: xxhash64 reduced mod p. */
  private def baseHashes(shingleSet: Column): Column =
    transform(shingleSet, s => pmod(xxhash64(s), lit(graft.expressions.MinHashCoeffs.P)))

  /** MinHash signature (k minima over the shingle set, universal-hash
    * family over a 64-bit base hash) as an array column — computed by the
    * codegen'd [[graft.expressions.MinHash]] (the k-pass HOF
    * formulation below is kept for differential testing). All arithmetic
    * stays below 2^63 (a,x < 2^31). */
  def minhashSignature(shingleSet: Column, k: Int, seed: Long): Column =
    graft.expressions.MinHash.signature(baseHashes(shingleSet), k, seed)

  private[graft] def minhashSignatureHof(shingleSet: Column, k: Int, seed: Long): Column = {
    val p = lit(graft.expressions.MinHashCoeffs.P)
    val sig = coeffs(k, seed).map { case (a, b) =>
      array_min(transform(baseHashes(shingleSet), x => pmod(x * a + b, p)))
    }
    array(sig: _*)
  }

  /** (id, band, bucket) LSH band table over shingle sets — one codegen
    * pass per row straight to band buckets (slicing a sig column would
    * re-evaluate the whole signature once per band after projection
    * collapse), co-partitioned on the join key. */
  private[graft] def bandTable(sets: DataFrame, k: Int, bands: Int,
                               seed: Long): DataFrame =
    sets.select(col("id"), posexplode(
      graft.expressions.MinHash.bands(baseHashes(col("sh")), k, bands, seed)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
      .repartition(col("band"), col("bucket"))

  /** Self-join of a band table: docs a < b that share a (band, bucket).
    * Callers pick and name the `a.id` / `b.id` columns. */
  private def bandCollisions(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))

  /** MinHash-LSH near-dup pairs: signature -> band buckets -> bucket
    * self-join for candidates -> exact Jaccard verification on the
    * candidate pairs only. With (k=64, bands=16, rows=4) the miss
    * probability at J=0.8 is ~2e-4; candidates are verified exactly, so
    * output ⊆ the exact result with near-certain equality.
    *
    * Scale shape: banding turns the quadratic all-pairs problem into a
    * linear explode + equi-join on (band, bucket) — the standard 100 TB
    * dedup topology. The exact verification joins shingle SETS (array
    * intersection per candidate pair), not the full inverted index.
    */
  def minhashLshPairs(df: DataFrame, textCol: Column, idCol: Column,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8, seed: Long = 42L): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sets = shingleSets(df, textCol, idCol, n)
    val candidates = bandCollisions(bandTable(sets, k, bands, seed))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerified(candidates, setsAs(sets, "id_a", "sh_a"),
      setsAs(sets, "id_b", "sh_b"), threshold)
  }

  /** CONTAINMENT near-dup pairs: |A ∩ B| / |A| >= threshold — the
    * ASYMMETRIC overlap that catches a document mostly QUOTED inside a
    * longer one, which symmetric Jaccard structurally misses (a 100-
    * shingle doc inside a 10000-shingle doc has J <= 0.01 at full
    * containment). Output (id_a, id_b, containment): id_a is the
    * contained side; mutual near-twins appear in both directions.
    *
    * Candidate scheme: the asymmetric prefix filter — the PROBE side
    * uses only its floor((1-t)|A|)+1 rarest shingles (if all of them
    * miss B, overlap < t·|A| is forced), but the INDEX side must carry
    * ALL its shingles (containment puts no lower bound on |B|, so
    * B-side prefixes are unsound). Probes are rare by construction;
    * posting lists of rare shingles bound the candidate fan-out the
    * same way the inverted-index query's do. Verification is the exact
    * set intersection on candidates only. */
  def ngramContainmentPairs(df: DataFrame, textCol: Column, idCol: Column,
                            n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n)
    val probes = rarestFirst(sets, threshold)
      .repartition(col("id"))
      .select(col("id"), explode(slice(col("osh"), lit(1), col("plen"))).as("g"))
    val index = sets.select(col("id"), explode(col("sh")).as("g"))
    val candidates = probes.as("a")
      .join(index.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    withSets(candidates, setsAs(sets, "id_a", "sh_a"),
      setsAs(sets, "id_b", "sh_b"))
      .withColumn("containment", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** A persistable MinHash-LSH index of a base corpus: the band table
    * (|base|·nBands rows of (id, band, bucket)) plus the shingle sets
    * needed to verify candidates. Build ONCE per corpus (write both
    * tables out, like [[graft.operators.Similarity.writeIvfIndex]]);
    * each new batch then joins against these two tables and the base
    * TEXT is never re-shingled — the new-crawl-vs-100 TB-base topology
    * where per-batch cost is delta-sized banding plus candidate-sized
    * probes into the index. */
  final case class MinhashLshIndex(bands: DataFrame, sets: DataFrame,
                                   n: Int, k: Int, nBands: Int, seed: Long)

  def minhashIndexBuild(df: DataFrame, textCol: Column, idCol: Column,
                        n: Int = 3, k: Int = 64, nBands: Int = 16,
                        seed: Long = 42L): MinhashLshIndex = {
    require(k % nBands == 0, "k must be divisible by nBands")
    val sets = shingleSets(df, textCol, idCol, n)
    MinhashLshIndex(bandTable(sets, k, nBands, seed), sets, n, k, nBands, seed)
  }

  /** Incremental NEAR-dup detection: every delta doc's near-duplicates
    * in base ∪ delta (ids must be disjoint across the two corpora).
    * Delta-vs-base candidates come from the delta bands probing the
    * index bands; delta-vs-delta from the delta band self-join; both
    * verified by exact shingle Jaccard (candidates only). Output
    * (id_new, id_matched, in_base, jaccard) — id_new is always the
    * delta doc (for delta-delta pairs, the LATER id: a new doc
    * duplicates the earlier one, matching [[incremental]]'s
    * keep-the-earlier convention). */
  def minhashIncrementalPairs(index: MinhashLshIndex, delta: DataFrame,
                              textCol: Column, idCol: Column,
                              threshold: Double = 0.8): DataFrame = {
    val dsets = shingleSets(delta, textCol, idCol, index.n)
    val dbands = bandTable(dsets, index.k, index.nBands, index.seed)
    val candBase = dbands.as("d")
      .join(index.bands.as("b"),
        col("d.band") === col("b.band") &&
          col("d.bucket") === col("b.bucket"))
      .select(col("d.id").as("id_new"), col("b.id").as("id_matched"))
      .distinct()
      .withColumn("in_base", lit(true))
    val candDelta = bandCollisions(dbands)
      .select(col("b.id").as("id_new"), col("a.id").as("id_matched"))
      .distinct()
      .withColumn("in_base", lit(false))
    jaccardVerified(candBase.union(candDelta),
      setsAs(dsets, "id_new", "sh_new"),
      setsAs(dsets.union(index.sets), "id_matched", "sh_m"), threshold)
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over the whitespace-token multiset: per bit, sum
    * +1/-1 contributions of each token's xxhash64 bit, then take signs —
    * computed by the codegen'd [[graft.expressions.SimHash64]] (the HOF
    * double-fold below is kept for differential testing). */
  def simhash(textCol: Column): Column =
    graft.expressions.SimHash64(
      transform(TextAnalysis.tokens(textCol), t => xxhash64(t)))

  /** md5-anchored SimHash variant: token hash = top 60 bits of md5
    * (15 hex chars, so it stays in a signed long). Slower than xxhash64
    * but replicable bit-for-bit in any engine with md5 — the DuckDB
    * oracle recomputes it exactly. Output bits 60..63 are always 0
    * (the per-bit vote over those dead input bits is -n), which only
    * shrinks the effective hash width. */
  def simhashMd5(textCol: Column): Column =
    graft.expressions.SimHash64(
      transform(TextAnalysis.tokens(textCol),
        t => graft.expressions.Md5Hex(t, 1, 15)))

  private[graft] def simhashHof(textCol: Column): Column = {
    val counts = aggregate(
      TextAnalysis.tokens(textCol),
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          j => call_function("shiftright", xxhash64(t), j).bitwiseAND(1L)),
        (a, bit) => a + when(bit === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (cnt, j) => when(cnt > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via
    * segment pigeonhole: split the 64-bit hash into maxHamming+1
    * disjoint segments; a pair within the bound must agree on >= 1
    * segment (it has at most maxHamming differing bits across
    * maxHamming+1 segments), so an equi-join per segment finds ALL such
    * pairs (exact recall), then `bit_count(xor)` verifies. Same linear
    * join topology as LSH. More segments = smaller segments = more
    * candidates, so keep maxHamming modest (<= 15). */
  def simhashPairs(df: DataFrame, textCol: Column, idCol: Column,
                   maxHamming: Int = 3,
                   hashFn: Column => Column = simhash): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val nSegs = maxHamming + 1
    // segment j covers bits [starts(j), starts(j+1)) — widths differ by
    // at most 1, every bit covered exactly once
    val starts = (0 to nSegs).map(j => j * 64 / nSegs)
    // simhash computes in the scan stage: the segs exchange below
    // already materializes it once for both join sides, and an extra
    // raw-text shuffle measurably hurts well-partitioned corpora
    // (2x slower at the 1M-doc stress scale) for little gain here
    val hashed = df.select(idCol.as("id"), hashFn(textCol).as("h"))
    val segExprs = (0 until nSegs).map { j =>
      val width = starts(j + 1) - starts(j)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("h"), starts(j)).bitwiseAND(mask)
    }
    val segs = hashed.select(col("id"), col("h"),
      posexplode(array(segExprs: _*)))
      .select(col("id"), col("h"), col("pos").as("seg"), col("col").as("segval"))
      .repartition(col("seg"), col("segval")) // simhash fold computed once
    segs.as("a")
      .join(segs.as("b"),
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Keep-first filter built on any pairs result: drops the higher id of
    * every matched pair (connected-component-free greedy survivor rule,
    * the common practical choice). */
  def survivors(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as("__drop")).distinct(),
      idCol === col("__drop"), "left_anti")

  // ------------------------------------------- connected-component clusters

  /** Connected components over a near-dup pair graph (`id_a`, `id_b`
    * columns): assigns every matched node the MINIMUM id reachable from
    * it. Near-duplication is not transitive (A~B, B~C without A~C), so
    * pair-wise survivor rules under-delete chains; component clustering
    * is the survivor rule large corpus dedup actually wants — keep one
    * doc PER COMPONENT.
    *
    * Shape: distributed min-label propagation accelerated with pointer
    * jumping (label(u) <- label(label(u)) each round) — the classic
    * O(log n)-round PRAM recipe. Each round is two equi-joins plus an
    * aggregation, all on the label/edge tables, which hold only the
    * MATCHED nodes (|dup pairs| * 2 rows), orders of magnitude smaller
    * than the corpus. The driver sees one scalar per round (the
    * changed-label count), never row data. Lineage is truncated per
    * round with localCheckpoint; swap in reliable `checkpoint` against
    * a cluster checkpoint dir for multi-hour 100 TB runs.
    *
    * Returns (`id`, `cluster_id`) for every node that appears in a
    * pair; use [[clusters]] to extend the assignment to a whole corpus
    * (unmatched docs become singleton clusters of themselves). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          localEdgeThreshold: Long = 500000L): DataFrame = {
    // SMALL-GRAPH FINISH: a near-dup pair graph is a vanishing fraction
    // of its corpus (it holds only matched docs). When the EDGE LIST —
    // never corpus rows — fits on the driver, union-find locally: one
    // job + one tiny result instead of 2 joins × O(log n) rounds of
    // scheduler latency. ONE limit(k+1) evaluation both proves the
    // bound and yields the edges (pairs is typically an expensive
    // upstream join — probing its size separately would pay it twice);
    // the distributed pointer-jump path below stays the scale path
    // (CcStress: 2M-node worst case) and the two are differentially
    // tested against each other in ClusterSpec.
    // Materialize the pair list ONCE up front (eager localCheckpoint):
    // pairs is typically an expensive upstream join, and without the
    // barrier it would be re-evaluated by the probe AND by both halves
    // of the symmetric union below (3 evaluations on the distributed
    // path). The checkpoint holds only the matched-pair edge list —
    // orders of magnitude smaller than the corpus — so it is cheap to
    // hold even at 100 TB corpus scale.
    val edgeList = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint()
    val probe: Array[(Long, Long)] =
      if (localEdgeThreshold > 0 && localEdgeThreshold < Int.MaxValue - 1)
        edgeList.limit((localEdgeThreshold + 1).toInt)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      else null
    if (probe != null && probe.length <= localEdgeThreshold) {
      val spark = pairs.sparkSession
      val edges = probe
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // attach the LARGER root under the smaller: the root stays the
        // component minimum, which is the published cluster_id contract
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      import spark.implicits._
      return nodes.map(v => (v, find(v))).toSeq
        .toDF("id", "cluster_id")
    }
    val sym = edgeList
      .toDF("u", "v")
      .union(edgeList.select(col("id_b").as("u"), col("id_a").as("v")))
    val edges = sym.repartition(col("u")).localCheckpoint()
    var labels = edges.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("l"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // propagate: tightest label visible one hop away. Labels only ever
      // decrease and are bounded below by the component minimum, so the
      // loop converges; at the fixpoint labels are constant along every
      // (symmetric) edge, i.e. constant per component, and the component
      // minimum keeps its own id.
      val nbr = edges
        .join(labels.select(col("u").as("v"), col("l").as("ln")), "v")
        .groupBy("u").agg(min(col("ln")).as("ln"))
      val prop = labels.join(nbr, Seq("u"), "left")
        .select(col("u"), least(col("l"), coalesce(col("ln"), col("l"))).as("l"))
      // pointer jump: adopt the label's own label. label(x) <= x always,
      // so this only tightens; it halves chain depth per round, turning
      // O(diameter) propagation into O(log n).
      val next = prop
        .join(prop.select(col("u").as("l"), col("l").as("l2")), Seq("l"), "left")
        .select(col("u"), coalesce(col("l2"), col("l")).as("l"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("l", "l0"), "u")
        .filter(col("l") =!= col("l0")).count()
      labels = next
      it += 1
    }
    // labels still moving are not yet the component minimum
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter = $maxIter " +
          s"rounds: $changed labels changed in the last round")
    labels.select(col("u").as("id"), col("l").as("cluster_id"))
  }

  /** Corpus-wide cluster assignment: every row of `df` gets a
    * `cluster_id` (the component minimum for matched docs, its own id
    * for unmatched docs). One broadcast-sized left join against the
    * component labels — the corpus itself is never shuffled. */
  def clusters(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    df.select(idCol.cast("long").as("id"))
      .join(cc.withColumnRenamed("cluster_id", "__cid"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cid"), col("id")).as("cluster_id"))
  }

  /** INCREMENTAL exact dedup: admit only delta rows whose normalized
    * fingerprint is (a) absent from the base corpus and (b) the first
    * occurrence within the delta itself (min id wins). The shape every
    * continuously-ingesting pipeline needs — the base corpus is touched
    * only as a fingerprint ANTI-JOIN side (in production, a stored
    * fingerprint index), never rescanned for content; the delta
    * deduplicates against itself with one groupBy. Both joins hash on
    * the fingerprint — linear, no pairs. */
  def incremental(base: DataFrame, delta: DataFrame,
                  textCol: Column, idCol: Column): DataFrame = {
    val baseFps = base.select(TextAnalysis.fingerprint(textCol).as("fp"))
      .distinct()
    delta.select(TextAnalysis.fingerprint(textCol).as("fp"), idCol.as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("n_delta_copies"))
      .join(baseFps, Seq("fp"), "left_anti")
  }

  /** [[incremental]] with a BLOOM prefilter on the base side — the shape
    * that actually survives 100 TB: the base corpus is the huge side, so
    * instead of shuffling EVERY distinct base fingerprint into the
    * anti-join, a Bloom filter built from the (small) delta roster is
    * broadcast and the base scan keeps only bloom-positive fingerprints
    * (≈ true overlaps + fpp·|base| false positives). Bloom filters have
    * NO false negatives, so dropping bloom-negative base rows cannot
    * un-suppress a true duplicate — the result is IDENTICAL to
    * [[incremental]] (same exact oracle), only the anti-join shuffle
    * shrinks from |base| to ~fpp·|base| rows.
    *
    * The probe is the codegen'd [[graft.functions.BloomMd5]] bitmap
    * expression (stateless shift/mask over a literal long array) — no
    * per-row Scala UDF anywhere on the path, and the same hash family
    * the streaming bloom twin replays. The result cannot depend on
    * which filter is used (a Bloom has no false negatives; positives
    * only admit extra rows into the exact anti-join), so swapping the
    * probe leaves the oracle untouched. Driver/broadcast memory is
    * the bitmap, sized by the DELTA roster (`fpp` at `n_delta`
    * items — ~1.2 MB per million delta fingerprints at 1%), never by
    * the base. The delta roster is localCheckpoint-ed once: it feeds
    * the bloom build, and reusing it keeps the fingerprint scan from
    * running twice. */
  def incrementalBloom(base: DataFrame, delta: DataFrame,
                       textCol: Column, idCol: Column,
                       fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    val deltaRoster = delta
      .select(TextAnalysis.fingerprint(textCol).as("fp"), idCol.as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("n_delta_copies"))
      .localCheckpoint()
    val nDelta = math.max(deltaRoster.count(), 1L)
    // standard Bloom sizing: m = n ln(1/fpp) / ln(2)^2 bits (rounded
    // up to whole words), k = (m/n) ln 2 hash rows. Sized in LONG and
    // checked: a silent Int wrap past ~224M delta fingerprints (at 1%)
    // would collapse the filter to 64 bits and defeat the prefilter
    // invisibly (results stay correct — only the base-scan reduction
    // vanishes). A >256MB literal bitmap is also past this design's
    // broadcast shape, so fail loudly with the actual remedy.
    val mBits = {
      val raw = math.ceil(
        nDelta * math.log(1.0 / fpp) / (math.log(2.0) * math.log(2.0))).toLong
      val words = ((raw + 63) / 64).max(1L)
      // strict bound: words * 64 == 2^31 would wrap (words * 64).toInt
      // to Int.MinValue and surface as BloomMd5's misleading "m must be
      // positive" instead of this remedy message (ADVICE r9)
      require(words * 64 < (1L << 31),
        s"delta roster ($nDelta fingerprints at fpp=$fpp) needs ${words * 64} " +
          "bloom bits — past the literal-bitmap design; split the delta " +
          "by date/shard or raise fpp")
      (words * 64).toInt
    }
    val kHashes = math.max(1,
      math.round(mBits.toDouble / nDelta * math.log(2.0)).toInt)
    val words = graft.functions.BloomMd5.build(
      deltaRoster, col("fp"), mBits, kHashes)
    val baseCandidates = graft.functions.BloomMd5.markPositive(
        base.select(TextAnalysis.fingerprint(textCol).as("fp")),
        col("fp"), words, mBits, kHashes, "__pos")
      .filter(col("__pos")).drop("__pos")
      .distinct()
    deltaRoster.join(baseCandidates, Seq("fp"), "left_anti")
  }

  /** Keep-BEST survivor selection: one row per duplicate cluster, the
    * member with the highest `scoreCol` winning (smallest id breaking
    * ties) — what production dedup actually ships: keep the
    * highest-quality copy, not the arbitrary first one. `assignments`
    * is any (id, cluster_id) table ([[clusters]] output); scores join
    * in and one max_by aggregation per cluster picks the survivor.
    * Two hash shuffles (join + agg), both on cluster-sized keys. */
  def keepBest(assignments: DataFrame, scores: DataFrame,
               idCol: Column, scoreCol: Column): DataFrame = {
    val scored = scores.select(idCol.cast("long").as("id"),
      scoreCol.as("__score"))
    assignments.join(scored, "id")
      .groupBy(col("cluster_id"))
      .agg(
        // lexicographic struct max: highest score, then -id max = lowest id
        max(struct(col("__score"), (-col("id")).as("__negid"))).as("__w"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"),
        (-col("__w.__negid")).cast("long").as("keeper_id"),
        col("__w.__score").as("keeper_score"),
        col("cluster_size"))
  }

  /** SEMANTIC dedup composition (the SemDeDup shape) over an embedding
    * near-dup pair graph: connected-component clusters, then keep the
    * most CENTRAL member of each cluster — the member with the highest
    * dot product against the centroid of the cluster's L2-normalized
    * vectors (lowest id on ties). Unlike keep-first or
    * keep-best-by-quality, the survivor is the best semantic
    * representative of its duplicate neighborhood.
    *
    * Determinism (for the exact cross-engine oracle): members are
    * normalized with the established left-to-right double arithmetic
    * ([[Similarity.normalizedVectors]] / codegen DotProduct); each
    * per-lane centroid is rounded to 6 decimals BEFORE the
    * member-centroid dot, so both engines dot bit-identical inputs;
    * the score is rounded to 6.
    *
    * Shape: pairs -> CC (union-find finish / pointer jumping), ONE
    * posexplode + (cluster, lane) aggregation for centroids (linear in
    * rows x dim), a cluster-count-sized centroid table joined back, and
    * the [[keepBest]] struct-max survivor agg — no quadratic step
    * beyond the pair graph itself. */
  def semanticKeepCentral(df: DataFrame, idCol: Column, vecCol: Column,
                          pairs: DataFrame): DataFrame = {
    val vecs = Similarity.normalizedVectors(df, idCol.cast("long"), vecCol)
    val asg = clusters(df, idCol, pairs)
    val withC = vecs.join(asg, "id")
    // Centroid lanes via per-item round -> DECIMAL accumulation ->
    // scaled long -> ONE IEEE division (the exactValueSumE4 idiom):
    // order-independent, unlike avg() over doubles whose partial-sum
    // order is partitioning-dependent — so the round-6 value can never
    // flake at a rounding boundary between engines/runs.
    val cent = withC.select(col("cluster_id"), posexplode(col("vec")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(
        (sum(round(col("col"), 9).cast("decimal(28,9)")) * 1000000000L)
          .cast("long").as("__s_e9"),
        count(lit(1)).as("__n"))
      .withColumn("cv", round(col("__s_e9").cast("double") /
        (col("__n") * lit(1000000000L)).cast("double"), 6))
      .groupBy(col("cluster_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("__cent"))
    val scored = withC.join(cent, "cluster_id")
      .select(col("id"),
        round(graft.expressions.DotProduct(col("vec"), col("__cent")), 6)
          .as("__score"))
    keepBest(asg, scored, col("id"), col("__score"))
  }

  // ----------------------------------------------- duplicated-span scan

  /** Cross-document duplicated-SPAN detection: the substring-level dedup
    * signal (which near-verbatim spans recur across the corpus) that
    * whole-document fingerprints miss — boilerplate, licenses, templated
    * passages. Scalable stand-in for suffix-array exact-substring dedup:
    * each doc's token stream is cut into consecutive fixed-width chunks
    * of `chunkTokens` tokens (trailing partial chunk dropped), each
    * chunk is fingerprinted, and a chunk counts as duplicated iff its
    * fingerprint occurs >= 2 times corpus-wide (within-doc repeats
    * count). Output: one row per doc with >= 1 complete chunk —
    * (id, n_chunks, n_dup_chunks); feed a threshold on
    * n_dup_chunks/n_chunks into a drop/trim policy downstream.
    *
    * Shape: tokens/chunkTokens rows exploded, ONE hash shuffle to count
    * fingerprints, one shuffled join back, one groupBy on id — linear
    * end to end, no candidate pairs ever materialized (the fingerprint
    * multiset IS the index), so it scales where pairwise join topologies
    * don't. Fingerprints are md5 of the space-joined chunk, so every
    * step has an exact cross-engine oracle. */
  def duplicatedSpans(df: DataFrame, textCol: Column, idCol: Column,
                      chunkTokens: Int = 16): DataFrame = {
    def chunkFps(t: Column): Column = {
      // split on single LITERAL space — the reference's word definition
      // (tf_utils.py:44-51). NOTE this deliberately differs from
      // TextAnalysis.tokens (\s+ with empties filtered): consecutive
      // spaces yield empty tokens and tab/newline-separated words stay
      // joined, mirrored 1:1 by the DuckDB oracle. For the \s+ word
      // definition with overlapping windows see
      // [[duplicatedSpansRolling]].
      val toks = split(t, " ")
      val nChunks = (size(toks) / chunkTokens).cast("int")
      when(nChunks <= 0, array()).otherwise(
        transform(sequence(lit(0), nChunks - 1),
          i => md5(array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " "))))
    }
    // shuffle the raw rows before the HOF so chunking parallelizes past
    // a single-row-group scan task (same rationale as shingleSets)
    val chunks = df.select(idCol.as("id"), textCol.as("__text"))
      .repartition(col("id"))
      .select(col("id"), explode(chunkFps(col("__text"))).as("fp"))
    // only duplicated fingerprints join back (LEFT join: c is null for
    // unique chunks, and `when(null >= 2)` falls to the 0 branch like
    // c = 1 did) — the join's right side shrinks to the duplicated
    // tail, AQE broadcasts it, and both the fp-exchange of the chunk
    // stream and the groupBy(id) exchange disappear (chunks stay
    // partitioned by id). Values identical.
    chunks.join(recurring(chunks, "c", "fp"), Seq("fp"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** Span REMOVAL — the action step after [[duplicatedSpans]]' flag:
    * rewrite each document with its corpus-duplicated chunks CUT OUT
    * (boilerplate, licenses, templated passages), keeping everything
    * else in order. Operates on the same single-space word stream and
    * fixed `chunkTokens` chunking as the flag scan, with one deliberate
    * difference: the trailing partial chunk is KEPT and fingerprinted
    * (a trim must never silently drop content; the flag scan ignores
    * the tail because a partial window is not a comparable span).
    *
    * Output: one row per doc — (id, n_chunks, n_kept, trimmed_text),
    * trimmed_text = kept chunks joined by single spaces ("" when every
    * chunk was duplicated). Docs are never lost: the conditional
    * collect aggregates over ALL chunks.
    *
    * Shape: same linear topology as the flag scan — explode, ONE md5
    * count shuffle, join back, one per-doc aggregation whose
    * reassembly is the (pos, payload) collect + array_sort idiom;
    * state per doc bounded by doc length. */
  def trimDuplicatedSpans(df: DataFrame, textCol: Column, idCol: Column,
                          chunkTokens: Int = 16): DataFrame = {
    def chunksOf(t: Column): Column = {
      val toks = split(t, " ")
      val nChunks =
        ((size(toks) + lit(chunkTokens - 1)) / lit(chunkTokens)).cast("int")
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " "))
    }
    val chunks = df.select(idCol.as("id"), textCol.as("__text"))
      .repartition(col("id"))
      .select(col("id"), posexplode(chunksOf(col("__text"))))
      .select(col("id"), col("pos"), col("col").as("chunk"))
      .withColumn("fp", md5(col("chunk")))
    // duplicated tail only (the duplicatedSpans rationale); a chunk
    // missing from the tail had c = 1 exactly, so coalesce(c, 1)
    // reproduces every count and the kept-set is identical
    chunks.join(recurring(chunks, "c", "fp"), Seq("fp"), "left")
      .withColumn("c", coalesce(col("c"), lit(1L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") < 2, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("c") < 2, struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("trimmed_text"))
  }

  /** Rolling span REMOVAL — the action step after
    * [[duplicatedSpansRolling]]'s flag: rewrite each document with every
    * token that lies inside ANY corpus-duplicated w-token window cut
    * out, wherever the duplicated passage starts (the unaligned
    * boilerplate the fixed-chunk [[trimDuplicatedSpans]] can only catch
    * on chunk boundaries). Same token stream (`TextAnalysis.tokens`),
    * same Rabin-Karp window fingerprints, same corpus-wide >= 2
    * duplication rule as the flag scan; docs shorter than one window
    * carry no windows and pass through untouched, and docs are never
    * lost (fully-duplicated docs become "").
    *
    * Output: one row per doc — (id, n_tokens, n_kept, trimmed_text),
    * trimmed_text = surviving tokens joined by single spaces.
    *
    * Shape: the tokenized corpus is materialized ONCE (compact: token
    * arrays) because two consumers need different projections (window
    * hashes vs the token payload) and would otherwise re-scan and
    * re-tokenize; then the flag scan's linear topology — explode, ONE
    * fingerprint-count shuffle, join back — reduced to a per-doc sorted
    * duplicated-START list (state bounded by doc length), left-joined
    * onto the docs and applied as one indexed array filter. Per-doc
    * cost O(n_tokens x n_dup_starts) worst case — boilerplate-bounded
    * in practice; no candidate pairs, no corpus sort. */
  def trimDuplicatedSpansRolling(df: DataFrame, textCol: Column,
                                 idCol: Column, windowTokens: Int = 16,
                                 hashFn: Column => Column = spanTokenHashXx): DataFrame = {
    val docs = df.select(idCol.as("id"),
        coalesce(TextAnalysis.tokens(textCol), array()).as("__toks"))
      .repartition(col("id"))
      .localCheckpoint()
    val wins = windowFps(docs, col("__toks"), windowTokens, hashFn)
    // inner join against the duplicated tail directly (same rows the
    // join+filter kept); AQE broadcasts the small tail
    val dupStarts = wins.join(recurring(wins, "c", "fp").drop("c"), "fp")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    val kept = when(col("__starts").isNull, col("__toks"))
      .otherwise(filter(col("__toks"), (_, i) =>
        !exists(col("__starts"), s => s <= i && i < s + windowTokens)))
    docs.join(dupStarts, Seq("id"), "left")
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("trimmed_text"))
  }

  /** Token hash for the rolling-span scan, fast path: xxhash64 reduced
    * mod the rolling modulus (Spark-only — no DuckDB twin). */
  def spanTokenHashXx(t: Column): Column =
    pmod(xxhash64(t), lit(graft.expressions.RollingWindowHashes.M))

  /** md5-anchored twin: first 8 md5 hex chars mod M — bit-replicable in
    * any engine with md5, so the declared query has an exact oracle. */
  def spanTokenHashMd5(t: Column): Column =
    pmod(graft.expressions.Md5Hex.u32(t),
      lit(graft.expressions.RollingWindowHashes.M))

  /** Rolling-hash duplicated-span scan with OVERLAPPING windows — the
    * recall upgrade over [[duplicatedSpans]]'s aligned fixed chunks: a
    * duplicated passage is caught wherever it starts, not only when it
    * lands on a chunk boundary (the main recall gap vs real
    * suffix-array dedup). Every w-token window is fingerprinted by the
    * O(1)-per-step Rabin-Karp update ([[graft.expressions.RollingWindowHashes]]);
    * a window is duplicated iff its fingerprint recurs corpus-wide.
    * Word definition here is `TextAnalysis.tokens` (\s+, empties
    * filtered) — unlike the fixed-chunk scan, which keeps the
    * reference's single-space split.
    *
    * Output per doc with >= 1 window: (id, n_windows, n_dup_windows,
    * max_dup_run) — max_dup_run is the longest run of CONSECUTIVE
    * duplicated windows, i.e. (longest duplicated span) - w + 1 tokens,
    * the signal span-trim policies threshold on.
    *
    * Shape: ~n_tokens rows exploded (overlap makes this w x the chunk
    * scan's volume — inherent to unaligned detection), ONE hash shuffle
    * to count fingerprints, one join back, then per-doc aggregation;
    * the run detection is a per-DOC window sort (state bounded by doc
    * length), gaps-and-islands on window position. Linear end to end,
    * no candidate pairs. Fingerprint collisions (M = 2^31-1) can mark
    * a window duplicated spuriously but identically in every engine —
    * the oracle replays the same hashes. */
  def duplicatedSpansRolling(df: DataFrame, textCol: Column, idCol: Column,
                             windowTokens: Int = 16,
                             hashFn: Column => Column = spanTokenHashXx): DataFrame = {
    // shuffle raw rows before the heavy expression (single-row-group
    // scan hazard, same rationale as shingleSets); the exchange
    // also lets both fingerprint consumers reuse one materialization
    val wins = windowFps(
      df.select(idCol.as("id"), textCol.as("__text")).repartition(col("id")),
      TextAnalysis.tokens(col("__text")), windowTokens, hashFn)
    // duplicated tail only: after the LEFT join, c is non-null exactly
    // when the window's fingerprint recurs (c >= 2 before), so `dup`
    // keeps identical true/false values row for row
    val marked = wins.join(recurring(wins, "c", "fp"), Seq("fp"), "left")
      .select(col("id"), col("pos"), col("c").isNotNull.as("dup"))
    val tot = marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"))
    val runs = marked.filter(col("dup"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("pos"))))
      .groupBy(col("id"), (col("pos") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id")).agg(max(col("run")).as("max_dup_run"))
    tot.join(runs, Seq("id"), "left")
      .select(col("id"), col("n_windows"), col("n_dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
  }

  /** MULTI-RESOLUTION rolling span scan — the answer to the measured
    * w=16 recall of 0.48 on real data (r8 `dedup_spans_exact_recall`:
    * half the duplicated-span mass sits below 16 tokens). One
    * tokenize, one Rabin-Karp pass PER RESOLUTION (each O(n) — the
    * rolling update is O(1) per window), one union, ONE fingerprint
    * shuffle keyed (w, fp), one join back, one distinct-coverage
    * aggregation. Never candidate pairs. The finest window closes the
    * recall gap at its granularity (a duplicated e-gram always equals
    * its own w=e window fingerprint); the coarser windows keep the
    * HIGH-PRECISION signal (long verbatim passages) separable from
    * short-phrase noise — that's why coverage is reported per
    * resolution AND as the union, not collapsed.
    *
    * Output per doc: (id, n_tokens, n_cov_w<w1>, ..., n_cov_union) —
    * token counts covered by >= 1 corpus-duplicated window of that
    * resolution (union = any resolution). Trim policies act on the
    * fine tier only inside coarse-tier runs, or threshold per tier. */
  def duplicatedSpansMultiRes(df: DataFrame, textCol: Column, idCol: Column,
                              windows: Seq[Int] = Seq(4, 16),
                              hashFn: Column => Column = spanTokenHashXx): DataFrame = {
    require(windows.nonEmpty && windows.distinct.size == windows.size,
      s"windows must be distinct and non-empty: $windows")
    val toks = tokenized(df, textCol, idCol)
    val cov = dupCoverage(toks, windows, hashFn)
    val perW = windows.map { w =>
      s"n_cov_w$w" -> cov.filter(col("w") === w).select(col("id"), col("p")).distinct()
    }
    coverageCounts(toks,
      perW :+ ("n_cov_union" -> cov.select(col("id"), col("p")).distinct()))
  }

  /** Recall harness for [[duplicatedSpansMultiRes]] — the exact twin
    * generalized to a window SET: ground truth stays the hash-free
    * literal `exactLen`-gram coverage; the scan side is the union
    * coverage of all resolutions. With min(windows) == exactLen the
    * scan's recall is 1.0 BY CONSTRUCTION (equal literal windows hash
    * equal; collisions only add coverage) — the number that matters
    * then is PRECISION (n_cov_both / n_cov_scan), the cost the finer
    * tier pays for closing the w=16 recall gap. */
  def exactSpanRecallMulti(df: DataFrame, textCol: Column, idCol: Column,
                           exactLen: Int = 4,
                           windows: Seq[Int] = Seq(4, 16)): DataFrame = {
    require(exactLen >= 1 && windows.nonEmpty && windows.min >= exactLen)
    // one tokenize, two consumers (literal windows / hash windows)
    val toks = tokenized(df, textCol, idCol)
    val winsExact = toks.filter(size(col("t")) >= exactLen)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("t")) - exactLen),
        i => array_join(slice(col("t"), i + 1, lit(exactLen)), " "))))
      .select(col("id"), col("pos"), col("col").as("key"))
    val covExact = winsExact.join(recurring(winsExact, "c", "key").drop("c"), "key")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + exactLen - 1)).as("p"))
      .distinct()
    val covScan = dupCoverage(toks, windows, spanTokenHashMd5)
      .select(col("id"), col("p"))
      .distinct()
    coverageCounts(toks, Seq("n_cov_exact" -> covExact, "n_cov_scan" -> covScan,
      "n_cov_both" -> covExact.join(covScan, Seq("id", "p"))))
  }

  /** EXACT-substring verification twin for the rolling span scan — the
    * suffix-array-grade ground truth at sub-window granularity. The
    * w=16 rolling scan is exact for duplicated spans >= 16 tokens and
    * blind below (the r7 planted-corpus audit: 100% of >= w tokens, 0%
    * under); this twin measures that gap on REAL data:
    *
    *  - ground truth: a token is duplicated-covered iff some LITERAL
    *    `exactLen`-token subsequence containing it occurs >= 2 times
    *    corpus-wide. Any exact repeat of length >= exactLen covers all
    *    its tokens with exactLen-windows, so at granularity >= exactLen
    *    this IS the suffix-array answer — computed by grouping the
    *    literal window STRINGS (no hashes, no collisions);
    *  - comparison: the same coverage derived from the declared
    *    rolling scan's duplicated w-token windows (md5-anchored
    *    Rabin-Karp fingerprints — the exact path the driver checks);
    *  - output per doc: (id, n_tokens, n_cov_exact, n_cov_rolling,
    *    n_cov_both) — corpus recall of the rolling scan vs ground
    *    truth is sum(n_cov_both) / sum(n_cov_exact).
    *
    * Shape: both sides are the linear explode -> count -> join-back
    * topology (no candidate pairs); the ground-truth side shuffles
    * literal exactLen-gram strings, which is the honest cost of
    * hash-free exactness — run it on bounded verification slices, not
    * the 100 TB corpus (the hashed rolling scan is the scale path). */
  def exactSpanRecallTwin(df: DataFrame, textCol: Column, idCol: Column,
                          exactLen: Int = 4,
                          windowTokens: Int = 16): DataFrame =
    exactSpanRecallMulti(df, textCol, idCol, exactLen, Seq(windowTokens))
      .withColumnRenamed("n_cov_scan", "n_cov_rolling")

  /** (id, t) token arrays, shuffled by id and checkpointed: one
    * tokenize for several consumers (CollapseProject would otherwise
    * inline the tokenizer into every window explode). */
  private def tokenized(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(idCol.as("id"), TextAnalysis.tokens(textCol).as("t"))
      .repartition(col("id"))
      .localCheckpoint()

  /** (id, n_tokens, <name>...): every tokenized doc with, per named
    * (id, p) coverage table, its count of covered tokens (0 when the
    * doc has none), each a per-doc count left-joined in order. */
  private def coverageCounts(toks: DataFrame,
                             covered: Seq[(String, DataFrame)]): DataFrame =
    covered.foldLeft(toks.select(col("id"), size(col("t")).cast("long").as("n_tokens"))) {
      case (acc, (name, cov)) =>
        acc.join(cov.groupBy(col("id")).agg(count(lit(1)).as(name)), Seq("id"), "left")
    }.select(col("id") +: col("n_tokens") +:
      covered.map { case (name, _) => coalesce(col(name), lit(0L)).as(name) }: _*)

  /** (id, [tag...], pos, fp): one row per w-token window of the `toks`
    * array column of `docs`, fingerprinted by the Rabin-Karp
    * [[graft.expressions.RollingWindowHashes]] over `hashFn` token
    * hashes; `tag` columns ride along. */
  private def windowFps(docs: DataFrame, toks: Column, w: Int,
                        hashFn: Column => Column, tag: Column*): DataFrame =
    docs.select((col("id") +: tag) :+ posexplode(
        graft.expressions.RollingWindowHashes(transform(toks, hashFn), w)): _*)
      .withColumnRenamed("col", "fp")

  /** (id, w, p): token positions covered by a corpus-duplicated window,
    * per resolution w — the windows of every resolution in one union,
    * ONE fingerprint shuffle keyed (w, fp), one join back. */
  private def dupCoverage(toks: DataFrame, windows: Seq[Int],
                          hashFn: Column => Column): DataFrame = {
    val wins = windows.map { w =>
      windowFps(toks.filter(size(col("t")) >= w), col("t"), w, hashFn,
        lit(w).as("w"))
    }.reduce(_ unionByName _)
    // a single resolution keys on fp alone: a constant w in the key
    // hides from the static join-size estimate that the recurring table
    // is distinct on it, and two broadcast joins downstream would plan
    // as sort-merge joins
    val keys = if (windows.size > 1) Seq("w", "fp") else Seq("fp")
    wins.join(recurring(wins, "c", keys: _*).drop("c"), keys)
      .select(col("id"), col("w"),
        explode(sequence(col("pos"), col("pos") + col("w") - 1)).as("p"))
  }
}
