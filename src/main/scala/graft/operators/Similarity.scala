package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TopK, Vectors}

/** Similarity search over embedding columns (BASELINE.json north star).
  *
  * Two tiers, same output shape:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *    query set against the corpus; one pass over the corpus, no
  *    corpus-side shuffle except the final per-query top-k.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by sign
  *    bits once (linear), queries probe nearby buckets only; the 100 TB
  *    path where the corpus cross-product is unpayable.
  *
  * Perf notes: vectors are normalized
  * ONCE per row and materialized behind a `repartition` barrier before
  * any pairwise join. Without the barrier Catalyst collapses the
  * normalization projection into the join, recomputing the O(dim)
  * expression per PAIR instead of per row (11x slower at 2k vectors —
  * and quadratically worse at scale). The barrier also lets both sides
  * of self-joins reuse one exchange (ReuseExchange).
  */
object Similarity {

  /** Rows with the vector replaced by its L2-normalized double form,
    * materialized via an exchange so downstream joins reuse it: `df`
    * projected to `front`, the raw vector `__v`, its norm `__nrm`, then
    * `back` (the extra key columns: cell, bucket, probe cells);
    * repartitioned on `key`; then projected to `out` of the normalized
    * vector. The norm is projected into its own column first —
    * referencing norm(vec) inside the per-element lambda would
    * re-evaluate the O(dim) dot product per element (O(dim^2) per row;
    * transform lambdas get no common-subexpression elimination) — and
    * the exchange sits BETWEEN norm and the division: post-shuffle the
    * lambda reads __nrm as a materialized attribute (CollapseProject
    * would otherwise inline the norm into the lambda body ->
    * per-element). */
  private def unitBehindExchange(df: DataFrame, front: Seq[Column],
                                 vec: Column, back: Seq[Column],
                                 key: String)(
      out: Column => Seq[Column]): DataFrame =
    df.select(front ++ Seq(vec.as("__v"), Vectors.norm(vec).as("__nrm")) ++
        back: _*)
      .repartition(col(key))
      .select(out(
        transform(col("__v"), x => x.cast("double") / col("__nrm"))): _*)

  /** Public (id, vec) projection of the normalized form for composition
    * operators (e.g. [[Dedup.semanticKeepCentral]]). */
  def normalizedVectors(df: DataFrame, id: Column, vec: Column): DataFrame =
    normalized(df, id, vec, "id", "vec")

  // `vec` is projected on its own first, so the norm reads it as an
  // attribute: a non-cheap vec (a caller's slice) is evaluated once
  private def normalized(df: DataFrame, id: Column, vec: Column,
                         idName: String, vecName: String): DataFrame =
    unitBehindExchange(df.select(id.as(idName), vec.as("__v")),
      Seq(col(idName)), col("__v"), Nil, idName)(
      v => Seq(col(idName), v.as(vecName)))

  /** The ranking tail every search path shares: `score` the joined
    * (query_id, neighbor_id) candidates, drop self-matches when asked,
    * and keep the top k per query (score desc, neighbor id) as
    * (query_id, neighbor_id, rank, score). A bounded top-k AGGREGATE,
    * not a window: map-side partials reduce each partition to <=k rows
    * per query before the shuffle (a row_number window would drag every
    * scored candidate onto one reducer per query — |corpus| rows on a
    * single task at scale). */
  private[operators] def rankTopK(joined: DataFrame, score: Column, k: Int,
                                  excludeSelf: Boolean): DataFrame = {
    val scored = joined.withColumn("score", score)
    TopK.perQuery(
      if (excludeSelf) scored.filter(col("query_id") =!= col("neighbor_id"))
      else scored, k)
  }

  /** [[rankTopK]] by exact cosine: the round-6 dot of the normalized
    * query (`qv`) and corpus (`cv`) vectors. */
  private def cosineTopK(joined: DataFrame, k: Int,
                         excludeSelf: Boolean): DataFrame =
    rankTopK(joined, round(Vectors.dot(col("qv"), col("cv")), 6), k,
      excludeSelf)

  /** Exact top-k neighbors per query row. `queries` must be small enough
    * to broadcast (it is hinted); ranking is (cosine desc, neighbor id)
    * for determinism. Cosine = dot of pre-normalized vectors. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: Column, qVec: Column, cId: Column, cVec: Column,
                     excludeSelf: Boolean = true): DataFrame = {
    val q = normalized(queries, qId, qVec, "query_id", "qv")
    val c = normalized(corpus, cId, cVec, "neighbor_id", "cv")
    cosineTopK(c.crossJoin(broadcast(q)), k, excludeSelf)
  }

  /** All corpus pairs with cosine >= threshold (embedding near-dup
    * detection). Quadratic — VERIFICATION-ONLY: bound the input (the
    * declared driver query slices the corpus) and use [[cosinePairsLsh]]
    * as the scale path; this one exists to anchor the exact oracle and
    * measure LSH recall. */
  def cosinePairs(df: DataFrame, idCol: Column, vecCol: Column,
                  threshold: Double): DataFrame = {
    val v = normalized(df, idCol, vecCol, "id", "vec")
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine", round(Vectors.dot(col("a.vec"), col("b.vec")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Random hyperplanes (driver-side seeded constants, embedded as plan
    * literals). The seed is bit-mixed first: callers derive per-table
    * seeds as seed+t, and java.util.Random streams from SEQUENTIAL seeds
    * are correlated (LCG) — correlated tables re-catch the same pairs,
    * collapsing the 1-(1-p)^T union recall multi-table LSH exists for
    * (measured: recall at 8 tables roughly doubled after mixing). */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new java.util.Random(scala.util.hashing.byteswap64(seed))
    Seq.fill(nBits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  private def bucketExpr(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      // ONE Literal node per plane (typedLit of the whole array), not
      // dim `lit` nodes: per-element literals blow the expression tree
      // up 64x (dim x planes x tables nodes), and analysis + Janino
      // compilation of that tree — not the data — dominated every
      // embedding query at driver scale
      val planeCol = typedLit(p)
      when(Vectors.dot(vec, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** md5 of a short ASCII key, lowercase hex — byte-identical to SQL
    * engines' md5() on the same string. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Deterministic ±1 (Rademacher) hyperplanes derived from md5: the
    * sign for (table, bit, element i) is the parity of hex digit
    * (i mod 32) of md5("table:bit:(i/32)"). Random sign projections are
    * a standard angular-LSH family (same sign-test guarantee as
    * Gaussian hyperplanes), and any SQL engine recomputes these planes
    * bit-for-bit — which is what makes the anchored LSH queries fully
    * oracle-checkable instead of rows-only. */
  def md5SignPlanes(nBits: Int, dim: Int, table: Int): Seq[Seq[Double]] =
    Seq.tabulate(nBits) { b =>
      Seq.tabulate(dim) { i =>
        val hex = md5Hex(s"$table:$b:${i / 32}")
        if ((Character.digit(hex.charAt(i % 32), 16) & 1) == 1) 1.0 else -1.0
      }
    }

  /** Integer-quantized copy of the raw vector — floor(x * 2^20), held
    * as exact integer-valued doubles. Sign tests against ±1 planes over
    * it are pure integer arithmetic (values ≤ 2^27 — exactly
    * representable), immune to FP addition order, hence identical in
    * any engine. Bucketing from the RAW vector is sound because the
    * norm is a positive per-row constant (sign(dot(v,h)) ==
    * sign(dot(v/|v|,h))), and the <2^-20 quantization perturbation only
    * nudges near-zero sign tests — candidates are verified by exact
    * cosine regardless. */
  private[operators] def quantized(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1048576.0)).cast("double"))

  /** Shared tail of the LSH pair topology: `v` is the normalized corpus
    * (id, vec); `bucketedRaw` is (id, tbl, bucket) already partitioned
    * by (tbl, bucket). Hot buckets are dropped (see [[cosinePairsLsh]]),
    * within-bucket pairs deduped across tables, and every candidate is
    * verified by exact cosine. */
  private def pairsFromBuckets(v: DataFrame, bucketedRaw: DataFrame,
                               threshold: Double,
                               maxBucketSize: Int): DataFrame = {
    val bucketed = bucketedRaw.join(
      broadcast(hotBuckets(bucketedRaw, maxBucketSize)), Seq("tbl", "bucket"),
      "left_anti")
    val candidates = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifiedPairs(candidates, v, threshold)
  }

  /** The (tbl, bucket) keys holding more than `maxBucketSize` rows —
    * GUARANTEED tiny by pigeonhole (see [[cosinePairsLsh]]). */
  private def hotBuckets(bucketed: DataFrame,
                         maxBucketSize: Int): DataFrame =
    bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select(col("tbl"), col("bucket"))

  /** Candidate (id_a, id_b) pairs verified by exact cosine against the
    * normalized corpus `v` (id, vec): (id_a, id_b, cosine) with
    * cosine >= threshold. */
  private def verifiedPairs(candidates: DataFrame, v: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(v.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      .withColumn("cosine", round(Vectors.dot(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** [[cosinePairsLsh]] with md5-anchored sign planes and integer
    * quantization: the same bucketed linear topology, but every step —
    * plane derivation, sign test, bucket membership, final cosine — is
    * engine-independent, so the whole approximate query carries an
    * exact DuckDB oracle (the Gaussian-plane twin stays the library
    * default and is spec-covered). */
  def cosinePairsLshAnchored(df: DataFrame, idCol: Column, vecCol: Column,
                             threshold: Double, dim: Int, nBits: Int = 6,
                             nTables: Int = 8,
                             maxBucketSize: Int = 100000): DataFrame = {
    val v = normalized(df, idCol, vecCol, "id", "vec")
    val bucketedRaw =
      anchoredCodes(df, idCol, vecCol, dim, nBits, nTables, "bucket")
        .repartition(col("tbl"), col("bucket"))
    pairsFromBuckets(v, bucketedRaw, threshold, maxBucketSize)
  }

  /** (id, tbl, `code`): one row per table of the md5-anchored sign code
    * of the quantized raw vector, every table's code computed in one
    * projection. */
  private def anchoredCodes(df: DataFrame, idCol: Column, vecCol: Column,
                            dim: Int, nBits: Int, nTables: Int,
                            code: String): DataFrame = {
    val codeArr = array((0 until nTables).map { t =>
      bucketExpr(col("__q"), md5SignPlanes(nBits, dim, t))
    }: _*)
    df.select(idCol.as("id"), quantized(vecCol).as("__q"))
      .select(col("id"), posexplode(codeArr).as(Seq("tbl", code)))
  }

  /** MULTI-PROBE anchored LSH pairs (Lv et al., VLDB 2007, adapted
    * from query-time probing to pair mining): each row lands in its
    * home bucket as an INDEX entry and additionally PROBES the buckets
    * within Hamming distance `probeHamming` of its code (one-bit
    * flips; two-bit flips as well at probeHamming=2); a pair becomes a
    * candidate when one side's home bucket appears in the other side's
    * probe set — i.e. exactly when their codes differ in
    * <= probeHamming bits. Why this beats adding tables at 100 TB: recall per
    * shuffled row. Doubling nBits makes buckets exponentially finer
    * (killing the B^2 within-bucket quadratics that hot clusters
    * cause), and the recall those extra bits cost is bought back by
    * probing — transient probe rows in the exchange — instead of by
    * standing up more whole tables (every table re-shuffles the full
    * corpus and adds an index copy). Here 2 tables x (1 home + nBits
    * probes) replace ~8 home-only tables at comparable recall for
    * near-threshold pairs.
    *
    * Anchored determinism (md5 sign planes + integer-quantized sign
    * tests) makes codes — and therefore the probe sets and the final
    * verified pairs — engine-exact, so the declared query carries a
    * full DuckDB oracle (candidates = code pairs with
    * bit_count(xor) <= 1). Hot buckets are dropped from index AND
    * probe streams by the same broadcast anti-join as
    * [[cosinePairsLsh]]; candidate generation keys on the LOWER id
    * indexing, so a pair survives iff the lower id's home bucket is
    * not hot — the asymmetry the oracle replays. */
  def cosinePairsLshMultiProbe(df: DataFrame, idCol: Column,
                               vecCol: Column, threshold: Double,
                               dim: Int, nBits: Int = 8,
                               nTables: Int = 2,
                               maxBucketSize: Int = 100000,
                               probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 1 || probeHamming == 2,
      s"probeHamming must be 1 or 2, got $probeHamming")
    val v = normalized(df, idCol, vecCol, "id", "vec")
    // one projection computes every table's code; the probe generator
    // then emits home + the one-bit flips (+ two-bit flips at
    // probeHamming=2 — nBits(nBits-1)/2 extra SHORT rows per vector,
    // the steeper recall curve when near-threshold pairs straddle two
    // sign tests). ONLY the per-vector codes are checkpointed (the
    // sign battery must not re-run for its three consumers); the
    // probe fan-out itself is cheap XOR literals recomputed on the
    // fly — materializing the exploded probe stream filled the disk
    // at 1M vectors x H2 (137 probes/vector/table) for no gain.
    val coded = anchoredCodes(df, idCol, vecCol, dim, nBits, nTables, "code")
      .localCheckpoint()
    val flips1 = (0 until nBits).map(1L << _)
    val flips2 =
      if (probeHamming < 2) Seq.empty[Long]
      else for {
        b1 <- 0 until nBits; b2 <- b1 + 1 until nBits
      } yield (1L << b1) | (1L << b2)
    val probeArr = concat(array(col("code")),
      array((flips1 ++ flips2).map(m =>
        col("code").bitwiseXOR(lit(m))): _*))
    val index = coded
      .select(col("id"), col("tbl"), col("code").as("bucket"))
      .repartition(col("tbl"), col("bucket"))
    val hot = hotBuckets(index, maxBucketSize)
    val idxOk = index.join(broadcast(hot), Seq("tbl", "bucket"),
      "left_anti")
    val prbOk = coded
      .select(col("id"), col("tbl"), explode(probeArr).as("bucket"))
      .join(broadcast(hot), Seq("tbl", "bucket"), "left_anti")
    val candidates = idxOk.as("a")
      .join(prbOk.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifiedPairs(candidates, v, threshold)
  }

  /** Approximate embedding NEAR-DUP pairs at scale: corpus rows bucket
    * by hyperplane sign bits; only pairs sharing a bucket (multi-probe
    * over band rotations) are scored — linear bucketing + within-bucket
    * pairs instead of the quadratic [[cosinePairs]] cross-join. Using
    * `nTables` independent hyperplane sets boosts recall (a pair is a
    * candidate if ANY table buckets them together). Output ⊆ the exact
    * result; recall is measured in SimilaritySpec.
    *
    * `maxBucketSize` bounds the quadratic within-bucket pairing: a
    * bucket of B rows emits B^2/2 candidates, so ONE hot bucket (a dense
    * cluster, or hyperplanes that fail to split the data) turns the
    * linear plan quadratic — measured: a 31k-row bucket at 1M vectors
    * OOM'd the join. Hot buckets are removed by a broadcast ANTI-join
    * against the oversized-bucket list, which is GUARANTEED tiny by
    * pigeonhole (at most rows*tables/cap entries) — no window sort over
    * the full bucketed stream, and the size aggregation reuses the
    * (tbl,bucket) exchange map-side. Output stays a verified subset of
    * the exact result; what's traded is recall inside mega-clusters —
    * pairs there are usually re-caught by another table whose planes do
    * split the cluster. Size it to what one task can pair. */
  def cosinePairsLsh(df: DataFrame, idCol: Column, vecCol: Column,
                     threshold: Double, dim: Int, nBits: Int = 8,
                     nTables: Int = 4, seed: Long = 42L,
                     maxBucketSize: Int = 100000): DataFrame = {
    val v = normalized(df, idCol, vecCol, "id", "vec")
    // single-pass bucketing: ONE projection computes all nTables bucket
    // ids and posexplode emits (tbl, bucket) rows — an nTables-way union
    // would re-read the normalized exchange once per branch and add a
    // stage per table. Only (id, tbl, bucket) reaches the shuffle: the
    // vector itself is dead weight here (candidates are verified by
    // re-joining v), and dropping it slims the exchange by ~dim doubles
    // per emitted row.
    val bucketArr = array((0 until nTables).map { t =>
      bucketExpr(col("vec"), hyperplanes(nBits, dim, seed + t))
    }: _*)
    val bucketedRaw = v
      .select(col("id"), posexplode(bucketArr).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
    pairsFromBuckets(v, bucketedRaw, threshold, maxBucketSize)
  }

  /** Seeded Lloyd's k-means over a driver-held sample (euclidean
    * assignment — equivalent to cosine ranking on L2-normalized input).
    * Empty cells keep their previous centroid. Pure driver CPU: at the
    * bounded sample size (thousands of rows x small dim) this is
    * microseconds-to-milliseconds, vs ~1 scheduler round-trip per
    * iteration for a distributed fit. */
  private def localKMeans(xs: Array[Array[Double]], k: Int, iters: Int,
                          seed: Long): IndexedSeq[IndexedSeq[Double]] = {
    require(xs.nonEmpty, "k-means training sample is empty")
    val rng = new java.util.Random(seed)
    val n = xs.length
    val dim = xs(0).length
    // random init: k distinct sample points (cycled if n < k)
    val order = rng.ints(0, n).distinct().limit(math.min(k, n).toLong)
      .toArray
    val cents = Array.tabulate(k)(i => xs(order(i % order.length)).clone())
    val assign = new Array[Int](n)
    (0 until iters).foreach { _ =>
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) {
            val t = xs(i)(j) - cents(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += xs(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
    }
    cents.map(_.toIndexedSeq).toIndexedSeq
  }

  /** A built IVF index: the cell-partitioned normalized corpus plus the
    * centroids that define the cells. `assigned` has columns
    * (cell, neighbor_id, cv) and is partitioned by cell — persist it
    * (or write it out partitioned by cell) and amortize the build
    * across many query batches; the per-call corpus pass is exactly
    * what makes one-shot IVF no cheaper than brute force. */
  final case class IvfIndex(assigned: DataFrame,
                            centroids: IndexedSeq[IndexedSeq[Double]],
                            nProbe: Int)

  /** Cells ranked by affinity to `vec`, nearest first — ONE sorted
    * struct array (a pairwise when/otherwise max-fold would duplicate
    * its operand subtrees at every level: 2^nCells expression nodes,
    * OOMs the driver at analysis time). One Literal node per centroid. */
  private[operators] def cellsByAffinity(
      cents: IndexedSeq[IndexedSeq[Double]], vec: Column): Column = {
    val scored = array(cents.zipWithIndex.map { case (ctr, i) =>
      struct((-Vectors.dot(vec, typedLit(ctr))).as("negs"),
        lit(i).as("cell"))
    }: _*)
    transform(array_sort(scored), x => x.getField("cell"))
  }

  /** Build the IVF index: fit centroids on a driver-bounded sample and
    * assign every corpus row to its nearest cell (see [[ivfTopK]] for
    * the plan-shape rationale). One corpus pass + one shuffle on cell. */
  def ivfIndex(corpus: DataFrame, cId: Column, cVec: Column,
               nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
               maxTrainRows: Int = 4096): IvfIndex = {
    // fit on a DRIVER-BOUNDED training set: a distributed fit pays a
    // full corpus pass per iteration — a non-starter at 100 TB — and
    // cell quality saturates long before a few hundred samples per cell
    // anyway (coarse-quantizer training on a bounded sample is standard
    // IVF practice). The sample is RAW rows (limit short-circuits the
    // scan; no corpus exchange just to sample) normalized on the driver.
    val train = corpus.select(cVec.cast("array<double>").as("__v"))
      .limit(math.max(maxTrainRows, nCells * 4))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](0).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      }
    val cents = localKMeans(train, nCells, iters = 5, seed)
    IvfIndex(assignCells(corpus, cId, cVec, cents), cents, nProbe)
  }

  /** Query a built [[IvfIndex]]: each query scores only its nProbe
    * nearest cells. Queries are broadcast; the (persisted) index is
    * touched only on the probed cells. */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int,
               qId: Column, qVec: Column,
               excludeSelf: Boolean = true): DataFrame = {
    val q = probeRows(queries, qId, qVec,
      slice(cellsByAffinity(index.centroids, qVec), 1, index.nProbe))
    cosineTopK(index.assigned.join(broadcast(q), Seq("cell")), k, excludeSelf)
  }

  /** Query rows for a cell-probed search: (query_id, qv, cell), one row
    * per probed cell of `cells`, the normalized vector materialized
    * behind the query_id exchange (without it the projections collapse
    * and the norm re-inlines per element of the divide lambda). The
    * cell is wrapped non-nullable so the join infers no isnotnull. */
  private def probeRows(queries: DataFrame, qId: Column, qVec: Column,
                        cells: Column): DataFrame =
    unitBehindExchange(queries, Seq(qId.as("query_id")), qVec,
        Seq(cells.as("cells")), "query_id")(
        v => Seq(col("query_id"), v.as("qv"), explode(col("cells")).as("cell")))
      .select(col("query_id"), col("qv"),
        coalesce(col("cell"), lit(-2)).as("cell"))

  /** Cell assignment shared by the k-means and anchored index builds:
    * one corpus pass, cells ranked from the RAW vector (see [[ivfTopK]]
    * plan notes), one shuffle on cell, normalization post-exchange. */
  private def assignCells(corpus: DataFrame, cId: Column, cVec: Column,
                          cents: IndexedSeq[IndexedSeq[Double]]): DataFrame =
    unitBehindExchange(corpus, Seq(cId.as("neighbor_id")), cVec,
      Seq(coalesce(element_at(cellsByAffinity(cents, cVec), 1), lit(-1))
        .as("cell")), "cell")(
      v => Seq(col("cell"), col("neighbor_id"), v.as("cv")))

  /** IVF with a DETERMINISTIC seed-vector coarse quantizer: centroids
    * are the first `nCells` corpus vectors by id (L2-normalized), so
    * cell ranking, corpus assignment, the probe set, and the ranked
    * result are all reproducible in SQL — the IVF topology gets an
    * exact oracle (cell quality is below a fitted k-means; [[ivfTopK]]
    * stays the quality default, spec-anchored). Every FP step mirrors
    * the engine's: normalize = per-element divide by the left-to-right
    * dot's sqrt; cell rank = raw-vector dot, ties to the lower cell. */
  def ivfTopKAnchored(queries: DataFrame, corpus: DataFrame, k: Int,
                      qId: Column, qVec: Column, cId: Column, cVec: Column,
                      nCells: Int = 16, nProbe: Int = 4,
                      excludeSelf: Boolean = true): DataFrame = {
    val index = ivfIndexAnchored(corpus, cId, cVec, nCells, nProbe)
    ivfQuery(index, queries, k, qId, qVec, excludeSelf)
  }

  /** The vectors of the first `n` corpus rows by id, as doubles — the
    * deterministic slice every SQL-replayable quantizer anchors or
    * trains on. Bounded driver collect (`limit` short-circuits the
    * scan). */
  private[operators] def firstById(corpus: DataFrame, id: Column,
                                   vec: Column, n: Int): Array[Array[Double]] =
    corpus
      .select(id.cast("long").as("id"), vec.cast("array<double>").as("v"))
      .orderBy(col("id")).limit(n)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** L2-normalized anchor centroids: the first `n` corpus vectors by
    * id; shared by the anchored IVF build and [[Pq.ivfAdcTopK]]. */
  private[operators] def anchoredUnitCentroids(
      corpus: DataFrame, id: Column, vec: Column,
      n: Int): IndexedSeq[IndexedSeq[Double]] = {
    val cents = firstById(corpus, id, vec, n).map { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (if (nrm == 0.0) v else v.map(_ / nrm)).toIndexedSeq
    }.toIndexedSeq
    require(cents.length == n,
      s"corpus has fewer than $n rows to seed cells from")
    cents
  }

  /** Integer Lloyd k-means over quantized lanes: init = the first `k`
    * train rows, then `iters` rounds of BIGINT squared-L2 assignment
    * (strict <, so ties go to the lower centroid) and floor-mean update
    * (an empty centroid keeps its previous position). */
  private[operators] def lloydInt(train: Array[Array[Long]], k: Int,
                                  iters: Int): IndexedSeq[IndexedSeq[Long]] = {
    val dim = train(0).length
    var cents = Array.tabulate(k)(i => train(i).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      train.foreach { t =>
        var best = 0; var bestD = Long.MaxValue; var c = 0
        while (c < k) {
          var d = 0L; var j = 0
          while (j < dim) { val x = t(j) - cents(c)(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += t(j); j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) > 0)
          Array.tabulate(dim)(j =>
            math.floor(sums(c)(j).toDouble / counts(c)).toLong)
        else cents(c)
      }
    }
    cents.map(_.toIndexedSeq).toIndexedSeq
  }

  /** The first `n` rows by id, lanes floor-quantized to 2^-20 integers. */
  private[operators] def quantizedFirstById(
      corpus: DataFrame, id: Column, vec: Column,
      n: Int): Array[Array[Long]] =
    firstById(corpus, id, vec, n)
      .map(_.map(d => math.floor(d * 1048576.0).toLong))

  /** INTEGER-EXACT Lloyd refinement of the coarse quantizer: k-means
    * over the QUANTIZED lanes (floor(x * 2^20) — exact 21-bit integers)
    * of a deterministic train slice (first `trainN` rows by id), seeded
    * from the first `nCells` of them, with each refined centroid lane
    * floored back to an integer (floor(sum/count) on the double-exact
    * lane sum). Every step — quantization, argmin assignment (BIGINT
    * squared-L2, ties to the lower cell), the floor-mean — is pure
    * integer/IEEE arithmetic any SQL engine replays bit-for-bit, so a
    * FITTED quantizer finally carries an exact oracle (the Gaussian
    * k-means of [[ivfIndex]] keeps the quality crown; this one beats
    * the anchored seed-vector cells on cell balance at the same
    * oracle-exactness). Bounds: |lane| <= 2^20, so a squared-L2 over
    * dim<=2048 stays < 2^53 (double- AND bigint-exact); lane sums over
    * trainN <= 2^12 rows stay < 2^33 — floor(sum.toDouble/count) is the
    * same IEEE divide in every engine. Driver cost: O(trainN * nCells *
    * dim * iters) integer ops on a bounded sample — microseconds; no
    * corpus pass per iteration (the 100 TB non-starter a distributed
    * fit would pay). */
  def lloydRefinedCentroids(corpus: DataFrame, id: Column, vec: Column,
                            nCells: Int, trainN: Int = 128,
                            iters: Int = 2): IndexedSeq[IndexedSeq[Long]] = {
    val train = quantizedFirstById(corpus, id, vec, trainN)
    require(train.length >= nCells,
      s"train slice has ${train.length} rows < nCells=$nCells")
    lloydInt(train, nCells, iters)
  }

  /** Cells ranked by ascending integer squared-L2 distance from the
    * QUANTIZED vector to integer centroids, ties to the lower cell.
    * dist = q.q - 2*q.c + c.c — every term an exact integer-valued
    * double (< 2^53), so the comparison is engine-independent. Same
    * sorted-struct shape as [[cellsByAffinity]] (one Literal per
    * centroid; no 2^n when/otherwise fold). */
  private[operators] def cellsByIntDistance(
      cents: IndexedSeq[IndexedSeq[Long]], vec: Column): Column = {
    val q = quantized(vec)
    val qq = Vectors.dot(q, q)
    val scored = array(cents.zipWithIndex.map { case (ctr, i) =>
      val cc = ctr.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      val dist = qq - lit(2.0) * Vectors.dot(q, typedLit(ctr.map(_.toDouble))) +
        lit(cc)
      struct(dist.as("dist"), lit(i).as("cell"))
    }: _*)
    transform(array_sort(scored), x => x.getField("cell"))
  }

  /** IVF with the [[lloydRefinedCentroids]] quantizer: the fitted-cell
    * quality path that is STILL exactly SQL-replayable — cells, probe
    * sets, and ranks all replay from the parquet floats (the DuckDB
    * oracle unrolls the same `iters` Lloyd rounds in integer CTEs).
    * Same plan shape as [[ivfQuery]]: cell + norm projected scan-side,
    * ONE corpus shuffle on cell, normalization post-exchange, queries
    * broadcast with their probe cells exploded, bounded [[TopK]]. */
  def ivfTopKLloyd(queries: DataFrame, corpus: DataFrame, k: Int,
                   qId: Column, qVec: Column, cId: Column, cVec: Column,
                   nCells: Int = 8, nProbe: Int = 3, trainN: Int = 128,
                   iters: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    val cents = lloydRefinedCentroids(corpus, cId, cVec, nCells, trainN, iters)
    val assigned = unitBehindExchange(corpus,
      Seq(coalesce(element_at(cellsByIntDistance(cents, cVec), 1), lit(-1))
        .as("cell"), cId.as("neighbor_id")), cVec, Nil, "cell")(
      v => Seq(col("cell"), col("neighbor_id"), v.as("cv")))
    // the query_id exchange also keeps the probe-cell battery un-inlined
    val q = probeRows(queries, qId, qVec,
      slice(cellsByIntDistance(cents, qVec), 1, nProbe))
    cosineTopK(assigned.join(broadcast(q), Seq("cell")), k, excludeSelf)
  }

  /** CONTRASTIVE TRIPLET mining — the training-data assembly step for
    * embedding models: every anchor pairs with its nearest neighbor as
    * the POSITIVE and `nNegatives` md5-sampled corpus rows as
    * NEGATIVES (random negatives, the standard InfoNCE baseline;
    * hard-negative mining would rank by cosine instead of md5 — same
    * topology, swap the negative score). Negatives are deterministic
    * (u32-md5 of "anchor:candidate" ranks the corpus per anchor), so
    * the whole triplet set replays exactly in SQL.
    *
    * Shape: positives ride [[bruteForceTopK]] (broadcast anchors, one
    * corpus pass, bounded TopK); negatives broadcast the anchor roster
    * against the corpus ID STREAM (ids only — vectors are dead weight
    * here) and reduce through the same bounded TopK — no per-anchor
    * window over the corpus. Anchor batches are small by contract
    * (they are broadcast); mine big anchor sets in batches. */
  def contrastiveTriplets(anchors: DataFrame, corpus: DataFrame,
                          aId: Column, aVec: Column,
                          cId: Column, cVec: Column,
                          nNegatives: Int = 3): DataFrame = {
    val pos = bruteForceTopK(anchors, corpus, k = 1, aId, aVec, cId, cVec)
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("positive_id"),
        col("score").as("pos_score"))
    val roster = anchors.select(aId.cast("long").as("anchor_id"))
    val candidates = corpus.select(cId.cast("long").as("cand_id"))
      .crossJoin(broadcast(roster))
    // rank candidates per anchor by u32(md5("anchor:cand")) ASC ==
    // TopK score DESC on the negated hash; ties impossible below u32
    // collision, and the id tiebreak is deterministic anyway
    val ranked = TopK.perQuery(
      candidates.select(col("anchor_id").as("query_id"),
        col("cand_id").as("neighbor_id"),
        (-graft.expressions.Md5Hex.u32(concat(col("anchor_id").cast("string"),
          lit(":"), col("cand_id").cast("string")))
          .cast("double")).as("score")),
      // +2 spare slots: anchor itself and the positive are filtered out
      nNegatives + 2)
    ranked.join(broadcast(pos), ranked("query_id") === pos("anchor_id"))
      .filter(col("neighbor_id") =!= col("anchor_id") &&
        col("neighbor_id") =!= col("positive_id"))
      // re-rank after the exclusions so neg_rank is dense 1..n
      .select(col("anchor_id"), col("positive_id"), col("pos_score"),
        col("neighbor_id").as("negative_id"), col("rank"))
      .withColumn("neg_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("anchor_id")).orderBy(col("rank"))))
      .filter(col("neg_rank") <= nNegatives)
      .select(col("anchor_id"), col("positive_id"), col("pos_score"),
        col("neg_rank"), col("negative_id"))
  }

  /** Hard-negative mining: the SAME triplet assembly as
    * [[contrastiveTriplets]] but negatives are the CLOSEST corpus rows
    * after the positive (cosine-ranked), not md5-sampled — the
    * hard-negative regime of contrastive training (DPR-style). ONE
    * [[bruteForceTopK]] pass serves both legs: rank 1 is the positive,
    * ranks 2..n+1 the hardest negatives (vs contrastiveTriplets' two
    * corpus passes); neg_score rides along so a trainer can band-filter
    * (semi-hard: keep neg_score < pos_score). Output: (anchor_id,
    * positive_id, pos_score, neg_rank, negative_id, neg_score). */
  def hardNegativeTriplets(anchors: DataFrame, corpus: DataFrame,
                           aId: Column, aVec: Column,
                           cId: Column, cVec: Column,
                           nNegatives: Int = 3): DataFrame = {
    // pinned: both the positive slice and the negative slice read this
    // k+1-row-per-anchor table; without the pin each consumer re-runs
    // the corpus scan under its own aggregate subtree
    val top = bruteForceTopK(anchors, corpus, k = nNegatives + 1,
      aId, aVec, cId, cVec).localCheckpoint()
    val pos = top.filter(col("rank") === 1)
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("positive_id"),
        col("score").as("pos_score"))
    top.filter(col("rank") > 1)
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("negative_id"),
        (col("rank") - 1).cast("int").as("neg_rank"),
        col("score").as("neg_score"))
      .join(broadcast(pos), "anchor_id")
      .select(col("anchor_id"), col("positive_id"), col("pos_score"),
        col("neg_rank"), col("negative_id"), col("neg_score"))
  }

  /** Greedy k-CENTER coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation to the k-center cover, the
    * standard diversity-coreset picker for training-data subsetting):
    * seed with the lowest id, then repeatedly take the point FARTHEST
    * from the selected set (argmin over candidates of max cosine to
    * selected, ties to the lower id). Emits each pick's max-cosine at
    * selection time — pick k+1's value is the COVER RADIUS of the
    * first k (how well k centers span the corpus).
    *
    * Shape: k static steps; each is one corpus pass against the ≤k
    * BROADCAST selected vectors reduced by a TakeOrdered(1) — no
    * per-step shuffle of the corpus. At extreme scale pre-sample
    * candidates; the greedy is the same. Output:
    * (pick_rank, id, max_sim_e6). */
  def selectKCenter(corpus: DataFrame, cId: Column, cVec: Column,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val v = normalized(corpus, cId, cVec, "id", "nv").localCheckpoint()
    val seed = v.orderBy(col("id")).limit(1)
      .select(lit(1).as("pick_rank"), col("id"), col("nv"),
        lit(-1000000L).as("max_sim_e6"))
      .localCheckpoint()
    var selected = seed
    for (t <- 2 to k) {
      val sel = selected.select(col("id").as("__sid"),
        col("nv").as("__sv"))
      val next = v
        .join(selected.select(col("id")), Seq("id"), "left_anti")
        .join(broadcast(sel))
        .groupBy(col("id"))
        .agg(max(round(round(Vectors.dot(col("nv"), col("__sv")), 6)
          * 1e6).cast("long")).as("max_sim_e6"))
        .orderBy(col("max_sim_e6").asc, col("id").asc).limit(1)
        .join(v, "id")
        .select(lit(t).as("pick_rank"), col("id"), col("nv"),
          col("max_sim_e6"))
      selected = selected.union(next).localCheckpoint()
    }
    selected.select(col("pick_rank"), col("id"), col("max_sim_e6"))
  }

  /** MATRYOSHKA truncation evaluation (Kusupati et al. 2022, NeurIPS:
    * MRL embeddings are served TRUNCATED to cut index cost — but only
    * if recall holds): for each prefix length d, run top-k with
    * vectors sliced to their first d lanes and report
    * recall_ppm(d) = |topk_d ∩ topk_full|·10^6 div (|queries|·k) —
    * the dimension-vs-recall curve that decides how short the serving
    * index can go. One bounded [[bruteForceTopK]] per dim (queries
    * broadcast), match counting on (query, neighbor) pairs; all
    * integer. Output one row per dim: (dim, n_hits, recall_ppm). */
  def matryoshkaRecall(queries: DataFrame, corpus: DataFrame,
                       qId: Column, qVec: Column, cId: Column,
                       cVec: Column, dims: Seq[Int],
                       k: Int = 5): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val nQ = queries.count() // bounded side by contract (broadcast)
    val full = bruteForceTopK(queries, corpus, k, qId, qVec, cId, cVec)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    dims.map { d =>
      val topD = bruteForceTopK(
        queries.select(qId.as("__qid"), slice(qVec, 1, d).as("__qv")),
        corpus.select(cId.as("__cid"), slice(cVec, 1, d).as("__cv")),
        k, col("__qid"), col("__qv"), col("__cid"), col("__cv"))
        .select(col("query_id"), col("neighbor_id"))
      topD.join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("dim"), col("n_hits"),
          expr(s"n_hits * 1000000 DIV ${nQ * k}").as("recall_ppm"))
    }.reduce(_ union _)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, ACL — the
    * ratio-margin criterion behind mined parallel corpora like
    * CCMatrix/WikiMatrix): a candidate pair (x, y) is kept only when
    * its score stands out from BOTH sides' neighborhoods,
    *   margin(x,y) = 2·cos(x,y) / (avg_k(x→tgt) + avg_k(y→src)) > 1 —
    * absolute-cosine thresholds can't separate true translations from
    * dense hubs, the margin can. Integer-exact: round-6 scores scale to
    * e6 longs and margin_ppm = 2k·s_e6·10^6 div (Σtopk_x + Σtopk_y)
    * (equal k on both sides folds the /k of each average into the 2k),
    * so the mined set replays bit-for-bit in SQL.
    *
    * Shape: the forward pass is one bounded [[bruteForceTopK]] (the
    * src BATCH is broadcast — mine a big src side in batches; the
    * batch also defines the backward neighborhood, so batch membership
    * is part of the mining contract). Backward neighborhoods are
    * computed ONLY for the ≤ |src|·k distinct forward candidates — the
    * standard trick: y's average is needed just for pairs that already
    * exist. At corpus scale swap both TopK calls for the IVF/LSH
    * paths; the margin arithmetic is unchanged. Output: best tgt per
    * src by margin (ties to the lower tgt id), kept iff
    * margin_ppm > 10^6. Columns (src_id, tgt_id, s_e6, margin_ppm). */
  def mineBitextMargin(src: DataFrame, tgt: DataFrame,
                       sId: Column, sVec: Column,
                       tId: Column, tVec: Column, k: Int = 4): DataFrame = {
    // pinned: the forward table feeds per-pair rows, per-src sums, and
    // the backward candidate roster
    val fwd = bruteForceTopK(src, tgt, k, sId, sVec, tId, tVec,
      excludeSelf = false)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        round(col("score") * 1e6).cast("long").as("s_e6"))
      .localCheckpoint()
    val sumX = fwd.groupBy(col("src_id")).agg(sum(col("s_e6")).as("sum_x"))
    val candVecs = fwd.select(col("tgt_id")).distinct()
      .join(tgt.select(tId.as("tgt_id"), tVec.as("__v")), "tgt_id")
    val sumY = bruteForceTopK(candVecs, src, k,
      col("tgt_id"), col("__v"), sId, sVec, excludeSelf = false)
      .select(col("query_id").as("tgt_id"),
        round(col("score") * 1e6).cast("long").as("b_e6"))
      .groupBy(col("tgt_id")).agg(sum(col("b_e6")).as("sum_y"))
    val scored = fwd
      .join(broadcast(sumX), "src_id")
      .join(broadcast(sumY), "tgt_id")
      .withColumn("margin_ppm",
        expr(s"${2 * k} * s_e6 * 1000000 DIV (sum_x + sum_y)"))
    scored
      .withColumn("__rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_id"))
          .orderBy(col("margin_ppm").desc, col("tgt_id"))))
      .filter(col("__rk") === 1 && col("margin_ppm") > 1000000L)
      .select(col("src_id"), col("tgt_id"), col("s_e6"), col("margin_ppm"))
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein 1998,
    * SIGIR) — diversified retrieval: greedily pick `k` of the top-N
    * candidates, each step taking argmax(relevance − maxSimToSelected)
    * (with e6-integer scores this IS the λ=0.5 MMR argmax, the ½
    * scaling out of the comparison), ties to the lower id. The RAG
    * answer to near-duplicate passages crowding a context window.
    *
    * Shape: ONE [[bruteForceTopK]] bounds candidates to N per query;
    * candidate-pair sims are |queries|·N² bounded rows; each greedy
    * step is an anti-join + max-sim join + bounded argmax — k STATIC
    * plan steps over checkpointed candidate tables, no driver loop
    * over data. Output: (query_id, mmr_rank, neighbor_id, rel_e6). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
                qId: Column, qVec: Column, cId: Column, cVec: Column,
                nCandidates: Int = 20, k: Int = 5): DataFrame = {
    require(k >= 1 && nCandidates >= k, "need nCandidates >= k >= 1")
    val cand = bruteForceTopK(queries, corpus, nCandidates,
      qId, qVec, cId, cVec)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score") * 1e6).cast("long").as("rel_e6"))
    mmrFromCandidates(cand, corpus, cId, cVec, k)
  }

  /** The greedy half of [[mmrRerank]], decoupled from candidate
    * generation so ANY recall stage can feed it — in particular a
    * PQ/IVF-PQ compressed index ([[Pq.adcTopK]] top-N), the two-stage
    * retrieval shape that serves selection at 100 TB: candidates come
    * from 8-byte code rows, only the ≤N survivors per query touch
    * exact vectors again. `cand` = (query_id, neighbor_id, rel_e6)
    * with rel already EXACT (recompute it on the bounded candidate
    * set when the recall stage's scores are approximate). */
  def mmrFromCandidates(candIn: DataFrame, corpus: DataFrame,
                        cId: Column, cVec: Column, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val cand = candIn
      .select(col("query_id"), col("neighbor_id"), col("rel_e6"))
      .localCheckpoint()
    val cvecs = normalized(corpus, cId, cVec, "neighbor_id", "nv")
    val candV = cand.select(col("query_id"), col("neighbor_id"))
      .join(cvecs, "neighbor_id")
    val psim = candV.as("x")
      .join(candV.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.neighbor_id") =!= col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        col("x.neighbor_id").as("a"), col("y.neighbor_id").as("b"),
        round(round(Vectors.dot(col("x.nv"), col("y.nv")), 6) * 1e6)
          .cast("long").as("sim_e6"))
      .localCheckpoint()
    def argmax(df: DataFrame, score: Column, rank: Int): DataFrame =
      df.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(score.desc, col("neighbor_id"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), lit(rank).as("mmr_rank"),
          col("neighbor_id"), col("rel_e6"))
    var selected = argmax(cand, col("rel_e6"), 1).localCheckpoint()
    for (t <- 2 to k) {
      val remaining = cand.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val maxSim = psim
        .join(selected.select(col("query_id"),
          col("neighbor_id").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("neighbor_id"))
        .agg(max(col("sim_e6")).as("__ms"))
      val pick = argmax(
        remaining.join(maxSim, Seq("query_id", "neighbor_id"), "left")
          .withColumn("__mmr",
            col("rel_e6") - coalesce(col("__ms"), lit(0L))),
        col("__mmr"), t)
      selected = selected.union(pick).localCheckpoint()
    }
    selected
  }

  /** The [[ivfTopKAnchored]] build step exposed as an index: the
    * deterministic seed-vector quantizer, so a persisted copy serves
    * exact-oracle queries. */
  def ivfIndexAnchored(corpus: DataFrame, cId: Column, cVec: Column,
                       nCells: Int = 16, nProbe: Int = 4): IvfIndex = {
    val cents = anchoredUnitCentroids(corpus, cId, cVec, nCells)
    IvfIndex(assignCells(corpus, cId, cVec, cents), cents, nProbe)
  }

  /** INCREMENTAL index maintenance: assign ONLY delta rows against an
    * existing index's centroids — the daily-ingest path where the
    * 100 TB base is never rescanned and the coarse quantizer never
    * refits, so cell semantics stay stable across index versions (a
    * refit would silently re-home every base vector and invalidate
    * the persisted partitions). Output shape == `index.assigned`;
    * union or append-to-partition as the maintenance job prefers. */
  def ivfAssignDelta(index: IvfIndex, delta: DataFrame, cId: Column,
                     cVec: Column): DataFrame =
    assignCells(delta, cId, cVec, index.centroids)

  /** Persist a built [[IvfIndex]]: `assigned` partitioned BY CELL — the
    * probe key becomes a partition directory, so a query batch touches
    * only its nProbe cells' FILES — plus the nCells-row centroid table.
    * This is the amortization path the [[ivfTopK]] scaladoc prescribes:
    * build once (one corpus pass), write, serve many query batches
    * without ever re-assigning the corpus. */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/assigned")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Re-open a persisted IVF index. The centroid read is driver-bounded
    * (nCells rows); `assigned` stays a LAZY partitioned scan —
    * [[ivfQuery]]'s broadcast cell join reaches it as a partition-column
    * filter, so only probed cells' files are read. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   nProbe: Int): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    // the partition column comes back as a directory-inferred INT at
    // the END of the schema; restore the written column order
    val assigned = spark.read.parquet(s"$path/assigned")
      .select(col("cell").cast("int").as("cell"),
        col("neighbor_id"), col("cv"))
    IvfIndex(assigned, cents, nProbe)
  }

  /** IVF (inverted-file) approximate top-k: k-means centroids partition
    * the corpus into cells; each query scores only the `nProbe` cells
    * whose centroids are closest — the classic large-corpus ANN layout
    * (centroids are tiny and broadcast; the corpus is scanned once to
    * assign cells, then queries touch ~nProbe/nCells of it).
    *
    * Plan-shape notes (each was a measured multi-second trap at driver
    * scale and a corpus-pass multiplier at 100 TB):
    *  - Cells are ranked from the RAW vector: argsort of dot(v, c) equals
    *    argsort of cosine (||v|| is a positive per-row constant), so the
    *    normalization lambda stays OUT of the cell expression. With
    *    normalized input, the join's inferred isnotnull(cell) predicate
    *    was pushed into the parquet scan with the whole expression
    *    inlined — including the norm re-expanded PER ELEMENT of the
    *    divide lambda (dim^2 * nCells multiplies per row, interpreted).
    *  - The join key is wrapped non-nullable (coalesce) so no isnotnull
    *    filter is inferred at all.
    *  - One corpus exchange total: assignment happens scan-side (nCells
    *    cheap codegen dots), the shuffle is on cell, and the normalized
    *    vector is materialized post-exchange where the norm is a plain
    *    attribute. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              qId: Column, qVec: Column, cId: Column, cVec: Column,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              excludeSelf: Boolean = true,
              maxTrainRows: Int = 4096): DataFrame =
    ivfQuery(
      ivfIndex(corpus, cId, cVec, nCells, nProbe, seed, maxTrainRows),
      queries, k, qId, qVec, excludeSelf)

  /** [[lshTopK]] with md5-anchored sign planes: buckets come from an
    * integer sign test over the QUANTIZED raw vector (computed
    * scan-side, before the one exchange — the ivfIndex pattern), so the
    * probe set, candidate set, and ranked result are all
    * engine-independent and the query carries an exact DuckDB oracle. */
  def lshTopKAnchored(queries: DataFrame, corpus: DataFrame, k: Int,
                      qId: Column, qVec: Column, cId: Column, cVec: Column,
                      dim: Int, nBits: Int = 8, probeHamming: Int = 2,
                      excludeSelf: Boolean = true): DataFrame = {
    val planes = md5SignPlanes(nBits, dim, table = 0)
    // bucket + norm projected scan-side from the raw vector; the
    // exchange barrier keeps the divide lambda reading __nrm as a
    // materialized attribute (see unitBehindExchange)
    val c = unitBehindExchange(corpus, Seq(cId.as("neighbor_id")), cVec,
      Seq(bucketExpr(quantized(cVec), planes).as("bucket")), "bucket")(
      v => Seq(col("neighbor_id"), col("bucket"), v.as("cv")))
    val q = unitBehindExchange(queries, Seq(qId.as("query_id")), qVec,
      Seq(bucketExpr(quantized(qVec), planes).as("qbucket")), "query_id")(
      v => Seq(col("query_id"), col("qbucket"), v.as("qv")))
    cosineTopK(c.join(broadcast(q),
      bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probeHamming),
      k, excludeSelf)
  }

  /** Approximate top-k via sign-bucket LSH: corpus rows hash to one of
    * 2^nBits buckets; each query probes buckets within Hamming distance
    * <= probeHamming of its own (multi-probe improves recall at small
    * fan-out cost). Output shape matches [[bruteForceTopK]]; recall is
    * checked against it in SimilaritySpec. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              qId: Column, qVec: Column, cId: Column, cVec: Column,
              dim: Int, nBits: Int = 8, probeHamming: Int = 2,
              seed: Long = 42L, excludeSelf: Boolean = true): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val c = normalized(corpus, cId, cVec, "neighbor_id", "cv")
      .withColumn("bucket", bucketExpr(col("cv"), planes))
      .repartition(col("bucket"))
    val q = normalized(queries, qId, qVec, "query_id", "qv")
      .withColumn("qbucket", bucketExpr(col("qv"), planes))
    cosineTopK(c.join(broadcast(q),
      bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probeHamming),
      k, excludeSelf)
  }
}
