package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{AdcLookup, PqDistances}
import graft.functions.Vectors

/** Product quantization (PQ) — the embedding-compression layer of a
  * 100 TB similarity index (Jegou et al. 2011, the IVF-PQ family every
  * large ANN service runs): split the d-dim vector into `m` subspaces,
  * quantize each subvector to its nearest of `k` per-subspace
  * centroids, and keep only the m code bytes — a 64-dim float32
  * embedding (256 B) becomes 8 codes (8 B), a 32x shrink that lets the
  * whole corpus index sit in executor memory. Query scoring is ADC
  * (asymmetric distance computation): the query stays EXACT, its
  * distance to each of the m*k centroids is tabulated once into a
  * lookup table, and each corpus candidate costs m table lookups
  * instead of d multiplies.
  *
  * Codebook determinism — same discipline as
  * [[Similarity.ivfTopKAnchored]]: centroids are the subvectors of the
  * first `k` corpus rows by id (raw, unnormalized — PQ quantizes
  * squared-L2 geometry), so codes, tables, and ranks are reproducible
  * in SQL and the whole pipeline carries an exact DuckDB oracle (a
  * k-means codebook quantizes tighter; the anchored build pins the
  * TOPOLOGY — spec golden values cover reconstruction quality).
  *
  * FP parity: every distance is `(||x||^2 - 2*x.c) + ||c||^2` where
  * each dot is a left-to-right lane fold on doubles (the codegen'd
  * [[Vectors.dot]] kernel == DuckDB `list_sum` of lane products),
  * `2*x.c` is an exact exponent bump, and `||c||^2` is a driver-side
  * left fold of the same parquet doubles — identical bits at every
  * step in both engines (argmin ties break to the lower centroid
  * index in both).
  *
  * Scale shape: encoding is one codegen'd scan (no shuffle, O(k*d)
  * flops per row — the k-means-assign cost); ADC is one scan of the
  * CODES (m bytes per row, not d floats) against a broadcast query
  * LUT, ranked by the bounded [[TopK]] aggregate — no window, no
  * corpus-side state beyond k entries per (partition, query).
  */
object Pq {

  /** books(j)(i) = lanes of centroid i in subspace j (m x k x d/m). */
  type Books[T] = IndexedSeq[IndexedSeq[IndexedSeq[T]]]
  type Codebook = Books[Double]

  /** Anchored codebook: subvectors of the first `k` corpus rows by id.
    * Bounded driver collect (k rows), `limit` short-circuits the scan. */
  def fitAnchored(corpus: DataFrame, id: Column, vec: Column,
                  m: Int, k: Int): Codebook = {
    val vs = Similarity.firstById(corpus, id, vec, k)
    require(vs.length == k, s"corpus has fewer than $k rows to anchor on")
    val d = vs.head.length
    require(d % m == 0, s"dim $d is not divisible by m=$m subspaces")
    val sub = d / m
    IndexedSeq.tabulate(m) { j =>
      IndexedSeq.tabulate(k)(i =>
        vs(i).slice(j * sub, (j + 1) * sub).toIndexedSeq)
    }
  }

  /** Per-subspace squared L2 distances via the decomposition
    * `||x - c||^2 = (||x||^2 - 2*x.c) + ||c||^2`: the dots delegate to
    * the codegen'd [[graft.functions.Vectors.dot]] loop kernel, so the
    * whole battery stays a handful of loop nodes instead of k*d inline
    * `(x-c)^2` terms (the inline form blew past Janino's method limit
    * and fell out of codegen entirely). `||c||^2` folds on the driver
    * left-to-right — the same IEEE op sequence as the oracle's
    * `list_sum`, so every distance double is bit-identical
    * cross-engine. */
  // kept (unused in queries since the LUT became one PqDistances loop)
  // for the battery-vs-loop differential spec, like Dedup.shinglesHof
  private[graft] def subDists(vec: Column, j: Int,
                              cents: IndexedSeq[IndexedSeq[Double]]): Seq[Column] = {
    val sub = cents.head.length
    val xs = slice(vec, j * sub + 1, sub)
    val xx = Vectors.dot(xs, xs)
    cents.map { c =>
      val cc = c.foldLeft(0.0)((a, x) => a + x * x)
      (xx - lit(2.0) * Vectors.dot(xs, typedLit(c))) + lit(cc)
    }
  }

  /** Every flat subspace-major layout (PqDistances inputs, AdcLookup
    * LUTs) assumes a UNIFORM per-subspace centroid count: a ragged
    * codebook whose total happens to divide evenly would silently
    * read the wrong entries (ADVICE r9). The in-repo fitters always
    * produce uniform k (empty centroids keep position); fail loudly
    * on anything else. */
  private def requireUniform(ks: Seq[Int]): Unit =
    require(ks.distinct.size == 1,
      s"ragged codebook (per-subspace centroid counts ${ks.mkString(",")}) " +
        "— flat subspace-major layouts need uniform k")

  /** How a codebook's lanes reach the [[PqDistances]] kernel: as
    * doubles, and whether the vector is floor(x*2^20)-quantized first.
    * The lane type decides both. An [[IntCodebook]] holds quantized
    * integers, so its vectors are quantized too and every distance is
    * an exact integer (ranked unrounded, emitted as BIGINT); a
    * [[Codebook]] keeps the raw lanes and rounds distances to 6 places. */
  private[graft] sealed abstract class Lanes[T](val quantized: Boolean,
                                                val toDouble: T => Double)
  private[graft] object Lanes {
    implicit val float: Lanes[Double] = new Lanes[Double](false, x => x) {}
    implicit val int: Lanes[Long] = new Lanes[Long](true, _.toDouble) {}
  }

  /** One [[PqDistances]] output over a codebook of either lane type,
    * passed flat: the subspace-major lane array ((j*k + i)*sub + l) and
    * the per-centroid squared norms (j*k + i, folded left-to-right like
    * [[subDists]]' `cc`; integer lanes convert to exact-integer-valued
    * doubles first, like [[subDistsInt]]). */
  private[graft] def pqDistances[T](vec: Column, books: Books[T],
                                    out: PqDistances.Out)(
      implicit lanes: Lanes[T]): Column = {
    requireUniform(books.map(_.length))
    val flat = books.map(_.map(_.map(lanes.toDouble)))
    PqDistances(vec.cast("array<double>"),
      typedLit(flat.flatMap(_.flatMap(identity))),
      typedLit(flat.flatMap(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))),
      books.length, lanes.quantized, out)
  }

  /** Per-subspace nearest-centroid codes as ONE generated loop — replaces
    * the m*k `least(struct(dist, i))` expression battery (same
    * distances, same ties-to-lower-index argmin, bit-identical codes;
    * the AdcLookup lesson applied to the encode side). */
  private def codesOf[T: Lanes](vec: Column, books: Books[T]): Column =
    pqDistances(vec, books, PqDistances.Codes)

  /** Query-side flat ADC LUT as one generated loop (the subDists
    * battery twin, bit-identical per entry). */
  private[graft] def lutOf[T: Lanes](vec: Column, books: Books[T]): Column =
    pqDistances(vec, books, PqDistances.Table)

  /** (vec_id, codes array<int>, qerrs array<double>): per-subspace
    * nearest-centroid index and round-6 quantization error. One
    * codegen'd scan, zero shuffles; codes and best distances each one
    * generated loop. The rounded qerrs derive from the staged
    * best-distance array in a SECOND projection (the non-cheap "__d"
    * is referenced m times, so CollapseProject keeps the stage and the
    * loop runs once per row); callers that only keep `codes` prune the
    * distance loop away entirely. */
  def encode(df: DataFrame, id: Column, vec: Column,
             books: Codebook): DataFrame = {
    val m = books.length
    df.select(id.as("vec_id"),
        codesOf(vec, books).as("codes"),
        pqDistances(vec, books, PqDistances.Best).as("__d"))
      .select(col("vec_id"), col("codes"),
        array((0 until m).map(j =>
          round(element_at(col("__d"), j + 1), 6)): _*).as("qerrs"))
  }

  /** Integer codebook: books(j)(i) = quantized lanes of centroid i of
    * subspace j. */
  type IntCodebook = Books[Long]

  /** LLOYD-REFINED integer codebook — [[fitAnchored]]'s k-means
    * upgrade, [[graft.operators.Similarity.lloydRefinedCentroids]]'
    * recipe applied PER SUBSPACE: train slice = first `trainN` rows by
    * id (bounded driver collect), lanes floor-quantized to 2^-20
    * integers, init = the first `k` rows' subvectors (exactly the
    * anchored codebook), then `iters` rounds of BIGINT squared-L2
    * assignment (strict <, ties to the lower centroid) and floor-mean
    * update (empty centroids keep their position). Every step is
    * integer arithmetic, so the oracle unrolls the same rounds in SQL
    * CTEs and the refined codebook — hence codes, LUTs, and ADC
    * ranks — replays bit-for-bit. Distortion is non-increasing per
    * round (k-means descent), pinned in SimilaritySpec. */
  def fitLloydQuantized(corpus: DataFrame, id: Column, vec: Column,
                        m: Int, k: Int, trainN: Int = 256,
                        iters: Int = 2): IntCodebook = {
    val train = Similarity.quantizedFirstById(corpus, id, vec, trainN)
    require(train.length >= k, s"train slice has ${train.length} rows < k=$k")
    val d = train(0).length
    require(d % m == 0, s"dim $d is not divisible by m=$m subspaces")
    val sub = d / m
    IndexedSeq.tabulate(m) { j =>
      Similarity.lloydInt(train.map(_.slice(j * sub, (j + 1) * sub)), k, iters)
    }
  }

  /** [[subDists]] over the INT codebook: quantized subvector vs
    * integer centroids, same decomposition — every term an
    * exact-integer-valued double (< 2^48), so the value equals
    * DuckDB's direct BIGINT Σ(x-c)^2 bit-for-bit. */
  // kept for the battery-vs-loop differential spec, like subDists
  private[graft] def subDistsInt(vec: Column, j: Int,
                                 cents: IndexedSeq[IndexedSeq[Long]]): Seq[Column] =
    subDists(Similarity.quantized(vec), j, cents.map(_.map(_.toDouble)))

  /** [[ivfAdcTopK]] with the Lloyd-refined INT codebook: same plan
    * shape (one corpus scan fusing cell + code batteries, one cell
    * shuffle, broadcast query LUTs, bounded TopK), integer ADC
    * distances emitted as BIGINT. */
  def ivfAdcTopKInt(queries: DataFrame, corpus: DataFrame,
                    books: IntCodebook, k: Int, qId: Column, qVec: Column,
                    cId: Column, cVec: Column,
                    nCells: Int = 16, nProbe: Int = 4,
                    excludeSelf: Boolean = true): DataFrame =
    ivfAdc(queries, corpus, books, k, qId, qVec, cId, cVec, nCells, nProbe,
      excludeSelf)

  /** The ranking tail of every ADC search: score each joined (codes,
    * lut) pair by [[AdcLookup]] — one codegen'd primitive loop over the
    * FLAT subspace-major LUT (j*k + code), summing in the same
    * ascending-j order as the nested element_at chain it replaced, whose
    * two indirections per subspace per PAIR were the measured ADC
    * hot-path limiter (STRESS_HYBRID_r09.txt) — and keep the top k per
    * query as (query_id, neighbor_id, rank, adc_dist). The score is the
    * NEGATED distance, so TopK's score-DESC contract ranks ascending
    * distance and ties fall to its neighbor_id-ASC tiebreak; float
    * distances negate AFTER rounding (exact), int distances are exact
    * integers already (no rounding, emitted as BIGINT). */
  private def adcTopKOf(joined: DataFrame, lanes: Lanes[_], k: Int,
                        excludeSelf: Boolean): DataFrame = {
    val adc = AdcLookup(col("codes"), col("lut"))
    val dist = -col("score")
    Similarity.rankTopK(joined, if (lanes.quantized) -adc else -round(adc, 6),
        k, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (if (lanes.quantized) dist.cast("long") else dist).as("adc_dist"))
  }

  /** ADC top-k: rank `corpusCodes` (neighbor_id, codes — the
    * [[encode]] output, 8 B/row) for each query row by the summed
    * subspace table lookups, ascending distance, ties to the lower
    * neighbor id. Queries broadcast with their m*k LUT materialized
    * behind an exchange (CollapseProject would otherwise re-inline the
    * whole distance battery per PAIR — the Similarity.normalized
    * barrier rationale). */
  def adcTopK(queries: DataFrame, corpusCodes: DataFrame, books: Codebook,
              k: Int, qId: Column, qVec: Column,
              excludeSelf: Boolean = true): DataFrame = {
    // flat subspace-major LUT as ONE generated loop (was an m*k subDists
    // expression forest — bit-identical doubles)
    val q = queries
      .select(qId.as("query_id"), lutOf(qVec, books).as("lut"))
      .repartition(col("query_id"))
    // exchange barrier between the caller's encode battery and the
    // join: fused, the per-corpus-row code battery + the per-PAIR ADC
    // sum share one generated method, which blows Janino's limit and
    // drops the whole nested-loop stage to interpreted execution —
    // measured 300x+ at 1M codes (ScaleStress). The shuffle carries
    // the 8-byte code rows, exactly what PQ compressed them for.
    // (ivfAdcTopK's repartition(cell) is this same barrier.)
    val codes = corpusCodes.repartition(col("neighbor_id"))
    adcTopKOf(codes.crossJoin(broadcast(q)), Lanes.float, k, excludeSelf)
  }

  /** IVF-PQ — the full large-scale ANN index (Jegou et al. 2011): the
    * IVF coarse quantizer prunes candidates to the query's nProbe
    * nearest cells, and ADC over the PQ codes ranks only those
    * candidates — each query touches ~nProbe/nCells of the corpus, at
    * m bytes per candidate instead of d floats. At 100 TB this is the
    * only ANN shape that fits: the code index is 32x smaller than the
    * raw embeddings AND each query scans a fixed fraction of it.
    *
    * Both quantizers are anchored ([[fitAnchored]] subspace codebook;
    * [[Similarity.anchoredUnitCentroids]] coarse cells), so cells,
    * codes, probe sets, and ranks all replay exactly in SQL. Plan
    * shape: ONE corpus scan emits (cell, neighbor_id, codes) — the
    * cell ranking and the full code battery fused in the same
    * codegen'd projection — shuffled once on cell; queries broadcast
    * with their m*k LUT and explode to nProbe (query, cell) probe
    * rows; the join feeds the bounded [[TopK]] aggregate. Residual
    * encoding (codes of `x - cent(cell)`, the paper's quality
    * refinement) would recenter each subspace battery per cell —
    * nCells times the encode cost for tighter codes; the non-residual
    * form keeps encode cell-independent and the oracle single-pass. */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, books: Codebook,
                 k: Int, qId: Column, qVec: Column,
                 cId: Column, cVec: Column,
                 nCells: Int = 16, nProbe: Int = 4,
                 excludeSelf: Boolean = true): DataFrame =
    ivfAdc(queries, corpus, books, k, qId, qVec, cId, cVec, nCells, nProbe,
      excludeSelf)

  /** The body of [[ivfAdcTopK]] and [[ivfAdcTopKInt]]; the lane type
    * picks the quantization, the rounding and the adc_dist type. */
  private def ivfAdc[T](queries: DataFrame, corpus: DataFrame,
                        books: Books[T], k: Int,
                        qId: Column, qVec: Column, cId: Column, cVec: Column,
                        nCells: Int, nProbe: Int, excludeSelf: Boolean)(
      implicit lanes: Lanes[T]): DataFrame = {
    requireUniform(books.map(_.length))
    val cents = Similarity.anchoredUnitCentroids(corpus, cId, cVec, nCells)
    val codes = corpus
      .select(
        coalesce(element_at(Similarity.cellsByAffinity(cents, cVec), 1),
          lit(-1)).as("cell"),
        cId.as("neighbor_id"),
        codesOf(cVec, books).as("codes"))
      .repartition(col("cell"))
    // exchange barrier before the explode: CollapseProject would
    // otherwise re-inline the LUT loop per probe row (the adcTopK
    // rationale); explode AFTER it so each probe row reuses the
    // materialized lut attribute
    val q = queries
      .select(qId.as("query_id"), lutOf(qVec, books).as("lut"),
        slice(Similarity.cellsByAffinity(cents, qVec), 1, nProbe)
          .as("cells"))
      .repartition(col("query_id"))
      .select(col("query_id"), col("lut"), explode(col("cells")).as("cell"))
      .select(col("query_id"), col("lut"),
        coalesce(col("cell"), lit(-2)).as("cell"))
    adcTopKOf(codes.join(broadcast(q), Seq("cell")), lanes, k, excludeSelf)
  }

  /** [[encode]] over the INT codebook: (vec_id, codes array<int>) —
    * one codegen'd scan, zero shuffles; the persisted-code artifact
    * the maintenance path keeps valid. */
  def encodeInt(df: DataFrame, id: Column, vec: Column,
                books: IntCodebook): DataFrame =
    df.select(id.as("vec_id"), codesOf(vec, books).as("codes"))

  /** Integer centroid drift between two codebooks, per subspace:
    * sum over centroids of squared L2 between old and new lanes —
    * the driver-side signal that decides WHEN a refresh is worth the
    * re-encode write. Pure integer, both books are driver values. */
  def codebookDrift(oldBooks: IntCodebook, newBooks: IntCodebook): Seq[Long] = {
    require(oldBooks.length == newBooks.length,
      "codebooks have different subspace counts")
    oldBooks.indices.map { j =>
      require(oldBooks(j).length == newBooks(j).length,
        s"subspace $j centroid counts differ")
      (oldBooks(j) lazyZip newBooks(j)).map { (a, b) =>
        (a lazyZip b).map { (x, y) => val d = x - y; d * d }.sum
      }.sum
    }
  }

  /** CODEBOOK MAINTENANCE report — the IVF-PQ answer to drifting data
    * (the `similarity_ivf_incremental` discipline applied to the PQ
    * quantizer): when a refreshed codebook `newBooks` is fitted, the
    * persisted code rows must not all be rewritten — the write set is
    * exactly the rows whose nearest centroid CHANGED in >= 1 subspace.
    * This measures that set in ONE fused zero-shuffle scan (both code
    * batteries side by side per row; the only exchange is the m-row
    * final aggregation) plus the driver-side [[codebookDrift]] signal.
    *
    * Output per subspace: (subspace, drift, n_changed_base,
    * n_changed_delta, n_base, n_delta) — at 100 TB the scan
    * parallelizes per partition, the re-encode write is
    * `sum(changed)` rows instead of |corpus|, and base is never
    * shuffled. */
  def maintenanceReport(base: DataFrame, delta: DataFrame,
                        id: Column, vec: Column,
                        oldBooks: IntCodebook,
                        newBooks: IntCodebook): DataFrame = {
    val m = oldBooks.length
    require(newBooks.length == m, "codebooks have different subspace counts")
    val all = base.select(lit("base").as("side"), id.as("vec_id"),
        vec.as("__v"))
      .unionByName(delta.select(lit("delta").as("side"), id.as("vec_id"),
        vec.as("__v")))
    // both code batteries as ONE generated loop each, staged
    // as array attributes below the Generate — the per-subspace change
    // flags then compare two ints instead of re-evaluating 2*k
    // distance expressions per subspace
    val changed = (0 until m).map { j =>
      (element_at(col("__oc"), j + 1) =!= element_at(col("__nc"), j + 1))
        .cast("long")
    }
    val drift = codebookDrift(oldBooks, newBooks)
    all.select(col("side"), codesOf(col("__v"), oldBooks).as("__oc"),
        codesOf(col("__v"), newBooks).as("__nc"))
      .select(col("side"), posexplode(array(changed: _*)))
      .groupBy(col("pos").cast("int").as("subspace"))
      .agg(
        sum(when(col("side") === "base", col("col")).otherwise(0L))
          .as("n_changed_base"),
        sum(when(col("side") === "delta", col("col")).otherwise(0L))
          .as("n_changed_delta"),
        sum(when(col("side") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("side") === "delta", 1L).otherwise(0L)).as("n_delta"))
      .withColumn("drift",
        element_at(typedLit(drift), col("subspace") + 1))
      .select(col("subspace"), col("drift"), col("n_changed_base"),
        col("n_changed_delta"), col("n_base"), col("n_delta"))
  }
}
