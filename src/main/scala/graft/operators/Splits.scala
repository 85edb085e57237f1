package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TFDS-style percent split slicing (SURVEY §2.1 S1: the reference
  * passes splits like `train[:90%]` straight to TFDS —
  * examples/datasets/group_by_feature.py:57-64).
  *
  * Two semantics, pick per use case:
  *  - [[slice]] — HASH-BUCKET membership: rows are assigned to one of
  *    100 buckets by hashing id columns. Deterministic, order- and
  *    partitioning-independent, single-pass. NOTE this selects
  *    DIFFERENT rows than TFDS would: TFDS slices *contiguously by
  *    position* in the dataset's stored order. Use when any stable
  *    partition of the table will do (the common case).
  *  - [[sliceByPosition]] — POSITIONAL: contiguous [lo%, hi%) of the
  *    table in the total order of explicit order columns, matching the
  *    reference's TFDS slicing semantics (boundaries at floor(pct*n/100),
  *    like tfds's percent boundaries). Costs two passes; use when
  *    reproducing a position-defined split exactly.
  */
object Splits {

  private def bucket(seedCols: Seq[Column]): Column =
    pmod(xxhash64(seedCols: _*), lit(100L))

  /** Rows whose hash bucket falls in [loPercent, hiPercent). */
  def slice(df: DataFrame, loPercent: Int, hiPercent: Int,
            seedCols: Column*): DataFrame = {
    require(0 <= loPercent && loPercent < hiPercent && hiPercent <= 100,
      s"invalid slice [$loPercent%, $hiPercent%)")
    val b = bucket(seedCols)
    df.filter(b >= loPercent && b < hiPercent)
  }

  /** Convenience train/test pair: ([0, p), [p, 100)). */
  def trainTest(df: DataFrame, trainPercent: Int,
                seedCols: Column*): (DataFrame, DataFrame) =
    (slice(df, 0, trainPercent, seedCols: _*),
      slice(df, trainPercent, 100, seedCols: _*))

  /** Deterministic stratified sampling: keep a row iff the md5-derived
    * uniform of its id is below its stratum's rate. Membership depends
    * only on (id, rate) — stable under repartitioning and retries,
    * monotone in the rate (raising a stratum's rate only ADDS rows — a
    * sample at rate r is a superset of one at r' < r, so samples are
    * refinable without resampling), and exactly reproducible in any
    * engine with md5 (oracle-checkable) — all properties rand()-based
    * sampling lacks. The uniform is the first 8 md5 hex chars of the
    * rendered id as an unsigned 32-bit fraction. */
  def stratifiedSample(df: DataFrame, idCol: Column, strataCol: Column,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val u = graft.expressions.Md5Hex.u32(idCol.cast("string"))
      .cast("double") / 4294967296.0
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(strataCol === lit(k), lit(v)).otherwise(acc)
    }
    df.filter(u < rate)
  }

  /** GROUP-granular holdout: keep a row iff its GROUP's md5 uniform is
    * below `rate` — whole groups enter or leave together, which is the
    * split federated / group-partitioned training needs (evaluate on
    * held-out CLIENTS, not held-out rows: row splits leak group
    * distribution into eval). Same md5-uniform as
    * [[stratifiedSample]], keyed by the group value, so membership is
    * deterministic, engine-exact, and monotone in the rate. */
  def holdOutGroups(df: DataFrame, groupCol: Column, rate: Double): DataFrame = {
    val u = graft.expressions.Md5Hex.u32(groupCol.cast("string"))
      .cast("double") / 4294967296.0
    df.filter(u < lit(rate))
  }

  /** LEAKAGE-SAFE train/val/test assignment: the split key is the
    * near-dup CLUSTER id (from [[Dedup.clusters]]), not the doc id, so
    * near-duplicates can never straddle splits — a test doc whose twin
    * sits in train silently inflates eval scores, and doc-keyed hashing
    * does exactly that to every duplicate pair. Buckets are the
    * integer-exact md5 uniform of the cluster id scaled to 0..99
    * (u32 · 100 div 2^32 — replayable in any engine): [0, train) →
    * 'train', [train, train+val) → 'val', rest → 'test'. Singleton
    * clusters (the vast majority) split independently, so proportions
    * still land near the requested percents.
    *
    * Shape: one projection over the (id, cluster_id) assignment table —
    * the corpus-sized work already happened in the clustering pass. */
  def splitByCluster(assignments: DataFrame, idCol: Column,
                     clusterCol: Column, trainPercent: Int,
                     valPercent: Int): DataFrame = {
    require(trainPercent > 0 && valPercent >= 0 &&
      trainPercent + valPercent < 100,
      s"invalid split ($trainPercent, $valPercent)")
    // u32·100 < 2^39 and nonnegative, so >> 32 IS floor division by
    // 2^32 (a double-divide-then-cast could misround at bucket edges)
    val b = shiftright(
      graft.expressions.Md5Hex.u32(clusterCol.cast("string")) * 100L, 32)
    assignments.select(idCol.as("id"), clusterCol.as("cluster_id"),
      when(b < trainPercent, "train")
        .when(b < trainPercent + valPercent, "val")
        .otherwise("test").as("split"))
  }

  /** Deterministic weighted source MIXTURE: downsample each source so the
    * output approximates `targetNum/targetDen` of the corpus distributed
    * across sources proportionally to integer `weights` — the
    * training-data mixing step (re-weight web/books/code/... sources)
    * run before packing. Per-source target
    * t_s = (total * targetNum / targetDen) * w_s / sum(w), all INTEGER
    * division; a row survives iff u32(id) * n_s < t_s * 2^32 where u32
    * is the first-8-hex-chars md5 uniform — pure 64-bit integer
    * arithmetic end to end (u32 < 2^32; n_s < 2^31 is ASSERTED at
    * runtime via raise_error and t_s is clamped to n_s — a
    * semantics-preserving bound, since t >= n already admits every
    * row — so no product can silently wrap), membership is bit-exact
    * in any engine, stable
    * under repartitioning/retries, and monotone in t_s (raising a
    * source's weight only ADDS rows). Sources absent from `weights` get
    * weight `defaultWeight`.
    *
    * Shape: one small aggregate (|sources| rows) broadcast-joined back
    * onto the corpus, then a filter — the corpus itself never shuffles. */
  def mixSources(df: DataFrame, idCol: Column, sourceCol: Column,
                 weights: Map[String, Long], defaultWeight: Long,
                 targetNum: Long, targetDen: Long): DataFrame = {
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col("__src") === lit(k), lit(v)).otherwise(acc)
    }
    val perSource = df.groupBy(sourceCol.as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", w)
    mixWithWeights(df, idCol, sourceCol, perSource, targetNum, targetDen)
  }

  /** TEMPERATURE-flattened mixture at T=2 (the mC4/XLM-R multilingual
    * re-balancing: sample groups proportionally to n^(1/T) instead of
    * n, boosting low-resource groups' share): weights are DERIVED from
    * the corpus as w_g = floor(sqrt(n_g)) rather than given. isqrt is
    * the one temperature exponent that stays engine-exact — for counts
    * < 2^50, floor of the correctly-rounded IEEE sqrt equals the true
    * integer sqrt in every engine (general n^(1/T) needs pow/exp,
    * whose last-ulp varies by libm — the repo's log-free discipline).
    * Same survival rule and one-broadcast shape as [[mixSources]]. */
  def mixTemperatureSqrt(df: DataFrame, idCol: Column, groupCol: Column,
                         targetNum: Long, targetDen: Long): DataFrame = {
    val perSource = df.groupBy(groupCol.as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w",
        floor(sqrt(col("__n").cast("double"))).cast("long"))
    mixWithWeights(df, idCol, groupCol, perSource, targetNum, targetDen)
  }

  /** 2-D Pareto-front (skyline) selection: keep exactly the rows not
    * DOMINATED by any other (x' >= x ∧ y' >= y with at least one
    * strict) — the data-selection frontier, e.g. "the longest document
    * at every quality tier" instead of a single weighted threshold.
    * Ties on both axes are mutually non-dominating and all kept.
    *
    * Shape: one per-x aggregate (|distinct x| rows — value-domain
    * bounded for scores, NOT corpus bounded), one ordered window over
    * that x-level table for the strictly-better running max (the
    * unpartitioned window is over the bounded aggregate, the
    * curriculum-histogram precedent), one broadcast join back. A row
    * survives iff y == bestY(x) and y > max bestY over all x' > x. */
  def selectPareto(df: DataFrame, idCol: Column,
                   xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(idCol.as("id"), xCol.cast("long").as("x"),
      yCol.cast("long").as("y"))
    val perX = base.groupBy(col("x")).agg(max(col("y")).as("__best_y"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("x").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val front = perX.withColumn("__better", max(col("__best_y")).over(win))
    base.join(broadcast(front), "x")
      .filter(col("y") === col("__best_y") &&
        (col("__better").isNull || col("y") > col("__better")))
      .select(col("id"), col("x"), col("y"))
  }

  /** Mixture PLANNING under a token budget — the "how many epochs of
    * each source" table (LLaMA-style sampling-proportion planning, with
    * the mC4/XLM-R isqrt temperature weights): per-source token counts
    * n_s get weights w_s = isqrt(n_s); a token budget B divides
    * w-proportionally into targets t_s = B·w_s div Σw; epochs_ppm =
    * t_s·10^6 div n_s is how many PASSES over the source the plan
    * implies (> 10^6 means the low-resource boost repeats data — the
    * number a curator reads before committing to a mixture). All
    * integer (sqrt is IEEE-correctly-rounded, so floor∘sqrt of a long
    * is engine-exact), so the plan replays bit-for-bit in SQL.
    *
    * Shape: ONE aggregation to |sources| rows; the weight total rides
    * the same single-row broadcast cross join as the mixture
    * operators. Budget · max weight must stay under 2^63 (asserted). */
  def epochsPlan(df: DataFrame, groupCol: Column, tokensCol: Column,
                 budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val perSource = df.groupBy(groupCol.as("source"))
      .agg(sum(tokensCol).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val guarded = perSource.select(col("source"), col("n_tokens"),
      when(col("weight") > lit(Long.MaxValue / budget),
        raise_error(concat(lit("epochsPlan: budget * weight overflows for "),
          col("source"))).cast("long"))
        .otherwise(col("weight")).as("weight"))
    val totals = guarded.agg(sum(col("weight")).as("__sumw"))
    guarded.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), col("weight"),
        expr(s"$budget * weight DIV __sumw").as("tokens_target"))
      .withColumn("epochs_ppm",
        expr("tokens_target * 1000000 DIV n_tokens"))
  }

  /** Shared mixture tail: per-source integer targets from (__n, __w)
    * and the u32-md5 membership filter (see [[mixSources]] scaladoc
    * for the envelope proof). */
  private def mixWithWeights(df: DataFrame, idCol: Column,
                             sourceCol: Column, perSource: DataFrame,
                             targetNum: Long, targetDen: Long): DataFrame = {
    // driver-free scalar totals via a single-row cross (broadcast) join
    val totals = perSource.agg(sum(col("__n")).as("__total"),
      sum(col("__w")).as("__sumw"))
    // DIV, not `/`: Column./ is DOUBLE division in Spark SQL — a
    // float rate would reintroduce the cross-engine rounding hazard
    // this operator exists to avoid. * and DIV share precedence
    // left-assoc: ((((total*num) div den) * w) div sumw).
    // integer-envelope guard: membership multiplies u32 (< 2^32) by __n
    // and __t by 2^32, which stays inside a signed long only while both
    // are < 2^31. Counts are asserted at runtime (fail loudly instead
    // of silently wrapping); __t is clamped to __n, which is
    // semantics-preserving — t >= n already admits EVERY row of the
    // source (u32*n < n*2^32 always), so the clamp changes no
    // membership while bounding __t by the guarded __n.
    val nGuarded = when(col("__n") >= lit(2147483648L),
      raise_error(concat(lit("mixSources: source "), col("__src"),
        lit(" has >= 2^31 rows; split it before mixing (membership " +
          "arithmetic would overflow)"))).cast("long"))
      .otherwise(col("__n"))
    val rates = perSource.crossJoin(broadcast(totals))
      .select(col("__src"),
        nGuarded.as("__n"),
        least(
          expr(s"__total * $targetNum DIV $targetDen * __w DIV __sumw"),
          col("__n")).as("__t"))
    val u32 = graft.expressions.Md5Hex.u32(idCol.cast("string"))
    df.join(broadcast(rates), sourceCol === col("__src"))
      .filter(u32 * col("__n") < col("__t") * lit(4294967296L))
      .drop("__src", "__n", "__t")
  }

  /** Contiguous positional slice: rows whose 0-based global rank in the
    * total order of `orderCols` falls in [floor(lo*n/100), floor(hi*n/100)).
    *
    * Scale shape — positional semantics need a global rank, but NOT a
    * global sort onto one reducer: the table is range-partitioned and
    * sorted within partitions (so partition i holds ranks below
    * partition i+1), per-partition counts are collected (ONE long per
    * partition) and cumulative offsets broadcast back; each partition
    * then numbers its own rows. Two distributed passes, driver state
    * O(partitions).
    *
    * `orderCols` must be a total order (no duplicate keys) — ties would
    * make ranks, and therefore slice membership, nondeterministic.
    * Each call recomputes the range partition; persist upstream if
    * slicing the same table repeatedly. */
  def sliceByPosition(df: DataFrame, loPercent: Int, hiPercent: Int,
                      orderCols: Column*): DataFrame = {
    require(0 <= loPercent && loPercent < hiPercent && hiPercent <= 100,
      s"invalid slice [$loPercent%, $hiPercent%)")
    val spark = df.sparkSession
    val parts = df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val counts = parts.rdd
      .mapPartitionsWithIndex { (i, it) =>
        // count with a Long loop — Iterator.size returns Int and would
        // silently wrap past 2^31 rows in one partition
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(i -> n)
      }
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = ranks before partition i
    val lo = loPercent * n / 100
    val hi = hiPercent * n / 100
    val schema = df.schema
    val sliced = parts.rdd.mapPartitionsWithIndex { (i, it) =>
      val off = offsets(i)
      // skip whole partitions outside the band without iterating them
      if (off + counts(i) <= lo || off >= hi) Iterator.empty
      else {
        // Long rank tracking (zipWithIndex is Int and wraps past 2^31)
        var rank = off - 1
        it.filter { _ => rank += 1; rank >= lo && rank < hi }
      }
    }
    spark.createDataFrame(sliced, schema)
  }

  /** Deterministic INTERLEAVED training order: within each source,
    * rows take a stable md5 shuffle rank; across sources, rank r of
    * source s lands at global_pos = r·|sources| + index(s) — strict
    * round-robin BY FORMULA, so every contiguous batch window of the
    * global order sees the same source mix, with NO global sort and no
    * single-partition window anywhere (positions gap once a shorter
    * source exhausts; ORDER semantics are unaffected). The per-source
    * dense rank uses the [[sliceByPosition]] topology: range-partition
    * on (source, md5, id), per-partition per-source counts to the
    * driver (bounded: partitions × sources), offsets broadcast back,
    * one imperative pass per partition. Output:
    * (id, source, rank_in_source, global_pos). */
  def interleavedOrder(df: DataFrame, idCol: Column,
                       sourceCol: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val base = df.select(idCol.cast("long").as("id"),
      sourceCol.cast("string").as("source"),
      graft.expressions.Md5Hex.u32(idCol.cast("string")).as("__u"))
    val parts = base
      .repartitionByRange(col("source"), col("__u"), col("id"))
      .sortWithinPartitions(col("source"), col("__u"), col("id"))
    val counts: Array[(Int, String, Long)] =
      parts.rdd.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { r =>
          val s = r.getString(1); m(s) = m.getOrElse(s, 0L) + 1L
        }
        m.iterator.map { case (s, n) => (i, s, n) }
      }.collect()
    val srcs = counts.map(_._2).distinct.sorted
    val srcIdx = srcs.zipWithIndex.toMap
    val nSrc = srcs.length.toLong
    val offsets: Map[(Int, String), Long] =
      counts.groupBy(_._2).flatMap { case (s, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, n) =>
          val o = ((pid, s), acc); acc += n; o
        }
      }
    val out = parts.rdd.mapPartitionsWithIndex { (i, it) =>
      var cur: String = null
      var rank = 0L
      it.map { r =>
        val s = r.getString(1)
        if (s != cur) { cur = s; rank = offsets.getOrElse((i, s), 0L) }
        val row = org.apache.spark.sql.Row(
          r.getLong(0), s, rank, rank * nSrc + srcIdx(s))
        rank += 1
        row
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", LongType), StructField("source", StringType),
      StructField("rank_in_source", LongType),
      StructField("global_pos", LongType))))
  }

  /** Deterministic fixed-size sample PER GROUP: the md5-smallest k ids
    * of every group (balanced eval sets — exactly k docs per language,
    * not a rate that wobbles with group size). Same md5 rank key as
    * [[sampleFixedK]], so per-group samples NEST across k; the rank
    * rides the bounded [[graft.functions.TopK]] aggregate (map-side
    * ≤k-entry partials per group), never a per-group window that drags
    * a whole group onto one reducer. Output: (group, id, rank). */
  def sampleFixedKPerGroup(df: DataFrame, idCol: Column,
                           groupCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    graft.functions.TopK.perQuery(
      df.select(groupCol.as("query_id"),
        idCol.cast("long").as("neighbor_id"),
        (-graft.expressions.Md5Hex.u32(idCol.cast("string"))
          .cast("double")).as("score")), k)
      .select(col("query_id").as("group"),
        col("neighbor_id").as("id"), col("rank"))
  }

  /** Deterministic fixed-SIZE global sample: exactly min(k, n) rows —
    * the md5-smallest ids corpus-wide — for fixed-budget eval / probe
    * sets where a RATE sample ([[stratifiedSample]]) can't promise an
    * exact count. Same md5 rank key as [[capPerSource]], so membership
    * is engine-exact, stable under repartitioning, and monotone in k
    * (a k-sample is a prefix of every larger sample — probe sets nest).
    *
    * Shape: sort-limit on the md5 key, planned as
    * TakeOrderedAndProject — each partition reduces to its k smallest
    * locally and the driver merges k-row partials; the corpus never
    * globally sorts. Driver state O(k): intended for eval-set k, not
    * corpus-sized k. */
  def sampleFixedK(df: DataFrame, idCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.withColumn("__key", md5(idCol.cast("string")))
      .orderBy(col("__key")).limit(k)
      .drop("__key")
  }

  /** Deterministic WEIGHTED sampling without replacement — Ohlsson's
    * sequential Poisson sampling: each row gets key = u/w (u its md5
    * uniform, w its weight), the k SMALLEST keys are the sample, so
    * inclusion probability is approximately proportional to weight
    * (the πps estimator design used in survey sampling; heavier rows
    * draw smaller keys). The key is pure integer arithmetic —
    * u32 (first-8-hex md5, < 2^32) scaled by 2^20, then integer-divided
    * by the weight — so membership is bit-exact in any engine, stable
    * under repartitioning/retries, and monotone in k (a k-sample is a
    * prefix of every larger sample). Key collisions (coarse weights)
    * break by id ASC. Weights are asserted into [1, 2^31) at runtime
    * (u32 * 2^20 < 2^52, no overflow; w <= 0 would invert semantics).
    *
    * Shape: sort-limit on (key, id), planned as TakeOrderedAndProject —
    * per-partition k-row partials merged on the driver, the corpus
    * never globally sorts. Driver state O(k). Output keeps the input
    * columns plus `sample_key` (the integer priority, for audits). */
  def sampleWeighted(df: DataFrame, idCol: Column, weightCol: Column,
                     k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u32 = graft.expressions.Md5Hex.u32(idCol.cast("string"))
    val w = weightCol.cast("long")
    val wGuarded = when(w <= 0L || w >= 2147483648L,
      raise_error(concat(lit("sampleWeighted: weight "), w.cast("string"),
        lit(" outside [1, 2^31)")))).otherwise(w)
    df.withColumn("__u", u32)
      .withColumn("__w", wGuarded)
      // DIV, not `/`: Column./ is double division (cross-engine hazard)
      .withColumn("sample_key", expr("__u * 1048576 DIV __w"))
      .orderBy(col("sample_key"), idCol)
      .limit(k)
      .drop("__u", "__w")
  }

  /** QUALITY-ranked per-source selection — the production upgrade over
    * [[capPerSource]]'s random quota: keep the `cap` HIGHEST-scoring
    * rows per source (ties by id ASC), i.e. "best 10k docs per domain
    * by quality" rather than "any 10k". Output is the selection roster
    * (source, id, rank, score); join back by id for payloads.
    *
    * Shape: one bounded top-k aggregation
    * ([[graft.functions.TopK.perQuery]] — map-side partials, O(cap)
    * state at every stage), never a per-source sort. Compute heavy
    * score expressions BEHIND an exchange barrier (`.repartition`)
    * before calling, so the optimizer can't inline the scoring battery
    * into the aggregate args. */
  def bestPerSource(df: DataFrame, idCol: Column, sourceCol: Column,
                    scoreCol: Column, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val scored = df.select(sourceCol.as("query_id"),
      idCol.cast("long").as("neighbor_id"),
      scoreCol.cast("double").as("score"))
    graft.functions.TopK.perQuery(scored, cap)
      .select(col("query_id").as("source"),
        col("neighbor_id").as("id"), col("rank"), col("score"))
  }

  /** C4-style per-source QUOTA cap: keep at most `cap` rows per source,
    * chosen deterministically — the domain-rebalancing step web-scale
    * pipelines run so a handful of boilerplate-heavy domains can't
    * dominate the training mixture ([[mixSources]] reweights by RATE;
    * this bounds absolute COUNT).
    *
    * Selection: each row's rank key is md5 of its rendered id; the
    * `cap` lexicographically-smallest keys per source survive. Keys are
    * engine-exact and depend only on the id, so membership is stable
    * under repartitioning/retries, reproducible in any engine
    * (oracle-checkable), and monotone in `cap` (raising the cap only
    * ADDS rows — a capped sample refines without resampling), the same
    * properties [[stratifiedSample]] guarantees.
    *
    * Shape — deliberately NOT `row_number over (partition by source)`:
    * that window shuffles and fully sorts every row of every domain on
    * one reducer per domain (the skewed-domain worst case is the whole
    * point of capping). Instead the `cap` smallest keys per source are
    * found with the bounded [[graft.functions.TopK.perGroupTerms]]
    * (map-side partials, O(cap) state at every stage), reduced to ONE
    * threshold key per source, broadcast back, and applied as a filter —
    * the corpus itself never sorts and never shuffles. Drop the
    * broadcast hint if source cardinality is itself corpus-sized. */
  def capPerSource(df: DataFrame, idCol: Column, sourceCol: Column,
                   cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val key = md5(idCol.cast("string"))
    val scored = df.select(sourceCol.as("group"), key.as("term"),
      lit(0.0).as("score")) // constant score -> pure key-ASC top-k
    val thresholds = graft.functions.TopK.perGroupTerms(scored, cap)
      .groupBy(col("group")).agg(max(col("term")).as("__thr"))
    df.join(broadcast(thresholds), sourceCol === col("group"))
      .filter(key <= col("__thr"))
      .drop("group", "__thr")
  }
}
