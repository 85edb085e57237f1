package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators._

/** Scale stress harness (not part of the driver contract): generates a
  * multi-million-row synthetic corpus in /tmp and times the core
  * operators at local[32], to validate that the operator topologies
  * scale linearly before they meet a real cluster.
  * Run: sbt "runMain graft.tools.ScaleStress [rows]"
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    // optional 2nd arg: only run cases whose label contains it (the
    // generate steps always run); lets a single case re-measure without
    // the full ~20-min sweep
    val only = args.drop(1).headOption
    // the shared session policy's periodic ContextCleaner GC matters
    // most here: an explicit System.gc() per case traded broadcast
    // pile-up for GCLocker starvation under 32 allocating tasks
    val spark = GraftSession.local(32,
      "spark.sql.shuffle.partitions" -> "64",
      "spark.driver.memory" -> "8g")
    import spark.implicits._

    // keepStorage: the IVF build case persists an index its QUERY case
    // measures against — everything else drops its localCheckpoint
    // blocks, or 40+ cases in one JVM accumulate checkpointed token
    // arrays until the aggregation memory pool starves (observed OOM
    // at case ~40)
    def time[T](name: String, keepStorage: Boolean = false)
               (f: => T): Unit =
      if (only.forall(name.contains(_)) || name.startsWith("generate")) {
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[stress] $name%-42s $dt%8.2fs")
        Console.out.flush()
        if (!keepStorage)
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
      }

    val dir = "/tmp/graft-stress"
    // synthetic docs: ~15 tokens of a 1000-word vocabulary, zipf-ish key
    // distribution with deliberate skew (group 0 gets ~25% of rows)
    time(s"generate $rows docs") {
      spark.range(rows)
        .select(
          col("id"),
          concat(lit("g"),
            when(pmod(col("id"), lit(4)) === 0, 0)
              .otherwise(pmod(xxhash64(col("id")), lit(1000)))).as("key"),
          array_join(transform(sequence(lit(0), lit(14)),
            i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(1000)))),
            " ").as("text"))
        .write.mode("overwrite").parquet(dir)
    }
    val docs = spark.read.parquet(dir)

    time("group counts (skewed 1001 groups)") {
      GroupCounts(docs, Grouper.byColumn("key")).count()
    }
    time("group counts salted x16") {
      GroupCounts.salted(docs, Grouper.byColumn("key"), 16).count()
    }
    time("capped pack deterministic (1MB cap)") {
      Pack.packCappedDeterministic(docs, Grouper.byColumn("key"),
        col("text"), col("id"), limit = 1000000L).count()
    }
    time("exact dedup") {
      Dedup.exact(docs, col("text"), col("id")).count()
    }
    // dataset-card shape crossover: the 6-way job-parallel scans vs the
    // fused single-scan grouping-sets plan (near-dup branch excluded —
    // identical in both). At sf0.1 the parallel shape wins on job
    // overlap; the fused shape's advantage grows with the scan cost, so
    // this case records where the crossover sits on synthetic volume.
    locally {
      val cardDocs = docs.select(col("id").as("doc_id"), col("text"),
        concat(lit("l"), pmod(xxhash64(col("id"), lit(1)), lit(7)))
          .as("lang"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(2)), lit(5)))
          .as("source"))
      time("dataset card scans: 6-way parallel") {
        DatasetCard.scanSections(cardDocs, fuseScans = false).collect()
      }
      time("dataset card scans: fused single scan") {
        DatasetCard.scanSections(cardDocs, fuseScans = true).collect()
      }
    }
    time("simhash pairs (hamming<=3)") {
      Dedup.simhashPairs(docs.limit(1000000), col("text"), col("id")).count()
    }
    time("chunked blocks 512") {
      GroupConsumer.chunkedBlocks(docs.limit(1000000),
        Grouper.byColumn("key"), col("text"), col("id"), 512).count()
    }
    time("decontaminate vs 1k-doc eval set (broadcast shingles)") {
      Decontaminate.ngramOverlap(
        docs.filter(pmod(col("id"), lit(1000)) =!= 0),
        docs.filter(pmod(col("id"), lit(1000)) === 0),
        col("text"), col("id"), col("text"), col("id"), n = 4).count()
    }
    time("stratified sample (md5 rule)") {
      Splits.stratifiedSample(docs, col("id"), col("key"),
        Map("g0" -> 0.5), defaultRate = 0.1).count()
    }
    time("duplicated spans (8-token chunks, corpus-wide)") {
      Dedup.duplicatedSpans(docs.limit(1000000), col("text"), col("id"),
        chunkTokens = 8).count()
    }
    time("rolling-span scan (1M docs, overlapping 8-token windows)") {
      Dedup.duplicatedSpansRolling(docs.limit(1000000), col("text"),
        col("id"), windowTokens = 8).count()
    }
    time("incremental dedup (20% delta vs 80% base)") {
      Dedup.incremental(
        docs.filter(pmod(col("id"), lit(5)) =!= 0),
        docs.filter(pmod(col("id"), lit(5)) === 0),
        col("text"), col("id")).count()
    }
    time("weighted source mixture (1001 groups)") {
      Splits.mixSources(docs, col("id"), col("key"),
        Map("g0" -> 3L), defaultWeight = 1L,
        targetNum = 1L, targetDen = 2L).count()
    }
    time("per-source quota cap (1001 skewed groups, cap 1000)") {
      // g0 holds ~25% of the corpus — the exact shape where a
      // row_number window would sort a quarter of the data on one
      // reducer; the threshold design never sorts the corpus
      Splits.capPerSource(docs, col("id"), col("key"), cap = 1000).count()
    }
    time("vocab top-1k + coverage (1000-word vocabulary)") {
      graft.functions.Vocab.topTokens(docs, col("text"), k = 1000).count()
    }
    time("rolling span TRIM (1M docs, 8-token windows)") {
      Dedup.trimDuplicatedSpansRolling(docs.limit(1000000), col("text"),
        col("id"), windowTokens = 8).count()
    }
    time("best-per-source (1001 skewed groups, top 1000 by score)") {
      Splits.bestPerSource(
        docs.select(col("id"), col("key"),
          (col("id") % 7919).cast("double").as("score"))
          .repartition(col("key")),
        col("id"), col("key"), col("score"), cap = 1000).count()
    }
    time("fixed-context packing (1M docs, L=64, 1001 groups)") {
      Pack.packFixedContext(docs.limit(1000000), col("key"), col("id"),
        graft.functions.TextAnalysis.tokens(col("text")), seqLen = 64)
        .count()
    }
    time("fixed-context packing SCALABLE (1M docs, ONE group worst case)") {
      // the shape that breaks the window path: a single giant group
      // serializes onto one reducer; the two-pass offset path spreads it
      Pack.packFixedContextScalable(
        docs.limit(1000000).withColumn("one", lit("g")),
        col("one"), col("id"),
        graft.functions.TextAnalysis.tokens(col("text")), seqLen = 64)
        .count()
    }
    time("sliding-window chunking (1M docs, window 8 stride 4)") {
      Chunker.chunkWindows(docs.limit(1000000), col("text"), col("id"),
        windowTokens = 8, strideTokens = 4).count()
    }
    time("corpus version diff (80/80 overlap, 10% edited)") {
      CorpusDiff.diff(
        docs.filter(pmod(col("id"), lit(5)) =!= 0),
        docs.filter(pmod(col("id"), lit(5)) =!= 1)
          .withColumn("text", when(pmod(col("id"), lit(10)) === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))),
        col("id"), col("text")).groupBy(col("status")).count().collect()
    }
    time("single-pass TextStats battery (quality+langid)") {
      import graft.functions.TextAnalysis
      val p = TextAnalysis.profile(col("text"))
      docs.select(TextAnalysis.qualityScoreOf(p).as("q"),
        TextAnalysis.langIdOf(p).as("l"))
        .agg(sum(col("q")), count(col("l"))).collect()
    }
    time("md5 bloom: build 4M-key bitmap (m=2^24) + probe 1M delta") {
      // build collect is bounded by m bits regardless of base size;
      // probe is a stateless codegen'd scan (no join, no state)
      val words = graft.functions.BloomMd5.build(
        docs.filter(pmod(col("id"), lit(5)) =!= 0), col("text"),
        m = 1 << 24, k = 4)
      graft.functions.BloomMd5.markPositive(
        docs.filter(pmod(col("id"), lit(5)) === 0), col("text"),
        words, m = 1 << 24, k = 4, flag = "pos")
        .filter(!col("pos")).count()
    }
    time("z-order layout (5M rows, 2x100k dims, 16 file groups)") {
      // near-distinct z keys: the exact-percentile worst case the
      // exact=false swap exists for — timed honestly, both ways
      graft.operators.ZOrder.layout(
        docs.select(col("id"),
          pmod(xxhash64(col("id")), lit(100000)).as("a"),
          pmod(xxhash64(col("id"), lit(1)), lit(100000)).as("b")),
        "a", "b", bits = 17, nFiles = 16).count()
    }
    time("z-order layout APPROX cuts (same 5M rows, GK sketch state)") {
      graft.operators.ZOrder.layout(
        docs.select(col("id"),
          pmod(xxhash64(col("id")), lit(100000)).as("a"),
          pmod(xxhash64(col("id"), lit(1)), lit(100000)).as("b")),
        "a", "b", bits = 17, nFiles = 16, exact = false).count()
    }
    time("winsorize binned default (5M near-distinct doubles)") {
      // the profiler scale fix: quartiles from the bounded 4096-cell
      // histogram (state <= 4096 counters per task at any scale)
      // instead of exact percentile's distinct-value map in one final
      // aggregation buffer — compare against the exact case below
      graft.functions.Profiler.winsorize(
        docs.select((xxhash64(col("id")).cast("double") / 1e6)
          .as("v")), Seq("v")).count()
    }
    time("winsorize EXACT percentile (same 5M near-distinct doubles)") {
      graft.functions.Profiler.winsorize(
        docs.select((xxhash64(col("id")).cast("double") / 1e6)
          .as("v")), Seq("v"), exact = true).count()
    }
    time("equidepth binned default (5M near-distinct doubles, 8 bins)") {
      graft.functions.Profiler.equidepth(
        docs.select((xxhash64(col("id")).cast("double") / 1e6)
          .as("v")), col("v"), nBins = 8).count()
    }
    time("cdc apply (5M snapshot, 1M-event changeset)") {
      graft.operators.Cdc.applyChangeset(
        docs.select(col("id"), col("text")),
        docs.filter(pmod(col("id"), lit(5)) === 0)
          .select(col("id"), pmod(col("id"), lit(3)).as("seq"),
            when(pmod(col("id"), lit(7)) === 0, "D").otherwise("U")
              .as("op"), col("text")),
        "id", "seq", "op").count()
    }
    time("sorted-export manifest (5M rows, 64 shards)") {
      graft.operators.SortedExport.manifest(
        docs.select(col("id"),
          pmod(xxhash64(col("id"), lit(2)), lit(1000000)).as("k")),
        key = "k", id = "id", nShards = 64).count()
    }

    // embedding stress: synthetic 64-dim float vectors. Clusters of 32
    // consecutive ids share a strong common component (intra-cluster
    // cosine ~0.93, inter ~0) — the realistic near-dup shape: MANY SMALL
    // duplicate groups. (A first attempt used 32 clusters x 31k members;
    // that makes the TRUE near-pair set itself quadratic — ~15G pairs —
    // which no candidate scheme can enumerate. Near-dup pair listing is
    // output-bound; mega-cluster corpora need survivor-style dedup, not
    // pair enumeration.)
    val vecRows = math.min(rows, 1000000L)
    val vdir = "/tmp/graft-stress-vec"
    time(s"generate $vecRows vectors (31k clusters of 32)") {
      spark.range(vecRows)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            ((pmod(xxhash64(col("id"), j), lit(1000)).cast("double") / 500.0
              - 1.0)
              + (pmod(xxhash64(expr("id DIV 32"), j), lit(1000))
                  .cast("double") / 137.0 - 3.65))
              .cast("float")).as("embedding"))
        .write.mode("overwrite").parquet(vdir)
    }
    val vecs = spark.read.parquet(vdir)
    val queries = vecs.filter(col("vec_id") < 100)
    time("ANN brute-force top-10 (100 queries, bounded-topk agg)") {
      Similarity.bruteForceTopK(queries, vecs, 10,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"))
        .count()
    }
    time("ANN LSH top-10 (100 queries)") {
      Similarity.lshTopK(queries, vecs, 10,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64).count()
    }
    time("ANN IVF one-shot top-10 (100 queries, 64 cells probe 8)") {
      Similarity.ivfTopK(queries, vecs, 10,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 64, nProbe = 8).count()
    }
    // the deployment shape: build + persist the index ONCE, then the
    // per-batch query cost is the probed fraction of the corpus
    val idx = Similarity.ivfIndex(vecs, col("vec_id"), col("embedding"),
      nCells = 64, nProbe = 8)
    val cached = idx.copy(assigned = idx.assigned.persist())
    time("IVF index build (persisted)", keepStorage = true)(
      cached.assigned.count())
    time("IVF query batch vs persisted index") {
      Similarity.ivfQuery(cached, queries, 10,
        col("vec_id"), col("embedding")).count()
    }
    cached.assigned.unpersist()
    time("PQ encode (1M vecs, 8x16 codebook) + flat ADC top-10 (20 q, 250k codes)") {
      // flat ADC is O(corpus x queries) with NO pruning — bounded here
      // by construction; the IVF-PQ case below is the full-corpus scale
      // path (each query touches nProbe/nCells of the code rows)
      val books = graft.operators.Pq.fitAnchored(vecs,
        col("vec_id"), col("embedding"), m = 8, k = 16)
      val codes = graft.operators.Pq.encode(
        vecs.filter(col("vec_id") < 250000),
        col("vec_id"), col("embedding"), books)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      graft.operators.Pq.adcTopK(queries.filter(col("vec_id") < 20),
        codes, books, 10, col("vec_id"), col("embedding")).count()
    }
    // 16 bits so a bucket holds ~a handful of clusters; the cap bounds
    // any residual hot bucket. Expected pairs ~ clusters * 32^2/2.
    time("LSH near-dup pairs (250k vecs, threshold .9, 4 tables, capped)") {
      val n = Similarity.cosinePairsLsh(vecs.filter(col("vec_id") < 250000),
        col("vec_id"), col("embedding"),
        threshold = 0.9, dim = 64, nBits = 16, nTables = 4,
        maxBucketSize = 2000).count()
      println(s"[stress]   near-dup pairs found: $n")
    }
    // full SemDeDup composition: pair graph big enough (~> 500k edges)
    // to force the distributed pointer-jump CC path, then centroids +
    // keep-central over every cluster
    time("semantic dedup keep-central (100k vecs, CC + centroids)") {
      val v100 = vecs.filter(col("vec_id") < 100000)
      val pairs = Similarity.cosinePairsLsh(v100,
        col("vec_id"), col("embedding"),
        threshold = 0.9, dim = 64, nBits = 16, nTables = 4,
        maxBucketSize = 2000)
      Dedup.semanticKeepCentral(v100, col("vec_id"), col("embedding"),
        pairs).count()
    }

    // ---- round-5 additions ----
    time(s"IVF-PQ ADC (coarse 64 cells probe 8, $vecRows-row codes, 100 q)") {
      val books = graft.operators.Pq.fitAnchored(vecs,
        col("vec_id"), col("embedding"), m = 8, k = 16)
      graft.operators.Pq.ivfAdcTopK(queries, vecs, books, 10,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 64, nProbe = 8).count()
    }
    time(s"hashed-linear classifier inference ($rows docs, zero shuffle)") {
      graft.functions.HashedLinear.score(docs, col("id"), col("text"))
        .agg(sum(col("w_sum"))).collect()
    }
    time("bloom-prefiltered join (1% dim keys vs full fact side)") {
      val dim = docs.filter(pmod(col("id"), lit(100)) === 0)
        .select(col("id").as("k"), col("key"))
      val words = graft.functions.BloomMd5.build(
        dim, col("k").cast("string"), m = 1 << 24, k = 3)
      val pre = graft.functions.BloomMd5.markPositive(
          docs, col("id").cast("string"), words, 1 << 24, 3, "__maybe")
        .filter(col("__maybe"))
      pre.join(dim, col("id") === col("k")).count()
    }
    time(s"funnel 3 stages over $rows events") {
      val ev = docs.select(pmod(col("id"), lit(100000)).as("user_id"),
        concat(lit("t"), pmod(xxhash64(col("id")), lit(4))).as("et"),
        col("id").as("ts"))
      Funnel.ordered(ev, col("user_id"), col("et"), col("ts"),
        Seq("t0", "t1", "t2")).collect()
    }
    time("incremental agg merge (base+delta states over key)") {
      def state(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("key")).agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("s"))
      IncrementalAgg.merge(
        state(docs.filter(pmod(col("id"), lit(5)) =!= 0)),
        state(docs.filter(pmod(col("id"), lit(5)) === 0)),
        Seq("key"), sums = Seq("n", "s")).count()
    }
    time(s"BPE pair counts over the $rows-doc corpus vocab") {
      graft.functions.BpePairs.topPairs(docs, col("text"), 30).count()
    }
    time(s"deletion audit ($rows rows, 1% delete list)") {
      val dels = docs.filter(pmod(col("id"), lit(100)) === 7)
        .select(col("id"))
      Retention.deleteAudit(docs, dels, col("id"), col("key")).count()
    }
    time(s"pagerank 5 rounds, $rows edges / 100k nodes") {
      val edges = docs.select(
        pmod(xxhash64(col("id")), lit(100000)).as("src"),
        pmod(xxhash64(col("id"), lit(1)), lit(100000)).as("dst"))
      PageRank.run(edges, iters = 5).count()
    }
    time(s"boolean 3-term search over $rows docs") {
      graft.functions.Search.booleanAnd(docs, col("id"), col("text"),
        Seq("w1", "w2", "w3"), k = 20).count()
    }
    time(s"dsir importance scoring over $rows docs") {
      graft.functions.Dsir.topKByImportance(docs, col("id"), col("text"),
        pmod(col("id"), lit(10)) === 0, k = 50).count()
    }
    time(s"tokenizer encode (500-word vocab) over $rows docs") {
      graft.functions.Vocab.encode(docs, col("id"), col("text"),
        k = 500).count()
    }
    time("entity match: deletion neighborhoods (1M 9-digit keys, 1k blocks)") {
      val names = docs.limit(1000000).select(col("id"),
        lpad(pmod(xxhash64(col("id")), lit(100000)).cast("string"),
          9, "0").as("name"),
        pmod(col("id"), lit(1000)).as("blk"))
      EntityMatch.deletionNeighborhoodPairs(names,
        col("id"), col("name"), col("blk")).count()
    }
    time("incremental minhash: 1% delta vs persisted band index") {
      val idx = Dedup.minhashIndexBuild(
        docs.filter(pmod(col("id"), lit(100)) =!= 0),
        col("text"), col("id"))
      Dedup.minhashIncrementalPairs(idx,
        docs.filter(pmod(col("id"), lit(100)) === 0),
        col("text"), col("id")).count()
    }
    time(s"phrase search (3-term positional) over $rows docs") {
      graft.functions.Search.phrase(docs, col("id"), col("text"),
        Seq("w1", "w2", "w3")).count()
    }
    time(s"decay totals over $rows events-shaped rows") {
      val ev = docs.select(pmod(xxhash64(col("id")), lit(1000000000L))
          .as("ts"), col("key"),
        (pmod(col("id"), lit(1000)).cast("double") / 10.0).as("v"))
      Retention.decayTotals(ev, col("ts"), col("key"), col("v"),
        halfLifeNs = 100000000L).count()
    }
    time(s"pareto skyline over $rows docs (1k x-tiers)") {
      val pts = docs.select(col("id"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000)).as("x"),
        length(col("text")).cast("long").as("y"))
      Splits.selectPareto(pts, col("id"), col("x"), col("y")).count()
    }
    time(s"join advisor over two $rows-row sides") {
      graft.functions.Profiler.joinAdvice("stress",
        docs, col("key"), docs, pmod(col("id"), lit(500))).count()
    }
    time("containment pairs (1M docs, asymmetric prefix vs full index)") {
      Dedup.ngramContainmentPairs(docs.limit(1000000), col("text"),
        col("id"), n = 3, threshold = 0.9).count()
    }
    time(s"interleaved order over $rows docs (1001 sources)") {
      Splits.interleavedOrder(docs, col("id"), col("key")).count()
    }
    time(s"LM train blocks (1M docs, L=128, two-pass vocab encode)") {
      val sub = docs.limit(1000000)
      val enc = graft.functions.Vocab.encodeIds(sub, col("id"),
          col("text"), k = 500)
        .join(sub.select(col("id").as("doc_id"), col("key")), "doc_id")
      Pack.inputTargetBlocks(enc, col("key"), col("doc_id"), col("ids"),
        seqLen = 128).count()
    }
    time(s"subsample -> LM blocks (1M docs, keep rule + encode + pack)") {
      val sub = docs.filter(col("id") < 1000000)
      val enc = graft.functions.Vocab.subsampleIds(sub, col("id"),
          col("text"), t = 0.001, k = 500)
        .join(sub.select(col("id").as("doc_id"), col("key")), "doc_id")
      Pack.inputTargetBlocks(enc, col("key"), col("doc_id"), col("ids"),
        seqLen = 128).count()
    }
    time("k-center coreset (8 picks over 1M vectors)") {
      Similarity.selectKCenter(vecs, col("vec_id"), col("embedding"),
        k = 8).count()
    }
    time("MMR rerank (20 queries, top-20 candidates, k=5)") {
      Similarity.mmrRerank(vecs.filter(col("vec_id") < 20), vecs,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCandidates = 20, k = 5).count()
    }
    // PQ -> MMR two-stage selection at index scale: recall from 1M
    // 8-byte code rows, exact rerank touches only 20x20 survivors
    time("pq->mmr two-stage (20 queries, 1M codes, k=5)") {
      val books = graft.operators.Pq.fitAnchored(vecs,
        col("vec_id"), col("embedding"), m = 8, k = 16)
      val codes = graft.operators.Pq.encode(vecs, col("vec_id"),
        col("embedding"), books)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      val cand = graft.operators.Pq.adcTopK(
        vecs.filter(col("vec_id") < 20), codes, books, k = 20,
        col("vec_id"), col("embedding"))
        .select(col("query_id"), col("neighbor_id"))
      val qn = Similarity.normalizedVectors(
        vecs.filter(col("vec_id") < 20), col("vec_id"), col("embedding"))
        .select(col("id").as("query_id"), col("vec").as("qv"))
      val cn = Similarity.normalizedVectors(vecs, col("vec_id"),
        col("embedding"))
        .select(col("id").as("neighbor_id"), col("vec").as("cv"))
      val rel = broadcast(cand.join(qn, "query_id"))
        .join(cn, "neighbor_id")
        .withColumn("rel_e6",
          round(round(graft.functions.Vectors.dot(col("qv"), col("cv")),
            6) * 1e6).cast("long"))
        .select(col("query_id"), col("neighbor_id"), col("rel_e6"))
      Similarity.mmrFromCandidates(rel, vecs, col("vec_id"),
        col("embedding"), k = 5).count()
    }
    // integer power-iteration PCA: 3 scans + dim-key shuffles — the
    // matvec must stay linear in rows with a ~KB shuffle per step
    time(s"pca top component (3 power steps, $vecRows vecs)") {
      graft.functions.Pca.topComponentTable(vecs, col("embedding"),
        dim = 64).count()
    }
    time("bitext margin mining (100 anchors vs 500k tgt)") {
      Similarity.mineBitextMargin(
        vecs.filter(col("vec_id") % 2 === 0 && col("vec_id") < 200),
        vecs.filter(col("vec_id") % 2 === 1),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 4).count()
    }
    // PassJoin at volume: 1M 12-hex keys in 1k blocks, d=3. Probe
    // fan-out is the bounded per-row constant; hex entropy keeps every
    // (seg, value) bucket tiny, so the candidate join stays linear.
    time("passjoin d=3 (1M 12-hex keys, 1k blocks)") {
      val keys = spark.range(math.min(rows, 1000000L))
        .select(col("id"),
          substring(md5(col("id").cast("string")), 1, 12).as("k"),
          pmod(col("id"), lit(1000)).as("b"))
      val n = graft.operators.EntityMatch.passJoinPairs(keys, keys,
        col("id"), col("k"), col("b"),
        col("id"), col("k"), col("b"), maxDist = 3).count()
      println(s"[stress]   passjoin pairs found: $n")
    }
    // the R-S registry topology: the 1M-key index is built+stored
    // once; a 1% delta probes the STORED tables — per-batch cost is
    // probe-sized (compare against the full passjoin case above)
    time("passjoin registry build+store (1M keys, one-time)") {
      val keys = spark.range(math.min(rows, 1000000L))
        .select(col("id"),
          substring(md5(col("id").cast("string")), 1, 12).as("k"),
          pmod(col("id"), lit(1000)).as("b"))
      graft.operators.EntityMatch.writePassJoinIndex(
        graft.operators.EntityMatch.passJoinIndexBuild(keys,
          col("id"), col("k"), col("b"), maxDist = 3),
        "/tmp/graft-stress-pjidx")
    }
    time("passjoin registry probe ONLY (stored index, 10k delta)") {
      val delta = spark.range(math.min(rows, 1000000L) / 100)
        .select((col("id") + 2000000L).as("id"),
          substring(md5(col("id").cast("string")), 2, 12).as("k"),
          pmod(col("id"), lit(1000)).as("b"))
      val n = graft.operators.EntityMatch.passJoinProbe(
        graft.operators.EntityMatch.readPassJoinIndex(spark,
          "/tmp/graft-stress-pjidx", expectMaxDist = 3),
        delta, col("id"), col("k"), col("b")).count()
      println(s"[stress]   registry-probe pairs found: $n")
    }
    // multi-probe at the LSH stress shape: finer 16-bit codes + H<=1
    // probing, hot-bucket cap engaged by the clustered corpus
    time("multi-probe LSH pairs (250k vecs, 16 bits, 2 tables, capped)") {
      val n = Similarity.cosinePairsLshMultiProbe(
        vecs.filter(col("vec_id") < 250000),
        col("vec_id"), col("embedding"),
        threshold = 0.9, dim = 64, nBits = 16, nTables = 2,
        maxBucketSize = 2000).count()
      println(s"[stress]   multi-probe pairs found: $n")
    }
    // the H2 budget at 1M vectors. The binding constraint is NOT the
    // probe-row count but the HAMMING-BALL FRACTION of candidate
    // pairs it admits: |ball(2)|/2^nBits of all cross pairs become
    // candidates, so H2 at 16 bits admits 137/65536 ~ 1/478 of ~5e11
    // pairs (~1e9 candidates — filled the disk; measured before the
    // fix). H2 must BUY its ball with bits: at 24 bits the fraction
    // is 301/2^24 ~ 1.8e-5 and the candidate set is linear again —
    // the rule a 100 TB deployment sizes nBits by.
    time("multi-probe H2 budget (1M vecs, 24 bits, 2 tables, capped)") {
      val n = Similarity.cosinePairsLshMultiProbe(
        vecs.filter(col("vec_id") < 1000000),
        col("vec_id"), col("embedding"),
        threshold = 0.9, dim = 64, nBits = 24, nTables = 2,
        maxBucketSize = 2000, probeHamming = 2).count()
      println(s"[stress]   H2 probe pairs found: $n")
    }
    // watermark replay over the full row count: the two-level
    // prefix-max must stay parallel (block windows + tiny prefix),
    // never a single-partition corpus sort
    time(s"watermark lateness over $rows jittered arrivals") {
      val ev = spark.range(rows).select(
        col("id").as("eid"),
        (col("id") * 1000000000L).as("t"),
        concat(lit("k"), pmod(col("id"), lit(5))).as("key"))
      graft.operators.Retention.watermarkLateness(
        ev.withColumn("a",
          col("t") + pmod(xxhash64(col("eid")), lit(1800L)) *
            1000000000L + col("eid")),
        col("a"), col("t"), col("key"),
        delayNs = 900L * 1000000000L).count()
    }
    // seasonal gap audit over the same arrival span: one corpus scan
    // into hourly counts; profile/slot joins are (keys x 24)
    // broadcasts into the span-sized metadata grid
    time(s"seasonal gap audit over $rows events") {
      val ev = spark.range(rows).select(
        (col("id") * 1000000000L).as("t"),
        concat(lit("k"), pmod(col("id"), lit(5))).as("key"))
      graft.operators.Resample.seasonalGapFill(
        ev, col("key"), col("t")).count()
    }
    // the LIVE watermark-drop harness at volume: staging is ONE
    // concurrent batch of P-task write jobs (multi-file slices,
    // maxFilesPerTrigger=P batching), then one real micro-batch per
    // slice; cost is batch-count x planning overhead plus one corpus
    // pass — NOT row-volume-bound. filesPerSlice=8 makes each slice an
    // 8-task write (the 100x-scale staging shape: no slice ever
    // funnels through a single writer) and the slice->batch contract
    // checks inside the harness prove the batching still aligns.
    time(s"live watermark drops over $rows arrivals " +
        "(streamed; 8-task slice writes)") {
      val day = 86400L * 1000000000L
      val ev = spark.range(rows).select(
        col("id").as("event_id"),
        // ~58 days of arrivals at 5M rows
        (col("id") * (day / 86400L)).as("ts"),
        concat(lit("k"), pmod(col("id"), lit(5))).as("event_type"))
      val jitter = pmod(xxhash64(col("event_id")), lit(432000L)) *
        lit(1000000000L) + col("event_id")
      graft.streaming.EventStream.watermarkDropLive(
        ev, arrival = col("ts") + jitter, tsCol = col("ts"),
        scratch = "/tmp/graft-stress-wmdrop", filesPerSlice = 8).count()
    }
    // 1M docs: the checkpointed token arrays of the full 5M corpus
    // (~GBs) have no bearing on the linear-shape evidence. id FILTER,
    // not limit(): GlobalLimit funnels through one partition and
    // serializes the whole tokenize (measured 122s vs 25s)
    time("co-occurrence lift (window 3, minCount 50) over 1M docs") {
      graft.functions.Cooccurrence.topPairsByLift(
        docs.filter(col("id") < 1000000L), col("text"),
        window = 3, minCount = 50, k = 50).count()
    }

    // Hybrid-retrieval dense-leg crossover: where does the PQ/ADC
    // indexed leg (search_hybrid_rrf_indexed's geometry) overtake the
    // brute cosine leg? Steady state is what the serving path pays —
    // the encode is ONE-TIME index maintenance, measured separately.
    Seq(50000L, 250000L, 1000000L).filter(_ <= vecRows).foreach { n =>
      val sub = vecs.filter(col("vec_id") < n)
      val q20 = vecs.filter(col("vec_id") < 20)
      time(f"hybrid dense BRUTE    (20 q, $n%7d vecs)") {
        Similarity.bruteForceTopK(q20, sub, 20,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"))
          .count()
      }
      val books = graft.operators.Pq.fitAnchored(vecs,
        col("vec_id"), col("embedding"), m = 8, k = 16)
      var codes: org.apache.spark.sql.DataFrame = null
      // keepStorage: the INDEXED case queries the checkpointed codes —
      // the default per-case unpersist would truncate their lineage
      time(f"hybrid dense ENCODE 1x (fit+codes, $n%7d vecs)",
          keepStorage = true) {
        codes = graft.operators.Pq.encode(sub, col("vec_id"),
          col("embedding"), books)
          .select(col("vec_id").as("neighbor_id"), col("codes"))
          .localCheckpoint()
        codes.count()
      }
      // every case in this block keeps storage (they all read the
      // checkpointed `codes`); the explicit unpersist below ends the
      // iteration so code sets don't pile across corpus sizes
      time(f"hybrid dense INDEXED  (20 q, $n%7d codes)",
          keepStorage = true) {
        graft.operators.Pq.adcTopK(q20, codes, books, k = 20,
          col("vec_id"), col("embedding")).count()
      }
      // the gap scales with query volume (per-candidate cost: m=8 LUT
      // reads vs 64 float mults; 8-byte codes vs 256-byte vectors)
      if (n == 1000000L) {
        val q200 = vecs.filter(col("vec_id") < 200)
        time(f"hybrid dense BRUTE    (200 q, $n%7d vecs)",
            keepStorage = true) {
          Similarity.bruteForceTopK(q200, sub, 20,
            col("vec_id"), col("embedding"), col("vec_id"),
            col("embedding")).count()
        }
        time(f"hybrid dense INDEXED  (200 q, $n%7d codes)",
            keepStorage = true) {
          graft.operators.Pq.adcTopK(q200, codes, books, k = 20,
            col("vec_id"), col("embedding")).count()
        }
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    // Multi-resolution span scan: same linear explode->count->join
    // topology as the single-w scan, k=2 resolutions — the evidence
    // it stays linear where the pair-free claim matters
    time("multires span scan w={4,16} (1M docs)") {
      graft.operators.Dedup.duplicatedSpansMultiRes(
        docs.filter(col("id") < 1000000L), col("text"), col("id"),
        windows = Seq(4, 16)).count()
    }

    // JPEG decode throughput: 1M real 16x16 baseline streams decoded
    // per partition (marker walk + huffman + dequant + IDCT per row)
    time("jpeg decode (1M 16x16 gray payloads)") {
      val blob = concat((for (b <- 0 until 4; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"sg${b}x$k:"), col("id").cast("string"))))): _*)
      val enc = graft.operators.Jpeg.encodeGrayColumn(
        docs.filter(col("id") < 1000000L).select(col("id"), blob.as("blob")),
        col("id"), col("blob"), w = 16, h = 16)
      graft.operators.Jpeg.decodeColumn(enc, col("media_id"), col("payload"))
        .toDF().agg(sum(col("pixel_sum"))).collect()
    }

    // Aho-Corasick at blocklist scale: two-token phrases over the doc
    // vocabulary (all distinct, real matches occur). Build time is
    // DRIVER time; scan is the distributed pass over 1M docs.
    def acPatterns(n: Int): Seq[String] =
      (0 until n).map(i => s"w${i % 1000} w${i / 1000}")
    Seq(10000, 100000).foreach { np =>
      val pats = acPatterns(np)
      time(f"ac sparse automaton build ($np%6d patterns, driver)") {
        new graft.functions.AhoCorasick.Automaton(pats)
      }
      time(f"ac dense automaton build ($np%6d patterns, driver)") {
        new graft.functions.AhoCorasick.DenseAutomaton(pats)
      }
      time(f"ac dense scan ($np%6d patterns, 1M docs)") {
        graft.functions.AhoCorasick.scanCountsDense(
          docs.filter(col("id") < 1000000L), col("id"), col("text"), pats)
          .groupBy(col("pattern")).agg(sum(col("n_matches")))
          .count()
      }
    }
    // the hand-sized sparse path at 10k as the comparison line (the
    // 100k sparse scan is the shape the dense table replaces — run it
    // once at 10k only; its per-char map probe is the measured cost)
    time("ac sparse scan ( 10000 patterns, 1M docs)") {
      graft.functions.AhoCorasick.scanCounts(
        docs.filter(col("id") < 1000000L), col("id"), col("text"),
        acPatterns(10000))
        .groupBy(col("pattern")).agg(sum(col("n_matches")))
        .count()
    }
    spark.stop()
  }
}
