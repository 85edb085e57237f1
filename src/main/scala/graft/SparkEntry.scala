package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Redact, TextAnalysis, Vectors}
import graft.operators.{Cdc, Chunker, Cohorts, Compaction, CorpusDiff, DatasetCard, Decontaminate, Dedup, EntityMatch, Funnel, GroupConsumer, GroupCounts, Grouper, Hilbert, IncrementalAgg, Jpeg, Multimodal, Pack, PageRank, PartitionedDataset, Paths, Png, Pq, Privacy, Relational, Rendezvous, Resample, Retention, RetrievalEval, Similarity, SortedExport, Splits, Triangles, Validation, ZOrder}
import graft.streaming.EventStream

/** One catalog query: the builder run on a table directory and the
  * DuckDB SQL whose rows the result must equal (columns are compared by
  * name, rows sorted). */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {

  /** `specs` unchanged, after checking that no name repeats (a `Map`
    * built from them would silently keep only the last). */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect {
      case (name, group) if group.size > 1 => name
    }
    require(repeated.isEmpty,
      s"repeated query names: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }
}

/** Driver contract (SURVEY.md §7): the smoke [[entry]] and the query
  * catalog. Each operator from SURVEY.md §2 (plus the LLM-pipeline
  * extensions) is one [[QuerySpec]] in `catalog`, its builder written
  * next to its DuckDB oracle; [[queries]] and [[oracleSql]] are derived
  * from it. Column names are aligned between the Spark result and the
  * oracle SQL (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reference flagship trace: read -> key -> groupBy -> per-group stats
    * (SURVEY.md §3.2). */
  def entry(spark: SparkSession): DataFrame = {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    GroupCounts(li, Grouper.byColumn("l_returnflag"))
  }

  // ---------------------------------------------------------------------
  // DuckDB-SQL oracle helpers (kept tiny and readable; see
  // graft.functions.{ByteSize,WordCount} for the Spark-side semantics)
  // ---------------------------------------------------------------------

  /** Reference word-count in DuckDB SQL: strip, split on single space,
    * count tokens (empty tokens included). */
  private def duckWords(c: String): String =
    s"len(string_split(regexp_replace($c, '^\\s+|\\s+$$', '', 'g'), ' '))"

  /** DuckDB tokens of `text`: the non-empty whitespace-split pieces, as
    * [[TextAnalysis.tokens]] splits them in Spark. */
  private lazy val textTokens: String = TextAnalysis.Sql.tokens("text")

  /** CTE `name(vec_id, e)`: each embedding scaled to unit L2 norm;
    * `where` filters the embeddings read. No line of it starts with a
    * bar, so the caller's stripMargin leaves it as it is. */
  private def unitVecsCte(name: String, where: String = ""): String =
    s"""$name AS (SELECT vec_id,
       |  [CAST(x AS DOUBLE) / sqrt(list_sum([CAST(y AS DOUBLE) * y
       |    FOR y IN embedding])) FOR x IN embedding] AS e
       |  FROM embeddings$where)""".stripMargin

  /** Fixed-context packing oracle (shared by the window-offset and
    * scalable-offset declarations — same semantics, same SQL): replays
    * the exact stream construction with a window cumsum for offsets,
    * generate_series for the examples a doc overlaps, list_slice for
    * the pieces, stream-ordered string_agg for the glue. Window sums
    * are HUGEINT in DuckDB — cast before the integer division. */
  private lazy val fixedContextOracle: String =
    s"""WITH sized AS (
       |  SELECT lang AS group_id, doc_id AS id, t, CAST(len(t) AS BIGINT) AS k
       |  FROM (SELECT lang, doc_id, $textTokens AS t FROM documents)
       |  WHERE len(t) > 0),
       |off AS (
       |  SELECT group_id, id, t, k,
       |    CAST(sum(k) OVER (PARTITION BY group_id ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
       |  FROM sized),
       |spans AS (
       |  SELECT group_id, id, t, k, e - k AS s,
       |    unnest(generate_series((e - k) // 128, (e - 1) // 128)) AS example_id
       |  FROM off),
       |pieces AS (
       |  SELECT group_id, example_id, s,
       |    greatest(0, example_id * 128 - s) AS lo,
       |    least(k, (example_id + 1) * 128 - s) AS hi,
       |    list_slice(t, greatest(0, example_id * 128 - s) + 1,
       |      least(k, (example_id + 1) * 128 - s)) AS piece
       |  FROM spans)
       |SELECT group_id, example_id,
       |  CAST(sum(hi - lo) AS BIGINT) AS n_tokens,
       |  count(*) AS n_docs,
       |  md5(string_agg(array_to_string(piece, ' '), ' ' ORDER BY s)) AS digest
       |FROM pieces GROUP BY 1, 2""".stripMargin

  /** Fixed per-tag scratch dir under java.io.tmpdir: repeated
    * bench/verify runs WIPE and reuse one path per query instead of
    * accumulating a fresh full-corpus copy per invocation (the jsonl
    * and TFRecord sinks write the whole documents table each run —
    * ADVICE r3). Driver gates run serially, so a fixed path is
    * race-free; the dir itself is (re)created by the writer. */
  private def scratchDir(tag: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scratch", tag)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val children = f.listFiles()
        if (children != null) children.foreach(wipe)
      }
      f.delete(): Unit
    }
    wipe(p.toFile)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Builder of every catalog query, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** DuckDB oracle of every catalog query, by name. */
  lazy val oracleSql: Map[String, String] =
    catalog.map(q => q.name -> q.oracle).toMap

  /** The catalog: every query once, its builder above its oracle. */
  private lazy val catalog: Seq[QuerySpec] = QuerySpec.registry(Seq(
    // A3/A4 group-counts aggregation (SURVEY §2.3) over documents, keyed
    // by lang — the reference's domain-partitioned counts pipeline shape.
    QuerySpec("group_counts_documents", { (s, dir) =>
      GroupCounts(Tables(s, dir, "documents"), Grouper.byColumn("lang"))
    }, oracle =
      s"""SELECT lang AS group_id,
         |  count(*) AS num_examples,
         |  CAST(sum(16 + strlen(text) + strlen(lang) + strlen(source)) AS BIGINT) AS num_bytes,
         |  CAST(sum(${duckWords("text")} + ${duckWords("lang")} + ${duckWords("source")}) AS BIGINT) AS num_words
         |FROM documents GROUP BY lang""".stripMargin),
    // Same operator over lineitem keyed by return flag (numeric-heavy
    // schema exercises the fixed-width byte accounting).
    QuerySpec("group_counts_lineitem", { (s, dir) =>
      GroupCounts(Tables(s, dir, "lineitem"), Grouper.byColumn("l_returnflag"))
    }, oracle = lineitemCountsOracleSql),
    // BINARY group-key fidelity (the reference's GetKeyFn returns raw
    // bytes — types.py:31): key = the 16-byte md5 digest itself,
    // grouped as BinaryType end to end (no string cast to UTF-8-mangle
    // it); DuckDB groups the same BLOB. Only the DECLARED OUTPUT
    // boundary re-encodes to hex — the driver's pandas comparator
    // cannot sort raw-bytes columns — mirroring the text sink's
    // base64-at-the-boundary move (GroupCounts.formatted).
    QuerySpec("group_counts_binary_key", { (s, dir) =>
      GroupCounts(Tables(s, dir, "documents"),
        Grouper.byBytes(unhex(md5(col("source")))))
        .withColumn(Grouper.GroupCol, hex(col(Grouper.GroupCol)))
    }, oracle =
      s"""SELECT hex(unhex(md5(source))) AS group_id,
         |  count(*) AS num_examples,
         |  CAST(sum(16 + strlen(text) + strlen(lang) + strlen(source)) AS BIGINT) AS num_bytes,
         |  CAST(sum(${duckWords("text")} + ${duckWords("lang")} + ${duckWords("source")}) AS BIGINT) AS num_words
         |FROM documents GROUP BY 1""".stripMargin),
    // S3/P6 round trip through the TEXT SINK (reference FormatGroupCount
    // + WriteToText): counts -> delimiter-formatted lines -> text shards
    // with per-shard header -> read back. The non-header lines must
    // render exactly as SQL string-concatenation does; the
    // always-comma header quirk itself is golden-pinned in spec.
    QuerySpec("group_counts_text_sink", { (s, dir) =>
      val counts =
        GroupCounts(Tables(s, dir, "documents"), Grouper.byColumn("lang"))
      val tmp = scratchDir("textsink")
      GroupCounts.writeFormatted(counts, tmp, delimiter = "|")
      s.read.text(tmp).select(col("value").as("line"))
        .filter(col("line") =!= GroupCounts.Header)
    }, oracle =
      s"""SELECT lang || '|' || count(*) || '|' ||
         |  CAST(sum(16 + strlen(text) + strlen(lang) + strlen(source)) AS BIGINT) || '|' ||
         |  CAST(sum(${duckWords("text")} + ${duckWords("lang")} + ${duckWords("source")}) AS BIGINT) AS line
         |FROM documents GROUP BY lang""".stripMargin),
    // A1/A2 capped partition-and-pack (SURVEY §2.3), deterministic
    // variant: greedy pack in ascending (size, doc_id) order with a
    // 10 KB cap so the cap actually binds on the test data. Output is a
    // per-group summary + an order-sensitive digest of the packed texts.
    QuerySpec("pack_capped_documents", { (s, dir) =>
      val packed = Pack.packCappedDeterministic(
        Tables(s, dir, "documents"), Grouper.byColumn("lang"),
        col("text"), col("doc_id"), limit = 10000L)
      packed.select(
        col("group_id"),
        col("num_examples"),
        col("num_bytes"),
        md5(concat_ws("",
          transform(col("examples"), b => b.cast("string")))).as("digest"))
    }, oracle =
      """WITH ranked AS (
        |  SELECT lang, doc_id, text, strlen(text) AS len,
        |    sum(strlen(text)) OVER (PARTITION BY lang
        |      ORDER BY strlen(text), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT lang AS group_id,
        |  count(*) FILTER (WHERE cum < 10000) AS num_examples,
        |  CAST(coalesce(sum(len) FILTER (WHERE cum < 10000), 0) AS BIGINT) AS num_bytes,
        |  md5(coalesce(string_agg(text, chr(1) ORDER BY len, doc_id)
        |    FILTER (WHERE cum < 10000), '')) AS digest
        |FROM ranked GROUP BY lang""".stripMargin),
    // Uncapped pack (reference fast path = collect_list), multiset
    // digest via sorted payloads.
    QuerySpec("pack_uncapped_documents", { (s, dir) =>
      Pack.packUncapped(
        Tables(s, dir, "documents"), Grouper.byColumn("source"), col("text"))
        .select(
          col("group_id"),
          col("num_examples"),
          md5(concat_ws("",
            transform(col("examples"), b => b.cast("string")))).as("digest"))
    }, oracle =
      """SELECT source AS group_id, count(*) AS num_examples,
        |  md5(string_agg(text, chr(1) ORDER BY text)) AS digest
        |FROM documents GROUP BY source""".stripMargin),
    // Full serialization loop (SURVEY §3.1+§3.3): key documents by lang,
    // proto-serialize each row (tf.train.Example), pack per group, write
    // TFRecords of SequenceExamples, read them back, decode — the result
    // must be the original table. Exercises the whole wire-compat stack.
    QuerySpec("roundtrip_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("roundtrip")
      val packed = PartitionedDataset.packExamples(
        docs, Grouper.byColumn("lang"))
      PartitionedDataset.writeTFRecords(packed, tmp)
      PartitionedDataset.decodeExamples(
        PartitionedDataset.loadTFRecords(s, s"$tmp/groups.tfrecord-*"),
        docs.schema)
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // The GZIP leg of the sink/source pair — Beam's WriteToTFRecord
    // compression_type=AUTO contract: a `.gz` file_name_suffix gzips
    // each whole shard, and tf.data reads the same layout with
    // compression_type="GZIP". Same bytes round-trip; only the shard
    // framing is wrapped (TFRecordIO AUTO-detects by suffix both ways).
    QuerySpec("roundtrip_documents_gzip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("roundtrip_gz")
      val packed = PartitionedDataset.packExamples(
        docs, Grouper.byColumn("lang"))
      PartitionedDataset.writeTFRecords(packed, tmp, suffix = ".gz")
      PartitionedDataset.decodeExamples(
        PartitionedDataset.loadTFRecords(s, s"$tmp/groups.tfrecord-*.gz"),
        docs.schema)
    }, oracle =
      // gzip framing must be byte-invisible to the decoded rows
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // The full training-data EXIT PATH: the shifted LM blocks
    // serialize to tf.Example (int64 feature lists), pack per group
    // into SequenceExamples, land as TFRecords, load back, decode —
    // and must digest IDENTICALLY to the never-serialized blocks (the
    // oracle is train_blocks_documents' SQL verbatim). pack -> encode
    // -> store -> load -> parse, one gate.
    QuerySpec("train_blocks_roundtrip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val enc = graft.functions.Vocab.encodeIds(docs,
          col("doc_id"), col("text"), k = 500)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val blocks = Pack.inputTargetBlocks(enc, col("lang"),
        col("doc_id"), col("ids"), seqLen = 128)
      val tmp = scratchDir("train-blocks")
      PartitionedDataset.writeTFRecords(
        PartitionedDataset.packExamples(blocks,
          Grouper.byColumn("group_id")), tmp)
      PartitionedDataset.decodeExamples(
        PartitionedDataset.loadTFRecords(s, s"$tmp/groups.tfrecord-*"),
        blocks.schema)
        .select(col("group_id"), col("example_id"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_digest"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_digest"),
          aggregate(col("class_weights"), lit(0L), (a, x) => a + x)
            .as("n_weight1"))
    }, oracle =
      // train-block replay: vocab ids per token position, per-lang
      // global stream order (doc_id, pos), 129-id blocks, shifted
      // digests, non-padding target count; partial tail blocks drop
      TrainBlocksOracle),

    // The DATASET CARD: one (section, metric, value) long table a
    // curator publishes with a corpus — volume, composition shares,
    // duplication, and quality pass rate in a single gate-checked
    // artifact. Every number integer (shares in ppm), every section a
    // small aggregate; the near-dup pair count rides the standard
    // candidate pipeline, never a corpus self-join.
    QuerySpec("dataset_card_documents", { (s, dir) =>
      DatasetCard.card(Tables(s, dir, "documents"), fuseScans = false)
    }, oracle = datasetCardOracleSql),
    // The same card through the SINGLE-SCAN plan (`fuseScans = true`):
    // one derived projection computes every per-doc signal, grouping
    // sets cover global/per-lang/per-source in one aggregation, and the
    // corpus is read ONCE — the shape that wins when the scan dominates
    // (cluster scale), kept behind a knob because at local sf0.1 the
    // six-way job-parallel shape measured faster (SURVEY §21). Shares
    // the brute-shape oracle verbatim: both plans, one semantics.
    QuerySpec("dataset_card_fused", { (s, dir) =>
      DatasetCard.card(Tables(s, dir, "documents"), fuseScans = true)
    }, oracle =
      // the fused plan shares the brute-shape oracle verbatim: same
      // sections, same integers — only the Spark plan geometry differs
      datasetCardOracleSql),

    // ----------------------------------------------------- text analysis
    QuerySpec("text_stats_documents", { (s, dir) =>
      val t = col("text")
      // single-pass kernel struct; CSE evaluates it once per row across
      // all six derived columns (legacy HOF battery: ~6 scans/row)
      val p = TextAnalysis.profile(t)
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountOf(p).as("n_tokens"),
        TextAnalysis.bpeTokenCount(t).as("n_bpe_tokens"),
        round(TextAnalysis.meanTokenLenOf(p), 6).as("mean_token_len"),
        round(TextAnalysis.punctRatioOf(p), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatioOf(p), 6).as("stopword_ratio"),
        TextAnalysis.qualityScoreOf(p).as("quality"),
        TextAnalysis.langIdOf(p).as("lang_pred"),
        TextAnalysis.fingerprint(t).as("fingerprint"))
    }, oracle = {
      import TextAnalysis.Sql._
      s"""SELECT doc_id,
         |  ${tokenCount("text")} AS n_tokens,
         |  ${bpeTokenCount("text")} AS n_bpe_tokens,
         |  round(${meanTokenLen("text")}, 6) AS mean_token_len,
         |  round(${punctRatio("text")}, 6) AS punct_ratio,
         |  round(${stopwordRatio("text")}, 6) AS stopword_ratio,
         |  ${qualityScore("text")} AS quality,
         |  ${langId("text")} AS lang_pred,
         |  ${fingerprint("text")} AS fingerprint
         |FROM documents""".stripMargin
    }),

    // The same single-pass kernel reached through PURE SQL via the
    // SparkSessionExtensions-registered `text_stats` function — proves
    // the SQL surface end to end in the driver contract (a thrift/
    // connect client with spark.sql.extensions=graft.GraftExtensions
    // gets exactly this). Formulas replicate the Column accessors
    // verbatim; lang tie-break order de,en,es,fr matches LangMarkers.
    QuerySpec("sql_text_stats_extension", { (s, dir) =>
      Tables(s, dir, "documents").createOrReplaceTempView("documents_sqlview")
      s.sql(
        """WITH p AS (
          |  SELECT doc_id, text_stats(text) AS st FROM documents_sqlview),
          |q AS (
          |  SELECT doc_id, st,
          |    greatest(st.m_de, st.m_en, st.m_es, st.m_fr) AS mbest
          |  FROM p)
          |SELECT doc_id,
          |  st.n_tokens AS n_tokens,
          |  round(if(st.n_tokens = 0L, 0.0D,
          |    CAST(st.token_bytes AS DOUBLE) / CAST(st.n_tokens AS DOUBLE)), 6)
          |    AS mean_token_len,
          |  round(if(st.text_bytes = 0L, 0.0D,
          |    CAST(st.punct_bytes AS DOUBLE) / CAST(st.text_bytes AS DOUBLE)), 6)
          |    AS punct_ratio,
          |  round(if(st.n_tokens = 0L, 0.0D,
          |    CAST(st.n_stops AS DOUBLE) / CAST(st.n_tokens AS DOUBLE)), 6)
          |    AS stopword_ratio,
          |  round(least(CAST(st.n_tokens AS DOUBLE) / 100.0D, 1.0D) * 0.5D
          |    + least(if(st.n_tokens = 0L, 0.0D,
          |        CAST(st.n_stops AS DOUBLE) / CAST(st.n_tokens AS DOUBLE))
          |        * 4.0D, 1.0D) * 0.5D
          |    - if(st.text_bytes = 0L, 0.0D,
          |        CAST(st.punct_bytes AS DOUBLE) / CAST(st.text_bytes AS DOUBLE))
          |        * 0.25D, 6) AS quality,
          |  CASE WHEN mbest > 0L AND st.m_de = mbest THEN 'de'
          |       WHEN mbest > 0L AND st.m_en = mbest THEN 'en'
          |       WHEN mbest > 0L AND st.m_es = mbest THEN 'es'
          |       WHEN mbest > 0L AND st.m_fr = mbest THEN 'fr'
          |       ELSE 'und' END AS lang_pred
          |FROM q""".stripMargin)
    }, oracle = {
      import TextAnalysis.Sql._
      s"""SELECT doc_id,
         |  ${tokenCount("text")} AS n_tokens,
         |  round(${meanTokenLen("text")}, 6) AS mean_token_len,
         |  round(${punctRatio("text")}, 6) AS punct_ratio,
         |  round(${stopwordRatio("text")}, 6) AS stopword_ratio,
         |  ${qualityScore("text")} AS quality,
         |  ${langId("text")} AS lang_pred
         |FROM documents""".stripMargin
    }),
    // Gopher repetition/quality rules (arXiv:2112.11446): one
    // projection pass, per-row sorted-run mode for the top-2-gram —
    // no explode/shuffle; every ratio one int/int IEEE division.
    QuerySpec("text_quality_gopher", { (s, dir) =>
      graft.functions.Gopher.stats(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
    }, oracle = graft.functions.Gopher.Sql.query),
    // Hashed-feature linear classifier INFERENCE (the fastText shape):
    // unigram+bigram features -> hashing trick -> integer weight sum ->
    // mean-pooled score -> keep/drop gate. One projection pass, zero
    // shuffles; the md5-derived pseudo-model makes the whole path
    // exactly oracle-checkable (real weights = one broadcast array
    // literal swap).
    QuerySpec("quality_classifier_documents", { (s, dir) =>
      graft.functions.HashedLinear.score(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
    }, oracle =
      // hashed-linear replay: same tokens contract, same u32(md5) slot /
      // weight formulas, exact integer sum, one round-6 division
      classifierOracleSql),
    // MERGEABLE-SUMMARY profile: KMV sketches of two OVERLAPPING corpus
    // versions built in one pass, then union + inclusion-exclusion
    // intersection estimated from the sketches alone — the property
    // that lets shards/snapshots profile incrementally without
    // rescanning (sketch union = k smallest distinct of the concat).
    QuerySpec("profile_sketch_union", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      graft.functions.Kmv.sketchUnionEstimate(docs,
        graft.functions.Kmv.u32(col("text")),
        inA = col("doc_id") < 300, inB = col("doc_id") >= 200, k = 256)
    }, oracle =
      // sketch-union replay: per-side k smallest distinct u32(md5)
      // hashes, union = k smallest distinct of the concatenation, the
      // KMV integer estimate on each
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS u
        |  FROM documents),
        |sa AS (SELECT DISTINCT u FROM h WHERE doc_id < 300
        |       ORDER BY u LIMIT 256),
        |sb AS (SELECT DISTINCT u FROM h WHERE doc_id >= 200
        |       ORDER BY u LIMIT 256),
        |su AS (SELECT DISTINCT u FROM
        |         (SELECT u FROM sa UNION ALL SELECT u FROM sb)
        |       ORDER BY u LIMIT 256),
        |ea AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |         ELSE 255 * 4294967296 // greatest(max(u), 1) END
        |         AS est_a FROM sa),
        |eb AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |         ELSE 255 * 4294967296 // greatest(max(u), 1) END
        |         AS est_b FROM sb),
        |eu AS (SELECT CASE WHEN count(*) < 256 THEN count(*)
        |         ELSE 255 * 4294967296 // greatest(max(u), 1) END
        |         AS est_union FROM su)
        |SELECT CAST(256 AS INT) AS k, CAST(est_a AS BIGINT) AS est_a,
        |  CAST(est_b AS BIGINT) AS est_b,
        |  CAST(est_union AS BIGINT) AS est_union,
        |  CAST(greatest(est_a + est_b - est_union, 0) AS BIGINT)
        |    AS est_intersect
        |FROM ea, eb, eu""".stripMargin),
    // Calibration sweep: confusion matrix + ppm precision/recall of
    // the hashed-linear classifier vs the Gopher rule labels at 7
    // integer per-mille thresholds — how a quality gate's operating
    // point gets picked before filtering 100 TB on it.
    QuerySpec("classifier_threshold_sweep", { (s, dir) =>
      graft.functions.ClassifierEval.thresholdSweep(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
    }, oracle =
      // calibration sweep: composes the classifier and Gopher oracles
      // verbatim as subqueries — truth and scores are BY CONSTRUCTION
      // identical to the per-doc queries'
      graft.functions.ClassifierEval.Sql.query(
        classifierOracleSql, graft.functions.Gopher.Sql.query)),
    // RELIABILITY DIAGRAM of the quality classifier vs the Gopher rule
    // labels: per score bin, observed positive rate in ppm — rate
    // rising with bin means the score can WEIGHT examples, not just
    // gate them. Complements the threshold sweep's operating points.
    QuerySpec("classifier_calibration_bins", { (s, dir) =>
      graft.functions.ClassifierEval.calibrationBins(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
    }, oracle =
      graft.functions.ClassifierEval.Sql.calibrationQuery(
        classifierOracleSql, graft.functions.Gopher.Sql.query)),

    // Per-language distinctive terms by log-free tf-idf (tf/df — one
    // IEEE division of two exact integers, bit-identical in DuckDB) with
    // the bounded top-k aggregate, not a window.
    QuerySpec("text_tfidf_by_lang", { (s, dir) =>
      graft.functions.TfIdf.topTerms(Tables(s, dir, "documents"),
        col("lang"), col("text"), col("doc_id"), k = 10)
        .withColumnRenamed("group", "lang")
    }, oracle =
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |ft AS (SELECT * FROM toks WHERE length(term) >= 3),
        |tf AS (SELECT lang, term, count(*) AS tf FROM ft GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft
        |        GROUP BY 1),
        |scored AS (
        |  SELECT lang, term, tf, df, tf * 1.0 / df AS score
        |  FROM tf JOIN dfq USING (term)),
        |ranked AS (
        |  SELECT lang, term, tf, df, score,
        |    CAST(row_number() OVER (
        |      PARTITION BY lang ORDER BY score DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT lang, term, rank, score, tf, df
        |FROM ranked WHERE rank <= 10""".stripMargin),
    // Inverted-index export: term -> df + BOUNDED ascending posting
    // list (cap smallest doc ids via the TopK aggregate — a stop word
    // cannot blow up an agg buffer). The serving-index artifact next
    // to the corpus.
    QuerySpec("text_inverted_index", { (s, dir) =>
      graft.functions.InvertedIndex.build(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), minDf = 5L, cap = 20)
    }, oracle = graft.functions.InvertedIndex.Sql.query(minDf = 5L, cap = 20)),
    // Conjunctive (AND) retrieval — the serving query the index above
    // exists for: docs containing ALL query terms, ranked by the
    // log-free integer tf-idf surrogate sum(tf * (N - df)). Query-term
    // occurrences are filtered BEFORE the explode (|Q|-sparse stream),
    // df/N broadcast back, bounded TopK ranking.
    QuerySpec("search_boolean_documents", { (s, dir) =>
      graft.functions.Search.booleanAnd(Tables(s, dir, "documents"),
        col("doc_id"), col("text"),
        terms = Seq("dup", "join", "window"), k = 20)
    }, oracle =
      graft.functions.Search.Sql.query(
        terms = Seq("dup", "join", "window"), k = 20)),
    // HYBRID retrieval via Reciprocal-Rank Fusion: the keyword top-20
    // (integer tf-idf) fuses with the dense top-20 (cosine from the
    // vec-0 query embedding; vec_id == doc_id is the corpus linkage)
    // by rank only — no score calibration across systems. All
    // integer; fusion cost is two <=20-row lists.
    QuerySpec("search_hybrid_rrf", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      val lex = graft.functions.Search.booleanAnd(docs,
          col("doc_id"), col("text"),
          terms = Seq("dup", "join", "window"), k = 20)
        .select(col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb, 20,
          col("vec_id"), col("embedding"), col("vec_id"),
          col("embedding"))
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.functions.Search.rrfFusion(lex, dense, kRrf = 60, topN = 10)
    }, oracle = {
      // RRF replay: the boolean-search oracle as a subquery, the dense
      // top-20 from vec 0, full-outer fuse, integer 1e6 // (60 + rank)
      val lexQ = graft.functions.Search.Sql.query(
        terms = Seq("dup", "join", "window"), k = 20)
      s"""WITH lex AS (
         |  SELECT doc_id, CAST(rank AS INT) AS lex_rank FROM ($lexQ)),
         |${unitVecsCte("v")},
         |dense AS (
         |  SELECT neighbor_id AS doc_id, CAST(rk AS INT) AS dense_rank
         |  FROM (
         |    SELECT c.vec_id AS neighbor_id,
         |      row_number() OVER (ORDER BY round(list_sum([q.e[i] * c.e[i]
         |        FOR i IN range(1, len(q.e) + 1)]), 6) DESC, c.vec_id)
         |        AS rk
         |    FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id <> 0)
         |  WHERE rk <= 20),
         |fused AS (
         |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         |    l.lex_rank, d.dense_rank,
         |    CAST(coalesce(1000000 // (60 + l.lex_rank), 0) +
         |      coalesce(1000000 // (60 + d.dense_rank), 0) AS BIGINT)
         |      AS rrf_e6
         |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
         |SELECT doc_id, lex_rank, dense_rank, rrf_e6, rank FROM (
         |  SELECT *, CAST(row_number() OVER
         |    (ORDER BY rrf_e6 DESC, doc_id) AS INT) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin
    }),
    // Hybrid RRF with the dense leg on the COMPRESSED INDEX: candidates
    // come off the PQ/ADC 8-byte code rows (the 100 TB shape — the dense
    // leg never scans exact vectors), ranked ascending ADC distance;
    // fusion is rank-only so the two legs compose unchanged. The
    // brute-force declaration above stays as the verification twin.
    QuerySpec("search_hybrid_rrf_indexed", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      val lex = graft.functions.Search.booleanAnd(docs,
          col("doc_id"), col("text"),
          terms = Seq("dup", "join", "window"), k = 20)
        .select(col("doc_id"), col("rank"))
      val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
        m = 8, k = 16)
      val codes = Pq.encode(emb, col("vec_id"), col("embedding"), books)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      val dense = Pq.adcTopK(emb.filter(col("vec_id") === 0), codes, books,
          k = 20, col("vec_id"), col("embedding"))
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.functions.Search.rrfFusion(lex, dense, kRrf = 60, topN = 10)
    }, oracle = {
      // indexed-hybrid replay: the dense leg re-derives the PQ codebook,
      // codes, and per-query ADC sums (the similarity_pq_adc chain pinned
      // to query vec 0, top-20 ascending distance), then the same
      // rank-only RRF fuse as the brute-force twin
      val lexQ = graft.functions.Search.Sql.query(
        terms = Seq("dup", "join", "window"), k = 20)
      s"""$pqDistsSql,
         |lex AS (
         |  SELECT doc_id, CAST(rank AS INT) AS lex_rank FROM ($lexQ)),
         |qcodes AS (
         |  SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dists)
         |  WHERE rnk = 1),
         |qpairs AS (
         |  SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id, n.j, d.d
         |  FROM qcodes n
         |  JOIN dists d ON d.j = n.j AND d.ci = n.code
         |  WHERE d.vec_id = 0 AND n.vec_id <> d.vec_id),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_sum(list(d ORDER BY j)), 6) AS adc_dist
         |  FROM qpairs GROUP BY 1, 2),
         |dense AS (
         |  SELECT neighbor_id AS doc_id, CAST(rk AS INT) AS dense_rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc_dist ASC, neighbor_id) AS rk FROM adc)
         |  WHERE rk <= 20),
         |fused AS (
         |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         |    l.lex_rank, d.dense_rank,
         |    CAST(coalesce(1000000 // (60 + l.lex_rank), 0) +
         |      coalesce(1000000 // (60 + d.dense_rank), 0) AS BIGINT)
         |      AS rrf_e6
         |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
         |SELECT doc_id, lex_rank, dense_rank, rrf_e6, rank FROM (
         |  SELECT *, CAST(row_number() OVER
         |    (ORDER BY rrf_e6 DESC, doc_id) AS INT) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin
    }),
    // MULTI-PATTERN blocklist scan (Aho-Corasick): every occurrence of
    // every pattern — overlaps and NESTED patterns included ("in"
    // matches inside every "window" via suffix links) — in one pass
    // per document, cost independent of list size. The governance scan
    // a contains-per-pattern loop cannot afford at 100 TB.
    QuerySpec("text_blocklist_scan", { (s, dir) =>
      graft.functions.AhoCorasick.scanCounts(
        Tables(s, dir, "documents"), col("doc_id"), col("text"),
        patterns = Seq("query", "small query", "dup", "window", "in"))
    }, oracle = blocklistScanOracleSql),
    // The SAME scan through the dense-table automaton (flat full-DFA
    // next-move array, char classes, broadcast once per executor) —
    // the >10k-pattern shape where the map-per-node trie's probe and
    // per-task closure ship become the cost; identical match
    // semantics, identical oracle.
    QuerySpec("text_blocklist_scan_dense", { (s, dir) =>
      graft.functions.AhoCorasick.scanCountsDense(
        Tables(s, dir, "documents"), col("doc_id"), col("text"),
        patterns = Seq("query", "small query", "dup", "window", "in"))
    }, oracle = blocklistScanOracleSql),
    // Exact PHRASE retrieval through positional postings: term i must
    // sit at anchor + i. The postings stream is |phrase|-sparse (term
    // filter rides before the explode); alignment is two equi-joins on
    // (doc, shifted pos) — index-shaped, never a substring scan.
    QuerySpec("search_phrase_documents", { (s, dir) =>
      graft.functions.Search.phrase(Tables(s, dir, "documents"),
        col("doc_id"), col("text"), Seq("small", "query", "line"))
    }, oracle =
      graft.functions.Search.Sql.phraseQuery(Seq("small", "query", "line"))),
    // Pareto-FRONT data selection: the (quality, length) skyline — docs
    // no other doc beats on both axes — instead of a single weighted
    // threshold. Per-score aggregate + a window over the value-domain-
    // bounded score table; the corpus itself never sorts globally.
    QuerySpec("select_pareto_documents", { (s, dir) =>
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("n_chars"),
          round(TextAnalysis.qualityScoreOf(
            TextAnalysis.profile(col("text"))) * 1e6)
            .cast("long").as("q_e6"))
      Splits.selectPareto(scored, col("doc_id"), col("q_e6"),
        col("n_chars"))
        .select(col("id").as("doc_id"), col("x").as("q_e6"),
          col("y").as("n_chars"))
    }, oracle = {
      // skyline replay: per-score max length, strictly-better running max
      // over scores descending, survivors equal their tier's best and
      // beat every higher tier's
      val qs = TextAnalysis.Sql.qualityScore("text")
      s"""WITH s AS (
         |  SELECT doc_id, n_chars,
         |    CAST(round($qs * 1000000) AS BIGINT) AS q_e6
         |  FROM documents),
         |px AS (SELECT q_e6, max(n_chars) AS best_y FROM s GROUP BY 1),
         |fr AS (SELECT q_e6, best_y,
         |         max(best_y) OVER (ORDER BY q_e6 DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS better
         |       FROM px)
         |SELECT s.doc_id, s.q_e6, s.n_chars
         |FROM s JOIN fr USING (q_e6)
         |WHERE s.n_chars = fr.best_y
         |  AND (fr.better IS NULL OR s.n_chars > fr.better)""".stripMargin
    }),
    // Tokenizer-vocab precursor: corpus-wide token frequency top-k with
    // the cumulative coverage curve (what fraction of all occurrences a
    // vocab truncated at each rank covers). One corpus shuffle of
    // (token, count) partials; top-k is sort-limit (TakeOrdered), the
    // window runs over the k-row result only; coverage is one IEEE
    // division of exact integers.
    QuerySpec("vocab_top_tokens", { (s, dir) =>
      graft.functions.Vocab.topTokens(
        Tables(s, dir, "documents"), col("text"), k = 50)
    }, oracle =
      // same full ordering key (cnt DESC, token) everywhere, so window
      // RANGE peers are singletons and the running sum is ROWS-exact;
      // HUGEINT sums cast to BIGINT before the one double division
      """WITH cnt AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '\s+'), x -> x <> '')) AS token
        |    FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
        |top AS (SELECT token, cnt FROM cnt
        |        ORDER BY cnt DESC, token LIMIT 50)
        |SELECT CAST(row_number() OVER w AS INT) AS rank, token,
        |  CAST(cnt AS BIGINT) AS cnt,
        |  CAST(CAST(sum(cnt) OVER w AS BIGINT) AS DOUBLE) / total
        |    AS coverage
        |FROM top, tot
        |WINDOW w AS (ORDER BY cnt DESC, token)""".stripMargin),
    // Frequency-aware token subsampling (the word2vec rebalancing
    // pass): stopwords thinned by sqrt(t/f_rel), rare words kept; the
    // per-occurrence decision is an md5-uniform of (doc, position), so
    // kept counts are reproducible AND engine-exact (the threshold is
    // one correctly-rounded sqrt of exact-integer arithmetic).
    QuerySpec("vocab_subsample_tokens", { (s, dir) =>
      graft.functions.Vocab.subsampleCounts(
        Tables(s, dir, "documents"), col("doc_id"), col("text"),
        t = 0.001, k = 50)
    }, oracle =
      // subsample replay: same occurrence key, same one-sqrt threshold
      // (correctly-rounded IEEE from identical exact-integer operands)
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, i - 1 AS pos, t[CAST(i AS INTEGER)] AS token
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
        |        FROM toks)),
        |cnt AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS f
        |  FROM occ GROUP BY 1),
        |tot AS (SELECT CAST(sum(f) AS BIGINT) AS grand FROM cnt),
        |dec AS (
        |  SELECT o.token, c.f,
        |    (('0x' || substr(md5(o.doc_id::VARCHAR || ':'
        |        || o.pos::VARCHAR), 1, 8))::BIGINT::DOUBLE
        |      / 4294967296.0)
        |    < least(1.0, sqrt(0.001 * grand / f)) AS keep
        |  FROM occ o JOIN cnt c USING (token), tot),
        |agg AS (
        |  SELECT token, max(f) AS f,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS kept
        |  FROM dec GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY f DESC, token) AS INT)
        |    AS rank,
        |  token, f, kept, (kept * 1000000) // f AS keep_ppm
        |FROM agg ORDER BY f DESC, token LIMIT 50""".stripMargin),
    // Collocation mining: windowed co-occurrence pairs ranked by LIFT
    // (the PMI argument — log is monotone, so top-k by the exact
    // integer lift IS top-k by PMI, no cross-engine float log).
    // minCount=5 prunes the rare-pair PMI pathology AND shrinks the
    // pair table before the unigram joins; per-doc pair generation is
    // a local array transform, zero position shuffles.
    QuerySpec("text_cooccurrence_lift", { (s, dir) =>
      graft.functions.Cooccurrence.topPairsByLift(
        Tables(s, dir, "documents"), col("text"),
        window = 3, minCount = 5, k = 50)
    }, oracle =
      // windowed pairs via the same 1-based list indexing; lift is
      // BIGINT multiply then integer div — bit-exact both engines
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w AS token, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM uni),
        |pos AS (
        |  SELECT t, unnest(range(1, len(t))) AS i
        |  FROM toks WHERE len(t) >= 2),
        |pairs AS (
        |  SELECT t[i] AS tok_a, t[j] AS tok_b
        |  FROM (SELECT t, i,
        |          unnest(range(i + 1, least(i + 3, len(t)) + 1)) AS j
        |        FROM pos)),
        |pc AS (
        |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (
        |  SELECT tok_a, tok_b, n_ab, a.n AS n_a, b.n AS n_b,
        |    CAST((CAST(n_ab AS HUGEINT) * grand * 1000000)
        |      // (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_e6
        |  FROM pc JOIN uni a ON pc.tok_a = a.token
        |          JOIN uni b ON pc.tok_b = b.token, tot)
        |SELECT CAST(row_number() OVER
        |    (ORDER BY lift_e6 DESC, tok_a, tok_b) AS INT) AS rank,
        |  tok_a, tok_b, n_ab, n_a, n_b, lift_e6
        |FROM scored
        |ORDER BY lift_e6 DESC, tok_a, tok_b
        |LIMIT 50""".stripMargin),
    // Language-ID CONFUSION MATRIX: the n-gram-marker predictor vs the
    // labeled lang column — the eval table that decides whether the
    // heuristic is good enough to route 100 TB by. One battery pass
    // behind a barrier, one small aggregate.
    QuerySpec("eval_langid_confusion", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), col("text"))
        .repartition(col("lang"))
        .select(col("lang"),
          TextAnalysis.langIdOf(TextAnalysis.profile(col("text")))
            .as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
    }, oracle = {
      import TextAnalysis.Sql._
      s"""SELECT lang, ${langId("text")} AS lang_pred,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin
    }),
    // DSIR-style data selection: rank docs by target-domain likeness
    // under hashed-bigram bag models (u32-md5 buckets), scored by the
    // log-free integer ppm-frequency discriminant — the importance-
    // resampling step that tilts a corpus toward a domain without a
    // trained classifier. One corpus pass; 256-row weight table
    // broadcast back; bounded TopK.
    QuerySpec("dsir_select_documents", { (s, dir) =>
      graft.functions.Dsir.topKByImportance(Tables(s, dir, "documents"),
        col("doc_id"), col("text"), isTarget = col("lang") === "zh",
        k = 50, nBuckets = 256)
    }, oracle =
      graft.functions.Dsir.Sql.query(targetLang = "zh", k = 50,
        nBuckets = 256)),
    // Tokenizer APPLY: encode the corpus against the trained top-20
    // vocab (OOV -> 0) — per-doc id counts + md5 sequence digest. The
    // k-entry vocab embeds as ONE map literal, so encoding is a pure
    // zero-shuffle projection (no token-granular dictionary join).
    QuerySpec("tokenizer_encode_documents", { (s, dir) =>
      graft.functions.Vocab.encode(Tables(s, dir, "documents"),
        col("doc_id"), col("text"), k = 20)
    }, oracle = graft.functions.Vocab.Sql.encodeQuery(k = 20)),
    // BPE tokenizer training, iteration one: corpus collapses to the
    // word-frequency table ONCE, adjacent char pairs count over the
    // VOCAB weighted by word freq — the next-merge ranking. Every
    // later merge iteration reruns this plan on vocab-sized input.
    QuerySpec("tokenizer_bpe_pairs", { (s, dir) =>
      graft.functions.BpePairs.topPairs(
        Tables(s, dir, "documents"), col("text"), k = 30)
    }, oracle =
      // BPE iteration-one replay: word-frequency table, then adjacent
      // code-point pairs weighted by word freq (substr is code-point
      // indexed in both engines); ties by pair string ASC
      s"""WITH vocab AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(${TextAnalysis.Sql.tokens("lower(text)")}) AS w
         |    FROM documents) GROUP BY 1),
         |pairs AS (
         |  SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT w, freq, unnest(range(1, len(w))) AS i
         |        FROM vocab WHERE len(w) >= 2)
         |  GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT)
         |    AS rank, pair, cnt
         |FROM pairs ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),
    // BPE iteration TWO: the round-1 winner merges into one symbol
    // (left-to-right replace IS greedy BPE), pairs recount over the
    // merged vocab — proves the training loop iterates, still
    // vocab-sized per round.
    QuerySpec("tokenizer_bpe_round2", { (s, dir) =>
      graft.functions.BpePairs.topPairsAfterMerge(
        Tables(s, dir, "documents"), col("text"), k = 30)
    }, oracle =
      // round-2 replay: winner from the round-1 ranking, replace-merged
      // vocab (chr(1) sentinel), recount, render the symbol back
      s"""WITH vocab AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(${TextAnalysis.Sql.tokens("lower(text)")}) AS w
         |    FROM documents) GROUP BY 1),
         |p1 AS (
         |  SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT w, freq, unnest(range(1, len(w))) AS i
         |        FROM vocab WHERE len(w) >= 2)
         |  GROUP BY 1),
         |win AS (SELECT replace(pair, ' ', '') AS m FROM p1
         |        ORDER BY cnt DESC, pair LIMIT 1),
         |v2 AS (SELECT replace(w, (SELECT m FROM win), chr(1)) AS w,
         |         freq
         |       FROM vocab),
         |p2 AS (
         |  SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT w, freq, unnest(range(1, len(w))) AS i
         |        FROM v2 WHERE len(w) >= 2)
         |  GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT)
         |    AS rank,
         |  replace(pair, chr(1), '[' || (SELECT m FROM win) || ']')
         |    AS pair, cnt
         |FROM p2 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),
    // Count-Min sketch frequency estimation (depth 4 × width 1024,
    // md5-derived cells — engine-replayable): estimates for the exact
    // top-50 tokens, alongside their true counts. Sketch state is
    // O(depth·width) per task no matter the corpus/vocabulary size —
    // the fixed-memory path where exact counting's shuffle scales with
    // distinct terms. Invariant the spec pins: cms_count >= exact_cnt.
    QuerySpec("text_heavy_hitters_cms", { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(50)
      val sk = graft.functions.CountMin.sketch(
        toks, col("term"), depth = 4, width = 1024)
      graft.functions.CountMin.estimate(sk, exact, col("term"),
        depth = 4, width = 1024)
    }, oracle =
      // CMS cells are md5-derived (u32(md5(d ':' term)) mod width), so the
      // sketch replays cell-for-cell; the top-50 ordering key
      // (exact_cnt DESC, term) is total, so the candidate set is exact.
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |exact AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM toks GROUP BY 1
        |  ORDER BY exact_cnt DESC, term LIMIT 50),
        |cells AS (
        |  SELECT d,
        |    ('0x'||substr(md5(CAST(d AS VARCHAR)||':'||term),1,8))::BIGINT
        |      % 1024 AS cell,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks CROSS JOIN (SELECT unnest(range(0,4)) AS d)
        |  GROUP BY 1, 2)
        |SELECT e.term, e.exact_cnt,
        |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
        |FROM exact e
        |CROSS JOIN (SELECT unnest(range(0,4)) AS d) ds
        |LEFT JOIN cells c ON c.d = ds.d AND c.cell =
        |  ('0x'||substr(md5(CAST(ds.d AS VARCHAR)||':'||e.term),1,8))::BIGINT
        |    % 1024
        |GROUP BY 1, 2""".stripMargin),
    // CMS exercised as a PIPELINE (sketch -> candidate extraction ->
    // estimate -> integer-exact phi threshold), not a primitive: all
    // terms whose estimate clears 1% of the token stream. Guaranteed
    // superset of the true 1%-heavy hitters (CMS never undercounts).
    QuerySpec("text_heavy_hitters_pipeline", { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      graft.functions.CountMin.heavyHitters(toks, col("term"),
        depth = 4, width = 1024, phiNum = 1L, phiDen = 100L)
    }, oracle =
      // Replays sketch, candidate vocabulary, estimates, and the
      // integer-exact 1% threshold end to end.
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
        |cells AS (
        |  SELECT d,
        |    ('0x'||substr(md5(CAST(d AS VARCHAR)||':'||term),1,8))::BIGINT
        |      % 1024 AS cell,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks CROSS JOIN (SELECT unnest(range(0,4)) AS d)
        |  GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT term FROM toks),
        |est AS (
        |  SELECT e.term, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
        |  FROM cand e
        |  CROSS JOIN (SELECT unnest(range(0,4)) AS d) ds
        |  LEFT JOIN cells c ON c.d = ds.d AND c.cell =
        |    ('0x'||substr(md5(CAST(ds.d AS VARCHAR)||':'||e.term),1,8))::BIGINT
        |      % 1024
        |  GROUP BY 1)
        |SELECT term, cms_count FROM est, n
        |WHERE cms_count * 100 >= n * 1""".stripMargin),
    // Join-SIZE estimation from CMS sketches alone (AMS inner product):
    // |orders ⋈ events ON o_custkey = user_id| estimated from two
    // 4x1024 sketches — neither table is touched beyond its one
    // sketch-building pass, the estimate is min over hash rows of the
    // cell-wise inner product (only ever OVERcounts). The exact twin
    // rides per-key count tables (never materializing the join), tagged
    // d=-1 into the same union so the final one-row result needs no
    // single-row cross join. Planner use case: size every candidate
    // join from per-column sketches built once in the profiling pass.
    QuerySpec("profile_join_cardinality", { (s, dir) =>
      val cm = graft.functions.CountMin
      // width rule: the inner product's excess is ~(|A|·|B|)/width per
      // row — size width to the PRODUCT of stream lengths over the
      // tolerable absolute error, not to the distinct-key count
      val skO = cm.sketch(Tables(s, dir, "orders"),
        col("o_custkey").cast("string"), depth = 4, width = 65536)
      val skE = cm.sketch(Tables(s, dir, "events"),
        col("user_id").cast("string"), depth = 4, width = 65536)
      val ip = cm.joinCardinalityByRow(skO, skE)
        .select(col("d"), col("ip").as("v"))
      val exact = Tables(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("ca"))
        .join(Tables(s, dir, "events")
          .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("cb")),
          "k")
        .agg(sum(col("ca") * col("cb")).as("v"))
        .select(lit(-1).as("d"), coalesce(col("v"), lit(0L)).as("v"))
      ip.union(exact)
        .agg(min(when(col("d") >= 0, col("v"))).as("est_join_rows"),
          max(when(col("d") === -1, col("v"))).as("exact_join_rows"))
        .select(col("est_join_rows"), col("exact_join_rows"),
          expr("(est_join_rows - exact_join_rows) * 1000000L" +
            " div exact_join_rows").as("overcount_ppm"))
    }, oracle =
      // AMS join-size replay: same md5 cells, row-wise inner products,
      // min over rows; exact twin from per-key count tables
      """WITH ds AS (SELECT unnest(range(0, 4)) AS d),
        |ska AS (
        |  SELECT d,
        |    ('0x'||substr(md5(CAST(d AS VARCHAR)||':'||
        |      CAST(o_custkey AS VARCHAR)),1,8))::BIGINT % 65536 AS cell,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders CROSS JOIN ds GROUP BY 1, 2),
        |skb AS (
        |  SELECT d,
        |    ('0x'||substr(md5(CAST(d AS VARCHAR)||':'||
        |      CAST(user_id AS VARCHAR)),1,8))::BIGINT % 65536 AS cell,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events CROSS JOIN ds GROUP BY 1, 2),
        |ip AS (
        |  SELECT a.d, sum(a.cnt * b.cnt) AS v
        |  FROM ska a JOIN skb b USING (d, cell) GROUP BY 1),
        |ex AS (
        |  SELECT coalesce(sum(ca * cb), 0) AS v
        |  FROM (SELECT o_custkey AS k, count(*) AS ca
        |        FROM orders GROUP BY 1) oa
        |  JOIN (SELECT user_id AS k, count(*) AS cb
        |        FROM events GROUP BY 1) eb USING (k))
        |SELECT CAST((SELECT min(v) FROM ip) AS BIGINT) AS est_join_rows,
        |  CAST((SELECT v FROM ex) AS BIGINT) AS exact_join_rows,
        |  CAST(((SELECT min(v) FROM ip) - (SELECT v FROM ex)) * 1000000
        |    // (SELECT v FROM ex) AS BIGINT) AS overcount_ppm""".stripMargin),
    // WINSORIZED aggregates: values clamp to the Tukey fences before
    // summing — the robust total a contaminated column needs. Two
    // scans for all three columns; e4-decimal clipped sums.
    QuerySpec("profile_winsorize_lineitem", { (s, dir) =>
      graft.functions.Profiler.winsorize(Tables(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }, oracle =
      // winsorize replay: binned-cut quartiles with the round-2
      // refinement (binnedCutCtes — ranks ceil(n/4) and ceil(3n/4)),
      // Tukey fences, clamp, e4-decimal sum
      Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
        s"""(WITH v AS MATERIALIZED (
           |            SELECT CAST($c AS DOUBLE) AS v FROM lineitem
           |            WHERE $c IS NOT NULL),
           |mm AS MATERIALIZED (SELECT min(v) AS lo, max(v) AS hi,
           |         CAST(count(*) AS BIGINT) AS n FROM v),
           |h1 AS (SELECT least(CAST(floor((v - lo) / (hi - lo) * 4096.0)
           |          AS BIGINT), 4095) AS b,
           |        CAST(count(*) AS BIGINT) AS cnt
           |      FROM v, mm GROUP BY 1),
           |c1 AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM h1),
           |${binnedCutCtes("A", "(n + 3) // 4")},
           |${binnedCutCtes("B", "(3 * n + 3) // 4")},
           |f AS (SELECT a.cut - 1.5 * (b.cut - a.cut) AS lo_f,
           |        b.cut + 1.5 * (b.cut - a.cut) AS hi_f
           |      FROM qA a, qB b)
           |SELECT '$c' AS col_name, lo_f AS lo_fence, hi_f AS hi_fence,
           |  CAST(sum(CASE WHEN $c < lo_f THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_clipped_lo,
           |  CAST(sum(CASE WHEN $c > hi_f THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_clipped_hi,
           |  CAST(sum(CAST(round(least(greatest(CAST($c AS DOUBLE),
           |    lo_f), hi_f), 4) AS DECIMAL(28,4))) * 10000 AS BIGINT)
           |    AS clipped_sum_e4,
           |  CAST(count($c) AS BIGINT) AS n_rows
           |FROM lineitem, f GROUP BY lo_f, hi_f)""".stripMargin
      }.mkString("\nUNION ALL\n")),
    // Join-strategy ADVISOR: per candidate join, profiling stats (one
    // groupBy-counts pass per side) + the AMS size estimate from
    // sketches built off those SAME counts, folded through an integer
    // rule ladder into broadcast / salt / pre-aggregate / sort-merge
    // advice — the planner table consulted before running anything.
    QuerySpec("profile_join_advisor", { (s, dir) =>
      val p = graft.functions.Profiler
      // the three advice rows are independent and each materializes
      // eagerly inside joinAdvice (r11 persist hygiene), so OVERLAP
      // them (guide §2.6): three driver threads submit the jobs
      // concurrently and the scheduler back-fills idle cores; the
      // result rows and their union order are unchanged.
      def advise(name: String, l: DataFrame, lk: Column,
                 r: DataFrame, rk: Column) = () => p.joinAdvice(name, l, lk, r, rk)
      DriverJobs.runAll(s.sparkContext)(Seq(
        advise("lineitem_orders",
          Tables(s, dir, "lineitem"), col("l_orderkey"),
          Tables(s, dir, "orders"), col("o_orderkey")),
        advise("customer_nation",
          Tables(s, dir, "customer"), col("c_nationkey"),
          Tables(s, dir, "nation"), col("n_nationkey")),
        advise("orders_events",
          Tables(s, dir, "orders"), col("o_custkey"),
          Tables(s, dir, "events"), col("user_id"))))
        .reduce(_ union _)
    }, oracle =
      // advisor replay: per-candidate counts, weighted-sketch AMS
      // estimate, and the same integer rule ladder; one block per
      // candidate, UNION ALL
      Seq(
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("orders_events", "orders", "o_custkey", "events", "user_id"))
      .map { case (nm, lt, lk, rt, rk) =>
        s"""(WITH lc AS (SELECT CAST($lk AS VARCHAR) AS k, count(*) AS c
           |      FROM $lt GROUP BY 1),
           |rc AS (SELECT CAST($rk AS VARCHAR) AS k, count(*) AS c
           |      FROM $rt GROUP BY 1),
           |ls AS (SELECT CAST(sum(c) AS BIGINT) n,
           |         CAST(count(*) AS BIGINT) dk,
           |         CAST(max(c) AS BIGINT) mf FROM lc),
           |rs AS (SELECT CAST(sum(c) AS BIGINT) n,
           |         CAST(count(*) AS BIGINT) dk,
           |         CAST(max(c) AS BIGINT) mf FROM rc),
           |ska AS (SELECT dd, ('0x'||substr(md5(CAST(dd AS VARCHAR)
           |          ||':'||k),1,8))::BIGINT % 65536 AS cell,
           |          CAST(sum(c) AS BIGINT) AS cnt
           |        FROM lc CROSS JOIN (SELECT unnest(range(0,4)) AS dd)
           |        GROUP BY 1, 2),
           |skb AS (SELECT dd, ('0x'||substr(md5(CAST(dd AS VARCHAR)
           |          ||':'||k),1,8))::BIGINT % 65536 AS cell,
           |          CAST(sum(c) AS BIGINT) AS cnt
           |        FROM rc CROSS JOIN (SELECT unnest(range(0,4)) AS dd)
           |        GROUP BY 1, 2),
           |e AS (SELECT CAST(min(v) AS BIGINT) est FROM (
           |        SELECT a.dd, sum(a.cnt * b.cnt) AS v
           |        FROM ska a JOIN skb b USING (dd, cell) GROUP BY 1))
           |SELECT '$nm' AS join_name, ls.n AS n_left, rs.n AS n_right,
           |  ls.dk AS distinct_left, rs.dk AS distinct_right,
           |  ls.mf AS max_freq_left, rs.mf AS max_freq_right,
           |  e.est AS est_join_rows,
           |  CASE WHEN rs.n <= 1000 THEN 'broadcast_right'
           |       WHEN ls.n <= 1000 THEN 'broadcast_left'
           |       WHEN ls.mf * 100 > ls.n * 1
           |         OR rs.mf * 100 > rs.n * 1 THEN 'salt_skewed'
           |       WHEN e.est > (ls.n + rs.n) * 10 THEN 'pre_aggregate'
           |       ELSE 'sort_merge' END AS advice
           |FROM ls, rs, e)""".stripMargin
      }.mkString("\nUNION ALL\n")),
    // PARTITION-SIZING advisor: exact row/byte totals folded into the
    // submit-time config — shuffle partition count at the 128 MiB
    // target, broadcastability at the 10 MB default, mean row width.
    // Byte measures: octet_length of the wide columns + fixed width
    // for numerics — deterministic, so the advice itself is gated.
    QuerySpec("profile_partition_advisor", { (s, dir) =>
      val p = graft.functions.Profiler
      p.partitionAdvice("documents", Tables(s, dir, "documents"),
          octet_length(col("text")) + octet_length(col("lang")) +
            octet_length(col("source")) + lit(16))
        .union(p.partitionAdvice("lineitem", Tables(s, dir, "lineitem"),
          lit(88)))
        .union(p.partitionAdvice("events", Tables(s, dir, "events"),
          octet_length(col("props")) + octet_length(col("event_type"))
            + lit(32)))
        .union(p.partitionAdvice("embeddings",
          Tables(s, dir, "embeddings"),
          size(col("embedding")) * 4 + lit(12)))
    }, oracle =
      """WITH u AS (
        |  SELECT 'documents' AS table_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(strlen(text) + strlen(lang)
        |      + strlen(source) + 16) AS BIGINT) AS total_bytes
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |    CAST(sum(88) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events', CAST(count(*) AS BIGINT),
        |    CAST(sum(strlen(props) + strlen(event_type)
        |      + 32) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'embeddings', CAST(count(*) AS BIGINT),
        |    CAST(sum(len(embedding) * 4 + 12) AS BIGINT)
        |  FROM embeddings)
        |SELECT table_name, n_rows, total_bytes,
        |  total_bytes // greatest(n_rows, 1) AS avg_row_bytes,
        |  greatest((total_bytes + 134217727) // 134217728, 1)
        |    AS shuffle_partitions,
        |  total_bytes <= 10485760 AS broadcastable
        |FROM u""".stripMargin),
    // Corpus-self-trained bigram LM novelty (the log-free stand-in for
    // CCNet's KenLM perplexity filter): per-doc scaled sum of inverse
    // conditional probabilities — exact-integer ratios, DECIMAL
    // accumulation, no ln() (libm ulps differ across engines).
    QuerySpec("text_novelty_bigram", { (s, dir) =>
      graft.functions.NgramModel.bigramNovelty(
        Tables(s, dir, "documents"), col("text"), col("doc_id"))
        .withColumnRenamed("id", "doc_id")
    }, oracle =
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    $textTokens AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w AS prev, count(*) AS c_uni
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |big AS (
        |  SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |bc AS (SELECT prev, cur, count(*) AS c_bi FROM big GROUP BY 1, 2)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CAST(round(u.c_uni / c.c_bi, 6) AS DECIMAL(28,6)))
        |    * 1000000 AS BIGINT) AS novelty_e6
        |FROM big b JOIN bc c USING (prev, cur) JOIN uni u USING (prev)
        |GROUP BY b.doc_id""".stripMargin),

    // -------------------------------------------------------------- dedup
    QuerySpec("dedup_exact_documents", { (s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"), col("text"), col("doc_id"))
    }, oracle =
      s"""SELECT md5(${TextAnalysis.Sql.normalized("text")}) AS fp,
         |  min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("dedup_ngram_documents", { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
    }, oracle = NgramJaccardOracle),
    // MinHash-LSH candidates verified by exact Jaccard: on this corpus
    // the result equals the exact pairs (miss prob ~2e-4 per pair,
    // asserted in TextDedupSpec), so it shares the exact oracle.
    QuerySpec("dedup_minhash_documents", { (s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), n = 3, k = 64, bands = 16,
        threshold = 0.8, seed = 42L)
    }, oracle = NgramJaccardOracle),
    // SimHash pairs, md5-anchored token hashes so the DuckDB oracle can
    // recompute the hash bit-for-bit (the xxhash64 default stays the
    // library fast path; pigeonhole recall asserted in TextDedupSpec
    // covers both — the segment join is hash-agnostic).
    QuerySpec("dedup_simhash_documents", { (s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), maxHamming = 3,
        hashFn = Dedup.simhashMd5)
    }, oracle =
      // bit-for-bit md5-simhash recomputation: 60-bit token hash = top 15
      // md5 hex chars; per-bit +-1 vote; pairs at hamming <= 3
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    $textTokens AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_sum([((strpos('0123456789abcdef', md5(tok)[i]) - 1)::BIGINT
        |               << ((15 - i) * 4)) FOR i IN range(1, 16)]) AS h
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
        |bits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN 1::BIGINT << b ELSE 0::BIGINT END AS bv
        |  FROM th, (SELECT unnest(range(0, 60)) AS b) bs
        |  GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS h FROM bits
        |       GROUP BY doc_id),
        |allh AS (
        |  SELECT d.doc_id, coalesce(s.h, 0) AS h
        |  FROM documents d LEFT JOIN sh s USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM allh a JOIN allh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin),
    // Connected-component clustering over the exact n-gram Jaccard pair
    // graph: every doc gets (cluster_id = min reachable id, cluster
    // size). Distributed pointer-jump label propagation; oracle is a
    // DuckDB recursive-CTE transitive closure over the same pairs.
    QuerySpec("dedup_clusters_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      val asg = Dedup.clusters(docs, col("doc_id"), pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val sizes = asg.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      asg.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    }, oracle = NgramClustersOracle),
    // Cross-SOURCE duplication matrix: which feeds duplicate each
    // other (diagonal = within-source rate) — the report that sets
    // crawl-dedup priorities. Runs off the near-dup PAIR graph (pair-
    // sized joins), never a corpus self-join.
    QuerySpec("profile_source_overlap", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      CorpusDiff.sourceOverlap(pairs, docs, col("doc_id"), col("source"))
    }, oracle =
      // pair graph joined to sources, unordered pair counts
      s"""WITH $NgramPairsCtes
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_dup_pairs
         |FROM pairs p
         |JOIN documents da ON p.id_a = da.doc_id
         |JOIN documents db ON p.id_b = db.doc_id
         |GROUP BY 1, 2""".stripMargin),
    // Recency-DECAYED per-type totals (trending leaderboard): value
    // halves per 3-day half-life from the latest event — exponential
    // decay with zero transcendentals (whole half-lives, 10^6 >> k ppm
    // weights, e4 decimal accumulation: bit-exact replay). One
    // map-combined aggregation.
    QuerySpec("events_decay_totals", { (s, dir) =>
      Retention.decayTotals(Tables(s, dir, "events"), col("ts"),
        col("event_type"), col("value"),
        halfLifeNs = 259200L * 1000000000L)
    }, oracle =
      // decay replay: scalar-subquery anchor, integer half-life count,
      // 10^6 >> k weights (clamped at 20), e4-decimal accumulation
      """WITH a AS (SELECT max(epoch_ns(ts)) AS t0 FROM events),
        |w AS (SELECT event_type, value,
        |        (t0 - epoch_ns(ts)) // 259200000000000 AS k
        |      FROM events, a)
        |SELECT event_type AS key, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)) *
        |    (CASE WHEN k >= 20 THEN 0 ELSE 1000000 >> k END)) * 10000
        |    AS BIGINT) AS decayed_value_e10
        |FROM w GROUP BY 1""".stripMargin),
    // Trailing-7-day distinct users per day from per-day KMV sketches:
    // the sliding-distinct shape that at 100 TB replaces re-scanning
    // every row 7x (and unbounded per-window hash sets) with ONE
    // corpus read + semilattice unions over a tiny sketch table. The
    // window fan-out is an explode to the windows a day serves — an
    // equi-shuffle, never a range join. md5-u32 hashes: exact below
    // k=64 (sized so the 150-user corpus SATURATES the sketch and the
    // estimator branch is the one the gate replays), engine-exact
    // integer estimate above.
    QuerySpec("events_sliding_distinct_users", { (s, dir) =>
      graft.functions.Kmv.slidingDistinctEstimate(
        Tables(s, dir, "events"), col("ts"),
        graft.functions.Kmv.u32(col("user_id")), k = 64,
        windowBuckets = 7, bucketNs = 86400L * 1000000000L)
    }, oracle =
      // sliding-distinct replay: per-day k-smallest-distinct hash sets,
      // exploded to the 7 windows each day serves, re-truncated to k,
      // same integer estimate arithmetic
      SlidingDistinctOracle),
    // STREAMING twin of the sliding distinct: the per-day KMV sketches
    // ARE the stream's aggregation state (a custom Aggregator in a
    // real micro-batch plan, k longs per day); the sliding union runs
    // over the tiny snapshot a dashboard reads. Same oracle as the
    // batch twin — the stream must land on identical sketches.
    QuerySpec("events_stream_distinct_users", { (s, dir) =>
      import graft.functions.Kmv
      def kagg(c: Column) = graft.expressions.KmvAgg.sketch(c, 64)
      val day = 86400L * 1000000000L
      val perDay = Tables.eventsStream(s, dir)
        .select(
          ((col("ts") - pmod(col("ts"), lit(day))) / lit(day.toDouble))
            .cast("long").as("bucket"),
          Kmv.u32(col("user_id")).as("__h"))
        .groupBy(col("bucket"))
        .agg(kagg(col("__h")).as("sk"), count(lit(1)).as("n_events"))
      Kmv.slidingFromBuckets(
        EventStream.runToCompletion(perDay, "stream_distinct_out"),
        k = 64, windowBuckets = 7)
    }, oracle =
      // the stream aggregates to the same per-day sketches -> same
      // sliding composition -> same oracle
      SlidingDistinctOracle),
    // STREAMING twin of the windowed leaderboard
    // (events_window_topk_users): per-(window, user) exact-e4 running
    // totals ARE the stream's aggregation state — the real micro-batch
    // stateful plan, growing each user's sum as arrivals land — and
    // the bounded TopK aggregate collapses the dashboard snapshot to 3
    // rows per window at read time (the sketch-as-state pattern of
    // events_stream_distinct_users: heavy state in the stream, bounded
    // post-aggregation over the snapshot a dashboard actually reads).
    // Shares the batch twin's oracle verbatim — the stream must land
    // on identical totals regardless of micro-batch slicing.
    QuerySpec("events_stream_window_topk", { (s, dir) =>
      val w = 86400L * 1000000000L
      val perUser = Tables.eventsStream(s, dir)
        .groupBy((col("ts") - pmod(col("ts"), lit(w)))
          .as("window_start"), col("user_id"))
        .agg(Relational.exactValueSumE4.as("v_e4"))
      val snap = EventStream.runToCompletion(
        perUser, "stream_window_topk_out")
      graft.functions.TopK.perQuery(
        snap.select(col("window_start").as("query_id"),
          col("user_id").as("neighbor_id"),
          col("v_e4").cast("double").as("score")), k = 3)
        .select(col("query_id").as("window_start"),
          col("neighbor_id").as("user_id"), col("rank"),
          col("score").cast("long").as("value_e4"))
    }, oracle =
      // the streaming twin must land on the same totals and ranks no
      // matter how arrivals sliced into micro-batches
      windowTopkOracleSql),
    // DAU/WAU STICKINESS: daily actives over trailing-7-day actives in
    // ppm, both from the same per-day KMV sketches (window 1 vs
    // window 7 of the sliding-distinct machinery) — the
    // product-analytics retention pulse, still one corpus read.
    QuerySpec("events_stickiness_ratio", { (s, dir) =>
      import graft.functions.Kmv
      val day = 86400L * 1000000000L
      def est(windowBuckets: Int) = Kmv.slidingDistinctEstimate(
        Tables(s, dir, "events"), col("ts"),
        Kmv.u32(col("user_id")), k = 64,
        windowBuckets = windowBuckets, bucketNs = day)
      est(1).select(col("bucket"), col("est_distinct").as("dau"))
        .join(est(7).select(col("bucket"),
          col("est_distinct").as("wau")), Seq("bucket"))
        .withColumn("stickiness_ppm", expr("(dau * 1000000) DIV wau"))
    }, oracle =
      // window-1 vs window-7 replays of the same sketch machinery
      s"""SELECT d1.bucket, d1.est_distinct AS dau,
         |  d7.est_distinct AS wau,
         |  (d1.est_distinct * 1000000) // d7.est_distinct
         |    AS stickiness_ppm
         |FROM (${slidingDistinctSql(1)}) d1
         |JOIN (${slidingDistinctSql(7)}) d7 USING (bucket)""".stripMargin),
    // Power-of-two ACTIVITY histogram: users bucketed by
    // floor(log2(events)) = length(bin(n)) - 1 — exact integer, no
    // float log — the whale-vs-casual shape that sizes per-user state
    // and flags bot-like outliers.
    QuerySpec("events_user_activity_histogram", { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .select((length(bin(col("n"))) - 1).cast("long")
          .as("log2_bucket"))
        .groupBy(col("log2_bucket"))
        .agg(count(lit(1)).as("n_users"))
    }, oracle =
      """WITH u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS log2_bucket,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1""".stripMargin),
    // WATERMARK-LATENESS audit: would a 15-min watermark drop data?
    // The testdata arrives in event order, so a deterministic network
    // delay is planted: md5-jitter up to 30 min (plus an event_id ns
    // uniquifier so arrival order is total) — then the canonical
    // watermark rule is replayed via the two-level prefix-max (block
    // windows + tiny broadcast prefix, no global corpus sort). Per
    // event type: drop count, rate in bp, and the overshoot a wider
    // delay would need to absorb. All epoch-ns integer arithmetic.
    QuerySpec("events_watermark_lateness", { (s, dir) =>
      val jitter = pmod(
        graft.functions.Kmv.u32(col("event_id")), lit(1800L)) *
        lit(1000000000L) + col("event_id")
      Retention.watermarkLateness(Tables(s, dir, "events"),
        arrivalCol = col("ts") + jitter, tsCol = col("ts"),
        keyCol = col("event_type"), delayNs = 900L * 1000000000L)
    }, oracle =
      // watermark replay: jittered arrival order, global prior-max
      // window (fine at oracle scale), canonical drop rule
      """WITH m AS (
        |  SELECT event_type AS key, epoch_ns(ts) AS t,
        |    epoch_ns(ts)
        |      + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |          ::BIGINT % 1800) * 1000000000
        |      + event_id AS a
        |  FROM events),
        |p AS (
        |  SELECT key, t,
        |    max(t) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        |  FROM m),
        |f AS (
        |  SELECT key, t, prior,
        |    (prior IS NOT NULL AND t < prior - 900000000000) AS late,
        |    CASE WHEN prior IS NOT NULL AND t < prior - 900000000000
        |      THEN prior - 900000000000 - t END AS lateness
        |  FROM p)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(coalesce(max(lateness), 0) AS BIGINT) AS max_late_ns,
        |  (CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
        |    * 10000) // count(*) AS late_bp
        |FROM f GROUP BY key""".stripMargin),
    // The LIVE twin: a BACKFILL-heavy feed (md5-jitter up to 5 days —
    // offline devices syncing late; the audit's 30-min network jitter
    // can never be late at batch granularity, where the effective
    // cutoff lags TWO 2-day slices) staged as deterministic slice
    // files (one micro-batch each), a real watermarked streaming
    // aggregation run over them, and the per-batch QueryProgress
    // numRowsDroppedByWatermark read back — the drop-rate dashboard a
    // production stream gets for free. Batch boundaries, watermark
    // advancement, and the drop rule are all integer-deterministic
    // (details on watermarkDropLive), so even this live metric
    // carries an exact oracle.
    QuerySpec("events_stream_watermark_drops", { (s, dir) =>
      val jitter = pmod(
        graft.functions.Kmv.u32(col("event_id")), lit(432000L)) *
        lit(1000000000L) + col("event_id")
      EventStream.watermarkDropLive(Tables(s, dir, "events"),
        arrival = col("ts") + jitter, tsCol = col("ts"),
        scratch = scratchDir("wmdrop"))
    }, oracle =
      // LIVE drop-metric replay: batch = 2-day arrival slice
      // (dense_rank), watermark for LATE-EVENT filtering = ms-floored
      // event-time max through batch N-2 minus the 15-min delay (the
      // lag-2 rule Spark applies in-run: eviction advances per batch,
      // the late filter uses the PREVIOUS batch's pre-advancement
      // value — pinned empirically and in EventStreamSpec), dropped
      // units = distinct late (5-min window, event_type) GROUPS (the
      // stateful op counts post-merge rows, so raw late rows sharing a
      // group count once)
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS tus, event_type,
        |    (epoch_ns(ts)
        |      + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |          ::BIGINT % 432000) * 1000000000
        |      + event_id) // 172800000000000 AS slice
        |  FROM events),
        |b AS (SELECT dense_rank() OVER (ORDER BY slice) - 1 AS bid,
        |        tus, event_type
        |      FROM e),
        |m AS (SELECT bid, max(tus) AS mx,
        |        CAST(count(*) AS BIGINT) AS n_input
        |      FROM b GROUP BY 1),
        |w AS (SELECT bid, n_input,
        |        (max(mx) OVER (ORDER BY bid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |          // 1000 - 900000) * 1000 AS wm
        |      FROM m),
        |g AS (SELECT r.bid, r.tus - r.tus % 300000000 AS ws,
        |        r.event_type,
        |        max(CASE WHEN (r.tus - r.tus % 300000000 + 300000000)
        |            <= w.wm THEN 1 ELSE 0 END) AS late
        |      FROM b r JOIN w USING (bid) GROUP BY 1, 2, 3)
        |SELECT w.bid AS batch_id, w.n_input,
        |  CAST(coalesce(sum(g.late), 0) AS BIGINT) AS n_dropped_live
        |FROM w LEFT JOIN g ON g.bid = w.bid
        |GROUP BY 1, 2""".stripMargin),
    // HYPERLOGLOG distinct sketch: 256 one-byte registers per group
    // (mergeable by MAX), exact integer harmonic fold (S40), one fixed
    // BIGINT numerator division — the industry distinct estimator next
    // to its exact verification column. The sketch state never carries
    // key cardinality; exact countDistinct's shuffle does (that's the
    // 100 TB trade being declared).
    QuerySpec("events_hll_distinct_users", { (s, dir) =>
      graft.functions.Hll.estimateWithExact(Tables(s, dir, "events"),
          col("event_type"), col("user_id").cast("string"))
        .withColumnRenamed("group", "event_type")
    }, oracle = hllDistinctUsersOracleSql),
    // STREAMING twin: the register table IS the stream state (max-rank
    // per (group, bucket) — order-associative, bounded at groups x 256
    // rows at any volume); the estimate folds over the snapshot and
    // lands on the batch result exactly (shared oracle).
    QuerySpec("events_stream_hll_distinct", { (s, dir) =>
      import graft.functions.Hll
      val regs = Tables.eventsStream(s, dir)
        .select(col("event_type").as("group"),
          col("user_id").cast("string").as("__t"))
        .select(col("group"), Hll.bucketOf(col("__t")).as("bucket"),
          Hll.rankOf(col("__t")).as("r"))
        .groupBy(col("group"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val est = Hll.estimateFromRegisters(
        EventStream.runToCompletion(regs, "stream_hll_out"))
      val exact = Tables(s, dir, "events")
        .select(col("event_type").as("group"),
          col("user_id").cast("string").as("__t"))
        .groupBy(col("group"))
        .agg(countDistinct(col("__t")).as("n_exact"))
      exact.join(est, "group")
        .select(col("group").as("event_type"), col("n_exact"),
          col("v_zero"), col("s40"), col("est_hll"),
          col("est_distinct"))
    }, oracle =
      // register-max state is order-associative, so the stream twin lands
      // on the identical registers — same replay
      hllDistinctUsersOracleSql),
    // CONSERVATIVE-UPDATE CMS (CM-CU): tighter estimates than plain CMS
    // at the same 4x256 state, but order-DEPENDENT — the slice harness
    // pins arrival to one micro-batch per slice and the update
    // discipline to sorted-term batched application, so the fold
    // replays exactly (the oracle walks the same (slice, term) sequence
    // through a recursive CTE). Emits exact/CMS/CM-CU side by side for
    // the top-50 users: exact <= cmcu <= cms, every row integer.
    QuerySpec("events_stream_cmcu_heavy_users", { (s, dir) =>
      EventStream.cmcuHeavyUsers(Tables(s, dir, "events"),
        tsCol = col("ts"), termCol = col("user_id"),
        scratch = scratchDir("cmcu"))
    }, oracle =
      // CM-CU replay: the same (slice, sorted-term) update sequence the
      // harness pins, folded through a recursive CTE — each step raises
      // only the term's 4 cells to max(cell, min(cells) + cnt); the plain
      // CMS twin is the order-free cell sum over the same updates
      """WITH RECURSIVE
        |upd AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY slice, term) AS step,
        |    term, cnt,
        |    [CAST(d * 256 + ('0x' || substr(md5(d::VARCHAR || ':' ||
        |        term), 1, 8))::BIGINT % 256 AS BIGINT)
        |     FOR d IN range(0, 4)] AS cs
        |  FROM (
        |    SELECT epoch_ns(ts) // 172800000000000 AS slice,
        |      CAST(user_id AS VARCHAR) AS term,
        |      CAST(count(*) AS BIGINT) AS cnt
        |    FROM events GROUP BY 1, 2)),
        |st AS (
        |  SELECT CAST(0 AS BIGINT) AS step,
        |    [CAST(0 AS BIGINT) FOR i IN range(0, 1024)] AS m
        |  UNION ALL
        |  SELECT s.step + 1,
        |    list_transform(range(1, 1025), i ->
        |      CASE WHEN list_contains(u.cs, i - 1)
        |        THEN greatest(s.m[i],
        |          least(s.m[u.cs[1]+1], s.m[u.cs[2]+1], s.m[u.cs[3]+1],
        |                s.m[u.cs[4]+1]) + u.cnt)
        |        ELSE s.m[i] END)
        |  FROM st s JOIN upd u ON u.step = s.step + 1),
        |fin AS MATERIALIZED (
        |  SELECT m FROM st WHERE step = (SELECT max(step) FROM upd)),
        |cmsv AS MATERIALIZED (
        |  SELECT cell, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM (SELECT unnest(cs) AS cell, cnt FROM upd) GROUP BY 1),
        |cand AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS term,
        |    CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, term LIMIT 50),
        |cc AS (
        |  SELECT term, exact_cnt,
        |    [CAST(d * 256 + ('0x' || substr(md5(d::VARCHAR || ':' ||
        |        term), 1, 8))::BIGINT % 256 AS BIGINT)
        |     FOR d IN range(0, 4)] AS cs
        |  FROM cand)
        |SELECT cc.term, cc.exact_cnt,
        |  (SELECT CAST(min(v.c) AS BIGINT) FROM cmsv v
        |   WHERE list_contains(cc.cs, v.cell)) AS cms_count,
        |  CAST(least(f.m[cc.cs[1]+1], f.m[cc.cs[2]+1], f.m[cc.cs[3]+1],
        |    f.m[cc.cs[4]+1]) AS BIGINT) AS cmcu_count
        |FROM cc CROSS JOIN fin f""".stripMargin),
    // POINT-IN-TIME SCD2 join: every event pairs with the dimension
    // VERSION valid at ITS timestamp (a plain equi-join with the
    // validity interval as residual — never a range join). The dim is
    // a deterministic 3-version-per-user tier history over the events'
    // 30-day span, md5-derived so the whole construction replays.
    QuerySpec("events_scd2_pointintime", { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val t0 = 1704067200000000000L // 2024-01-01T00:00Z epoch-ns
      val tenDays = 864000000000000L
      val dim = ev.select(col("user_id").as("uid")).distinct()
        .select(col("uid"), explode(sequence(lit(0), lit(2))).as("v"))
        .select(col("uid"), col("v"),
          (lit(t0) + col("v") * tenDays).as("valid_from"),
          when(col("v") < 2, lit(t0) + (col("v") + 1) * tenDays)
            .cast("long").as("valid_to"),
          concat(lit("tier"),
            pmod(graft.expressions.Md5Hex.u32(concat(col("uid").cast("string"),
              lit(":"), col("v").cast("string"))), lit(3L))).as("tier"))
      Cdc.pointInTime(ev, col("user_id"), col("ts"),
          dim, col("uid"), col("valid_from"), col("valid_to"))
        .groupBy(col("tier"), col("v"))
        .agg(count(lit(1)).as("n_events"),
          Relational.exactValueSumE4.as("total_value_e4"))
    }, oracle =
      // point-in-time replay: same md5 tier history, interval-residual
      // join, e4-decimal value sum
      """WITH dim AS (
        |  SELECT uid, v,
        |    1704067200000000000 + v * 864000000000000 AS valid_from,
        |    CASE WHEN v < 2 THEN 1704067200000000000
        |      + (v + 1) * 864000000000000 END AS valid_to,
        |    'tier' || CAST(('0x'||substr(md5(CAST(uid AS VARCHAR)||':'||
        |      CAST(v AS VARCHAR)),1,8))::BIGINT % 3 AS VARCHAR) AS tier
        |  FROM (SELECT DISTINCT user_id AS uid FROM events)
        |  CROSS JOIN (SELECT unnest(range(0, 3)) AS v))
        |SELECT tier, CAST(v AS INT) AS v, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS total_value_e4
        |FROM events e JOIN dim d ON e.user_id = d.uid
        |  AND epoch_ns(e.ts) >= d.valid_from
        |  AND (d.valid_to IS NULL OR epoch_ns(e.ts) < d.valid_to)
        |GROUP BY 1, 2""".stripMargin),
    // OLAP ROLLUP over orders: (priority, status) -> priority subtotals
    // -> grand total in ONE pass (Expand with 3 projections, inside
    // the plan-audit bound); grouping_id distinguishes the levels.
    QuerySpec("rel_orders_rollup", { (s, dir) =>
      Tables(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice"), 2).cast("decimal(18,2)")) * 100)
            .cast("long").as("total_e2"),
          grouping_id().as("level"))
    }, oracle =
      // rollup replay: DuckDB ROLLUP + GROUPING id, e2-decimal totals
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) * 100
        |    AS BIGINT) AS total_e2,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
        |    AS level
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin),
    // Windowed LEADERBOARD: top-3 users by exact e4 value per 1-day
    // window — per-window ranking through the bounded TopK aggregate
    // (map-side ≤k partials per window), never a per-window sort of
    // all users. The batch twin of a streaming trending board.
    QuerySpec("events_window_topk_users", { (s, dir) =>
      val w = 86400L * 1000000000L
      val perUser = Tables(s, dir, "events")
        .groupBy((col("ts") - pmod(col("ts"), lit(w)))
          .as("window_start"), col("user_id"))
        .agg(Relational.exactValueSumE4.as("v_e4"))
      graft.functions.TopK.perQuery(
        perUser.select(col("window_start").as("query_id"),
          col("user_id").as("neighbor_id"),
          col("v_e4").cast("double").as("score")), k = 3)
        .select(col("query_id").as("window_start"),
          col("neighbor_id").as("user_id"), col("rank"),
          col("score").cast("long").as("value_e4"))
    }, oracle =
      // leaderboard replay: day floor, e4-decimal sums, per-window rank
      windowTopkOracleSql),
    // Robust rate-anomaly detection: hourly per-type counts, flagged
    // beyond 3 MADs from the median — median/MAD because mean/σ is
    // poisoned by the outliers it hunts. Exact percentiles over the
    // bounded window-count series; anomalous windows only.
    QuerySpec("events_anomaly_windows", { (s, dir) =>
      Retention.anomalyWindows(Tables(s, dir, "events"), col("ts"),
        col("event_type"), windowNs = 3600L * 1000000000L)
    }, oracle =
      // anomaly replay: same window floor, quantile_cont medians, same
      // driver-computed 3x1.4826 factor
      anomalyWindowsOracleSql),
    // STREAMING twin of the anomaly scan: hourly per-type counts are
    // the stream's aggregation state (the real micro-batch stateful
    // plan); the median/MAD flagging re-derives over the tiny
    // windows-x-keys snapshot — never over raw events. Shares the
    // batch twin's oracle verbatim (micro-batch slicing invisible).
    QuerySpec("events_stream_anomaly_windows", { (s, dir) =>
      val wNs = 3600L * 1000000000L
      val wc = Tables.eventsStream(s, dir)
        .groupBy(col("event_type").as("key"),
          (col("ts") - pmod(col("ts"), lit(wNs))).as("window_start"))
        .agg(count(lit(1)).as("cnt"))
      // localCheckpoint: the flagging self-joins the snapshot (dev x
      // med x mad) and the memory-sink view resolves to the SAME
      // attribute ids on both sides (conflicting-references error);
      // checkpointing mints fresh ones (and the table is tiny)
      Retention.anomalyFromWindowCounts(
        EventStream.runToCompletion(wc, "stream_anomaly_out")
          .localCheckpoint())
    }, oracle =
      // micro-batch slicing must be invisible to the flagged set
      anomalyWindowsOracleSql),
    // Duplicate-cluster SIZE distribution + corpus mass per size — the
    // "how duplicated is this corpus" report (a long tail of pairs vs
    // a few mega-clusters demand different dedup strategies).
    QuerySpec("graph_component_stats", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      val total = docs.count()
      Dedup.clusters(docs, col("doc_id"), pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          expr(s"cluster_size * n_clusters * 1000000 DIV $total")
            .as("corpus_ppm"))
    }, oracle =
      // component-size histogram off the same transitive closure
      s"""WITH RECURSIVE $NgramClusterCtes,
         |cs AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM documents)
         |SELECT sz AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sz * count(*) * 1000000 // (SELECT n FROM tot)
         |    AS BIGINT) AS corpus_ppm
         |FROM cs GROUP BY 1""".stripMargin),
    // Tokenizer FERTILITY by language: BPE-ish subword count over
    // whitespace word count, in exact integer ppm — the "how many
    // tokens does this language cost" table multilingual budgeting
    // needs. One projection pass, two regex counters per row.
    QuerySpec("tokenizer_fertility_lang", { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextAnalysis.bpeTokenCount(col("text"))).as("n_subwords"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_words"))
        .select(col("lang"), col("n_subwords"), col("n_words"),
          expr("n_subwords * 1000000 DIV n_words").as("fertility_ppm"))
    }, oracle = {
      // fertility replay: same BPE-ish regex and whitespace split
      val bpe = TextAnalysis.Sql.bpeTokenCount("text")
      val words = TextAnalysis.Sql.tokenCount("text")
      s"""SELECT lang, CAST(sum($bpe) AS BIGINT) AS n_subwords,
         |  CAST(sum($words) AS BIGINT) AS n_words,
         |  CAST(sum($bpe) * 1000000 // sum($words) AS BIGINT)
         |    AS fertility_ppm
         |FROM documents GROUP BY 1""".stripMargin
    }),
    // LEAKAGE-SAFE splits: train/val/test keyed by the near-dup CLUSTER
    // id, so a test doc can never have a train-side twin (doc-keyed
    // hashing leaks every duplicate pair across the split boundary).
    // 80/10/10 by the integer-exact md5 uniform of cluster_id.
    QuerySpec("split_leakage_safe_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      val asg = Dedup.clusters(docs, col("doc_id"), pairs)
      Splits.splitByCluster(asg, col("id"), col("cluster_id"), 80, 10)
        .select(col("id").as("doc_id"), col("cluster_id"), col("split"))
    }, oracle =
      // same transitive closure, then the cluster-keyed md5 split bucket
      s"""WITH RECURSIVE $NgramClusterCtes
         |SELECT doc_id, cluster_id,
         |  CASE WHEN b < 80 THEN 'train'
         |       WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |        ('0x'||substr(md5(CAST(cluster_id AS VARCHAR)),1,8))
         |          ::BIGINT * 100 // 4294967296 AS b
         |      FROM asg)""".stripMargin),

    // JSONL interchange roundtrip: write the corpus as JSON-lines shards
    // (the standard LLM-corpus interchange format), read back with the
    // schema pinned (no inference pass over 100 TB), prove lossless.
    QuerySpec("source_jsonl_roundtrip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("jsonl")
      docs.write.mode("overwrite").json(tmp)
      s.read.schema(docs.schema).json(tmp)
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // ORC interchange roundtrip (the other columnar format warehouses
    // exchange): native Spark ORC source, schema preserved by the
    // format itself — proves the engine is not parquet-bound.
    QuerySpec("source_orc_roundtrip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("orc")
      docs.write.mode("overwrite").orc(tmp)
      s.read.schema(docs.schema).orc(tmp)
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // SCHEMA EVOLUTION read: an old export (doc_id, lang) and a new one
    // that grew n_chars coexist in one logical table via mergeSchema —
    // old rows surface the added column as null. The ingest-compat
    // contract every long-lived corpus store needs (readers never
    // break on a widened producer). Footer-only schema merge; no data
    // rewrite of the old files.
    QuerySpec("source_schema_evolution", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val v1 = scratchDir("schema-v1")
      val v2 = scratchDir("schema-v2")
      docs.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(v1)
      docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(v2)
      s.read.option("mergeSchema", "true").parquet(v1, v2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_chars")).as("n_evolved"),
          sum(col("n_chars")).as("sum_chars"))
    }, oracle =
      // merged-read replay: old-file rows carry NULL for the added column
      """SELECT lang, count(*) AS n_rows,
        |  count(*) FILTER (WHERE doc_id >= 250) AS n_evolved,
        |  CAST(sum(n_chars) FILTER (WHERE doc_id >= 250) AS BIGINT)
        |    AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin),
    // CSV interchange roundtrip: standard RFC-style quoting (escape =
    // doubled quote, not Spark's nonstandard backslash default) +
    // multiLine read so embedded newlines/quotes/commas survive;
    // schema pinned on read — no inference pass over 100 TB.
    QuerySpec("source_csv_roundtrip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("csv")
      // univocity TRIMS leading/trailing blanks by default on BOTH
      // sides (write defaults true, read trims too) — turn it off
      // everywhere or values silently mutate in the roundtrip
      docs.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(tmp)
      s.read.schema(docs.schema)
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(tmp)
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // Avro container roundtrip: hand-rolled OCF codec (sources.AvroIO —
    // no spark-avro module on this classpath), schema pinned on read,
    // one write task per partition / one read task per file. Proves the
    // row-oriented interchange path alongside the columnar ones.
    QuerySpec("source_avro_roundtrip", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("avro")
      graft.sources.AvroIO.write(docs, tmp)
      graft.sources.AvroIO.read(s, s"$tmp/part-*.avro", docs.schema)
    }, oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // Keep-BEST dedup: per n-gram-Jaccard duplicate cluster, keep the
    // highest-quality member (lowest doc_id on ties) — the survivor
    // rule production dedup ships. Clusters from the exact pair graph;
    // quality from the single-pass kernel.
    QuerySpec("dedup_keep_best_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        col("text"), col("doc_id"), n = 3, threshold = 0.8)
      val asg = Dedup.clusters(docs, col("doc_id"), pairs)
      val scores = docs.select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreOf(
            TextAnalysis.profile(col("text"))).as("quality"))
      Dedup.keepBest(asg, scores, col("doc_id"), col("quality"))
    }, oracle = NgramKeepBestOracle),
    // Incremental dedup: the continuously-ingesting shape — a delta
    // batch (doc_id % 10 >= 8) admits only fingerprints unseen in the
    // base corpus (doc_id % 10 < 8) and keeps one copy per delta
    // fingerprint. Base is touched only as an anti-join index side.
    QuerySpec("dedup_incremental_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.incremental(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8),
        col("text"), col("doc_id"))
    }, oracle = incrementalDedupOracleSql),
    // CONTAINMENT dedup: |A∩B|/|A| >= 0.9 — the asymmetric overlap
    // that catches a doc QUOTED inside a longer one (symmetric Jaccard
    // can't). Asymmetric prefix filter: rare-shingle probes against
    // the full index; exact verification.
    QuerySpec("dedup_containment_documents", { (s, dir) =>
      Dedup.ngramContainmentPairs(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), n = 3, threshold = 0.9)
    }, oracle =
      // containment ground truth: symmetric intersections from the a<b
      // self-join, emitted in BOTH directions with each side's own size
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    $textTokens AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    FOR i IN range(1, len(t) - 1)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |dirs AS (
        |  SELECT ida AS id_a, idb AS id_b,
        |    round(i * 1.0 / sa.n, 6) AS containment
        |  FROM inter JOIN sizes sa ON ida = sa.doc_id
        |  UNION ALL
        |  SELECT idb, ida, round(i * 1.0 / sb.n, 6)
        |  FROM inter JOIN sizes sb ON idb = sb.doc_id)
        |SELECT id_a, id_b, containment FROM dirs
        |WHERE containment >= 0.9""".stripMargin),
    // Incremental NEAR-dup (MinHash-LSH index maintenance): the base
    // corpus is distilled ONCE into its band + shingle-set tables; the
    // delta batch bands itself, probes the index, self-joins for
    // delta-delta pairs, and exact-verifies candidates. The base text
    // is never re-shingled — the per-batch cost at 100 TB is
    // delta-sized. Oracle = the exact-Jaccard ground truth restricted
    // to delta-involving pairs (LSH at (64,16) recovers every J>=0.8
    // pair on this corpus, same claim the one-shot minhash query pins).
    QuerySpec("dedup_incremental_minhash", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val idx = Dedup.minhashIndexBuild(
        docs.filter(col("doc_id") % 10 < 8), col("text"), col("doc_id"))
      Dedup.minhashIncrementalPairs(idx,
        docs.filter(col("doc_id") % 10 >= 8), col("text"), col("doc_id"))
    }, oracle =
      // ground truth restricted to delta-involving pairs; id_new is the
      // delta member (for delta-delta, the later id)
      s"""WITH $NgramPairsCtes
         |SELECT CASE WHEN id_b % 10 >= 8 THEN id_b ELSE id_a END
         |    AS id_new,
         |  CASE WHEN id_b % 10 >= 8 THEN id_a ELSE id_b END
         |    AS id_matched,
         |  (CASE WHEN id_b % 10 >= 8 THEN id_a ELSE id_b END) % 10 < 8
         |    AS in_base,
         |  jaccard
         |FROM pairs
         |WHERE id_a % 10 >= 8 OR id_b % 10 >= 8""".stripMargin),
    // Same contract through the BLOOM-prefiltered path: a filter built
    // from the delta roster is broadcast and the base scan keeps only
    // bloom-positive fingerprints before the exact anti-join confirm.
    // No false negatives -> byte-identical result, ~fpp x base shuffle.
    QuerySpec("dedup_incremental_bloom", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.incrementalBloom(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8),
        col("text"), col("doc_id"))
    }, oracle =
      // The bloom path is exact (no false negatives + exact confirm), so
      // its oracle is the plain incremental SQL.
      incrementalDedupOracleSql),
    // STREAMING incremental dedup against a broadcast md5-Bloom of the
    // base corpus (the new-crawl-vs-100 TB-base topology): the base is
    // distilled ONCE into a 2^20-bit deterministic bitmap; the document
    // stream keeps bloom-NEGATIVE rows — definitely-new, never a false
    // drop — via a stateless codegen'd probe (no join, no stream
    // state). Engine-replayable bits make even this sketch path exact:
    // the oracle recomputes every cell from the md5 formula.
    QuerySpec("dedup_stream_bloom_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 10 < 8)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      val words = graft.functions.BloomMd5.build(
        base, col("fp"), m = 1 << 20, k = 4)
      val src = s.readStream.schema(docs.schema).parquet(s"$dir/documents.*")
      val delta = src.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val marked = graft.functions.BloomMd5.markPositive(
        delta, col("fp"), words, m = 1 << 20, k = 4, flag = "__pos")
      EventStream.runToCompletion(
        marked.filter(!col("__pos")).select(col("doc_id")),
        "stream_bloom_out",
        org.apache.spark.sql.streaming.OutputMode.Append())
    }, oracle = {
      // Replays the 2^20-bit md5 Bloom cell-for-cell: a delta doc is
      // emitted iff at least one of its 4 cells is unset in the base's
      // cell set (hits < 4) — exactly the bloom-negative filter.
      import TextAnalysis.Sql.{fingerprint => fpr}
      s"""WITH base AS (
         |  SELECT DISTINCT ${fpr("text")} AS fp FROM documents
         |  WHERE doc_id % 10 < 8),
         |cells AS (
         |  SELECT DISTINCT
         |    ('0x'||substr(md5(CAST(i AS VARCHAR)||':'||fp),1,8))::BIGINT
         |      % 1048576 AS cell
         |  FROM base CROSS JOIN (SELECT unnest(range(0,4)) AS i)),
         |delta AS (
         |  SELECT doc_id, ${fpr("text")} AS fp FROM documents
         |  WHERE doc_id % 10 >= 8),
         |probe AS (
         |  SELECT d.doc_id, count(c.cell) AS hits
         |  FROM delta d
         |  CROSS JOIN (SELECT unnest(range(0,4)) AS i) ii
         |  LEFT JOIN cells c ON c.cell =
         |    ('0x'||substr(md5(CAST(ii.i AS VARCHAR)||':'||d.fp),1,8))::BIGINT
         |      % 1048576
         |  GROUP BY 1)
         |SELECT doc_id FROM probe WHERE hits < 4""".stripMargin
    }),
    // Cross-document duplicated-SPAN scan (substring-level dedup signal):
    // consecutive 16-token chunks fingerprinted, a chunk is duplicated
    // iff its fingerprint recurs corpus-wide. Linear explode+count+join —
    // no candidate pairs — so it holds where pairwise joins don't.
    QuerySpec("dedup_spans_documents", { (s, dir) =>
      Dedup.duplicatedSpans(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), chunkTokens = 16)
        .withColumnRenamed("id", "doc_id")
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(t, i*16+1, i*16+16), ' ')) AS fp
        |  FROM toks, UNNEST(range(0, len(t) // 16)) AS u(i)),
        |cnt AS (SELECT fp, count(*) AS c FROM chunks GROUP BY 1)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks
        |FROM chunks JOIN cnt USING (fp) GROUP BY 1""".stripMargin),
    // Span REMOVAL (the action after the flag): rewrite each doc with
    // corpus-duplicated chunks cut out, trailing partial chunk kept —
    // docs are never lost, all-duplicate docs become "".
    QuerySpec("dedup_spans_trim_documents", { (s, dir) =>
      Dedup.trimDuplicatedSpans(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), chunkTokens = 16)
        .withColumnRenamed("id", "doc_id")
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(t, i*16+1, (i+1)*16), ' ') AS chunk
        |  FROM (SELECT doc_id, t, unnest(range(0, (len(t) + 15) // 16)) AS i
        |        FROM toks)),
        |cnt AS (SELECT md5(chunk) AS fp, count(*) AS c
        |        FROM chunks GROUP BY 1)
        |SELECT c2.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE n.c < 2) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN n.c < 2 THEN c2.chunk END, ' '
        |    ORDER BY c2.i), '') AS trimmed_text
        |FROM chunks c2 JOIN cnt n ON md5(c2.chunk) = n.fp
        |GROUP BY c2.doc_id""".stripMargin),
    // Rolling-hash span scan with OVERLAPPING windows (unaligned
    // duplicated passages — the recall gap aligned chunks leave);
    // md5-anchored token hashes so the Rabin-Karp fingerprints replay
    // bit-for-bit in the oracle (the xxhash64 fast path stays the
    // library default).
    QuerySpec("dedup_spans_rolling_documents", { (s, dir) =>
      Dedup.duplicatedSpansRolling(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), windowTokens = 16,
        hashFn = Dedup.spanTokenHashMd5)
        .withColumnRenamed("id", "doc_id")
    }, oracle = {
      // direct-polynomial replay of the Rabin-Karp window hashes:
      // same md5-u32-mod-M token hashes, same positional weights
      // B^(w-1-j) mod M (precomputed literal list), same integer
      // arithmetic — every product < M^2 < 2^63, every partial sum
      // reduced mod M per term, so the replay is bit-exact
      val w = 16
      val M = graft.expressions.RollingWindowHashes.M
      val pows = graft.expressions.RollingWindowHashes.powers(w)
        .mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |th AS (
         |  SELECT doc_id,
         |    [('0x'||substr(md5(x),1,8))::BIGINT % $M FOR x IN t] AS h
         |  FROM toks WHERE len(t) >= $w),
         |wins AS (
         |  SELECT doc_id, i,
         |    list_sum([(h[i + j] * ($pows)[j + 1]) % $M
         |      FOR j IN range(0, $w)]) % $M AS fp
         |  FROM (SELECT doc_id, h, unnest(range(1, len(h) - ${w - 2})) AS i
         |        FROM th)),
         |cnt AS (SELECT fp, count(*) AS c FROM wins GROUP BY 1),
         |m AS (SELECT w2.doc_id, w2.i, (cnt.c >= 2) AS dup
         |      FROM wins w2 JOIN cnt USING (fp)),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_dup_windows
         |  FROM m GROUP BY doc_id),
         |runs AS (SELECT doc_id,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM m WHERE dup),
         |agg AS (SELECT doc_id, grp, count(*) AS run
         |  FROM runs GROUP BY doc_id, grp),
         |mx AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS max_dup_run
         |  FROM agg GROUP BY doc_id)
         |SELECT t.doc_id, t.n_windows, t.n_dup_windows,
         |  CAST(coalesce(mx.max_dup_run, 0) AS BIGINT) AS max_dup_run
         |FROM tot t LEFT JOIN mx USING (doc_id)""".stripMargin
    }),
    // Rolling span REMOVAL: cut every token covered by ANY
    // corpus-duplicated 16-token window, wherever the passage starts —
    // the unaligned action step the fixed-chunk trim can't express.
    QuerySpec("dedup_spans_rolling_trim_documents", { (s, dir) =>
      Dedup.trimDuplicatedSpansRolling(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), windowTokens = 16,
        hashFn = Dedup.spanTokenHashMd5)
        .withColumnRenamed("id", "doc_id")
    }, oracle = {
      // same direct-polynomial Rabin-Karp replay as the rolling flag
      // scan; a token (1-based p) is cut iff some duplicated window
      // start i covers it (i <= p < i + w)
      val w = 16
      val M = graft.expressions.RollingWindowHashes.M
      val pows = graft.expressions.RollingWindowHashes.powers(w)
        .mkString("[", ", ", "]")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |th AS (
         |  SELECT doc_id,
         |    [('0x'||substr(md5(x),1,8))::BIGINT % $M FOR x IN t] AS h
         |  FROM toks WHERE len(t) >= $w),
         |wins AS (
         |  SELECT doc_id, i,
         |    list_sum([(h[i + j] * ($pows)[j + 1]) % $M
         |      FOR j IN range(0, $w)]) % $M AS fp
         |  FROM (SELECT doc_id, h, unnest(range(1, len(h) - ${w - 2})) AS i
         |        FROM th)),
         |cnt AS (SELECT fp, count(*) AS c FROM wins GROUP BY 1),
         |dupw AS (SELECT w2.doc_id, w2.i FROM wins w2
         |         JOIN cnt USING (fp) WHERE cnt.c >= 2),
         |tp AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
         |       FROM toks),
         |marked AS (
         |  SELECT tp.doc_id, tp.p, tp.t[tp.p] AS tok,
         |    NOT EXISTS (SELECT 1 FROM dupw d
         |      WHERE d.doc_id = tp.doc_id AND d.i <= tp.p
         |        AND tp.p < d.i + $w) AS keep
         |  FROM tp),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |    coalesce(string_agg(CASE WHEN keep THEN tok END, ' '
         |      ORDER BY p), '') AS trimmed_text
         |  FROM marked GROUP BY doc_id)
         |SELECT k.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_kept, 0) AS n_kept,
         |  coalesce(a.trimmed_text, '') AS trimmed_text
         |FROM (SELECT doc_id FROM toks) k
         |LEFT JOIN agg a USING (doc_id)""".stripMargin
    }),
    // EXACT-substring verification twin: hash-free ground truth (every
    // duplicated-covered token at >= 4-token granularity, by LITERAL
    // window equality — the suffix-array answer at that granularity)
    // side by side with the declared w=16 rolling scan's coverage.
    // sum(n_cov_both)/sum(n_cov_exact) is the rolling scan's measured
    // recall in the wild; the linear literal-gram shuffle is the cost
    // of exactness, so this runs on verification slices, not corpora.
    QuerySpec("dedup_spans_exact_recall", { (s, dir) =>
      Dedup.exactSpanRecallTwin(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), exactLen = 4, windowTokens = 16)
        .withColumnRenamed("id", "doc_id")
    }, oracle = {
      // exact-twin replay: literal 4-gram ground-truth coverage, the
      // rolling-16 hash coverage (same Rabin-Karp replay as above), and
      // their per-token intersection
      val w = 16
      val e = 4
      val M = graft.expressions.RollingWindowHashes.M
      val pows = graft.expressions.RollingWindowHashes.powers(w)
        .mkString("[", ", ", "]")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |we AS MATERIALIZED (
         |  SELECT doc_id, i - 1 AS pos,
         |    array_to_string(t[i:i + ${e - 1}], ' ') AS key
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${e - 2})) AS i
         |        FROM toks WHERE len(t) >= $e)),
         |de AS (SELECT key FROM we GROUP BY key HAVING count(*) >= 2),
         |ce AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, pos + off AS p
         |  FROM we JOIN de USING (key)
         |  CROSS JOIN (SELECT unnest(range(0, $e)) AS off)),
         |th AS (
         |  SELECT doc_id,
         |    [('0x'||substr(md5(x),1,8))::BIGINT % $M FOR x IN t] AS h
         |  FROM toks WHERE len(t) >= $w),
         |wr AS MATERIALIZED (
         |  SELECT doc_id, i - 1 AS pos,
         |    list_sum([(h[i + j] * ($pows)[j + 1]) % $M
         |      FOR j IN range(0, $w)]) % $M AS fp
         |  FROM (SELECT doc_id, h, unnest(range(1, len(h) - ${w - 2})) AS i
         |        FROM th)),
         |dr AS (SELECT fp FROM wr GROUP BY fp HAVING count(*) >= 2),
         |cr AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, pos + off AS p
         |  FROM wr JOIN dr USING (fp)
         |  CROSS JOIN (SELECT unnest(range(0, $w)) AS off)),
         |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov_exact
         |       FROM ce GROUP BY 1),
         |nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov_rolling
         |       FROM cr GROUP BY 1),
         |nb AS (SELECT ce.doc_id, CAST(count(*) AS BIGINT) AS n_cov_both
         |       FROM ce JOIN cr ON ce.doc_id = cr.doc_id AND ce.p = cr.p
         |       GROUP BY 1)
         |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
         |  coalesce(ne.n_cov_exact, 0) AS n_cov_exact,
         |  coalesce(nr.n_cov_rolling, 0) AS n_cov_rolling,
         |  coalesce(nb.n_cov_both, 0) AS n_cov_both
         |FROM toks LEFT JOIN ne USING (doc_id)
         |LEFT JOIN nr USING (doc_id)
         |LEFT JOIN nb USING (doc_id)""".stripMargin
    }),
    // Multi-resolution rolling scan — closes the measured w=16 recall
    // gap (0.48 on real sf0.01 data: half the duplicated-span mass is
    // under 16 tokens) by adding a fine w=4 tier while KEEPING the
    // high-precision w=16 tier separable: per-resolution + union
    // coverage per doc, still one (w, fp) fingerprint shuffle, no
    // candidate pairs.
    QuerySpec("dedup_spans_multires_documents", { (s, dir) =>
      Dedup.duplicatedSpansMultiRes(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), windows = Seq(4, 16),
        hashFn = Dedup.spanTokenHashMd5)
        .withColumnRenamed("id", "doc_id")
    }, oracle = {
      // multi-res replay: the same Rabin-Karp polynomial per resolution
      // (per-w positional weight lists), one (w, fp) duplicate roster,
      // per-resolution and union distinct-token coverage
      val M = graft.expressions.RollingWindowHashes.M
      val ws = Seq(4, 16)
      val winsSql = ws.map { w =>
        val pows = graft.expressions.RollingWindowHashes.powers(w)
          .mkString("[", ", ", "]")
        s"""  SELECT doc_id, $w AS w, i - 1 AS pos,
           |    list_sum([(h[i + j] * ($pows)[j + 1]) % $M
           |      FOR j IN range(0, $w)]) % $M AS fp
           |  FROM (SELECT doc_id, h, unnest(range(1, len(h) - ${w - 2})) AS i
           |        FROM th)"""
      }.mkString("\n  UNION ALL\n")
      val perW = ws.map { w =>
        s"""c$w AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT)
           |  AS n_cov_w$w FROM cov WHERE w = $w GROUP BY 1),"""
      }.mkString("\n")
      val joins = ws.map(w => s"LEFT JOIN c$w USING (doc_id)").mkString(" ")
      val cols = ws.map(w =>
        s"  coalesce(c$w.n_cov_w$w, 0) AS n_cov_w$w,").mkString("\n")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |th AS MATERIALIZED (
         |  SELECT doc_id,
         |    [('0x'||substr(md5(x),1,8))::BIGINT % $M FOR x IN t] AS h
         |  FROM toks),
         |wins AS MATERIALIZED (
         |$winsSql),
         |dup AS (SELECT w, fp FROM wins GROUP BY w, fp HAVING count(*) >= 2),
         |cov AS MATERIALIZED (
         |  SELECT wins.doc_id, wins.w, wins.pos + off.o AS p
         |  FROM wins JOIN dup USING (w, fp)
         |  CROSS JOIN (SELECT unnest(range(0, ${ws.max})) AS o) off
         |  WHERE off.o < wins.w),
         |$perW
         |cu AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT)
         |  AS n_cov_union FROM cov GROUP BY 1)
         |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
         |$cols
         |  coalesce(cu.n_cov_union, 0) AS n_cov_union
         |FROM toks $joins LEFT JOIN cu USING (doc_id)""".stripMargin
    }),
    // Recall harness for the multi-res scan vs the hash-free literal
    // 4-gram ground truth: with min(windows) = exactLen = 4 recall is
    // 1.0 by construction (acting on the r8 measurement), so the
    // reported tradeoff is precision = n_cov_both / n_cov_scan.
    QuerySpec("dedup_spans_multires_recall", { (s, dir) =>
      Dedup.exactSpanRecallMulti(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), exactLen = 4, windows = Seq(4, 16))
        .withColumnRenamed("id", "doc_id")
    }, oracle = {
      // multi-res recall twin replay: literal 4-gram ground truth (as in
      // dedup_spans_exact_recall) vs the union coverage of the w in
      // {4, 16} scan
      val M = graft.expressions.RollingWindowHashes.M
      val e = 4
      val ws = Seq(4, 16)
      val winsSql = ws.map { w =>
        val pows = graft.expressions.RollingWindowHashes.powers(w)
          .mkString("[", ", ", "]")
        s"""  SELECT doc_id, $w AS w, i - 1 AS pos,
           |    list_sum([(h[i + j] * ($pows)[j + 1]) % $M
           |      FOR j IN range(0, $w)]) % $M AS fp
           |  FROM (SELECT doc_id, h, unnest(range(1, len(h) - ${w - 2})) AS i
           |        FROM th)"""
      }.mkString("\n  UNION ALL\n")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |we AS MATERIALIZED (
         |  SELECT doc_id, i - 1 AS pos,
         |    array_to_string(t[i:i + ${e - 1}], ' ') AS key
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${e - 2})) AS i
         |        FROM toks WHERE len(t) >= $e)),
         |de AS (SELECT key FROM we GROUP BY key HAVING count(*) >= 2),
         |ce AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, pos + off AS p
         |  FROM we JOIN de USING (key)
         |  CROSS JOIN (SELECT unnest(range(0, $e)) AS off)),
         |th AS MATERIALIZED (
         |  SELECT doc_id,
         |    [('0x'||substr(md5(x),1,8))::BIGINT % $M FOR x IN t] AS h
         |  FROM toks),
         |wins AS MATERIALIZED (
         |$winsSql),
         |dup AS (SELECT w, fp FROM wins GROUP BY w, fp HAVING count(*) >= 2),
         |cs AS MATERIALIZED (
         |  SELECT DISTINCT wins.doc_id, wins.pos + off.o AS p
         |  FROM wins JOIN dup USING (w, fp)
         |  CROSS JOIN (SELECT unnest(range(0, ${ws.max})) AS o) off
         |  WHERE off.o < wins.w),
         |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov_exact
         |       FROM ce GROUP BY 1),
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov_scan
         |       FROM cs GROUP BY 1),
         |nb AS (SELECT ce.doc_id, CAST(count(*) AS BIGINT) AS n_cov_both
         |       FROM ce JOIN cs ON ce.doc_id = cs.doc_id AND ce.p = cs.p
         |       GROUP BY 1)
         |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
         |  coalesce(ne.n_cov_exact, 0) AS n_cov_exact,
         |  coalesce(ns.n_cov_scan, 0) AS n_cov_scan,
         |  coalesce(nb.n_cov_both, 0) AS n_cov_both
         |FROM toks LEFT JOIN ne USING (doc_id)
         |LEFT JOIN ns USING (doc_id)
         |LEFT JOIN nb USING (doc_id)""".stripMargin
    }),
    // Deterministic weighted source mixture (training-data re-mixing):
    // even-index sources get 3x the share of odd ones, total target 1/2
    // of the corpus; membership is pure 64-bit integer arithmetic on an
    // md5 uniform, so the sample is bit-exact cross-engine. Summary
    // emitted per source (doc membership itself is the filter).
    QuerySpec("mix_sources_weighted", { (s, dir) =>
      val evens = (0 until 20 by 2).map(i => s"src$i" -> 3L).toMap
      Splits.mixSources(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        weights = evens, defaultWeight = 1L, targetNum = 1L, targetDen = 2L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_doc_id"))
    }, oracle = {
      val evens = (0 until 20 by 2).map(i => s"'src$i'").mkString(", ")
      // * and // share precedence left-assoc in DuckDB, mirroring
      // Spark's `__total * 1 DIV 2 * __w DIV __sumw`
      s"""WITH c AS (
         |  SELECT source, count(*) AS n,
         |    CASE WHEN source IN ($evens) THEN 3 ELSE 1 END AS w
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
         |               CAST(sum(w) AS BIGINT) AS sumw FROM c),
         |tgt AS (SELECT c.source, c.n,
         |               total * 1 // 2 * c.w // sumw AS t FROM c, tot)
         |SELECT d.source, count(*) AS n_sampled,
         |  min(d.doc_id) AS min_doc_id
         |FROM documents d JOIN tgt ON d.source = tgt.source
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
         |      * tgt.n < tgt.t * 4294967296
         |GROUP BY 1""".stripMargin
    }),
    // Temperature-flattened multilingual mixture (T=2): per-language
    // weights DERIVED as floor(sqrt(n)) — the mC4/XLM-R low-resource
    // boost — then the same integer survival rule as mixSources. isqrt
    // is engine-exact for counts < 2^50, so the membership replays.
    QuerySpec("mix_temperature_lang", { (s, dir) =>
      Splits.mixTemperatureSqrt(
        Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), targetNum = 1L, targetDen = 2L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_doc_id"))
    }, oracle =
      // same survival-rule replay as mix_sources_weighted, with weights
      // computed as floor(sqrt(n)) per language instead of given
      """WITH c AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |               CAST(sum(w) AS BIGINT) AS sumw FROM c),
        |tgt AS (SELECT c.lang, c.n,
        |               least(total * 1 // 2 * c.w // sumw, c.n) AS t
        |        FROM c, tot)
        |SELECT d.lang AS lang, count(*) AS n_sampled,
        |  min(d.doc_id) AS min_doc_id
        |FROM documents d JOIN tgt ON d.lang = tgt.lang
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
        |      * tgt.n < tgt.t * 4294967296
        |GROUP BY 1""".stripMargin),
    // Token-budget EPOCH PLANNING: per-language token mass -> isqrt
    // temperature weights -> a 10M-token budget divided w-proportionally
    // -> epochs_ppm per source (>1e6 = the plan repeats that source's
    // data). The curator-facing table read before committing a mixture;
    // all integer, one aggregation to |langs| rows.
    QuerySpec("mix_epochs_budget", { (s, dir) =>
      Splits.epochsPlan(
        Tables(s, dir, "documents")
          .select(col("lang"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n")),
        col("lang"), col("n"), budget = 10000000L)
    }, oracle =
      // epoch-plan replay: token mass per lang, isqrt weights, integer
      // budget division; floor∘sqrt is IEEE-exact in both engines
      s"""WITH t AS (
         |  SELECT lang, len(${TextAnalysis.Sql.tokens("text")}) AS n
         |  FROM documents),
         |ps AS (SELECT lang AS source, CAST(sum(n) AS BIGINT) AS n_tokens,
         |         CAST(floor(sqrt(CAST(sum(n) AS BIGINT))) AS BIGINT)
         |           AS weight
         |       FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS sumw FROM ps)
         |SELECT source, n_tokens, weight,
         |  10000000 * weight // sumw AS tokens_target,
         |  (10000000 * weight // sumw) * 1000000 // n_tokens
         |    AS epochs_ppm
         |FROM ps, tot""".stripMargin),
    // BALANCED fixed-k eval sets: exactly 20 md5-smallest docs PER
    // LANGUAGE through the bounded TopK aggregate (never a per-group
    // window); per-group samples nest across k.
    QuerySpec("sample_fixed_k_per_lang", { (s, dir) =>
      Splits.sampleFixedKPerGroup(Tables(s, dir, "documents"),
          col("doc_id"), col("lang"), k = 20)
        .select(col("group").as("lang"), col("id").as("doc_id"),
          col("rank"))
    }, oracle =
      // per-group md5 rank replay; TopK's (score desc, id) == (u32 asc, id)
      """SELECT lang, doc_id, CAST(rk AS INT) AS rank FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
        |      ::BIGINT, doc_id) AS rk
        |  FROM documents) WHERE rk <= 20""".stripMargin),
    // Fixed-SIZE deterministic sample: exactly 100 docs (md5-smallest
    // ids) — fixed-budget eval sets; TakeOrdered, corpus never sorts.
    QuerySpec("sample_fixed_k_documents", { (s, dir) =>
      Splits.sampleFixedK(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        col("doc_id"), k = 100)
    }, oracle =
      """SELECT doc_id, lang, source FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100""".stripMargin),
    // WEIGHTED fixed-size sample (Ohlsson sequential Poisson): 200 docs
    // drawn with inclusion odds ~ proportional to byte length — "sample
    // by content mass, not per-document" (a 100 KB doc should count for
    // more of an eval budget than a tweet). Integer-exact priority keys;
    // TakeOrdered, corpus never sorts.
    QuerySpec("sample_weighted_documents", { (s, dir) =>
      Splits.sampleWeighted(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text")),
        col("doc_id"),
        octet_length(coalesce(col("text"), lit(""))) + 1, k = 200)
        .select(col("doc_id"), col("lang"), col("source"), col("sample_key"))
    }, oracle =
      // DuckDB `//` == Spark `DIV` (integer division); u32*2^20 < 2^63.
      """WITH w AS (
        |  SELECT doc_id, lang, source,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |      * 1048576 // (strlen(coalesce(text,'')) + 1) AS sample_key
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(sample_key AS BIGINT) AS sample_key
        |FROM w ORDER BY sample_key, doc_id LIMIT 200""".stripMargin),
    // Sliding-window doc chunking (RAG/embedding context prep):
    // 16-token windows, stride 8 (overlapping) — row-local, ZERO
    // shuffles; short final windows kept, empty docs yield no chunks.
    QuerySpec("text_chunk_windows", { (s, dir) =>
      Chunker.chunkWindows(Tables(s, dir, "documents"),
        col("text"), col("doc_id"), windowTokens = 16, strideTokens = 8)
        .withColumnRenamed("id", "doc_id")
    }, oracle =
      // DuckDB list_slice is 1-based inclusive-end: [i*8+1, i*8+16] ==
      // Spark slice(toks, i*8+1, 16)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |w AS (SELECT doc_id, t, unnest(range(0,
        |    CASE WHEN len(t) = 0 THEN 0 ELSE (len(t) - 1) // 8 + 1 END))
        |    AS i FROM toks)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(len(list_slice(t, i*8+1, i*8+16)) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, i*8+1, i*8+16), ' ') AS chunk_text
        |FROM w""".stripMargin),
    // Corpus VERSION diff (dataset-versioning audit): classify every id
    // across two snapshots as added/removed/changed/unchanged by
    // normalized-text fingerprint. Snapshots derived deterministically
    // from the documents table (old = ids < 450; new = ids >= 50 with
    // every 10th text edited) so the oracle replays both sides exactly.
    QuerySpec("corpus_diff_versions", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 450)
      val neu = docs.filter(col("doc_id") >= 50)
        .withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      CorpusDiff.diff(old, neu, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    }, oracle =
      s"""WITH old AS (
         |  SELECT doc_id, ${TextAnalysis.Sql.fingerprint("text")} AS ofp
         |  FROM documents WHERE doc_id < 450),
         |new AS (
         |  SELECT doc_id, ${TextAnalysis.Sql.fingerprint(
              "(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END)")} AS nfp
         |  FROM documents WHERE doc_id >= 50)
         |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN ofp = nfp THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id""".stripMargin),
    // Distribution DRIFT between the same two snapshots: did the
    // language MIX shift? Integer-ppm shares (exact DIV), abs shift =
    // per-cell total-variation contribution — the promote/abort drift
    // gate. Two map-combined counts; everything after is dim-sized.
    QuerySpec("profile_drift_versions", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      CorpusDiff.drift(
          docs.filter(col("doc_id") < 450),
          docs.filter(col("doc_id") >= 50), col("lang"))
        .withColumnRenamed("dim", "lang")
    }, oracle =
      // drift replay: per-side counts, full-outer on the dimension,
      // integer-ppm shares (// = exact integer division)
      """WITH o AS (SELECT lang, count(*) AS n_v1 FROM documents
        |           WHERE doc_id < 450 GROUP BY lang),
        |n AS (SELECT lang, count(*) AS n_v2 FROM documents
        |      WHERE doc_id >= 50 GROUP BY lang),
        |j AS (SELECT coalesce(o.lang, n.lang) AS lang,
        |        CAST(coalesce(n_v1, 0) AS BIGINT) AS n_v1,
        |        CAST(coalesce(n_v2, 0) AS BIGINT) AS n_v2
        |      FROM o FULL OUTER JOIN n ON o.lang = n.lang),
        |t AS (SELECT CAST(sum(n_v1) AS BIGINT) AS t1,
        |        CAST(sum(n_v2) AS BIGINT) AS t2 FROM j)
        |SELECT lang, n_v1, n_v2,
        |  CAST(n_v1 * 1000000 // t1 AS BIGINT) AS ppm_v1,
        |  CAST(n_v2 * 1000000 // t2 AS BIGINT) AS ppm_v2,
        |  CAST(abs(n_v1 * 1000000 // t1 - n_v2 * 1000000 // t2)
        |    AS BIGINT) AS drift_ppm
        |FROM j, t""".stripMargin),
    // Targeted deletion (right-to-be-forgotten) with compliance audit:
    // the delete-request list broadcasts into one marker join — no
    // corpus shuffle — and the audit reports per-source kept/deleted
    // counts plus an order-independent exact survivor digest the
    // physical rewrite is verified against.
    QuerySpec("gdpr_delete_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val deletes = docs.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id"))
      Retention.deleteAudit(docs, deletes, col("doc_id"), col("source"))
        .withColumnRenamed("group", "source")
    }, oracle =
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 3),
        |m AS (SELECT c.source, c.doc_id,
        |        (d.doc_id IS NOT NULL) AS del
        |      FROM documents c LEFT JOIN d USING (doc_id))
        |SELECT source,
        |  CAST(count(*) FILTER (WHERE NOT del) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE del) AS BIGINT) AS n_deleted,
        |  CAST(coalesce(sum(CASE WHEN NOT del THEN
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    END), 0) AS BIGINT) AS kept_hash
        |FROM m GROUP BY source""".stripMargin),
    // Declarative VALIDATION SUITE (Deequ-style contract gate): five
    // row-local rules fold into ONE conditional-sum scan, uniqueness is
    // one keyed aggregation, FK integrity one anti-join — a |rules|-row
    // report with a pass verdict per rule. quantity_le_25 is a
    // deliberately tight rule so the failure path shows real counts.
    QuerySpec("validate_lineitem_contract", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      Validation.suite(
        Validation.rowRules(li, Seq(
          "quantity_in_1_50" -> !col("l_quantity").between(1, 50),
          "quantity_le_25" -> (col("l_quantity") > 25),
          "price_positive" -> (col("l_extendedprice") <= 0),
          "returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R"),
          "shipdate_not_null" -> col("l_shipdate").isNull)),
        Validation.uniqueness(li, "pk_unique",
          col("l_orderkey"), col("l_linenumber")),
        Validation.referential(li, col("l_orderkey"),
          orders, col("o_orderkey"), "fk_orders"))
    }, oracle =
      // deletion-audit replay: marker join against the request list,
      // exact integer counts and the order-independent u32(md5) survivor
      // digest
      """SELECT rule, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'quantity_in_1_50' AS rule, CAST(count(*) FILTER
        |    (NOT (l_quantity BETWEEN 1 AND 50)) AS BIGINT)
        |    AS n_violations FROM lineitem
        |  UNION ALL SELECT 'quantity_le_25', count(*) FILTER
        |    (l_quantity > 25) FROM lineitem
        |  UNION ALL SELECT 'price_positive', count(*) FILTER
        |    (l_extendedprice <= 0) FROM lineitem
        |  UNION ALL SELECT 'returnflag_domain', count(*) FILTER
        |    (l_returnflag NOT IN ('A', 'N', 'R')) FROM lineitem
        |  UNION ALL SELECT 'shipdate_not_null', count(*) FILTER
        |    (l_shipdate IS NULL) FROM lineitem
        |  UNION ALL SELECT 'pk_unique', CAST(coalesce(sum(cnt - 1), 0)
        |    AS BIGINT) FROM (SELECT count(*) AS cnt FROM lineitem
        |                     GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL SELECT 'fk_orders', count(*) FROM lineitem l
        |    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL
        |) t""".stripMargin),
    // FUNCTIONAL-DEPENDENCY discovery over candidate determinants:
    // which columns determine which (key discovery / denormalization
    // audit) — n_groups, violating groups, and worst fan-out per
    // candidate. One lhs-granular aggregate per row.
    QuerySpec("profile_fd_candidates", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      Validation.functionalDependency(orders, "o_orderkey->o_custkey",
          col("o_orderkey"), col("o_custkey"))
        .union(Validation.functionalDependency(li,
          "l_orderkey->l_suppkey", col("l_orderkey"), col("l_suppkey")))
        .union(Validation.functionalDependency(li,
          "l_suppkey->l_returnflag", col("l_suppkey"),
          col("l_returnflag")))
        .union(Validation.functionalDependency(orders,
          "o_custkey->o_orderpriority", col("o_custkey"),
          col("o_orderpriority")))
    }, oracle =
      // FD replay: one block per candidate, UNION ALL
      Seq(
      ("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
      ("l_orderkey->l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
      ("l_suppkey->l_returnflag", "lineitem", "l_suppkey",
        "l_returnflag"),
      ("o_custkey->o_orderpriority", "orders", "o_custkey",
        "o_orderpriority"))
      .map { case (nm, t, l, r) =>
        s"""(SELECT '$nm' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_violating,
           |  CAST(coalesce(max(d), 0) AS BIGINT) AS max_fanout,
           |  coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) = 0
           |    AS holds
           |FROM (SELECT $l, count(DISTINCT $r) AS d FROM $t
           |      GROUP BY 1))""".stripMargin
      }.mkString("\nUNION ALL\n")),
    // Fuzzy ENTITY MATCHING with two-level blocking: nation bounds the
    // universe, 3 INTERLEAVED digit segments of the name's varying tail
    // bound candidates inside it (disjoint segments: <=2 substitutions
    // touch <=2 of them, so >=1 matches exactly — pigeonhole-complete
    // for substitution distance; segments need not cover the string,
    // only discriminate, and interleaving high+low digits dodges the
    // constant-leading-zero hot key that aligned 3-char segments hit);
    // survivors verify by exact levenshtein, which replays in any
    // engine. Levenshtein inside the block join was 15s at sf0.1
    // (4.5M pair evaluations); aligned "000" segments were WORSE (27s);
    // interleaved segments cut candidates ~40x.
    QuerySpec("entity_match_customers", { (s, dir) =>
      EntityMatch.blockedPairs(
        Tables(s, dir, "customer"),
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        segs = name => (0 until 3).map(j =>
          concat(substring(name, 13 + j, 1), substring(name, 16 + j, 1))),
        maxDist = 2)
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("block").as("nationkey"), col("name_dist"))
    }, oracle =
      // segment-blocked replay: interleaved digit segments, pairs
      // sharing (nation, segment), verified by levenshtein
      """WITH segs AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS blk,
        |    j AS seg, substr(c_name, CAST(13 + j AS BIGINT), 1)
        |      || substr(c_name, CAST(16 + j AS BIGINT), 1) AS segval
        |  FROM customer, (SELECT unnest(range(0, 3)) AS j)),
        |cand AS (
        |  SELECT DISTINCT a.id AS custkey_a, b.id AS custkey_b,
        |    a.blk AS nationkey, a.name AS na, b.name AS nb
        |  FROM segs a JOIN segs b
        |    ON a.blk = b.blk AND a.seg = b.seg AND a.segval = b.segval
        |   AND a.id < b.id)
        |SELECT custkey_a, custkey_b, nationkey,
        |  CAST(levenshtein(na, nb) AS BIGINT) AS name_dist
        |FROM cand WHERE levenshtein(na, nb) <= 2""".stripMargin),
    // FULL-edit-distance entity matching (FastSS deletion
    // neighborhoods): complete for lev<=2 INCLUDING the indel-shifted
    // pairs aligned-segment blocking misses. The oracle is the
    // brute-force within-block levenshtein join — the hash-match
    // PROVES the blocking lossless on this corpus.
    QuerySpec("entity_match_indel_customers", { (s, dir) =>
      // variants from the 9-digit TAIL (constant 'Customer#' prefix:
      // prefix-trimming keeps ed(tail) == ed(name)); 46 variants/row
      // instead of 172 — measured 3x on this query. The ground-truth
      // oracle re-proves completeness on the data every round.
      EntityMatch.deletionNeighborhoodPairs(
        Tables(s, dir, "customer"),
        col("c_custkey"), substring(col("c_name"), 10, 9),
        col("c_nationkey"), verifyCol = Some(col("c_name")))
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("block").as("nationkey"), col("name_dist"))
    }, oracle =
      // the GROUND TRUTH, not a blocking replay: matching it proves the
      // deletion-neighborhood candidates lossless for lev<=2
      """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
        |  a.c_nationkey AS nationkey,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin),
    // PassJoin entity matching at maxDist=3 — where FastSS stops (its
    // deletion neighborhood is O(L^3) at d=3; PassJoin's shifted
    // segment probes stay polynomial, <=196 short substrings/row). The
    // dirty registry is built IN-QUERY: each customer's 12-hex contact
    // key gets 0-3 planted edits by custkey%4 (incl. DELETIONS, whose
    // alignment shift is exactly what the +-d probe window exists
    // for). The oracle is the brute-force clean-x-dirty levenshtein
    // join within the nation block — ground truth, so the hash match
    // PROVES the shifted-probe blocking lossless incl. indels.
    QuerySpec("entity_match_passjoin", { (s, dir) =>
      val cid = col("c_custkey")
      val ckey = substring(
        md5(concat(lit("ph:"), cid.cast("string"))), 1, 12)
      // substitute / delete at a 1-based position, pure string algebra
      // replayed verbatim by the oracle
      def subst(k: Column, pos: Column, c: String): Column =
        concat(k.substr(lit(1), (pos - 1).cast("int")), lit(c),
          k.substr(pos.cast("int") + 1, lit(24)))
      def del(k: Column, pos: Column): Column =
        concat(k.substr(lit(1), (pos - 1).cast("int")),
          k.substr(pos.cast("int") + 1, lit(24)))
      val p = cid % 12 + 1
      val q = (cid + 5) % 12 + 1 // q != p: differ by 5 mod 12
      val r = cid % 11 + 1
      val r2 = (cid + 4) % 11 + 1 // r2 != r: differ by 4 mod 11
      val del1 = del(ckey, p)
      val dkey = when(cid % 4 === 0, ckey)
        .when(cid % 4 === 1, del1) // ed 1, indel
        .when(cid % 4 === 2, subst(subst(ckey, p, "z"), q, "q")) // ed 2
        .otherwise(subst(subst(del1, r, "z"), r2, "q")) // ed 3, indel
      val cust = Tables(s, dir, "customer")
      val clean = cust.select(cid.as("cid"), ckey.as("k"),
        col("c_nationkey").as("b"))
      val dirty = cust.select(cid.as("cid"), dkey.as("k"),
        col("c_nationkey").as("b"))
      EntityMatch.passJoinPairs(clean, dirty,
        col("cid"), col("k"), col("b"),
        col("cid"), col("k"), col("b"), maxDist = 3)
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("block").as("nationkey"), col("name_dist"))
    }, oracle =
      // ground truth for PassJoin d=3: replay the planted edits with the
      // same string algebra, then brute-force levenshtein within block
      """WITH base AS (
        |  SELECT c_custkey AS cid, c_nationkey AS blk,
        |    substr(md5('ph:' || CAST(c_custkey AS VARCHAR)), 1, 12)
        |      AS ckey,
        |    CAST(c_custkey % 12 + 1 AS INTEGER) AS p,
        |    CAST((c_custkey + 5) % 12 + 1 AS INTEGER) AS q,
        |    CAST(c_custkey % 11 + 1 AS INTEGER) AS r,
        |    CAST((c_custkey + 4) % 11 + 1 AS INTEGER) AS r2
        |  FROM customer),
        |step1 AS (
        |  SELECT *,
        |    substr(ckey, 1, p - 1) || substr(ckey, p + 1) AS del1,
        |    substr(ckey, 1, p - 1) || 'z' || substr(ckey, p + 1)
        |      AS sub1
        |  FROM base),
        |step2 AS (
        |  SELECT *,
        |    substr(del1, 1, r - 1) || 'z' || substr(del1, r + 1)
        |      AS del1z
        |  FROM step1),
        |dirty AS (
        |  SELECT cid, blk,
        |    CASE CAST(cid % 4 AS INTEGER)
        |      WHEN 0 THEN ckey
        |      WHEN 1 THEN del1
        |      WHEN 2 THEN substr(sub1, 1, q - 1) || 'q'
        |        || substr(sub1, q + 1)
        |      ELSE substr(del1z, 1, r2 - 1) || 'q'
        |        || substr(del1z, r2 + 1)
        |    END AS dkey
        |  FROM step2)
        |SELECT a.cid AS custkey_a, b.cid AS custkey_b,
        |  a.blk AS nationkey,
        |  CAST(levenshtein(a.ckey, b.dkey) AS BIGINT) AS name_dist
        |FROM base a JOIN dirty b ON a.blk = b.blk
        |WHERE levenshtein(a.ckey, b.dkey) <= 3""".stripMargin),
    // The R-S REGISTRY variant: the clean contact keys are segmented
    // ONCE into a PassJoin index, PERSISTED (three parquet tables —
    // the MinhashLshIndex pattern for edit distance), read back, and
    // a 20% dirty DELTA batch probes the stored tables. The registry
    // is never re-segmented — per-batch cost is probe-sized, the
    // new-batch-vs-100 TB-registry topology. Same dirty-key algebra
    // as entity_match_passjoin; oracle = brute-force ground truth
    // restricted to the delta, so the hash match proves the stored
    // index lossless too.
    QuerySpec("entity_match_passjoin_registry", { (s, dir) =>
      val cid = col("c_custkey")
      val ckey = substring(
        md5(concat(lit("ph:"), cid.cast("string"))), 1, 12)
      def subst(k: Column, pos: Column, c: String): Column =
        concat(k.substr(lit(1), (pos - 1).cast("int")), lit(c),
          k.substr(pos.cast("int") + 1, lit(24)))
      def del(k: Column, pos: Column): Column =
        concat(k.substr(lit(1), (pos - 1).cast("int")),
          k.substr(pos.cast("int") + 1, lit(24)))
      val p = cid % 12 + 1
      val q = (cid + 5) % 12 + 1
      val r = cid % 11 + 1
      val r2 = (cid + 4) % 11 + 1
      val del1 = del(ckey, p)
      val dkey = when(cid % 4 === 0, ckey)
        .when(cid % 4 === 1, del1)
        .when(cid % 4 === 2, subst(subst(ckey, p, "z"), q, "q"))
        .otherwise(subst(subst(del1, r, "z"), r2, "q"))
      val cust = Tables(s, dir, "customer")
      val clean = cust.select(cid.as("cid"), ckey.as("k"),
        col("c_nationkey").as("b"))
      val delta = cust.filter(cid % 5 === 0)
        .select(cid.as("cid"), dkey.as("k"), col("c_nationkey").as("b"))
      val tmp = scratchDir("passjoin_idx")
      EntityMatch.writePassJoinIndex(
        EntityMatch.passJoinIndexBuild(clean,
          col("cid"), col("k"), col("b"), maxDist = 3), tmp)
      EntityMatch.passJoinProbe(
        EntityMatch.readPassJoinIndex(s, tmp, expectMaxDist = 3),
        delta, col("cid"), col("k"), col("b"))
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("block").as("nationkey"), col("name_dist"))
    }, oracle =
      // registry variant: identical ground truth restricted to the
      // 20% delta batch
      """WITH base AS (
        |  SELECT c_custkey AS cid, c_nationkey AS blk,
        |    substr(md5('ph:' || CAST(c_custkey AS VARCHAR)), 1, 12)
        |      AS ckey,
        |    CAST(c_custkey % 12 + 1 AS INTEGER) AS p,
        |    CAST((c_custkey + 5) % 12 + 1 AS INTEGER) AS q,
        |    CAST(c_custkey % 11 + 1 AS INTEGER) AS r,
        |    CAST((c_custkey + 4) % 11 + 1 AS INTEGER) AS r2
        |  FROM customer),
        |step1 AS (
        |  SELECT *,
        |    substr(ckey, 1, p - 1) || substr(ckey, p + 1) AS del1,
        |    substr(ckey, 1, p - 1) || 'z' || substr(ckey, p + 1)
        |      AS sub1
        |  FROM base),
        |step2 AS (
        |  SELECT *,
        |    substr(del1, 1, r - 1) || 'z' || substr(del1, r + 1)
        |      AS del1z
        |  FROM step1),
        |dirty AS (
        |  SELECT cid, blk,
        |    CASE CAST(cid % 4 AS INTEGER)
        |      WHEN 0 THEN ckey
        |      WHEN 1 THEN del1
        |      WHEN 2 THEN substr(sub1, 1, q - 1) || 'q'
        |        || substr(sub1, q + 1)
        |      ELSE substr(del1z, 1, r2 - 1) || 'q'
        |        || substr(del1z, r2 + 1)
        |    END AS dkey
        |  FROM step2
        |  WHERE cid % 5 = 0)
        |SELECT a.cid AS custkey_a, b.cid AS custkey_b,
        |  a.blk AS nationkey,
        |  CAST(levenshtein(a.ckey, b.dkey) AS BIGINT) AS name_dist
        |FROM base a JOIN dirty b ON a.blk = b.blk
        |WHERE levenshtein(a.ckey, b.dkey) <= 3""".stripMargin),
    // END-TO-END entity resolution: fuzzy blocking (FastSS deletion
    // neighborhoods, complete for lev<=2 incl. indels) -> connected
    // components (pairwise matching is not transitive — chains must
    // merge) -> one golden record per cluster (highest account
    // balance, lowest key on ties). Emits only multi-record clusters:
    // the merge worklist a data steward reviews. Three gated operators
    // composed; the oracle replays blocking ground truth + recursive
    // closure + the same survivor rule.
    QuerySpec("entity_resolution_pipeline", { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val pairs = EntityMatch.deletionNeighborhoodPairs(cust,
        col("c_custkey"), substring(col("c_name"), 10, 9),
        col("c_nationkey"), verifyCol = Some(col("c_name")))
      val assign = Dedup.clusters(cust, col("c_custkey"), pairs)
      Dedup.keepBest(assign, cust, col("c_custkey"), col("c_acctbal"))
        .filter(col("cluster_size") >= 2)
    }, oracle =
      // ER pipeline replay: ground-truth pairs, recursive closure,
      // min-reachable-id labels, balance-max survivor, clusters >= 2
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |  WHERE e.v <> r.u),
        |lbl AS (SELECT u, least(u, min(v)) AS l FROM reach GROUP BY u),
        |asg AS (
        |  SELECT c.c_custkey AS id,
        |    coalesce(l.l, c.c_custkey) AS cluster_id,
        |    c.c_acctbal AS score
        |  FROM customer c LEFT JOIN lbl l ON c.c_custkey = l.u),
        |sel AS (
        |  SELECT cluster_id, id, score,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, id ASC) AS rk,
        |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |  FROM asg)
        |SELECT cluster_id, id AS keeper_id, score AS keeper_score,
        |  CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM sel WHERE rk = 1 AND cluster_size >= 2""".stripMargin),
    // Keyed pseudonymization with REFERENTIAL INTEGRITY: events and
    // the customer dimension are pseudonymized INDEPENDENTLY with the
    // same salt, then joined on the pseudonym — same cardinalities as
    // the raw join, no raw id in the output. Salt stays out of the
    // export; rotate it to unlink releases. Pure projections + one
    // broadcast join.
    QuerySpec("privacy_pseudonymize_events", { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(Privacy.pseudonym(col("user_id"), "release1").as("puid"),
          col("value"))
      val cust = Tables(s, dir, "customer")
        .select(Privacy.pseudonym(col("c_custkey"), "release1").as("puid"),
          col("c_mktsegment").as("segment"))
      ev.join(broadcast(cust), "puid")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("puid")).as("n_users"),
          Relational.exactValueSumE4.as("total_value_e4"))
    }, oracle =
      // pseudonym replay: same salt+md5 on both sides, join on pseudonym
      """WITH ev AS (
        |  SELECT md5('release1:' || CAST(user_id AS VARCHAR)) AS puid,
        |    value
        |  FROM events),
        |cu AS (
        |  SELECT md5('release1:' || CAST(c_custkey AS VARCHAR)) AS puid,
        |    c_mktsegment AS segment
        |  FROM customer)
        |SELECT segment, count(*) AS n_events,
        |  count(DISTINCT ev.puid) AS n_users,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS total_value_e4
        |FROM ev JOIN cu USING (puid) GROUP BY segment""".stripMargin),
    // k-anonymity audit over customer quasi-identifiers: QI cells
    // below k=5 rows are re-identifiable and flagged for suppression.
    QuerySpec("privacy_k_anonymity", { (s, dir) =>
      Privacy.kAnonymityAudit(Tables(s, dir, "customer"), k = 5L,
        col("c_nationkey"), col("c_mktsegment"))
    }, oracle =
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
        |  count(*) < 5 AS suppressed
        |FROM customer GROUP BY 1, 2""".stripMargin),
    // l-diversity audit — the homogeneity attack k-anonymity misses: a
    // big-enough QI cell still leaks when its SENSITIVE attribute
    // (account-balance sign band here) is uniform. Cells with < 3
    // distinct sensitive values get flagged.
    QuerySpec("privacy_l_diversity", { (s, dir) =>
      Privacy.lDiversityAudit(Tables(s, dir, "customer"), l = 3L,
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid").otherwise("high"),
        col("c_nationkey"), col("c_mktsegment"))
    }, oracle =
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
        |  count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |    WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END)
        |    AS n_sensitive,
        |  count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |    WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END) < 3
        |    AS suppressed
        |FROM customer GROUP BY 1, 2""".stripMargin),
    // QUALITY-ranked per-source selection: the 5 highest-quality docs
    // per source (ties by id) via the bounded top-k aggregate — "best
    // docs per domain", the production upgrade over the random quota.
    // Battery behind an exchange barrier (alias-inlining hazard).
    QuerySpec("sample_source_best", { (s, dir) =>
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScoreOf(
            TextAnalysis.profile(col("text"))).as("quality"))
        .repartition(col("source"))
      Splits.bestPerSource(scored, col("doc_id"), col("source"),
        col("quality"), cap = 5)
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("score", "quality")
    }, oracle = {
      import TextAnalysis.Sql.{qualityScore => qs}
      s"""WITH scored AS (
         |  SELECT doc_id, source, ${qs("text")} AS quality
         |  FROM documents)
         |SELECT source, doc_id, CAST(rank AS INT) AS rank, quality
         |FROM (SELECT source, doc_id, quality,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id) AS rank
         |      FROM scored)
         |WHERE rank <= 5""".stripMargin
    }),
    // C4-style per-source quota: at most 10 docs per source, the 10
    // md5-smallest ids — absolute-count domain rebalancing (mixSources
    // reweights by rate). Bounded top-k threshold per source broadcast
    // back as a filter; the corpus never sorts, never shuffles.
    QuerySpec("sample_source_cap", { (s, dir) =>
      Splits.capPerSource(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        col("doc_id"), col("source"), cap = 10)
    }, oracle =
      """SELECT doc_id, lang, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR))) <= 10""".stripMargin),
    // Dirichlet-process label-mixture partitioning (the reference's 4th
    // example partitioner, group_by_dirichlet_process.py:130-145) made
    // exactly reproducible: md5-uniform row draws against a driver-
    // sampled probability matrix whose cumulative thresholds the oracle
    // SQL embeds as exact decimal literals.
    QuerySpec("group_counts_dirichlet", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val g = Grouper.byDirichletMd5(col("label"), col("vec_id"),
        labels = 0 until 10, numGroups = 8, alpha = 0.5, seed = 7L)
      g.keyed(emb).groupBy(col(Grouper.GroupCol).as("group_id"))
        .agg(count(lit(1)).as("n_examples"),
          countDistinct(col("label")).as("n_labels"))
    }, oracle = {
      val grp = Grouper.dirichletOracleSelect("vec_id", "label",
        labels = 0 until 10, numGroups = 8, alpha = 0.5, seed = 7L)
      s"""SELECT $grp AS group_id, count(*) AS n_examples,
         |  count(DISTINCT label) AS n_labels
         |FROM embeddings GROUP BY 1""".stripMargin
    }),
    // Federated per-round cohort draw (the reference's downstream
    // training loop): rank the group roster by md5(round|group), take
    // the first 5 per round — deterministic, uniform within round,
    // independent across rounds. Windows run on the roster (one row per
    // group), never corpus rows.
    QuerySpec("cohort_rounds_documents", { (s, dir) =>
      Cohorts.select(Tables(s, dir, "documents"),
        Grouper.byColumn("source"), rounds = 8, cohortSize = 5)
    }, oracle =
      """WITH g AS (
        |  SELECT source, count(*) AS n_examples FROM documents GROUP BY 1),
        |r AS (SELECT unnest(range(0, 8)) AS round),
        |ranked AS (
        |  SELECT r.round, g.source, g.n_examples,
        |    row_number() OVER (PARTITION BY r.round
        |      ORDER BY md5(r.round::VARCHAR || '|' || g.source)) AS rk
        |  FROM r, g)
        |SELECT round, source AS group_id, n_examples
        |FROM ranked WHERE rk <= 5""".stripMargin),

    // S4 loader coverage end to end: pack documents by lang, write
    // TFRecord shards with DETERMINISTIC md5-bucket shard assignment
    // (shard contents are a pure function of the data), then reproduce
    // the reference's seeded list_files shuffle as an md5(seed|shard)
    // ranking. Output: (position, shard, n_groups) — order AND contents
    // both oracle-exact. The global 8-row window is roster-sized.
    QuerySpec("loader_shuffled_shards", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tmp = scratchDir("shards")
      val packed = PartitionedDataset.packExamples(
        docs, Grouper.byColumn("lang"))
      val paths = PartitionedDataset.writeTFRecordsSharded(
        packed, tmp, nShards = 8)
      val shards = s.createDataset(
        paths.map(p => new org.apache.hadoop.fs.Path(p).getName))(
        org.apache.spark.sql.Encoders.STRING).toDF("shard")
      val counts = graft.sources.TFRecordIO
        .read(s, s"$tmp/groups.tfrecord-*")
        .select(element_at(split(col("file"), "/"), -1).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("n_groups"))
      val bySeed = org.apache.spark.sql.expressions.Window
        .orderBy(md5(concat_ws("|", lit("7"), col("shard"))))
      shards.join(counts, Seq("shard"), "left")
        .na.fill(0L, Seq("n_groups"))
        .withColumn("position", row_number().over(bySeed).cast("long"))
    }, oracle =
      """WITH g AS (SELECT lang AS group_id FROM documents GROUP BY lang),
        |b AS (SELECT group_id,
        |  ('0x' || substr(md5(group_id), 1, 8))::BIGINT % 8 AS shard_no
        |  FROM g),
        |counts AS (SELECT shard_no, count(*) AS n FROM b GROUP BY 1),
        |shards AS (SELECT i AS shard_no,
        |  printf('groups.tfrecord-%05d-of-00008', i) AS shard
        |  FROM (SELECT unnest(range(0, 8)) AS i))
        |SELECT s.shard,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_groups,
        |  CAST(row_number() OVER (ORDER BY md5('7|' || s.shard)) AS BIGINT)
        |    AS position
        |FROM shards s LEFT JOIN counts c USING (shard_no)""".stripMargin),
    // TOKEN-budget sequence packing: the byte-cap packer with a token
    // weight — fill each lang's 2048-token context window with the
    // deterministic ascending-(tokens, doc_id) greedy. Same
    // single-exchange window+agg shape as pack_capped_documents.
    QuerySpec("pack_token_budget_documents", { (s, dir) =>
      val packed = Pack.packCappedBy(
        Tables(s, dir, "documents"), Grouper.byColumn("lang"),
        col("text"), col("doc_id"),
        p => TextAnalysis.tokenCount(p.cast("string")), limit = 2048L)
      packed.select(
        col("group_id"),
        col("num_examples"),
        col("num_bytes").as("num_tokens"),
        // the digest separator below is a literal \x01 byte (same as
        // pack_capped_documents; the oracle joins with chr(1))
        md5(concat_ws("",
          transform(col("examples"), b => b.cast("string")))).as("digest"))
    }, oracle = {
      import TextAnalysis.Sql.{tokenCount => tc}
      s"""WITH ranked AS (
         |  SELECT lang, doc_id, text, ${tc("text")} AS w,
         |    sum(${tc("text")}) OVER (PARTITION BY lang
         |      ORDER BY ${tc("text")}, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |SELECT lang AS group_id,
         |  count(*) FILTER (WHERE cum < 2048) AS num_examples,
         |  CAST(coalesce(sum(w) FILTER (WHERE cum < 2048), 0) AS BIGINT)
         |    AS num_tokens,
         |  md5(coalesce(string_agg(text, chr(1) ORDER BY w, doc_id)
         |    FILTER (WHERE cum < 2048), '')) AS digest
         |FROM ranked GROUP BY lang""".stripMargin
    }),
    // FIXED-CONTEXT packing (the other production packer): per lang,
    // concatenate the token stream in doc_id order and cut exactly-128-
    // token examples, documents spanning example boundaries — every
    // token kept, order-sensitive digest per example.
    QuerySpec("pack_fixed_context_documents", { (s, dir) =>
      Pack.packFixedContext(Tables(s, dir, "documents"),
        col("lang"), col("doc_id"),
        TextAnalysis.tokens(col("text")), seqLen = 128)
    }, oracle = fixedContextOracle),
    // LM TRAINING BLOCKS with the next-token shift (the reference's
    // group_and_split_input_target_fn): tokenizer ids pack per-lang
    // into 129-id full blocks, input = [0:128], target = [1:129],
    // class weight 0 on padding/OOV targets. Arrays digest to md5 for
    // the row-hash gate; the library API returns the arrays.
    QuerySpec("train_blocks_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val enc = graft.functions.Vocab.encodeIds(docs,
          col("doc_id"), col("text"), k = 500)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      Pack.inputTargetBlocks(enc, col("lang"), col("doc_id"),
          col("ids"), seqLen = 128)
        .select(col("group_id"), col("example_id"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_digest"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_digest"),
          aggregate(col("class_weights"), lit(0L), (a, x) => a + x)
            .as("n_weight1"))
    }, oracle = TrainBlocksOracle),
    // SUBSAMPLE -> LM-BLOCKS composition: word2vec frequency
    // subsampling thins the token stream (stopwords decimated, rare
    // words kept — vocab_subsample_tokens' exact keep rule), then the
    // SURVIVORS pack into shifted input/target blocks per lang — the
    // full train-prep path where rebalancing feeds block assembly.
    // The oracle chains the two existing CTE families verbatim.
    QuerySpec("train_blocks_subsampled", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val enc = graft.functions.Vocab.subsampleIds(docs,
          col("doc_id"), col("text"), t = 0.001, k = 500)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      Pack.inputTargetBlocks(enc, col("lang"), col("doc_id"),
          col("ids"), seqLen = 128)
        .select(col("group_id"), col("example_id"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            ",")).as("input_digest"),
          md5(array_join(transform(col("target_ids"), _.cast("string")),
            ",")).as("target_digest"),
          aggregate(col("class_weights"), lit(0L), (a, x) => a + x)
            .as("n_weight1"))
    }, oracle =
      // the composition: subsample keep-rule CTEs feeding the block
      // CTEs — both replayed verbatim from their standalone twins
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.Sql.tokens("lower(text)")} AS l
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, i - 1 AS pos, l[CAST(i AS INTEGER)] AS token
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
         |        FROM toks)),
         |cnt AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS f
         |  FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(f) AS BIGINT) AS grand FROM cnt),
         |vocab AS (
         |  SELECT token, CAST(row_number() OVER
         |    (ORDER BY f DESC, token) AS INT) AS rank
         |  FROM cnt ORDER BY f DESC, token LIMIT 500),
         |dec AS (
         |  SELECT o.doc_id, o.pos, o.token
         |  FROM occ o JOIN cnt c USING (token), tot
         |  WHERE (('0x' || substr(md5(o.doc_id::VARCHAR || ':'
         |      || o.pos::VARCHAR), 1, 8))::BIGINT::DOUBLE
         |      / 4294967296.0)
         |    < least(1.0, sqrt(0.001 * grand / f))),
         |stream AS (
         |  SELECT d.lang, coalesce(v.rank, 0) AS tid,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY dec.doc_id, dec.pos) - 1 AS gp
         |  FROM dec JOIN documents d ON d.doc_id = dec.doc_id
         |  LEFT JOIN vocab v ON v.token = dec.token),
         |blk AS (SELECT lang, gp // 129 AS example_id, gp % 129 AS o,
         |          tid
         |        FROM stream),
         |outb AS (
         |  SELECT lang AS group_id, example_id,
         |    md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY o)
         |      FILTER (WHERE o < 128)) AS input_digest,
         |    md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY o)
         |      FILTER (WHERE o >= 1)) AS target_digest,
         |    CAST(count(*) FILTER (WHERE o >= 1 AND tid <> 0) AS BIGINT)
         |      AS n_weight1,
         |    count(*) AS nb
         |  FROM blk GROUP BY 1, 2)
         |SELECT group_id, CAST(example_id AS BIGINT) AS example_id,
         |  input_digest, target_digest, n_weight1
         |FROM outb WHERE nb = 129""".stripMargin),
    // SFT-PREP rendering: split each doc into a (prompt, response)
    // pair at the first sentence boundary, render through a chat
    // template, and report the token budget check — the assembly step
    // before instruction tuning, with the rendered digest as the
    // export integrity artifact. Pure string algebra, fully
    // oracle-exact.
    QuerySpec("sft_render_documents", { (s, dir) =>
      val pos = instr(col("text"), ".")
      val prompt = when(pos > 0, col("text").substr(lit(1), pos))
        .otherwise(col("text"))
      val response = when(pos > 0,
        ltrim(col("text").substr(pos + 1, octet_length(col("text")))))
        .otherwise(lit(""))
      val rendered = concat(lit("<|user|>\n"), prompt,
        lit("\n<|assistant|>\n"), response)
      Tables(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(rendered).as("n_tokens"),
        (TextAnalysis.tokenCount(rendered) <= 2048).as("fits_2048"),
        (octet_length(response) > 0).as("has_response"),
        md5(rendered).as("rendered_digest"))
    }, oracle = {
      // same split at the first '.', same template concat, same
      // whitespace token count
      val tokR = TextAnalysis.Sql.tokens("rendered")
      s"""WITH sp AS (
         |  SELECT doc_id, strpos(text, '.') AS pos, text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    '<|user|>' || chr(10)
         |    || CASE WHEN pos > 0 THEN substr(text, 1, pos)
         |         ELSE text END
         |    || chr(10) || '<|assistant|>' || chr(10)
         |    || CASE WHEN pos > 0 THEN ltrim(substr(text, pos + 1))
         |         ELSE '' END AS rendered,
         |    CASE WHEN pos > 0 THEN ltrim(substr(text, pos + 1))
         |      ELSE '' END AS response
         |  FROM sp)
         |SELECT doc_id,
         |  CAST(len($tokR) AS BIGINT) AS n_tokens,
         |  len($tokR) <= 2048 AS fits_2048,
         |  strlen(response) > 0 AS has_response,
         |  md5(rendered) AS rendered_digest
         |FROM r""".stripMargin
    }),
    // TRUNCATION-LOSS report: if docs were clipped at the context
    // length instead of packed, how many tokens per source would be
    // lost? The one-scan audit that justifies (or skips) a packing
    // pass per corpus slice. Integer tokens, ppm by integer DIV.
    QuerySpec("pack_truncation_loss", { (s, dir) =>
      val L = 128
      val n = size(TextAnalysis.tokens(col("text"))).cast("long")
      Tables(s, dir, "documents")
        .select(col("source"), n.as("__n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__n") > L, 1L).otherwise(0L)).as("docs_over"),
          sum(col("__n")).as("tokens_total"),
          sum(greatest(col("__n") - L, lit(0L))).as("tokens_lost"))
        .withColumn("lost_ppm",
          expr("(tokens_lost * 1000000) DIV tokens_total"))
    }, oracle = {
      val tok = TextAnalysis.Sql.tokens("text")
      s"""WITH n AS (
         |  SELECT source, CAST(len($tok) AS BIGINT) AS n
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n > 128 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_over,
         |  CAST(sum(n) AS BIGINT) AS tokens_total,
         |  CAST(sum(greatest(n - 128, 0)) AS BIGINT) AS tokens_lost,
         |  (CAST(sum(greatest(n - 128, 0)) AS BIGINT) * 1000000)
         |    // CAST(sum(n) AS BIGINT) AS lost_ppm
         |FROM n GROUP BY source""".stripMargin
    }),
    // Embedding-vector QUALITY audit per label: zero vectors and the
    // norm range — the pre-training check that catches broken encoder
    // output before it poisons a run. Norms land as round-6 integers
    // (e6), min/max/decimal-sum exact in any engine.
    QuerySpec("embedding_norm_audit", { (s, dir) =>
      // decimal hop: round-6 double -> DECIMAL(18,6) -> *1e6 integer —
      // a direct double*1e6 long cast truncates in Spark but ROUNDS in
      // DuckDB at ulp boundaries (the repo's exactValueSumE4 lesson)
      val nrm = round(Vectors.norm(col("embedding")), 6)
      Tables(s, dir, "embeddings")
        .select(col("label"),
          (nrm.cast("decimal(18,6)") * 1000000).cast("long")
            .as("__n6"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("__n6") === 0L, 1L).otherwise(0L))
            .as("n_zero"),
          min(col("__n6")).as("min_norm_e6"),
          max(col("__n6")).as("max_norm_e6"),
          sum(col("__n6")).as("sum_norm_e6"))
    }, oracle =
      """WITH v AS (
        |  SELECT label,
        |    CAST(CAST(round(sqrt(list_sum([CAST(x AS DOUBLE) * x
        |      FOR x IN embedding])), 6) AS DECIMAL(18,6)) * 1000000
        |      AS BIGINT) AS n6
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN n6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(min(n6) AS BIGINT) AS min_norm_e6,
        |  CAST(max(n6) AS BIGINT) AS max_norm_e6,
        |  CAST(sum(n6) AS BIGINT) AS sum_norm_e6
        |FROM v GROUP BY label""".stripMargin),
    // Attention-reset descriptors for the packed LM blocks: per block,
    // the in-block offsets where a new document begins — what a
    // trainer turns into block-diagonal masks so packed neighbors
    // can't attend across document seams. Joined onto the FULL blocks
    // of train_blocks_documents; continuation blocks (doc spans the
    // seam) carry zero segments by design.
    QuerySpec("train_blocks_boundaries", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val enc = graft.functions.Vocab.encodeIds(docs,
          col("doc_id"), col("text"), k = 500)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val blocks = Pack.inputTargetBlocks(enc, col("lang"),
          col("doc_id"), col("ids"), seqLen = 128)
        .select(col("group_id"), col("example_id"))
      val bounds = Pack.blockBoundaries(enc, col("lang"),
        col("doc_id"), col("ids"), seqLen = 128)
      blocks.join(bounds, Seq("group_id", "example_id"), "left")
        .select(col("group_id"), col("example_id"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("seg_starts"), lit("")).as("seg_starts"))
    }, oracle =
      // same stream arithmetic; doc seams = min global position per doc,
      // block/offset by the same DIV/% against the 129-wide block
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.Sql.tokens("lower(text)")} AS l
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, generate_subscripts(l, 1) AS p
         |  FROM toks),
         |stream AS (
         |  SELECT d.lang, pos.doc_id,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY pos.doc_id, pos.p) - 1 AS gp
         |  FROM pos JOIN documents d ON d.doc_id = pos.doc_id),
         |blocks AS (
         |  SELECT lang AS group_id, gp // 129 AS example_id,
         |    count(*) AS nb
         |  FROM stream GROUP BY 1, 2),
         |fullb AS (
         |  SELECT group_id, example_id FROM blocks WHERE nb = 129),
         |starts AS (
         |  SELECT lang AS group_id, min(gp) AS s0
         |  FROM stream GROUP BY lang, doc_id),
         |segs AS (
         |  SELECT group_id, s0 // 129 AS example_id,
         |    CAST(count(*) AS BIGINT) AS n_segments,
         |    string_agg(CAST(s0 % 129 AS VARCHAR), ','
         |      ORDER BY s0 % 129) AS seg_starts
         |  FROM starts GROUP BY 1, 2)
         |SELECT f.group_id, CAST(f.example_id AS BIGINT) AS example_id,
         |  CAST(coalesce(g.n_segments, 0) AS BIGINT) AS n_segments,
         |  coalesce(g.seg_starts, '') AS seg_starts
         |FROM fullb f LEFT JOIN segs g
         |  USING (group_id, example_id)""".stripMargin),
    // Same contract through the SCALABLE offset path: no per-group
    // window (5 langs over 100 TB = 5 reducers); token offsets via
    // range-partition + bounded per-partition count collect + broadcast
    // base offsets (the sliceByPosition shape). Identical result and
    // oracle.
    QuerySpec("pack_fixed_context_scalable", { (s, dir) =>
      Pack.packFixedContextScalable(Tables(s, dir, "documents"),
        col("lang"), col("doc_id"),
        TextAnalysis.tokens(col("text")), seqLen = 128)
    }, oracle =
      // identical semantics, different distribution strategy -> same SQL
      fixedContextOracle),
    // Deterministic INTERLEAVED training order: per-source md5 shuffle
    // rank, round-robin across sources by FORMULA (global_pos =
    // rank·|sources| + srcIdx) — every batch window sees the same
    // source mix; no global sort, no single-partition window.
    QuerySpec("order_interleaved_documents", { (s, dir) =>
      Splits.interleavedOrder(Tables(s, dir, "documents"),
        col("doc_id"), col("source"))
        .select(col("id").as("doc_id"), col("source"),
          col("rank_in_source"), col("global_pos"))
    }, oracle =
      // interleave replay: per-source md5 rank window, source index from
      // the sorted distinct list, position formula
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
        |        ::BIGINT, doc_id) - 1 AS rank_in_source
        |  FROM documents),
        |s AS (SELECT source, row_number() OVER (ORDER BY source) - 1
        |        AS si
        |      FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS ns FROM s)
        |SELECT r.doc_id, r.source,
        |  CAST(r.rank_in_source AS BIGINT) AS rank_in_source,
        |  CAST(r.rank_in_source * n.ns + s.si AS BIGINT) AS global_pos
        |FROM r JOIN s USING (source) CROSS JOIN n""".stripMargin),
    // Group-granular holdout (federated eval on held-out CLIENTS):
    // whole sources enter or leave the train split together, decided by
    // the md5 uniform of the source value.
    QuerySpec("split_group_holdout", { (s, dir) =>
      Splits.holdOutGroups(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        col("source"), rate = 0.6)
    }, oracle =
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(source), 1, 8))::BIGINT
        |      / 4294967296.0 < 0.6""".stripMargin),
    // Curriculum binning: per-language quality QUARTILE bins via the
    // bounded-state histogram-percentile path (value->count histogram,
    // then percentile with frequencies — state bounded by the value
    // domain, not row count), thresholds broadcast back. The battery
    // projection materializes behind one exchange reused by both the
    // histogram and the join side.
    // Quality-score PERCENTILE NORMALIZATION per source: raw quality
    // scores are not comparable across corpora (different length/
    // punctuation regimes), so cross-source thresholding works on each
    // doc's within-source percentile instead — rank*1e6 DIV (n-1),
    // integer-exact. The rank window partitions by source (bounded
    // state, never a global sort); the battery computes once behind
    // the source exchange.
    QuerySpec("quality_percentile_normalize", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .repartition(col("source"))
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScoreOf(
            TextAnalysis.profile(col("text"))).as("q"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q").asc, col("doc_id").asc)
      val n = Window.partitionBy(col("source"))
      q.withColumn("__rk", row_number().over(w) - 1)
        .withColumn("__n", count(lit(1)).over(n))
        .select(col("doc_id"), col("source"), col("q"),
          expr("(__rk * 1000000) DIV greatest(__n - 1, 1)")
            .as("pct_ppm"))
    }, oracle = {
      // same battery, same full ordering key, integer ppm rank
      import TextAnalysis.Sql.{qualityScore => qs}
      s"""WITH q AS (
         |  SELECT doc_id, source, ${qs("text")} AS q FROM documents)
         |SELECT doc_id, source, q,
         |  ((row_number() OVER (PARTITION BY source
         |      ORDER BY q, doc_id) - 1) * 1000000)
         |    // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
         |    AS pct_ppm
         |FROM q""".stripMargin
    }),
    // LABEL-NOISE screen (confident-learning lite): for a bounded
    // probe slice, does the 5-NN majority label agree with the
    // assigned one? Per-label disagreement ppm flags classes whose
    // annotations don't match their embedding neighborhoods. Probes
    // broadcast against the corpus; the vote is two bounded struct-max
    // aggs — never a per-query sort of the corpus.
    QuerySpec("embedding_label_noise", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val lbl = emb.select(col("vec_id"), col("label"))
      val nn = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 100), emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"))
      val voted = nn
        .join(lbl.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlabel"), "neighbor_id")
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("c"))
        // majority with deterministic ties: (count desc, label asc)
        .groupBy(col("query_id"))
        .agg(max(struct(col("c"), (-col("nlabel")).as("nl"))).as("w"))
        .select(col("query_id"),
          (-col("w.nl")).cast("int").as("pred_label"))
      voted
        .join(lbl.withColumnRenamed("vec_id", "query_id"), "query_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("pred_label") =!= col("label"), 1L)
            .otherwise(0L)).as("n_disagree"))
        .withColumn("disagree_ppm",
          expr("(n_disagree * 1000000) DIV n_checked"))
    }, oracle =
      // 5-NN vote replay: same brute ranking, majority by
      // (count desc, label asc), per-label integer ppm
      s"""WITH ${unitVecsCte("v")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q.e[i] * c.e[i]
         |      FOR i IN range(1, len(q.e) + 1)]), 6) AS score
         |  FROM v q JOIN v c ON q.vec_id < 100 AND q.vec_id <> c.vec_id),
         |nn AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM scored)
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT n.query_id, e.label AS nlabel, count(*) AS c
         |  FROM nn n JOIN embeddings e ON e.vec_id = n.neighbor_id
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT query_id, nlabel AS pred_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY c DESC, nlabel ASC) AS rk FROM votes)
         |  WHERE rk = 1),
         |j AS (
         |  SELECT e.label, p.pred_label
         |  FROM pred p JOIN embeddings e ON e.vec_id = p.query_id)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_checked,
         |  CAST(sum(CASE WHEN pred_label <> label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_disagree,
         |  (CAST(sum(CASE WHEN pred_label <> label THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
         |    AS disagree_ppm
         |FROM j GROUP BY label""".stripMargin),
    // Class-imbalance audit of a labeled embedding corpus: per-label
    // share plus the EFFECTIVE label count (inverse Simpson index,
    // N^2/sum(n_i^2)) — the one number that says "50 labels but
    // really ~7 effective classes". All integer arithmetic.
    QuerySpec("embedding_label_balance", { (s, dir) =>
      val byLabel = Tables(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      byLabel.agg(
        sum(col("n")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        max(col("n")).as("max_label_n"),
        sum(col("n") * col("n")).as("__ss"))
        .select(col("n_vecs"), col("n_labels"), col("max_label_n"),
          expr("(max_label_n * 1000000) DIV n_vecs")
            .as("max_share_ppm"),
          expr("(n_vecs * n_vecs * 1000) DIV __ss")
            .as("effective_labels_e3"))
    }, oracle =
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_vecs,
        |  CAST(count(*) AS BIGINT) AS n_labels,
        |  CAST(max(n) AS BIGINT) AS max_label_n,
        |  (CAST(max(n) AS BIGINT) * 1000000) // CAST(sum(n) AS BIGINT)
        |    AS max_share_ppm,
        |  (CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT) * 1000)
        |    // CAST(sum(n * n) AS BIGINT) AS effective_labels_e3
        |FROM c""".stripMargin),
    QuerySpec("curriculum_bins_documents", { (s, dir) =>
      val q = Tables(s, dir, "documents")
        .select(col("lang"), col("text"))
        .repartition(col("lang"))
        .select(col("lang"),
          TextAnalysis.qualityScoreOf(
            TextAnalysis.profile(col("text"))).as("q"))
        .repartition(col("lang"))
      val hist = q.groupBy(col("lang"), col("q")).agg(count(lit(1)).as("cnt"))
      val thr = hist.groupBy(col("lang")).agg(
        round(expr("percentile(q, 0.25, cnt)"), 4).as("t25"),
        round(expr("percentile(q, 0.50, cnt)"), 4).as("t50"),
        round(expr("percentile(q, 0.75, cnt)"), 4).as("t75"))
      q.join(broadcast(thr), "lang")
        .select(col("lang"),
          when(col("q") < col("t25"), 0L)
            .when(col("q") < col("t50"), 1L)
            .when(col("q") < col("t75"), 2L)
            .otherwise(3L).as("bin"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"))
    }, oracle = {
      import TextAnalysis.Sql.{qualityScore => qs}
      s"""WITH q AS (
         |  SELECT lang, ${qs("text")} AS q FROM documents),
         |thr AS (
         |  SELECT lang,
         |    round(quantile_cont(q, 0.25), 4) AS t25,
         |    round(quantile_cont(q, 0.50), 4) AS t50,
         |    round(quantile_cont(q, 0.75), 4) AS t75
         |  FROM q GROUP BY 1)
         |SELECT q.lang,
         |  CAST(CASE WHEN q < t25 THEN 0 WHEN q < t50 THEN 1
         |            WHEN q < t75 THEN 2 ELSE 3 END AS BIGINT) AS bin,
         |  count(*) AS n_docs
         |FROM q JOIN thr USING (lang) GROUP BY 1, 2""".stripMargin
    }),

    // Benchmark decontamination: corpus docs sharing any word 4-gram
    // with the "benchmark" slice (doc_id % 97 == 0 stands in for an
    // eval set). The eval side's distinct shingles broadcast — the
    // corpus never shuffles before the per-doc overlap aggregation.
    // (Production n is 8-13; 4 binds on this synthetic vocabulary.)
    QuerySpec("decontaminate_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Decontaminate.ngramOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), col("text"), col("doc_id"), n = 4)
    }, oracle =
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    $textTokens AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' '
        |    || t[i+2] || ' ' || t[i+3] FOR i IN range(1, len(t) - 2)]) AS s
        |  FROM toks WHERE len(t) >= 4),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |ce AS (SELECT doc_id, g FROM ex WHERE doc_id % 97 <> 0),
        |ee AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared,
        |  count(DISTINCT e.eval_id) AS n_eval_hit
        |FROM ce c JOIN ee e ON c.g = e.g
        |GROUP BY c.doc_id""".stripMargin),
    // FILTER-FATE AUDIT — pipeline observability: every document gets
    // the FIRST rule that removes it (quality gate > contamination >
    // exact-dup loser > kept; eval-slice docs are 'eval_holdout'),
    // summarized per fate. The "why did my corpus shrink 40%?"
    // breakdown a production pipeline publishes with every run.
    // Quality + fingerprint compute in ONE battery pass behind a
    // barrier and materialize once (two consumers: the per-fp keeper
    // aggregate and the fate projection); the contaminated id set is
    // small by construction (eval-overlap docs) and broadcasts.
    QuerySpec("corpus_filter_fates", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val isEval = col("doc_id") % 97 === 0
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
      val scored = corpus.repartition(col("doc_id"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreOf(TextAnalysis.profile(col("text")))
            .as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .localCheckpoint()
      val keepers = scored.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"))
      val contam = Decontaminate.ngramOverlap(
        corpus, docs.filter(isEval),
        col("text"), col("doc_id"), col("text"), col("doc_id"), n = 4)
        .select(col("doc_id"), lit(true).as("contaminated"))
      val fates = scored
        .join(keepers, "fp")
        .join(broadcast(contam), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("quality") < 0.3, "low_quality")
            .when(coalesce(col("contaminated"), lit(false)), "contaminated")
            .when(col("doc_id") =!= col("keeper"), "duplicate")
            .otherwise("kept").as("fate"))
      fates
        .unionByName(docs.filter(isEval)
          .select(col("doc_id"), lit("eval_holdout").as("fate")))
        .groupBy(col("fate"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
    }, oracle = {
      // fate replay: the quality/fingerprint battery, per-fp keeper, and
      // the decontaminate shingle CTEs verbatim, folded into one CASE
      import TextAnalysis.Sql._
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
         |q AS (
         |  SELECT doc_id, ${qualityScore("text")} AS quality,
         |    ${fingerprint("text")} AS fp
         |  FROM corpus),
         |k AS (SELECT fp, min(doc_id) AS keeper FROM q GROUP BY 1),
         |toks AS (
         |  SELECT doc_id,
         |    $textTokens AS t
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' '
         |    || t[i+2] || ' ' || t[i+3] FOR i IN range(1, len(t) - 2)]) AS s
         |  FROM toks WHERE len(t) >= 4),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |contam AS (
         |  SELECT DISTINCT c.doc_id
         |  FROM (SELECT doc_id, g FROM ex WHERE doc_id % 97 <> 0) c
         |  JOIN (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0) e
         |    USING (g)),
         |fates AS (
         |  SELECT q.doc_id,
         |    CASE WHEN q.quality < 0.3 THEN 'low_quality'
         |         WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
         |         WHEN q.doc_id <> k.keeper THEN 'duplicate'
         |         ELSE 'kept' END AS fate
         |  FROM q JOIN k USING (fp)
         |  LEFT JOIN contam ct ON ct.doc_id = q.doc_id
         |  UNION ALL
         |  SELECT doc_id, 'eval_holdout' FROM documents
         |  WHERE doc_id % 97 = 0)
         |SELECT fate, count(*) AS n_docs, min(doc_id) AS min_doc_id
         |FROM fates GROUP BY 1""".stripMargin
    }),
    // Deterministic hash-stratified sampling: per-language keep rates
    // decided by an md5-derived uniform of doc_id — stable under
    // repartitioning, monotone in the rate, exact cross-engine oracle.
    QuerySpec("sample_stratified_documents", { (s, dir) =>
      Splits.stratifiedSample(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
    }, oracle =
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |      / 4294967296.0
        |    < CASE WHEN lang = 'en' THEN 0.5
        |           WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END""".stripMargin),
    // PII scrub: detect + redact emails/phones/IPs. The corpus text has
    // no PII, so a deterministic per-doc contact line is appended
    // in-query and the operator must find and replace exactly those —
    // counts + a digest of the redacted text, both oracle-exact.
    QuerySpec("text_pii_redact", { (s, dir) =>
      val aug = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".1")))
          .otherwise(lit("")))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        Redact.countMatches(aug, Redact.EmailPattern).cast("long").as("n_emails"),
        Redact.countMatches(aug, Redact.PhonePattern).cast("long").as("n_phones"),
        Redact.countMatches(aug, Redact.Ipv4Pattern).cast("long").as("n_ips"),
        md5(Redact.redact(aug)).as("redacted_digest"))
    }, oracle = {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\d{3}-\\d{3}-\\d{4}"
      val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' Contact user' || doc_id::VARCHAR
         |      || '@example.com or call 555-123-'
         |      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |      || CASE WHEN doc_id % 2 = 0
         |           THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1'
         |           ELSE '' END AS a
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(a, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(a, '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(a, '$ip')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(a,
         |    '$email', '<EMAIL>', 'g'),
         |    '$phone', '<PHONE>', 'g'),
         |    '$ip', '<IP>', 'g')) AS redacted_digest
         |FROM aug""".stripMargin
    }),
    // WEB-PROVENANCE rollup: extract URLs, roll up per domain with doc
    // reach and a blocklist flag — the first filter of any web-scraped
    // corpus (spam / SEO-farm / opt-out domains). URLs are planted
    // deterministically (23 domains over 3 TLDs; ~1/4 of docs cite a
    // second domain); the blocklist is a literal set folded into the
    // projection — no join. The regex stays in the Java∩RE2 dialect so
    // extraction replays exactly.
    QuerySpec("web_domain_rollup", { (s, dir) =>
      val did = col("doc_id")
      val tld = when(did % 3 === 0, ".com")
        .when(did % 3 === 1, ".org").otherwise(".net")
      val dom = concat(lit("site"), (did % 23).cast("string"), tld)
      val dom2 = concat(lit("mirror"), (did % 7).cast("string"),
        lit(".net"))
      val aug = concat(col("text"),
        lit(" see https://"), dom, lit("/p/"), did.cast("string"),
        when(did % 4 === 0,
          concat(lit(" and http://"), dom2, lit("/x")))
          .otherwise(lit("")))
      graft.functions.Urls.domainRollup(
        Tables(s, dir, "documents"), did, aug,
        blocklist = Seq("site1.com", "site7.net", "mirror3.net"))
    }, oracle =
      // replay the planted URLs, extract with the same RE2-dialect
      // pattern, roll up per domain
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 23)::VARCHAR
        |      || CASE CAST(doc_id % 3 AS INTEGER)
        |           WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |           ELSE '.net' END
        |      || '/p/' || doc_id::VARCHAR
        |      || CASE WHEN doc_id % 4 = 0
        |           THEN ' and http://mirror' || (doc_id % 7)::VARCHAR
        |             || '.net/x'
        |           ELSE '' END AS a
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, unnest(regexp_extract_all(a,
        |    'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9/._-]*)?')) AS url
        |  FROM aug),
        |dom AS (
        |  SELECT doc_id,
        |    regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)
        |      AS domain
        |  FROM urls)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  list_contains(['site1.com', 'site7.net', 'mirror3.net'],
        |    domain) AS blocked
        |FROM dom GROUP BY domain""".stripMargin),
    // READABILITY scoring (Flesch-Kincaid grade): exact integer word/
    // sentence/syllable-group counts (vowel-run heuristic, RE2-dialect
    // regex), then the FK formula evaluated ENTIRELY in scaled integer
    // DIV terms — a float formula rounded to 3 hit a genuine .xxx5 tie
    // on this corpus (Spark decimal-rounds the rendering, DuckDB the
    // binary double; the exactValueSumE4 hazard realized). The
    // grade-level quality signal CCNet-style pipelines bucket on.
    QuerySpec("text_readability_documents", { (s, dir) =>
      val words = TextAnalysis.tokenCount(col("text"))
      val sents = greatest(
        regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
      val syl = greatest(
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long"),
        lit(1L))
      // blank-doc guard on the whitespace CLASS (trim only strips
      // spaces — a tab/newline-only doc would pass with n_words=0 and
      // divide by zero); rlike on the raw column stays cheap and keeps
      // the tokenize battery out of the scan (the audit-gated
      // duplication hazard)
      Tables(s, dir, "documents")
        .filter(col("text").rlike("\\S"))
        .select(col("doc_id"),
          words.as("n_words"), sents.as("n_sentences"),
          syl.as("n_syllable_groups"))
        .withColumn("fk_grade_e3",
          expr("(390 * n_words) DIV n_sentences" +
            " + (11800 * n_syllable_groups) DIV n_words - 15590"))
    }, oracle = {
      val tok = TextAnalysis.Sql.tokens("text")
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len($tok) AS BIGINT) AS n_words,
         |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
         |      AS BIGINT), 1) AS n_sentences,
         |    greatest(CAST(len(regexp_extract_all(lower(text),
         |      '[aeiouy]+')) AS BIGINT), 1) AS n_syllable_groups
         |  FROM documents WHERE regexp_matches(text, '\\S'))
         |SELECT doc_id, n_words, n_sentences, n_syllable_groups,
         |  (390 * n_words) // n_sentences
         |    + (11800 * n_syllable_groups) // n_words - 15590
         |    AS fk_grade_e3
         |FROM b""".stripMargin
    }),
    // Gopher-style REPETITION filters: duplicate-token fraction, the
    // champion bigram's char mass, duplicated-trigram char mass — the
    // repeated-phrase gate beside the quality score. ZERO shuffles:
    // every signal is a run-length fold over the doc's own sorted
    // gram arrays (duplicates adjacent after sort); the oracle
    // replays relationally and pins the tie/mass semantics.
    QuerySpec("text_repetition_documents", { (s, dir) =>
      graft.functions.Repetition.signals(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
    }, oracle =
      // same exact integer counts, same all-integer formula
      graft.functions.Repetition.Sql.documents),
    // CODE-vs-PROSE detection signals: brace/semicolon/indent density
    // per 10k chars — the router that keeps code out of a prose corpus
    // (or routes it to a code corpus). Pure integer counts + ppm DIV.
    QuerySpec("text_code_signals", { (s, dir) =>
      val chars = octet_length(col("text")).cast("long")
      Tables(s, dir, "documents").select(col("doc_id"),
        chars.as("n_chars"),
        regexp_count(col("text"), lit("[{}\\[\\]();]")).cast("long")
          .as("n_punct_code"),
        regexp_count(col("text"), lit("(^|\\n)(    |\\t)"))
          .cast("long").as("n_indent_lines"))
        .filter(col("n_chars") > 0)
        .withColumn("code_score_ppm",
          expr("((n_punct_code + n_indent_lines) * 1000000)" +
            " DIV n_chars"))
    }, oracle =
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[{}\[\]();]'))
        |    AS BIGINT) AS n_punct_code,
        |  CAST(len(regexp_extract_all(text, '(^|\n)(    |\t)'))
        |    AS BIGINT) AS n_indent_lines,
        |  ((CAST(len(regexp_extract_all(text, '[{}\[\]();]'))
        |      AS BIGINT)
        |    + CAST(len(regexp_extract_all(text, '(^|\n)(    |\t)'))
        |      AS BIGINT)) * 1000000) // CAST(strlen(text) AS BIGINT)
        |    AS code_score_ppm
        |FROM documents WHERE strlen(text) > 0""".stripMargin),
    // CANARY scan (eval-integrity): search the corpus for planted
    // canary strings (the GUID-like markers eval sets embed to detect
    // training contamination). Canaries broadcast as literals; the
    // scan is one contains() pass. Planted here in-query (doc_id%97
    // buckets) so hits are deterministic and the oracle replays them.
    QuerySpec("decontaminate_canaries", { (s, dir) =>
      val canaries = Seq("c4n4ry-alpha-7f3e", "c4n4ry-beta-00d1",
        "c4n4ry-gamma-9a2b")
      val aug = concat(col("text"),
        when(col("doc_id") % 97 === 1, lit(" c4n4ry-alpha-7f3e"))
          .otherwise(lit("")),
        when(col("doc_id") % 89 === 2, lit(" c4n4ry-beta-00d1"))
          .otherwise(lit("")))
      // ONE corpus scan: all canary sums in a single aggregation,
      // unpivoted with stack — a per-canary union would rescan per row
      val hits = canaries.zipWithIndex.map { case (c, i) =>
        sum(when(aug.contains(c), 1L).otherwise(0L)).as(s"h$i")
      }
      val cells = canaries.zipWithIndex
        .map { case (c, i) => s"'${c}', h$i" }.mkString(", ")
      Tables(s, dir, "documents")
        .agg(hits.head, hits.tail: _*)
        .select(expr(s"stack(${canaries.length}, $cells)" +
          " as (canary, n_docs_hit)"))
    }, oracle =
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 97 = 1
        |         THEN ' c4n4ry-alpha-7f3e' ELSE '' END
        |    || CASE WHEN doc_id % 89 = 2
        |         THEN ' c4n4ry-beta-00d1' ELSE '' END AS a
        |  FROM documents),
        |h AS (
        |  SELECT
        |    CAST(sum(CASE WHEN strpos(a, 'c4n4ry-alpha-7f3e') > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |    CAST(sum(CASE WHEN strpos(a, 'c4n4ry-beta-00d1') > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN strpos(a, 'c4n4ry-gamma-9a2b') > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS h2
        |  FROM aug)
        |SELECT 'c4n4ry-alpha-7f3e' AS canary, h0 AS n_docs_hit FROM h
        |UNION ALL SELECT 'c4n4ry-beta-00d1', h1 FROM h
        |UNION ALL SELECT 'c4n4ry-gamma-9a2b', h2 FROM h""".stripMargin),
    // DUP-RATE by source: which feed ships copies? A doc is a
    // duplicate when its normalized fingerprint's global keeper (min
    // id) is another doc; the loss attributes to the DUPLICATE's
    // source. One fingerprint shuffle + one rollup — the per-feed
    // quality scorecard dedup budgeting reads.
    QuerySpec("dedup_rate_by_source", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val w = Window.partitionBy(col("fp"))
      docs.withColumn("__keep", min(col("doc_id")).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("__keep"), 1L).otherwise(0L))
            .as("n_dupes"))
        .withColumn("dupe_ppm", expr("(n_dupes * 1000000) DIV n_docs"))
    }, oracle = {
      // same fingerprint, min-over-fingerprint window, rollup by the
      // duplicate's source
      import TextAnalysis.Sql.{fingerprint => fpr}
      s"""WITH d AS (
         |  SELECT doc_id, source, ${fpr("text")} AS fp
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, source,
         |    min(doc_id) OVER (PARTITION BY fp) AS keep
         |  FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dupes,
         |  (CAST(sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
         |    AS dupe_ppm
         |FROM k GROUP BY source""".stripMargin
    }),
    // PII GOVERNANCE rollup: per-source, per-snapshot-version redaction
    // audit with drift in basis points — the report that catches an
    // upstream feed starting to leak contact data between corpus
    // versions. Planting is deterministic AND version-skewed (odd
    // doc_ids carry emails at ~60% vs ~40% for even), so the drift
    // column is non-trivially exercised. One scan, one agg; every cell
    // integer-exact.
    QuerySpec("pii_rollup_drift", { (s, dir) =>
      val did = col("doc_id")
      val aug = concat(col("text"),
        when(did % 10 < did % 2 * 3 + 3,
          concat(lit(" reach user"), did.cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(did % 7 < 2,
          concat(lit(" call 555-"),
            lpad((did % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((did % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(did % 3 === 0,
          concat(lit(" at 192.168."), (did % 256).cast("string"),
            lit(".7"))).otherwise(lit("")))
      Redact.auditRollup(Tables(s, dir, "documents"), aug,
        col("source"), did % 2)
    }, oracle = {
      // replay the version-skewed planting, count per class, roll up per
      // (source, version), integer DIV basis points
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\d{3}-\\d{3}-\\d{4}"
      val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      s"""WITH aug AS (
         |  SELECT source, doc_id % 2 AS ver,
         |    text
         |    || CASE WHEN doc_id % 10 < doc_id % 2 * 3 + 3
         |         THEN ' reach user' || doc_id::VARCHAR || '@example.com'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 7 < 2
         |         THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
         |           || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |         ELSE '' END
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' at 192.168.' || (doc_id % 256)::VARCHAR || '.7'
         |         ELSE '' END AS a
         |  FROM documents),
         |cnt AS (
         |  SELECT source, ver,
         |    CAST(len(regexp_extract_all(a, '$email')) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(a, '$phone')) AS BIGINT) AS p,
         |    CAST(len(regexp_extract_all(a, '$ip')) AS BIGINT) AS i
         |  FROM aug),
         |roll AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN ver = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS docs_v0,
         |    CAST(sum(CASE WHEN ver = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS docs_v1,
         |    CAST(sum(CASE WHEN ver = 0 AND e + p + i > 0 THEN 1 ELSE 0
         |      END) AS BIGINT) AS pii_docs_v0,
         |    CAST(sum(CASE WHEN ver = 1 AND e + p + i > 0 THEN 1 ELSE 0
         |      END) AS BIGINT) AS pii_docs_v1,
         |    CAST(sum(CASE WHEN ver = 0 THEN e ELSE 0 END) AS BIGINT)
         |      AS emails_v0,
         |    CAST(sum(CASE WHEN ver = 1 THEN e ELSE 0 END) AS BIGINT)
         |      AS emails_v1,
         |    CAST(sum(CASE WHEN ver = 0 THEN p ELSE 0 END) AS BIGINT)
         |      AS phones_v0,
         |    CAST(sum(CASE WHEN ver = 1 THEN p ELSE 0 END) AS BIGINT)
         |      AS phones_v1,
         |    CAST(sum(CASE WHEN ver = 0 THEN i ELSE 0 END) AS BIGINT)
         |      AS ips_v0,
         |    CAST(sum(CASE WHEN ver = 1 THEN i ELSE 0 END) AS BIGINT)
         |      AS ips_v1
         |  FROM cnt GROUP BY source)
         |SELECT *,
         |  pii_rate_bp_v1 - pii_rate_bp_v0 AS drift_bp
         |FROM (
         |  SELECT *,
         |    (pii_docs_v0 * 10000) // nullif(docs_v0, 0)
         |      AS pii_rate_bp_v0,
         |    (pii_docs_v1 * 10000) // nullif(docs_v1, 0)
         |      AS pii_rate_bp_v1
         |  FROM roll)""".stripMargin
    }),

    // --------------------------------------------------------- similarity
    // PRIMARY near-dup entry = the LSH-bucketed linear path (the shape
    // that survives 100 TB), md5-ANCHORED: sign planes derive from md5
    // and the sign test runs over integer-quantized vectors, so DuckDB
    // recomputes the buckets bit-for-bit and the whole approximate
    // query carries an EXACT oracle. The Gaussian-plane twin
    // (cosinePairsLsh) stays the library default, spec-covered.
    QuerySpec("neardup_embeddings", { (s, dir) =>
      Similarity.cosinePairsLshAnchored(Tables(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), threshold = 0.45,
        dim = 64, nBits = 6, nTables = 8)
    }, oracle =
      // bit-for-bit LSH recomputation (see Similarity.md5SignPlanes /
      // .quantized): planes from md5 hex-digit parity, sign test over
      // floor(x*2^20) integers — engine-independent, so the approximate
      // query has an exact oracle. Topology mirror: per-table signatures,
      // hot-bucket cap, distinct within-bucket pairs, exact-cosine verify.
      s"""WITH ${AnchoredSigCtes(nTables = 8, nBits = 6)},
         |ok AS (
         |  SELECT t, sig FROM sigs GROUP BY 1, 2 HAVING count(*) <= 100000),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a
         |  JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
         |  JOIN ok ON ok.t = a.t AND ok.sig = a.sig),
         |${unitVecsCte("v")}
         |SELECT c.id_a, c.id_b,
         |  round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) AS cosine
         |FROM cand c
         |JOIN v a ON c.id_a = a.vec_id
         |JOIN v b ON c.id_b = b.vec_id
         |WHERE round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) >= 0.45""".stripMargin),
    // MULTI-PROBE LSH near-dup at Hamming 2: 2 tables x (home + 8
    // one-bit + 28 two-bit flip probes) instead of 8 home-only tables
    // — finer buckets (2^8 vs 2^6) kill within-bucket quadratics
    // while probing buys the recall back with transient probe rows,
    // not whole extra corpus shuffles. H2 is the declared entry since
    // the 1M-vector budget profile (ScaleStress: 74 probe rows/vec vs
    // H1's 18 — linear, exchange-bounded) confirmed the steeper
    // recall curve is affordable; recall vs the exact twin is
    // measured in SimilaritySpec (home ⊆ H1 ⊆ H2 ⊆ exact).
    // Candidates == code pairs with bit_count(xor) <= 2; md5-anchored,
    // so the whole probe topology replays exactly in the oracle.
    QuerySpec("neardup_multiprobe_embeddings", { (s, dir) =>
      Similarity.cosinePairsLshMultiProbe(Tables(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), threshold = 0.45,
        dim = 64, nBits = 8, nTables = 2, probeHamming = 2)
    }, oracle =
      // multi-probe replay: candidates are code pairs within Hamming 1
      // per table; hot-bucket exclusion keys on the LOWER id's home sig
      // (the index side of the asymmetric probe join)
      s"""WITH ${AnchoredSigCtes(nTables = 2, nBits = 8)},
         |ok AS (
         |  SELECT t, sig FROM sigs GROUP BY 1, 2 HAVING count(*) <= 100000),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a
         |  JOIN sigs b ON a.t = b.t AND a.vec_id < b.vec_id
         |    AND bit_count(xor(a.sig, b.sig)) <= 2
         |  JOIN ok ON ok.t = a.t AND ok.sig = a.sig),
         |${unitVecsCte("v")}
         |SELECT c.id_a, c.id_b,
         |  round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) AS cosine
         |FROM cand c
         |JOIN v a ON c.id_a = a.vec_id
         |JOIN v b ON c.id_b = b.vec_id
         |WHERE round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) >= 0.45""".stripMargin),
    // Exact-pairs VERIFICATION twin, explicitly bounded to a fixed-size
    // corpus slice so the O(n^2) join can never be the scale path —
    // exists to anchor the exact oracle that the LSH spec measures
    // against.
    QuerySpec("neardup_embeddings_exact", { (s, dir) =>
      Similarity.cosinePairs(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 2000),
        col("vec_id"), col("embedding"), threshold = 0.45)
    }, oracle =
      // both embedding oracles mirror the engine's arithmetic exactly:
      // L2-normalize each vector (per-element divide by the double norm),
      // then dot the normalized vectors — identical FP sequence both sides
      s"""WITH ${unitVecsCte("v", " WHERE vec_id < 2000")}
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) AS cosine
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) >= 0.45""".stripMargin),
    // SEMANTIC dedup (SemDeDup shape): anchored-LSH near-dup pairs ->
    // connected components -> keep the most CENTRAL member per cluster
    // (highest dot vs the rounded centroid of normalized members). All
    // arithmetic is the established deterministic chain, so the whole
    // composition has an exact oracle.
    QuerySpec("dedup_semantic_embeddings", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val pairs = Similarity.cosinePairsLshAnchored(emb,
        col("vec_id"), col("embedding"), threshold = 0.45,
        dim = 64, nBits = 6, nTables = 8)
      Dedup.semanticKeepCentral(emb, col("vec_id"), col("embedding"), pairs)
    }, oracle =
      // semantic dedup replay: the neardup pair CTEs, a recursive-CTE
      // transitive closure, then normalized-centroid scoring — centroid
      // lanes rounded to 6 BEFORE the member dot (both engines dot
      // identical inputs), score rounded to 6, survivor by
      // (score DESC, id ASC)
      s"""WITH RECURSIVE ${AnchoredSigCtes(nTables = 8, nBits = 6)},
         |ok AS (
         |  SELECT t, sig FROM sigs GROUP BY 1, 2 HAVING count(*) <= 100000),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a
         |  JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
         |  JOIN ok ON ok.t = a.t AND ok.sig = a.sig),
         |${unitVecsCte("nv")},
         |prs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c JOIN nv a ON c.id_a = a.vec_id
         |              JOIN nv b ON c.id_b = b.vec_id
         |  WHERE round(list_sum([a.e[i] * b.e[i]
         |    FOR i IN range(1, len(a.e) + 1)]), 6) >= 0.45),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |  WHERE e.v <> r.u),
         |lbl AS (SELECT u, least(u, min(v)) AS l FROM reach GROUP BY u),
         |asg AS (
         |  SELECT emb.vec_id AS id, coalesce(lbl.l, emb.vec_id) AS cluster_id
         |  FROM embeddings emb LEFT JOIN lbl ON emb.vec_id = lbl.u),
         |cent AS (
         |  SELECT cluster_id, u.i AS lane,
         |    round(CAST(CAST(sum(CAST(round(u.v, 9) AS DECIMAL(28,9)))
         |          * 1000000000 AS BIGINT) AS DOUBLE)
         |      / (count(*) * 1000000000.0), 6) AS cv
         |  FROM (SELECT a.cluster_id, unnest([{'i': i, 'v': n.e[i]}
         |          FOR i IN range(1, len(n.e) + 1)]) AS u
         |        FROM asg a JOIN nv n ON a.id = n.vec_id)
         |  GROUP BY cluster_id, u.i),
         |carr AS (SELECT cluster_id, list(cv ORDER BY lane) AS ce
         |  FROM cent GROUP BY cluster_id),
         |sc AS (
         |  SELECT a.cluster_id, a.id,
         |    round(list_sum([n.e[i] * c.ce[i]
         |      FOR i IN range(1, len(n.e) + 1)]), 6) AS score
         |  FROM asg a JOIN nv n ON a.id = n.vec_id
         |       JOIN carr c USING (cluster_id)),
         |sel AS (SELECT cluster_id, id, score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, id ASC) AS rk,
         |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |  FROM sc)
         |SELECT cluster_id, id AS keeper_id, score AS keeper_score,
         |  cluster_size
         |FROM sel WHERE rk = 1""".stripMargin),
    QuerySpec("similarity_topk_embeddings", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"))
    }, oracle =
      s"""WITH ${unitVecsCte("v")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q.e[i] * c.e[i]
         |      FOR i IN range(1, len(q.e) + 1)]), 6) AS score
         |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin),
    // LSH ANN, md5-anchored (see neardup_embeddings): the probe set and
    // ranked result are engine-independent -> exact oracle. Recall vs
    // brute force asserted in SimilaritySpec for both plane families.
    QuerySpec("similarity_ann_embeddings", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopKAnchored(
        emb.filter(col("vec_id") < 10), emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, nBits = 8, probeHamming = 2)
    }, oracle =
      s"""WITH ${AnchoredSigCtes(nTables = 1, nBits = 8)},
         |${unitVecsCte("v")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([a.e[i] * b.e[i]
         |      FOR i IN range(1, len(a.e) + 1)]), 6) AS score
         |  FROM sigs q
         |  JOIN sigs c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |    AND CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) <= 2
         |  JOIN v a ON a.vec_id = q.vec_id
         |  JOIN v b ON b.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin),
    // ANN accept/reject gate: the anchored-LSH index's lists scored
    // against brute-force truth — rank of the true top-1 (rr in ppm)
    // and top-5 overlap per query. Three query-sized equi-joins; the
    // corpus is scanned only by the two indexes being compared.
    QuerySpec("eval_mrr_retrieval", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ann = Similarity.lshTopKAnchored(q, emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, nBits = 8, probeHamming = 2)
      val truth = Similarity.bruteForceTopK(q, emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"))
      RetrievalEval.perQuery(ann, truth)
    }, oracle =
      // retrieval eval: both indexes replayed in full (anchored-LSH ann +
      // brute-force truth), then three query-sized joins; rr_ppm =
      // 1e6 // rank of the true top-1 inside the ann list (0 on a miss)
      s"""WITH ${AnchoredSigCtes(nTables = 1, nBits = 8)},
         |${unitVecsCte("v")},
         |annscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([a.e[i] * b.e[i]
         |      FOR i IN range(1, len(a.e) + 1)]), 6) AS score
         |  FROM sigs q
         |  JOIN sigs c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |    AND CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) <= 2
         |  JOIN v a ON a.vec_id = q.vec_id
         |  JOIN v b ON b.vec_id = c.vec_id),
         |ann AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |    FROM annscored)
         |  WHERE rank <= 5),
         |truscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q.e[i] * c.e[i]
         |      FOR i IN range(1, len(q.e) + 1)]), 6) AS score
         |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |truth AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM truscored)
         |  WHERE rank <= 5),
         |top1 AS (SELECT query_id, neighbor_id AS true_top1 FROM truth
         |         WHERE rank = 1),
         |ov AS (SELECT a.query_id, count(*) AS n_overlap
         |       FROM ann a JOIN truth t ON t.query_id = a.query_id
         |        AND t.neighbor_id = a.neighbor_id
         |       GROUP BY 1)
         |SELECT t.query_id, t.true_top1,
         |  COALESCE(CAST(f.rank AS BIGINT), CAST(-1 AS BIGINT))
         |    AS found_rank,
         |  COALESCE(CAST(1000000 AS BIGINT) // CAST(f.rank AS BIGINT),
         |           CAST(0 AS BIGINT)) AS rr_ppm,
         |  COALESCE(o.n_overlap, CAST(0 AS BIGINT)) AS n_overlap
         |FROM top1 t
         |LEFT JOIN ann f ON f.query_id = t.query_id
         |  AND f.neighbor_id = t.true_top1
         |LEFT JOIN ov o ON o.query_id = t.query_id""".stripMargin),
    // Grouped vector aggregation: element-wise per-label centroids of
    // the embedding column (exploded lane shape, exact oracle).
    QuerySpec("embedding_centroids_by_label", { (s, dir) =>
      graft.functions.VectorAgg.centroidLanes(
        Tables(s, dir, "embeddings"), col("label"), col("embedding"))
    }, oracle =
      """SELECT label AS group_id, u.i - 1 AS lane,
        |  count(*) AS n,
        |  round(avg(CAST(u.v AS DOUBLE)), 6) AS centroid_val
        |FROM (SELECT label, unnest([{'i': i, 'v': embedding[i]}
        |        FOR i IN range(1, len(embedding) + 1)]) AS u
        |      FROM embeddings)
        |GROUP BY label, u.i - 1""".stripMargin),
    // EMBEDDING-SPACE DRIFT per label between two corpus snapshots
    // (vec_id parity as the version split): centroid cosine + worst
    // single-lane shift, both from round-6 centroid lanes so the
    // cross-engine arithmetic runs on identical doubles — the
    // model-ops monitor for "did my embedding distribution move".
    QuerySpec("embedding_drift_labels", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      def side(p: Int) = graft.functions.VectorAgg.centroidArrays(
        emb.filter(col("vec_id") % 2 === p),
        col("label"), col("embedding"))
      val a = side(0).select(col("group_id").as("label"),
        col("centroid").as("ca"), col("n_vectors").as("n_a"))
      val b = side(1).select(col("group_id").as("label"),
        col("centroid").as("cb"), col("n_vectors").as("n_b"))
      a.join(b, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          round(round(Vectors.cosine(col("ca"), col("cb")), 6) * 1e6)
            .cast("long").as("centroid_cos_e6"),
          round(array_max(zip_with(col("ca"), col("cb"),
            (x, y) => abs(x - y))) * 1e6)
            .cast("long").as("max_lane_shift_e6"))
    }, oracle = {
      // drift replay: round-6 centroid lane lists per parity side, same
      // dot/(norm*norm) order, worst |lane delta|
      def sideCte(name: String, p: Int) =
        s"""$name AS (
           |  SELECT label, list(cv ORDER BY lane) AS c,
           |    max(n) AS nv
           |  FROM (
           |    SELECT label, u.i AS lane,
           |      round(avg(CAST(u.v AS DOUBLE)), 6) AS cv,
           |      count(*) AS n
           |    FROM (SELECT label, unnest([{'i': i, 'v': embedding[i]}
           |            FOR i IN range(1, len(embedding) + 1)]) AS u
           |          FROM embeddings WHERE vec_id % 2 = $p)
           |    GROUP BY 1, 2)
           |  GROUP BY 1)""".stripMargin
      s"""WITH ${sideCte("aa", 0)},
         |${sideCte("bb", 1)}
         |SELECT a.label, CAST(a.nv AS BIGINT) AS n_a,
         |  CAST(b.nv AS BIGINT) AS n_b,
         |  CAST(round(round(
         |    list_sum([a.c[i] * b.c[i]
         |      FOR i IN range(1, len(a.c) + 1)]) /
         |    (sqrt(list_sum([a.c[i] * a.c[i]
         |       FOR i IN range(1, len(a.c) + 1)])) *
         |     sqrt(list_sum([b.c[i] * b.c[i]
         |       FOR i IN range(1, len(b.c) + 1)]))), 6) * 1000000)
         |    AS BIGINT) AS centroid_cos_e6,
         |  CAST(round(list_max([abs(a.c[i] - b.c[i])
         |    FOR i IN range(1, len(a.c) + 1)]) * 1000000) AS BIGINT)
         |    AS max_lane_shift_e6
         |FROM aa a JOIN bb b USING (label)""".stripMargin
    }),
    // Per-lane int8 quantization (4x vector memory cut for ANN): floor
    // mapping with explicit double widening keeps codes bit-identical
    // cross-engine; exact integer sum + code digest per vector.
    QuerySpec("embedding_quantize_int8", { (s, dir) =>
      graft.functions.Quantize.int8(Tables(s, dir, "embeddings"),
        col("vec_id"), col("embedding"))
    }, oracle =
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest([{'i': i, 'v': embedding[i]}
        |            FOR i IN range(1, len(embedding) + 1)]) AS s
        |  FROM embeddings),
        |lanes AS (
        |  SELECT s.i AS i, min(s.v) AS mn, max(s.v) AS mx
        |  FROM ex GROUP BY 1),
        |q AS (
        |  SELECT vec_id, s.i AS i,
        |    CASE WHEN l.mx = l.mn THEN 0
        |         ELSE least(CAST(floor((s.v::DOUBLE - l.mn::DOUBLE) * 255.0
        |                / (l.mx::DOUBLE - l.mn::DOUBLE)) AS BIGINT), 255)
        |    END AS qv
        |  FROM ex JOIN lanes l ON s.i = l.i)
        |SELECT vec_id, CAST(sum(qv) AS BIGINT) AS q_sum,
        |  md5(string_agg(qv::VARCHAR, ',' ORDER BY i)) AS q_digest
        |FROM q GROUP BY vec_id""".stripMargin),
    // IVF ANN with a FITTED k-means quantizer (Similarity.ivfTopK) stays
    // library API + SimilaritySpec (score parity vs brute force, recall
    // floor): a fitted quantizer is inherently not SQL-replicable, so it
    // is not a declared query — its anchored twin below carries the
    // driver-checked exact oracle for the same cell-probe topology.
    // IVF with the deterministic seed-vector quantizer: the same
    // cell-probe topology with every step SQL-reproducible — the IVF
    // family's exact-oracle instance (the k-means twin above keeps the
    // quality crown and its score-parity spec).
    QuerySpec("similarity_ivf_anchored", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopKAnchored(
        emb.filter(col("vec_id") < 10), emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 16, nProbe = 4)
    }, oracle = ivfAnchoredOracleSql),
    // IVF index PERSISTENCE: build the anchored index once, write it
    // partitioned BY CELL, re-open, query — the amortization path that
    // makes IVF beat brute force (the per-batch cost is the probed
    // cells' FILES, never the corpus). Same oracle as ivf_anchored:
    // the round-trip through parquet must change nothing.
    QuerySpec("similarity_ivf_persisted", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val tmp = scratchDir("ivf-index")
      Similarity.writeIvfIndex(
        Similarity.ivfIndexAnchored(emb, col("vec_id"), col("embedding"),
          nCells = 16, nProbe = 4), tmp)
      val idx = Similarity.readIvfIndex(s, tmp, nProbe = 4)
      Similarity.ivfQuery(idx, emb.filter(col("vec_id") < 10), k = 5,
        col("vec_id"), col("embedding"))
    }, oracle =
      // persisted-index replay == the anchored-index replay: the parquet
      // round trip of (cell, neighbor_id, normalized cv) is lossless
      ivfAnchoredOracleSql),
    // INCREMENTAL IVF maintenance: the daily delta assigns against the
    // BASE-fitted centroids — base never rescanned, quantizer never
    // refit (a refit re-homes every base vector and invalidates the
    // persisted cell partitions). Per cell: base/delta counts + an
    // order-free delta membership digest, all engine-exact.
    QuerySpec("similarity_ivf_incremental", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") < 4000)
      val delta = emb.filter(col("vec_id") >= 4000)
      val idx = Similarity.ivfIndexAnchored(base, col("vec_id"),
        col("embedding"), nCells = 16, nProbe = 4)
      val b = idx.assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_base"))
      val d = Similarity.ivfAssignDelta(idx, delta, col("vec_id"),
          col("embedding"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_delta"),
          sum(graft.functions.Kmv.u32(col("neighbor_id")))
            .as("delta_member_sum"))
      b.join(d, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          coalesce(col("delta_member_sum"), lit(0L))
            .as("delta_member_sum"))
    }, oracle =
      // incremental replay: centroids from the BASE slice only; both
      // sides assigned by the same raw-dot argmax, ties to lower cell
      s"""WITH ${unitVecsCte("v")},
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
         |  FROM (SELECT vec_id, e FROM v WHERE vec_id < 4000
         |        ORDER BY vec_id LIMIT 16)),
         |cellrank AS (
         |  SELECT q.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_sum([CAST(q.embedding[i] AS DOUBLE) * c.e[i]
         |        FOR i IN range(1, len(c.e) + 1)]) DESC, c.cell) AS rnk
         |  FROM embeddings q CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cell FROM cellrank WHERE rnk = 1),
         |b AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_base
         |  FROM assigned WHERE vec_id < 4000 GROUP BY 1),
         |d AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_delta,
         |    CAST(sum(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS BIGINT) AS delta_member_sum
         |  FROM assigned WHERE vec_id >= 4000 GROUP BY 1)
         |SELECT coalesce(b.cell, d.cell) AS cell,
         |  coalesce(n_base, 0) AS n_base,
         |  coalesce(n_delta, 0) AS n_delta,
         |  coalesce(delta_member_sum, 0) AS delta_member_sum
         |FROM b FULL OUTER JOIN d ON b.cell = d.cell""".stripMargin),
    // IVF with a FITTED-and-still-exact quantizer: 2 Lloyd rounds over
    // integer-quantized lanes of the first-128 train slice (floor-mean
    // centroids, BIGINT distances, ties to the lower cell) — k-means
    // cell quality with every step SQL-replayable; the oracle unrolls
    // the same 2 rounds in integer CTEs. One corpus shuffle on cell.
    QuerySpec("similarity_ivf_lloyd", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopKLloyd(
        emb.filter(col("vec_id") < 10), emb, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 8, nProbe = 3, trainN = 128, iters = 2)
    }, oracle =
      // fitted-quantizer replay: quantize lanes to BIGINT (floor * 2^20),
      // unroll the 2 Lloyd rounds over the first-128 train slice in
      // integer CTEs (argmin ties to the lower cell; floor-mean lanes),
      // then the ivf_anchored topology: corpus to rank-1 cell, queries
      // probe rank<=3, exact-cosine scoring ranked (score desc, id)
      s"""WITH qz AS (SELECT vec_id,
         |  [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
         |    FOR x IN embedding] AS q
         |  FROM embeddings),
         |train AS (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 128),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, q AS c
         |  FROM (SELECT vec_id, q FROM train ORDER BY vec_id LIMIT 8)),
         |${lloydRoundSql("c0", "c1")},
         |${lloydRoundSql("c1", "c2")},
         |cellrank AS (
         |  SELECT z.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY z.vec_id
         |      ORDER BY list_sum([(z.q[i] - c.c[i]) * (z.q[i] - c.c[i])
         |        FOR i IN range(1, 65)]), c.cell) AS rnk
         |  FROM qz z CROSS JOIN c2 c),
         |assigned AS (SELECT vec_id, cell FROM cellrank WHERE rnk = 1),
         |probes AS (SELECT vec_id, cell FROM cellrank
         |           WHERE rnk <= 3 AND vec_id < 10),
         |${unitVecsCte("v")},
         |scored AS (
         |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round(list_sum([qe.e[i] * ce.e[i]
         |      FOR i IN range(1, len(qe.e) + 1)]), 6) AS score
         |  FROM probes p
         |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
         |  JOIN v qe ON qe.vec_id = p.vec_id
         |  JOIN v ce ON ce.vec_id = a.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin),
    // Contrastive TRIPLET mining (anchor, nearest-neighbor positive,
    // md5-sampled negatives) — the training-data assembly step for
    // embedding models; negatives are deterministic so the triplet
    // set replays exactly. Anchors broadcast; bounded TopK both legs.
    QuerySpec("train_triplets_embeddings", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.contrastiveTriplets(
        emb.filter(col("vec_id") < 16), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nNegatives = 3)
    }, oracle =
      // triplet replay: brute top-1 positive per anchor; negatives by
      // u32(md5('anchor:cand')) ascending with anchor/positive excluded,
      // re-ranked dense 1..3
      s"""WITH ${unitVecsCte("v")},
         |pos AS (
         |  SELECT anchor_id, neighbor_id AS positive_id, score
         |    AS pos_score
         |  FROM (
         |    SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         |      round(list_sum([q.e[i] * c.e[i]
         |        FOR i IN range(1, len(q.e) + 1)]), 6) AS score,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_sum([q.e[i] * c.e[i]
         |          FOR i IN range(1, len(q.e) + 1)]), 6) DESC, c.vec_id)
         |        AS rk
         |    FROM v q JOIN v c
         |      ON q.vec_id < 16 AND q.vec_id <> c.vec_id)
         |  WHERE rk = 1),
         |neg AS (
         |  SELECT p.anchor_id, p.positive_id, p.pos_score,
         |    e.vec_id AS negative_id,
         |    row_number() OVER (PARTITION BY p.anchor_id
         |      ORDER BY ('0x' || substr(md5(
         |        CAST(p.anchor_id AS VARCHAR) || ':' ||
         |        CAST(e.vec_id AS VARCHAR)), 1, 8))::BIGINT, e.vec_id)
         |      AS neg_rank
         |  FROM pos p CROSS JOIN embeddings e
         |  WHERE e.vec_id <> p.anchor_id AND e.vec_id <> p.positive_id)
         |SELECT anchor_id, positive_id, pos_score,
         |  CAST(neg_rank AS INT) AS neg_rank, negative_id
         |FROM neg WHERE neg_rank <= 3""".stripMargin),
    // Greedy k-CENTER coreset (farthest-point traversal): 8 maximally
    // diverse embeddings; each pick's max-cosine at selection time is
    // the shrinking cover radius. k static corpus passes against the
    // broadcast selected set.
    QuerySpec("select_kcenter_embeddings", { (s, dir) =>
      Similarity.selectKCenter(Tables(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = 8)
    }, oracle = {
      // k-center replay: seed = lowest id, then 7 unrolled
      // farthest-point steps (argmin of max round-6-e6 cosine to the
      // selected prefix, ties to the lower id)
      val dot = "round(list_sum([c.e[i] * s.e[i] " +
        "FOR i IN range(1, len(c.e) + 1)]), 6)"
      val steps = (2 to 8).map { t =>
        s"""p$t AS (
           |  SELECT $t AS pick_rank, id, ms AS max_sim_e6 FROM (
           |    SELECT c.vec_id AS id,
           |      max(CAST(round($dot * 1000000) AS BIGINT)) AS ms
           |    FROM v c JOIN v s
           |      ON s.vec_id IN (SELECT id FROM s${t - 1})
           |     AND c.vec_id NOT IN (SELECT id FROM s${t - 1})
           |    GROUP BY c.vec_id)
           |  ORDER BY ms, id LIMIT 1),
           |s$t AS (SELECT id FROM s${t - 1} UNION ALL
           |        SELECT id FROM p$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${unitVecsCte("v")},
         |p1 AS (SELECT 1 AS pick_rank, vec_id AS id,
         |         CAST(-1000000 AS BIGINT) AS max_sim_e6
         |       FROM v ORDER BY vec_id LIMIT 1),
         |s1 AS (SELECT id FROM p1),
         |$steps
         |${(1 to 8).map(t => s"SELECT * FROM p$t")
             .mkString("\nUNION ALL\n")}""".stripMargin
    }),
    // MATRYOSHKA truncation curve: top-5 recall of prefix-sliced
    // embeddings (8/16/32/64 lanes) vs the full vectors — how short
    // the serving index can go. One bounded TopK per dim, integer ppm.
    QuerySpec("similarity_matryoshka_recall", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.matryoshkaRecall(
        emb.filter(col("vec_id") < 16), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dims = Seq(8, 16, 32, 64), k = 5)
    }, oracle = {
      // matryoshka replay: one sliced-normalized CTE + top-5 per dim,
      // hits joined against the full-dim top-5
      val dims = Seq(8, 16, 32, 64)
      val ctes = dims.map { d =>
        s"""v$d AS (SELECT vec_id,
           |  [CAST(embedding[i] AS DOUBLE) /
           |    sqrt(list_sum([CAST(embedding[j] AS DOUBLE) * embedding[j]
           |      FOR j IN range(1, ${d + 1})]))
           |   FOR i IN range(1, ${d + 1})] AS e
           |  FROM embeddings),
           |t$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY round(list_sum([q.e[i] * c.e[i]
           |          FOR i IN range(1, len(q.e) + 1)]), 6) DESC,
           |          c.vec_id) AS rk
           |    FROM v$d q JOIN v$d c
           |      ON q.vec_id < 16 AND q.vec_id <> c.vec_id)
           |  WHERE rk <= 5)""".stripMargin
      }.mkString(",\n")
      val rows = dims.map { d =>
        s"""(SELECT $d AS dim, CAST(count(*) AS BIGINT) AS n_hits,
           |  CAST(count(*) * 1000000 // 80 AS BIGINT) AS recall_ppm
           |FROM t$d a JOIN t64 b USING (query_id, neighbor_id))"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$rows"
    }),
    // MMR diversified re-rank (the RAG answer to near-duplicate
    // passages crowding a context window): greedy argmax of
    // relevance − max-sim-to-selected over a bounded top-20 candidate
    // set, 5 static plan steps, integer-e6 arithmetic throughout.
    QuerySpec("rag_mmr_rerank", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrRerank(emb.filter(col("vec_id") < 8), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCandidates = 20, k = 5)
    }, oracle = {
      // MMR replay: bounded top-20 candidates, candidate-pair sims, and
      // the 5 greedy steps unrolled as CTEs (argmax of rel − max sim to
      // the selected prefix, ties to the lower id)
      val dot = (l: String, r: String) =>
        s"round(list_sum([$l.e[i] * $r.e[i] " +
          s"FOR i IN range(1, len($l.e) + 1)]), 6)"
      val steps = mmrStepsSql(5)
      s"""WITH ${unitVecsCte("v")},
         |cand AS (
         |  SELECT query_id, neighbor_id, rel_e6 FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      CAST(round(${dot("q", "c")} * 1000000) AS BIGINT)
         |        AS rel_e6,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dot("q", "c")} DESC, c.vec_id) AS rk
         |    FROM v q JOIN v c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |  WHERE rk <= 20),
         |ps AS (
         |  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         |    CAST(round(${dot("vx", "vy")} * 1000000) AS BIGINT)
         |      AS sim_e6
         |  FROM cand x JOIN v vx ON vx.vec_id = x.neighbor_id
         |  JOIN cand y ON x.query_id = y.query_id
         |    AND x.neighbor_id <> y.neighbor_id
         |  JOIN v vy ON vy.vec_id = y.neighbor_id),
         |s1 AS (SELECT query_id, 1 AS mmr_rank, neighbor_id, rel_e6
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY rel_e6 DESC, neighbor_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |p1 AS (SELECT * FROM s1),
         |$steps
         |SELECT query_id, mmr_rank, neighbor_id, rel_e6 FROM p5"""
        .stripMargin
    }),
    // Margin-based BITEXT MINING (the parallel-corpus assembly step):
    // even vec_ids play the source language, odd the target; a pair is
    // mined only when its cosine beats BOTH sides' avg top-4
    // neighborhoods (ratio margin > 1) — integer-ppm margins, best
    // target per source. Bounded TopK both directions; the backward
    // pass scores only the forward candidates.
    QuerySpec("mine_bitext_margin", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.mineBitextMargin(
        emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 64),
        emb.filter(col("vec_id") % 2 === 1),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 4)
    }, oracle =
      // margin replay: forward top-4 per even-id anchor into the odd
      // side, backward top-4 for forward candidates only, e6-integer
      // scores, margin_ppm = 8·s·10^6 // (Σx + Σy), best-by-margin > 1e6
      s"""WITH ${unitVecsCte("v")},
         |src AS (SELECT vec_id, e FROM v
         |        WHERE vec_id % 2 = 0 AND vec_id < 64),
         |tgt AS (SELECT vec_id, e FROM v WHERE vec_id % 2 = 1),
         |fwd AS (
         |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         |    CAST(round(round(list_sum([s.e[i] * t.e[i]
         |      FOR i IN range(1, len(s.e) + 1)]), 6) * 1000000)
         |      AS BIGINT) AS s_e6,
         |    row_number() OVER (PARTITION BY s.vec_id
         |      ORDER BY round(list_sum([s.e[i] * t.e[i]
         |        FOR i IN range(1, len(s.e) + 1)]), 6) DESC, t.vec_id)
         |      AS rk
         |  FROM src s CROSS JOIN tgt t),
         |f4 AS (SELECT src_id, tgt_id, s_e6 FROM fwd WHERE rk <= 4),
         |sx AS (SELECT src_id, CAST(sum(s_e6) AS BIGINT) AS sum_x
         |       FROM f4 GROUP BY 1),
         |bwd AS (
         |  SELECT t.vec_id AS tgt_id, s.vec_id,
         |    CAST(round(round(list_sum([t.e[i] * s.e[i]
         |      FOR i IN range(1, len(t.e) + 1)]), 6) * 1000000)
         |      AS BIGINT) AS b_e6,
         |    row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY round(list_sum([t.e[i] * s.e[i]
         |        FOR i IN range(1, len(t.e) + 1)]), 6) DESC, s.vec_id)
         |      AS rk
         |  FROM (SELECT DISTINCT g.tgt_id AS vec_id, t0.e
         |        FROM f4 g JOIN tgt t0 ON t0.vec_id = g.tgt_id) t
         |  CROSS JOIN src s),
         |sy AS (SELECT tgt_id, CAST(sum(b_e6) AS BIGINT) AS sum_y
         |       FROM bwd WHERE rk <= 4 GROUP BY 1),
         |scored AS (
         |  SELECT f.src_id, f.tgt_id, f.s_e6,
         |    CAST(8 * f.s_e6 * 1000000 // (sx.sum_x + sy.sum_y)
         |      AS BIGINT) AS margin_ppm
         |  FROM f4 f JOIN sx ON f.src_id = sx.src_id
         |            JOIN sy ON f.tgt_id = sy.tgt_id)
         |SELECT src_id, tgt_id, s_e6, margin_ppm FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src_id
         |    ORDER BY margin_ppm DESC, tgt_id) AS rk FROM scored)
         |WHERE rk = 1 AND margin_ppm > 1000000""".stripMargin),
    // HARD-negative triplets: negatives are the closest corpus rows
    // after the positive (cosine-ranked, DPR-style) instead of
    // md5-sampled — one bruteForceTopK pass serves both legs, and
    // neg_score is emitted for semi-hard band filtering downstream.
    QuerySpec("train_hard_negatives", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegativeTriplets(
        emb.filter(col("vec_id") < 16), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nNegatives = 3)
    }, oracle =
      // hard-negative replay: one cosine ranking per anchor; rank 1 is
      // the positive, ranks 2..4 the negatives (dense neg_rank = rk-1)
      s"""WITH ${unitVecsCte("v")},
         |scored AS (
         |  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q.e[i] * c.e[i]
         |      FOR i IN range(1, len(q.e) + 1)]), 6) AS score,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(list_sum([q.e[i] * c.e[i]
         |        FOR i IN range(1, len(q.e) + 1)]), 6) DESC, c.vec_id)
         |      AS rk
         |  FROM v q JOIN v c ON q.vec_id < 16 AND q.vec_id <> c.vec_id)
         |SELECT s.anchor_id, p.neighbor_id AS positive_id,
         |  p.score AS pos_score, CAST(s.rk - 1 AS INT) AS neg_rank,
         |  s.neighbor_id AS negative_id, s.score AS neg_score
         |FROM scored s JOIN scored p
         |  ON s.anchor_id = p.anchor_id AND p.rk = 1
         |WHERE s.rk BETWEEN 2 AND 4""".stripMargin),
    // Product quantization codes (32x embedding compression): 8
    // subspaces x 16 anchored centroids, long-format (vec_id, subspace,
    // code, round-6 quantization error). One codegen'd scan — the
    // index-build half of IVF-PQ.
    QuerySpec("embedding_pq_codes", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
        m = 8, k = 16)
      Pq.encode(emb, col("vec_id"), col("embedding"), books)
        // _outer generate: InferFiltersFromGenerate would otherwise
        // push a size()>0 scan filter with the whole distance battery
        // inlined (the PlanAuditSpec duplication hazard)
        .select(col("vec_id"),
          posexplode_outer(arrays_zip(col("codes"), col("qerrs"))))
        .select(col("vec_id"), col("pos").cast("int").as("subspace"),
          col("col.codes").as("code"), col("col.qerrs").as("qerr"))
    }, oracle =
      // PQ code assignment replay: argmin over the 16 anchored centroids
      // per (vector, subspace), distance ties to the lower centroid index
      // — identical doubles (same parquet floats, same left-to-right lane
      // fold), so the unrounded ORDER BY d matches Spark's struct sort.
      s"""$pqDistsSql
         |SELECT vec_id, CAST(j AS INT) AS subspace, CAST(ci AS INT) AS code,
         |  round(d, 6) AS qerr
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |        ORDER BY d, ci) AS rnk FROM dists)
         |WHERE rnk = 1""".stripMargin),
    // Top principal direction by INTEGER power iteration (PCA family):
    // quantized centered lanes, 3 matvec steps — each ONE scan whose
    // per-row dot feeds a posexplode and map-combines onto 64 keys (a
    // ~KB shuffle at any corpus size) — with the driver-side integer
    // renormalization inlined as literals, so the trained direction
    // replays bit-for-bit in SQL (the similarity_ivf_lloyd recipe
    // applied to a matvec). Output: the 64-lane direction.
    QuerySpec("embedding_top_component", { (s, dir) =>
      graft.functions.Pca.topComponentTable(Tables(s, dir, "embeddings"),
        col("embedding"), dim = 64)
    }, oracle =
      // power-iteration replay: 3 unrolled integer matvec steps from the
      // all-ones seed; truncating renormalization each step
      s"""$pcaTrainSql
         |SELECT CAST(l.j - 1 AS INT) AS lane, v.varr[l.j] AS v
         |FROM lanes l CROSS JOIN v3 v""".stripMargin),
    // SECOND principal direction by integer deflation: the component-1
    // projection is subtracted per lane with a truncating division by
    // |v1|^2 (the shrink step that keeps the quantization budget), and
    // the deflated power steps accumulate as DECIMAL(38,0) — every
    // integer replays in the oracle's unrolled CTEs. Completes the
    // rank-2 PCA family (drift PLANE, 2-D corpus maps).
    QuerySpec("embedding_second_component", { (s, dir) =>
      graft.functions.Pca.secondComponentTable(
        Tables(s, dir, "embeddings"), col("embedding"), dim = 64)
    }, oracle =
      // deflation replay: component-1 dots, per-lane truncating shrink by
      // |v1|^2, then 3 unrolled power steps over the DEFLATED lanes
      s"""$pcaSecondSql
         |SELECT CAST(l.j - 1 AS INT) AS lane, u.varr[l.j] AS v
         |FROM lanes l CROSS JOIN u3 u""".stripMargin),
    // THIRD principal direction: the truncating deflation applied
    // twice (each shrink is a per-lane integer division by the prior
    // |v|^2), power iteration over the doubly-deflated lanes — the
    // k-component deflation loop demonstrated at depth 2, every
    // integer oracle-replayable; accumulated truncation drift vs an
    // exactly-orthogonalized double reference is bounded in PcaSpec.
    QuerySpec("embedding_third_component", { (s, dir) =>
      graft.functions.Pca.thirdComponentTable(
        Tables(s, dir, "embeddings"), col("embedding"), dim = 64)
    }, oracle =
      // third-component replay: the same deflation applied to the
      // DEFLATED lanes (shrink by |v2|^2), 3 more unrolled power steps
      s"""$pcaSecondSql,
         |vq2 AS MATERIALIZED (
         |  SELECT list_sum([x * x FOR x IN varr]) AS vsq FROM u3),
         |d2 AS MATERIALIZED (
         |  SELECT d.vec_id,
         |    list_sum([d.c[j] * u.varr[j] FOR j IN range(1, 65)]) AS d
         |  FROM dl d CROSS JOIN u3 u),
         |dl2 AS MATERIALIZED (
         |  SELECT d.vec_id,
         |    [d.c[j] - (u.varr[j] * d2.d) // vq2.vsq
         |     FOR j IN range(1, 65)] AS c
         |  FROM dl d JOIN d2 USING (vec_id)
         |  CROSS JOIN u3 u CROSS JOIN vq2),
         |t0 AS MATERIALIZED (SELECT [CAST(256 AS BIGINT)
         |               FOR i IN range(1, 65)] AS varr),
         |${pcaDeflStepSql(1, "t0", "dl2", "t")},
         |${pcaDeflStepSql(2, "t1", "dl2", "t")},
         |${pcaDeflStepSql(3, "t2", "dl2", "t")}
         |SELECT CAST(l.j - 1 AS INT) AS lane, t.varr[l.j] AS v
         |FROM lanes l CROSS JOIN t3 t""".stripMargin),
    // The APPLY step: every vector's exact integer projection onto the
    // trained direction — the rank-1 compression / drift coordinate.
    // Any error anywhere in the 3 training steps moves projections, so
    // this 4000-row oracle pins the whole pipeline, not just the
    // 64-lane summary.
    QuerySpec("embedding_pca_projection", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      import graft.functions.Pca
      val mean = Pca.laneMeans(emb, col("embedding"), dim = 64)
      val v = Pca.topComponentInt(emb, col("embedding"), dim = 64)
      Pca.projectInt(emb, col("vec_id"), col("embedding"), mean, v)
    }, oracle =
      // projection replay: the trained v3 applied to every row's
      // centered quantized lanes — 4000 integer dots
      s"""$pcaTrainSql
         |SELECT q.vec_id,
         |  CAST(list_sum([(q.q[j] - m.marr[j]) * v.varr[j]
         |    FOR j IN range(1, 65)]) AS BIGINT) AS proj
         |FROM qv q CROSS JOIN mv m CROSS JOIN v3 v""".stripMargin),
    // How much of the corpus' variance the trained direction carries —
    // the integer Rayleigh share in ppm (decides whether rank-1
    // compression / a single drift coordinate is enough). DECIMAL(38)
    // sums for the two corpus scalars; one BigInt division on the
    // driver.
    QuerySpec("embedding_pca_variance", { (s, dir) =>
      graft.functions.Pca.varianceExplainedPpm(
        Tables(s, dir, "embeddings"), col("embedding"), dim = 64)
    }, oracle =
      // variance-share replay: dots vs the final v3, HUGEINT square
      // sums, one truncating division
      s"""$pcaTrainSql,
         |d4 AS (
         |  SELECT q.vec_id,
         |    list_sum([(q.q[j] - m.marr[j]) * v.varr[j]
         |      FOR j IN range(1, 65)]) AS d
         |  FROM qv q CROSS JOIN mv m CROSS JOIN v3 v),
         |s4 AS (
         |  SELECT count(*) AS n, sum(d * d) AS num FROM d4),
         |c4 AS (
         |  SELECT sum(list_sum([(q.q[j] - m.marr[j])
         |    * (q.q[j] - m.marr[j]) FOR j IN range(1, 65)])) AS den
         |  FROM qv q CROSS JOIN mv m),
         |vq AS MATERIALIZED (SELECT list_sum([x * x FOR x IN varr]) AS vsq FROM v3)
         |SELECT CAST(s4.n AS BIGINT) AS n_rows,
         |  CAST(s4.num * 1000000 // (c4.den * vq.vsq) AS BIGINT)
         |    AS ve_ppm
         |FROM s4 CROSS JOIN c4 CROSS JOIN vq""".stripMargin),
    // ADC scoring over the PQ codes: queries stay exact, corpus
    // candidates cost m table lookups each over the 8-byte code rows —
    // the scan half of IVF-PQ. Ascending distance, bounded TopK.
    QuerySpec("similarity_pq_adc", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
        m = 8, k = 16)
      val codes = Pq.encode(emb, col("vec_id"), col("embedding"), books)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      Pq.adcTopK(emb.filter(col("vec_id") < 10), codes, books, k = 5,
        col("vec_id"), col("embedding"))
    }, oracle =
      // ADC replay: each neighbor's per-subspace code selects the QUERY's
      // distance to that centroid; the 8 lookups sum in subspace order
      // (list(d ORDER BY j) pins the fold order DuckDB's plain sum()
      // would not), round-6, rank ascending with neighbor-id ties.
      s"""$pqDistsSql,
         |codes AS (
         |  SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dists)
         |  WHERE rnk = 1),
         |pairs AS (
         |  SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id, n.j, d.d
         |  FROM codes n
         |  JOIN dists d ON d.j = n.j AND d.ci = n.code
         |  WHERE d.vec_id < 10 AND n.vec_id <> d.vec_id),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_sum(list(d ORDER BY j)), 6) AS adc_dist
         |  FROM pairs GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_dist ASC, neighbor_id) AS rank FROM adc)
         |WHERE rank <= 5""".stripMargin),
    // Two-stage COMPRESSED-INDEX SELECTION: the PQ/ADC index recalls a
    // top-20 candidate set per query from 8-byte code rows (the only
    // thing the recall stage ever scans), then exact relevance is
    // recomputed ONLY for those <=20 survivors and MMR diversifies the
    // final 5 — the 100 TB geometry where exact vectors are touched
    // O(queries x 20) times, never O(corpus). Composes the declared
    // ADC and MMR families end to end; scores stay integer-e6 exact.
    QuerySpec("similarity_pq_mmr", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
        m = 8, k = 16)
      val codes = Pq.encode(emb, col("vec_id"), col("embedding"), books)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      val cand = Pq.adcTopK(emb.filter(col("vec_id") < 8), codes, books,
        k = 20, col("vec_id"), col("embedding"))
        .select(col("query_id"), col("neighbor_id"))
      val qn = Similarity.normalizedVectors(
        emb.filter(col("vec_id") < 8), col("vec_id"), col("embedding"))
        .select(col("id").as("query_id"), col("vec").as("qv"))
      val cn = Similarity.normalizedVectors(emb, col("vec_id"),
        col("embedding"))
        .select(col("id").as("neighbor_id"), col("vec").as("cv"))
      // exact rerank relevance, candidate-bounded (broadcast side)
      val rel = broadcast(cand.join(qn, "query_id"))
        .join(cn, "neighbor_id")
        .withColumn("rel_e6",
          round(round(graft.functions.Vectors.dot(col("qv"), col("cv")),
            6) * 1e6).cast("long"))
        .select(col("query_id"), col("neighbor_id"), col("rel_e6"))
      Similarity.mmrFromCandidates(rel, emb, col("vec_id"),
        col("embedding"), k = 5)
    }, oracle =
      // two-stage replay: the ADC chain recalls top-20 per query (<8),
      // exact e6 relevance is recomputed only for those candidates, and
      // the shared MMR greedy steps pick the diversified 5
      s"""$pqDistsSql,
         |codes AS (
         |  SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dists)
         |  WHERE rnk = 1),
         |prs AS (
         |  SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id, n.j, d.d
         |  FROM codes n
         |  JOIN dists d ON d.j = n.j AND d.ci = n.code
         |  WHERE d.vec_id < 8 AND n.vec_id <> d.vec_id),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_sum(list(d ORDER BY j)), 6) AS adc_dist
         |  FROM prs GROUP BY 1, 2),
         |c20 AS (
         |  SELECT query_id, neighbor_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc_dist ASC, neighbor_id) AS rk FROM adc)
         |  WHERE rk <= 20),
         |${unitVecsCte("v")},
         |cand AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    CAST(round(round(list_sum([q.e[i] * n.e[i]
         |      FOR i IN range(1, len(q.e) + 1)]), 6) * 1000000)
         |      AS BIGINT) AS rel_e6
         |  FROM c20 c
         |  JOIN v q ON q.vec_id = c.query_id
         |  JOIN v n ON n.vec_id = c.neighbor_id),
         |ps AS (
         |  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         |    CAST(round(round(list_sum([vx.e[i] * vy.e[i]
         |      FOR i IN range(1, len(vx.e) + 1)]), 6) * 1000000)
         |      AS BIGINT) AS sim_e6
         |  FROM cand x JOIN v vx ON vx.vec_id = x.neighbor_id
         |  JOIN cand y ON x.query_id = y.query_id
         |    AND x.neighbor_id <> y.neighbor_id
         |  JOIN v vy ON vy.vec_id = y.neighbor_id),
         |s1 AS (SELECT query_id, 1 AS mmr_rank, neighbor_id, rel_e6
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY rel_e6 DESC, neighbor_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |p1 AS (SELECT * FROM s1),
         |${mmrStepsSql(5)}
         |SELECT query_id, mmr_rank, neighbor_id, rel_e6 FROM p5"""
        .stripMargin),
    // The full IVF-PQ index (coarse-cell candidate pruning x PQ code
    // compression): each query ranks only the ~nProbe/nCells of the
    // corpus in its probed cells, at 8 code bytes per candidate — the
    // ANN shape that fits 100 TB. One corpus scan emits (cell, codes)
    // with both quantizer batteries fused; bounded TopK per query.
    QuerySpec("similarity_ivfpq_adc", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val books = Pq.fitAnchored(emb, col("vec_id"), col("embedding"),
        m = 8, k = 16)
      Pq.ivfAdcTopK(emb.filter(col("vec_id") < 10), emb, books, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 16, nProbe = 4)
    }, oracle =
      // IVF-PQ replay = the IVF oracle's cell topology (normalized
      // first-16 centroids; cell rank by RAW-vector dot, ties to the
      // lower cell; corpus to rank-1 cell, queries probe rank<=4) joined
      // with the PQ oracle's code/ADC CTEs — candidates restricted to
      // probed cells, ranked by the subspace-ordered lookup sum.
      s"""$pqDistsSql,
         |${unitVecsCte("v")},
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
         |cellrank AS (
         |  SELECT q.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_sum([CAST(q.embedding[i] AS DOUBLE) * c.e[i]
         |        FOR i IN range(1, len(c.e) + 1)]) DESC, c.cell) AS rnk
         |  FROM embeddings q CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cell FROM cellrank WHERE rnk = 1),
         |probes AS (SELECT vec_id, cell FROM cellrank
         |           WHERE rnk <= 4 AND vec_id < 10),
         |codes AS (
         |  SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dists)
         |  WHERE rnk = 1),
         |pairs AS (
         |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, n.j, d.d
         |  FROM probes p
         |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
         |  JOIN codes n ON n.vec_id = a.vec_id
         |  JOIN dists d ON d.vec_id = p.vec_id AND d.j = n.j
         |    AND d.ci = n.code),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_sum(list(d ORDER BY j)), 6) AS adc_dist
         |  FROM pairs GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_dist ASC, neighbor_id) AS rank FROM adc)
         |WHERE rank <= 5""".stripMargin),
    // IVF-PQ with a LLOYD-REFINED codebook: 2 integer k-means rounds
    // per subspace over the first-256 train slice (quantized lanes,
    // BIGINT distances, floor-mean updates, ties to the lower
    // centroid — the similarity_ivf_lloyd recipe applied to PQ
    // training) tighten the codebook the anchored variant merely
    // seeds; distortion descends per round (spec-pinned). Every step
    // replays in SQL — the oracle unrolls both rounds — so even the
    // trained index stays hash-exact. Same one-scan/one-shuffle plan
    // as similarity_ivfpq_adc; ADC distances are exact integers.
    QuerySpec("similarity_ivfpq_lloyd", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val books = Pq.fitLloydQuantized(emb, col("vec_id"),
        col("embedding"), m = 8, k = 16, trainN = 256, iters = 2)
      Pq.ivfAdcTopKInt(emb.filter(col("vec_id") < 10), emb, books, k = 5,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        nCells = 16, nProbe = 4)
    }, oracle =
      // Lloyd-refined replay: quantized train slice, two unrolled
      // per-subspace k-means rounds (c0 -> c1 -> c2), then the same
      // IVF cells / codes / ADC chain over the REFINED integer codebook
      s"""WITH qv AS (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
         |     FOR x IN embedding] AS q
         |  FROM embeddings),
         |train AS (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 256),
         |c0 AS (
         |  SELECT s.j, t.ci, [t.q[s.j*8 + i] FOR i IN range(1, 9)] AS c
         |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, q
         |        FROM train ORDER BY vec_id LIMIT 16) t
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) s),
         |${pqLloydRoundSql("c0", "c1")},
         |${pqLloydRoundSql("c1", "c2")},
         |dists AS (
         |  SELECT e.vec_id, c.j, c.ci,
         |    list_sum([(e.q[c.j*8 + i] - c.c[i])
         |      * (e.q[c.j*8 + i] - c.c[i]) FOR i IN range(1, 9)]) AS d
         |  FROM qv e CROSS JOIN c2 c),
         |${unitVecsCte("v")},
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
         |cellrank AS (
         |  SELECT q.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_sum([CAST(q.embedding[i] AS DOUBLE) * c.e[i]
         |        FOR i IN range(1, len(c.e) + 1)]) DESC, c.cell) AS rnk
         |  FROM embeddings q CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cell FROM cellrank WHERE rnk = 1),
         |probes AS (SELECT vec_id, cell FROM cellrank
         |           WHERE rnk <= 4 AND vec_id < 10),
         |codes AS (
         |  SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dists)
         |  WHERE rnk = 1),
         |pairs AS (
         |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, n.j, d.d
         |  FROM probes p
         |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
         |  JOIN codes n ON n.vec_id = a.vec_id
         |  JOIN dists d ON d.vec_id = p.vec_id AND d.j = n.j
         |    AND d.ci = n.code),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(list_sum(list(d ORDER BY j)) AS BIGINT) AS adc_dist
         |  FROM pairs GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_dist ASC, neighbor_id) AS rank FROM adc)
         |WHERE rank <= 5""".stripMargin),
    // IVF-PQ codebook MAINTENANCE (the incremental-index discipline
    // applied to the quantizer): base-fitted book b0 vs a refreshed
    // book b1 fitted on a drifted train slice (base head + delta
    // head). One fused zero-shuffle scan computes both code batteries
    // per row; the report is the per-subspace centroid drift (integer
    // squared L2, the refresh trigger) and the EXACT re-encode write
    // set (rows whose code changed) — base codes are rewritten only
    // where they changed, never wholesale. Both Lloyd fits replay in
    // integer CTEs, so the whole maintenance decision is oracle-exact.
    QuerySpec("similarity_ivfpq_incremental", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") < 4000)
      val delta = emb.filter(col("vec_id") >= 4000)
      val b0 = Pq.fitLloydQuantized(base, col("vec_id"),
        col("embedding"), m = 8, k = 16, trainN = 128, iters = 1)
      val refreshSlice = emb.filter(col("vec_id") < 64 ||
        (col("vec_id") >= 4000 && col("vec_id") < 4064))
      val b1 = Pq.fitLloydQuantized(refreshSlice, col("vec_id"),
        col("embedding"), m = 8, k = 16, trainN = 128, iters = 1)
      Pq.maintenanceReport(base, delta, col("vec_id"), col("embedding"),
        b0, b1)
    }, oracle =
      // codebook-maintenance replay: both 1-round Lloyd fits unrolled
      // (base train head vs drifted base+delta head), per-row code
      // batteries under both books, per-subspace drift + changed counts
      s"""WITH qv AS MATERIALIZED (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
         |     FOR x IN embedding] AS q
         |  FROM embeddings),
         |train AS (SELECT vec_id, q FROM qv WHERE vec_id < 4000
         |          ORDER BY vec_id LIMIT 128),
         |train2 AS (SELECT vec_id, q FROM qv
         |           WHERE vec_id < 64 OR (vec_id >= 4000 AND vec_id < 4064)
         |           ORDER BY vec_id LIMIT 128),
         |c0 AS (
         |  SELECT s.j, t.ci, [t.q[s.j*8 + i] FOR i IN range(1, 9)] AS c
         |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, q
         |        FROM train ORDER BY vec_id LIMIT 16) t
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) s),
         |${pqLloydRoundSql("c0", "b0", "train", materialized = true)},
         |d0 AS (
         |  SELECT s.j, t.ci, [t.q[s.j*8 + i] FOR i IN range(1, 9)] AS c
         |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, q
         |        FROM train2 ORDER BY vec_id LIMIT 16) t
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) s),
         |${pqLloydRoundSql("d0", "b1", "train2", materialized = true)},
         |dist0 AS (
         |  SELECT e.vec_id, c.j, c.ci,
         |    list_sum([(e.q[c.j*8 + i] - c.c[i])
         |      * (e.q[c.j*8 + i] - c.c[i]) FOR i IN range(1, 9)]) AS d
         |  FROM qv e CROSS JOIN b0 c),
         |code0 AS (SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dist0) WHERE rnk = 1),
         |dist1 AS (
         |  SELECT e.vec_id, c.j, c.ci,
         |    list_sum([(e.q[c.j*8 + i] - c.c[i])
         |      * (e.q[c.j*8 + i] - c.c[i]) FOR i IN range(1, 9)]) AS d
         |  FROM qv e CROSS JOIN b1 c),
         |code1 AS (SELECT vec_id, j, ci AS code
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY d, ci) AS rnk FROM dist1) WHERE rnk = 1),
         |ch AS (
         |  SELECT a.vec_id, a.j, (a.code <> z.code) AS changed
         |  FROM code0 a JOIN code1 z ON a.vec_id = z.vec_id AND a.j = z.j),
         |drift AS (
         |  SELECT p.j, CAST(sum(list_sum([(n.c[i] - p.c[i])
         |    * (n.c[i] - p.c[i]) FOR i IN range(1, 9)])) AS BIGINT) AS drift
         |  FROM b0 p JOIN b1 n ON p.j = n.j AND p.ci = n.ci GROUP BY 1)
         |SELECT CAST(ch.j AS INT) AS subspace, drift.drift AS drift,
         |  CAST(count(*) FILTER (WHERE changed AND vec_id < 4000)
         |    AS BIGINT) AS n_changed_base,
         |  CAST(count(*) FILTER (WHERE changed AND vec_id >= 4000)
         |    AS BIGINT) AS n_changed_delta,
         |  CAST(count(*) FILTER (WHERE vec_id < 4000) AS BIGINT) AS n_base,
         |  CAST(count(*) FILTER (WHERE vec_id >= 4000) AS BIGINT)
         |    AS n_delta
         |FROM ch JOIN drift ON drift.j = ch.j
         |GROUP BY ch.j, drift.drift""".stripMargin),

    // Composed retrieval pipeline (the RAG shape): anchored ANN top-3
    // over the embedding corpus, then the tiny hit set BROADCASTS into
    // the documents join to fetch payloads — the corpus-sized tables
    // are never shuffled for the join-back. Exact oracle end to end
    // (anchored LSH + deterministic join).
    QuerySpec("rag_retrieval_pipeline", { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val docs = Tables(s, dir, "documents")
      val hits = Similarity.lshTopKAnchored(
        emb.filter(col("vec_id") < 5), emb, k = 3,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, nBits = 8, probeHamming = 2)
      docs.select(col("doc_id").as("neighbor_id"), col("lang"),
          md5(col("text")).as("text_digest"))
        .join(broadcast(hits), "neighbor_id")
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("score"), col("lang"), col("text_digest"))
    }, oracle =
      s"""WITH ${AnchoredSigCtes(nTables = 1, nBits = 8)},
         |${unitVecsCte("v")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([a.e[i] * b.e[i]
         |      FOR i IN range(1, len(a.e) + 1)]), 6) AS score
         |  FROM sigs q
         |  JOIN sigs c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
         |    AND CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) <= 2
         |  JOIN v a ON a.vec_id = q.vec_id
         |  JOIN v b ON b.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INT) AS rank, score
         |  FROM scored)
         |SELECT r.query_id, r.rank, r.neighbor_id, r.score,
         |  d.lang, md5(d.text) AS text_digest
         |FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
         |WHERE r.rank <= 3""".stripMargin),
    // Column-level corpus profiling: null counts, KMV cardinality
    // sketches (bounded state — no rows x cols distinct shuffle; the
    // deterministic integer estimator replays EXACTLY in the oracle),
    // rendered ranges. Exact-distinct twin stays as library API
    // (Profiler.profileExact) + differential spec.
    QuerySpec("profile_lineitem", { (s, dir) =>
      graft.functions.Profiler.profile(Tables(s, dir, "lineitem"),
        Seq("l_orderkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus"),
        // md5-anchored hash so the oracle replays the sketch exactly;
        // the xxhash64 fast path stays the library default
        hashFn = graft.functions.Kmv.u32)
    }, oracle = {
      // KMV replay: same u32 md5 hash of the same rendered values, same
      // k-th-smallest-distinct integer estimator as KmvAgg
      // (k = 1024) — bit-exact cross-engine.
      def render(c: String, dbl: Boolean) =
        if (dbl) s"CAST(round($c, 4) AS DECIMAL(18,4))::VARCHAR"
        else s"$c::VARCHAR"
      def hashSel(c: String, dbl: Boolean) =
        s"""SELECT '$c' AS col_name,
           |  ('0x'||substr(md5(${render(c, dbl)}),1,8))::BIGINT AS h
           |FROM lineitem WHERE $c IS NOT NULL""".stripMargin
      def basicSel(c: String, dbl: Boolean) =
        s"""SELECT '$c' AS col_name,
           |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_nulls,
           |  min(${if (dbl) s"CAST(round($c, 4) AS DECIMAL(18,4))" else c})::VARCHAR AS min_val,
           |  max(${if (dbl) s"CAST(round($c, 4) AS DECIMAL(18,4))" else c})::VARCHAR AS max_val
           |FROM lineitem""".stripMargin
      val cs = Seq("l_orderkey" -> false, "l_suppkey" -> false,
        "l_linenumber" -> false, "l_quantity" -> true,
        "l_extendedprice" -> true, "l_returnflag" -> false,
        "l_linestatus" -> false)
      s"""WITH m AS (
         |${cs.map { case (c, d) => hashSel(c, d) }.mkString("\nUNION ALL\n")}),
         |d AS (SELECT DISTINCT col_name, h FROM m),
         |r AS (SELECT col_name, h,
         |  row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn,
         |  count(*) OVER (PARTITION BY col_name) AS nd FROM d),
         |est AS (SELECT col_name,
         |  CAST(CASE WHEN max(nd) < 1024 THEN max(nd)
         |    ELSE CAST(1023 * 4294967296 AS BIGINT)
         |      // greatest(min(CASE WHEN rn = 1024 THEN h END), 1)
         |    END AS BIGINT) AS n_distinct_est
         |  FROM r GROUP BY col_name),
         |basic AS (
         |${cs.map { case (c, d) => basicSel(c, d) }.mkString("\nUNION ALL\n")})
         |SELECT b.col_name, b.n_nulls,
         |  CAST(coalesce(e.n_distinct_est, 0) AS BIGINT) AS n_distinct_est,
         |  b.min_val, b.max_val
         |FROM basic b LEFT JOIN est e USING (col_name)""".stripMargin
    }),
    // Tukey-fence outlier screen over the documents length columns
    // (two exact-percentile aggregations, zero corpus shuffles) — the
    // tail-junk check run before ingestion; doc lengths are the
    // heavy-tailed columns where the fences actually fire.
    QuerySpec("profile_outliers_documents", { (s, dir) =>
      val d = Tables(s, dir, "documents").select(
        octet_length(col("text")).cast("long").as("n_bytes"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.functions.Profiler.outliers(d, Seq("n_bytes", "n_tokens"))
    }, oracle =
      // quantile_cont == Spark percentile (interpolation parity proven by
      // rel_price_quantiles); fences are the same two IEEE ops on those
      // identical doubles, so counts and fences replay bit-exactly.
      """WITH d AS (
        |  SELECT CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |f AS (
        |  SELECT bq[1] AS b1, bq[2] AS b3, tq[1] AS t1, tq[2] AS t3,
        |    bq[1] - 1.5*(bq[2]-bq[1]) AS blo, bq[2] + 1.5*(bq[2]-bq[1]) AS bhi,
        |    tq[1] - 1.5*(tq[2]-tq[1]) AS tlo, tq[2] + 1.5*(tq[2]-tq[1]) AS thi
        |  FROM (SELECT quantile_cont(n_bytes, [0.25, 0.75]) AS bq,
        |          quantile_cont(n_tokens, [0.25, 0.75]) AS tq FROM d)),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN n_bytes  < blo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_below,
        |    CAST(sum(CASE WHEN n_bytes  > bhi THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_above,
        |    CAST(sum(CASE WHEN n_tokens < tlo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_below,
        |    CAST(sum(CASE WHEN n_tokens > thi THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t_above
        |  FROM d, f)
        |SELECT 'n_bytes' AS col_name, b1 AS q1, b3 AS q3, blo AS lo_fence,
        |  bhi AS hi_fence, b_below AS n_below, b_above AS n_above FROM f, c
        |UNION ALL
        |SELECT 'n_tokens', t1, t3, tlo, thi, t_below, t_above
        |FROM f, c""".stripMargin),
    // Equi-width 16-bin histograms of the two value columns (the
    // distribution-shape profile next to the outlier screen): min/max
    // from one agg inlined as literals, then one melt+hash-agg whose
    // shuffle is at most cols x bins rows per task.
    QuerySpec("profile_histogram_lineitem", { (s, dir) =>
      graft.functions.Profiler.histogram(Tables(s, dir, "lineitem"),
        Seq("l_extendedprice", "l_quantity"), nBins = 16)
    }, oracle =
      """WITH d AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS p,
        |    CAST(l_quantity AS DOUBLE) AS q FROM lineitem),
        |mm AS (SELECT min(p) pmn, max(p) pmx, min(q) qmn, max(q) qmx
        |       FROM d),
        |b AS (
        |  SELECT 'l_extendedprice' AS col_name,
        |    least(CAST(floor((p - pmn) / ((pmx - pmn) / 16)) AS INT), 15)
        |      AS bin,
        |    pmn AS mn, (pmx - pmn) / 16 AS w
        |  FROM d, mm WHERE p IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_quantity',
        |    least(CAST(floor((q - qmn) / ((qmx - qmn) / 16)) AS INT), 15),
        |    qmn, (qmx - qmn) / 16
        |  FROM d, mm WHERE q IS NOT NULL)
        |SELECT col_name, bin, mn + bin * w AS bin_lo,
        |  mn + (bin + 1) * w AS bin_hi, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2, mn, w""".stripMargin),
    // Equi-DEPTH twin: 8 equal-mass buckets of l_extendedprice — exact
    // percentile cuts inlined as driver literals, monotone comparison
    // sum for membership, one map-combined aggregation.
    QuerySpec("profile_equidepth_lineitem", { (s, dir) =>
      graft.functions.Profiler.equidepth(Tables(s, dir, "lineitem"),
        col("l_extendedprice"), nBins = 8)
    }, oracle =
      // Bin width and edges are the same IEEE ops on the same min/max
      // doubles in both engines; the clamped floor-division bin replays
      // bit-identically.
      // equi-depth replay: quantile_cont cuts == Spark exact percentile
      // (group-quantiles precedent); membership = the same monotone
      // comparison sum against the same cut doubles
      // binned-cut replay: fixed-4096-cell histogram between min/max,
      // window cumsum, rank ceil(j*n/8) -> first qualifying cell's
      // upper edge — the same IEEE-double arithmetic Profiler.binnedCuts
      // runs driver-side, so the cuts match bit-for-bit
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi,
        |         CAST(count(*) AS BIGINT) AS n FROM v),
        |h AS (SELECT least(CAST(floor((v - lo) / (hi - lo) * 4096.0)
        |          AS BIGINT), 4095) AS b,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM v, mm GROUP BY 1),
        |cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM h),
        |cuts AS (SELECT j,
        |           min(lo + (b + 1) * (hi - lo) / 4096.0) AS cut
        |         FROM (SELECT unnest(range(1, 8)) AS j), cum, mm
        |         WHERE cum >= (j * n + 7) // 8
        |         GROUP BY j),
        |cl AS (SELECT list(cut ORDER BY j) AS cs FROM cuts),
        |asg AS (SELECT v,
        |          CAST(len(list_filter(cs, c -> v > c)) AS INT)
        |            AS bucket
        |        FROM v, cl)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS lo, max(v) AS hi
        |FROM asg GROUP BY bucket""".stripMargin),
    // Per-GROUP approx-distinct via the mergeable KMV sketch (k=16 —
    // small enough that the estimator path actually runs) beside the
    // exact twin: the bounded-state answer to "distinct users per
    // event type" whose shuffle carries <=k longs per group per task.
    QuerySpec("profile_group_distinct", { (s, dir) =>
      def kmv(c: Column) = graft.expressions.KmvAgg.estimate(c, 16)
      Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("distinct_users_exact"),
          kmv(graft.functions.Kmv.u32(col("user_id")))
            .as("distinct_users_kmv"))
    }, oracle =
      // per-group KMV replay: k-th smallest distinct u32(md5) hash per
      // group drives the integer estimator; below k the count is exact
      """WITH h AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS h
        |  FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h),
        |k AS (SELECT event_type, max(nd) AS nd,
        |    max(CASE WHEN rnk = 16 THEN h END) AS h16
        |  FROM r GROUP BY 1),
        |e AS (SELECT event_type, count(*) AS n_events,
        |    count(DISTINCT user_id) AS nx FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(nx AS BIGINT) AS distinct_users_exact,
        |  CAST(CASE WHEN k.nd < 16 THEN k.nd
        |       ELSE 15 * 4294967296 // greatest(k.h16, 1) END AS BIGINT)
        |    AS distinct_users_kmv
        |FROM e JOIN k USING (event_type)""".stripMargin),
    // Key-skew profile of a prospective join key: top-20 heaviest
    // l_suppkey values with exact counts and integer-exact ppm share —
    // the salt-or-not diagnostic run before committing a shuffle.
    QuerySpec("profile_key_skew_lineitem", { (s, dir) =>
      graft.functions.Profiler.keySkew(Tables(s, dir, "lineitem"),
        col("l_suppkey"), k = 20)
    }, oracle =
      // DuckDB `//` == Spark `DIV`; the tie-break (cnt DESC, key ASC
      // NULLS FIRST) matches Spark's asc_nulls_first exactly.
      """WITH c AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem)
        |SELECT key, cnt, cnt * 1000000 // total AS share_ppm FROM c, t
        |ORDER BY cnt DESC, key ASC NULLS FIRST LIMIT 20""".stripMargin),
    // Per-GROUP exact quantiles (per-language length profile — the
    // stratified twin of rel_price_quantiles): one hash aggregation,
    // percentile state per group bounded by the value cardinality
    // (token counts, small); quantile_cont parity makes it exact.
    QuerySpec("group_quantiles_documents", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, array(0.25, 0.5, 0.75))").as("q"))
        .select(col("lang"), col("n_docs"), col("q")(0).as("p25"),
          col("q")(1).as("p50"), col("q")(2).as("p75"))
    }, oracle =
      """WITH d AS (
        |  SELECT lang, CAST(len(list_filter(string_split_regex(text,
        |    '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  quantile_cont(n_tokens, 0.25) AS p25,
        |  quantile_cont(n_tokens, 0.5) AS p50,
        |  quantile_cont(n_tokens, 0.75) AS p75
        |FROM d GROUP BY 1""".stripMargin),
    // Preference-PAIR mining (RLHF/DPO data prep): per source, the
    // best and worst document by a deterministic score (token count,
    // ties by id) as one chosen/rejected pair with its margin. ONE
    // bounded struct-max/min aggregation — never a per-source sort or
    // window; single-doc sources (degenerate pairs) are dropped.
    QuerySpec("preference_pairs_documents", { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("source"),
        col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      d.groupBy(col("source"))
        .agg(max(struct(col("nt"), col("doc_id").as("id"))).as("ch"),
          min(struct(col("nt"), col("doc_id").as("id"))).as("rj"))
        .filter(col("ch.id") =!= col("rj.id"))
        .select(col("source"), col("ch.id").as("chosen_id"),
          col("rj.id").as("rejected_id"),
          col("ch.nt").as("chosen_tokens"),
          col("rj.nt").as("rejected_tokens"),
          (col("ch.nt") - col("rj.nt")).as("margin"))
    }, oracle =
      // Struct comparison is lexicographic by field position in both
      // engines, so max/min(struct(nt, id)) replays exactly.
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nt
        |  FROM documents),
        |agg AS (
        |  SELECT source,
        |    max(struct_pack(nt := nt, id := doc_id)) AS ch,
        |    min(struct_pack(nt := nt, id := doc_id)) AS rj
        |  FROM d GROUP BY 1)
        |SELECT source, ch.id AS chosen_id, rj.id AS rejected_id,
        |  ch.nt AS chosen_tokens, rj.nt AS rejected_tokens,
        |  ch.nt - rj.nt AS margin
        |FROM agg WHERE ch.id <> rj.id""".stripMargin),
    // Range-partitioned sorted-export manifest (terasort topology with
    // DETERMINISTIC exact-quantile boundaries instead of Spark's
    // sampled ones): 8 non-overlapping o_totalprice shards with count,
    // key range, and an order-insensitive md5 membership digest.
    // 100 TB note: `percentile` is exact via a value-frequency map —
    // fine for bounded-cardinality keys like prices; for unbounded key
    // cardinality swap `approx_percentile` into SortedExport (shard
    // BALANCE softens, manifest/write semantics unchanged).
    QuerySpec("export_sorted_shards", { (s, dir) =>
      SortedExport.manifest(Tables(s, dir, "orders"),
        key = "o_totalprice", id = "o_orderkey", nShards = 8)
    }, oracle = sortedExportOracleSql),
    // The PHYSICAL sorted export, gated end-to-end: write the 8 range
    // shards to parquet (each file an ascending (key, id) run under
    // shard=<i>/), then recompute the manifest FROM THE WRITTEN FILES.
    // The oracle is the source-side manifest replay, so any divergence
    // between what was written and what should have been written
    // (lost rows, mis-assigned shard, clobbered key) fails the hash
    // compare — manifest-vs-files consistency pinned by the gate.
    QuerySpec("export_sorted_files", { (s, dir) =>
      val out = "/tmp/graft_sorted_export_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      SortedExport.write(Tables(s, dir, "orders"),
        key = "o_totalprice", id = "o_orderkey", nShards = 8, path = out)
      val u32 = graft.expressions.Md5Hex.u32(col("o_orderkey").cast("string"))
      s.read.parquet(out)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("min_key"),
          max(col("o_totalprice")).as("max_key"),
          sum(u32).as("member_sum"))
    }, oracle =
      // The files-derived manifest must equal the source-derived one, so
      // the oracle IS the source-side replay: any written/should-have-
      // written divergence fails the hash compare.
      sortedExportOracleSql),
    // Z-order (Morton) file layout plan over lineitem's two predicate
    // keys: 8 file groups cut at exact z-key percentiles, manifest
    // carrying the per-file min/max of BOTH dims — the stats a scan
    // planner prunes with, tight on both axes because the key
    // interleaves them (a linear sort key is tight on one axis only).
    QuerySpec("layout_zorder_lineitem", { (s, dir) =>
      ZOrder.layout(Tables(s, dir, "lineitem"),
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8)
    }, oracle =
      // Morton key replayed with DuckDB's bit operators; file-group cuts
      // and manifest mirror the export_sorted_shards replay.
      zorderManifestSql),
    // The planner step the manifest's dim stats exist FOR: min/max
    // file skipping against an axis-aligned box on BOTH z dimensions.
    // A low-corner box (partkey<=100, suppkey<=8) keeps few of the 8
    // groups precisely because Morton order bounds both widths per
    // file; pruning is a pure metadata filter (corpus untouched), and
    // the no-false-negative property is spec-pinned.
    QuerySpec("layout_zorder_prune", { (s, dir) =>
      ZOrder.prune(
        ZOrder.layout(Tables(s, dir, "lineitem"),
          dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8),
        aLo = 0L, aHi = 100L, bLo = 0L, bHi = 8L)
    }, oracle =
      // Pruned twin: the same manifest replay filtered by the query box —
      // a kept group is exactly one whose (a, b) rectangle intersects it.
      s"""SELECT * FROM ($zorderManifestSql)
         |WHERE NOT (a_max < 0 OR a_min > 100 OR b_max < 0 OR b_min > 8)"""
        .stripMargin),
    // HILBERT-curve layout — the locality alternative to Morton: no
    // quadrant-seam jumps, so consecutive keys are always grid
    // neighbors and per-file rectangles are never worse on uniform
    // grids (HilbertSpec pins total box area <= z-order there).
    // Measured honestly: on lineitem's actual keys at this SF the two
    // curves are within ~6% of each other (238k vs 253k total box
    // area, 8 files) — the curves differentiate at finer file
    // granularity, and the engine ships both. Same planner contract,
    // same exact-percentile cuts; the key is `bits` chained integer
    // projections (state carried as attributes — the naive nested
    // fold doubles the tree per level).
    QuerySpec("layout_hilbert_lineitem", { (s, dir) =>
      Hilbert.layout(Tables(s, dir, "lineitem"),
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8)
    }, oracle = hilbertManifestSql),
    // The same low-corner box as layout_zorder_prune, over the Hilbert
    // manifest — the side-by-side pruning comparison of the two curves
    // on identical data, cuts, and file count.
    QuerySpec("layout_hilbert_prune", { (s, dir) =>
      Hilbert.prune(
        Hilbert.layout(Tables(s, dir, "lineitem"),
          dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8),
        aLo = 0L, aHi = 100L, bLo = 0L, bHi = 8L)
    }, oracle =
      s"""SELECT * FROM ($hilbertManifestSql)
         |WHERE NOT (a_max < 0 OR a_min > 100 OR b_max < 0 OR b_min > 8)"""
        .stripMargin),
    // Incremental maintenance on the HILBERT key — the z-order top-up
    // plan's exact sibling (cuts from the stored manifest's h maxima;
    // base never re-read), completing the layout-family symmetry.
    QuerySpec("layout_hilbert_incremental", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val base = li.filter(col("l_orderkey") % 10 < 8)
      val manifest = Hilbert.layout(base,
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8)
      Hilbert.incrementalPlan(manifest,
        li.filter(col("l_orderkey") % 10 >= 8),
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16)
    }, oracle = hilbertIncrementalSql),
    // INCREMENTAL z-order maintenance: a 20% delta batch lands in the
    // EXISTING 8-group layout via the stored manifest's realized z
    // maxima (the base is never re-laid-out or re-read); per group the
    // base/delta mix decides which files the next maintenance pass
    // re-sorts (>= 20% delta share) — topping up a 100 TB layout
    // instead of rewriting it.
    QuerySpec("layout_zorder_incremental", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val base = li.filter(col("l_orderkey") % 10 < 8)
      val manifest = ZOrder.layout(base,
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16, nFiles = 8)
      ZOrder.incrementalPlan(manifest,
        li.filter(col("l_orderkey") % 10 >= 8),
        dimA = "l_partkey", dimB = "l_suppkey", bits = 16)
    }, oracle = zorderIncrementalSql),
    // Small-file compaction plan: the documents corpus viewed as one
    // "file" per (source, lang) cell, sequential-fill binned to 64 KiB
    // rewrite targets. The window runs over the file MANIFEST
    // (metadata), never the corpus — the 100 TB planning shape.
    QuerySpec("layout_compact_bins", { (s, dir) =>
      val manifest = Tables(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(sum(octet_length(col("text"))).cast("long").as("n_bytes"))
        .select(concat(col("source"), lit("/"), col("lang")).as("file_id"),
          col("n_bytes"))
      Compaction.plan(manifest, "file_id", "n_bytes", targetBytes = 65536L)
    }, oracle =
      // Sequential-fill replay: exclusive running sum in (bytes DESC,
      // file_id) order, bin = start DIV target. DuckDB window sum is
      // HUGEINT -> CAST; `//` mirrors Spark's `DIV`.
      """WITH files AS (
        |  SELECT source || '/' || lang AS file_id,
        |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
        |  FROM documents GROUP BY source, lang),
        |laid AS (
        |  SELECT file_id, n_bytes,
        |    CAST(coalesce(sum(n_bytes) OVER (
        |      ORDER BY n_bytes DESC, file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS strt
        |  FROM files)
        |SELECT CAST(strt // 65536 AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(max(n_bytes) AS BIGINT) AS max_file_bytes,
        |  CAST(min(n_bytes) AS BIGINT) AS min_file_bytes
        |FROM laid GROUP BY 1""".stripMargin),
    // RENDEZVOUS (HRW) sharding resize matrix: growing 8 -> 9 shards
    // moves only the keys the NEW shard wins (~1/9; mod-hash would
    // reshuffle ~8/9 of a 100 TB layout). Off-diagonal mass = churn;
    // md5 weights make placement engine-exact.
    QuerySpec("layout_rendezvous_churn", { (s, dir) =>
      Rendezvous.resizeChurn(Tables(s, dir, "documents"),
        col("doc_id"), nFrom = 8, nTo = 9)
    }, oracle = {
      // HRW replay: struct-sorted (−u32, shard) argmax per layout size
      def shard(n: Int) =
        "list_sort([{'w': -('0x'||substr(md5(CAST(sh AS VARCHAR)" +
          "||':'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT, " +
          "'s': CAST(sh AS BIGINT)} " +
          s"FOR sh IN range(0, $n)])[1].s"
      s"""SELECT ${shard(8)} AS shard_from,
         |  ${shard(9)} AS shard_to,
         |  CAST(count(*) AS BIGINT) AS n_keys
         |FROM documents GROUP BY 1, 2""".stripMargin
    }),
    // Shard-BALANCE audit of the rendezvous layout: docs and bytes per
    // shard plus each shard's byte share in ppm — the check that HRW
    // placement actually levels a heterogeneous corpus (doc sizes
    // vary) before committing the layout. One scan, one agg.
    QuerySpec("layout_rendezvous_balance", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(Rendezvous.shardOf(col("doc_id"), 8).as("shard"),
          octet_length(col("text")).cast("long").as("__b"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__b")).as("n_bytes"))
        .withColumn("byte_share_ppm",
          expr("(n_bytes * 1000000) DIV sum(n_bytes) OVER ()"))
    }, oracle = {
      // same HRW argmax; byte shares via a window total
      val shard =
        "list_sort([{'w': -('0x'||substr(md5(CAST(sh AS VARCHAR)" +
          "||':'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT, " +
          "'s': CAST(sh AS BIGINT)} FOR sh IN range(0, 8)])[1].s"
      s"""WITH a AS (
         |  SELECT $shard AS shard,
         |    CAST(strlen(text) AS BIGINT) AS b
         |  FROM documents),
         |g AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(b) AS BIGINT) AS n_bytes
         |  FROM a GROUP BY 1)
         |SELECT shard, n_docs, n_bytes,
         |  (n_bytes * 1000000)
         |    // CAST((SELECT sum(n_bytes) FROM g) AS BIGINT)
         |    AS byte_share_ppm
         |FROM g""".stripMargin
    }),
    // Hourly SEASONALITY profile per event type: hour-of-day counts,
    // peak hour and its share, plus an integer chi-square-style
    // dispersion vs the uniform profile — flat means load-insensitive
    // scheduling is fine, peaked means the ingest needs hour-aware
    // capacity. All integer arithmetic.
    QuerySpec("events_hourly_seasonality", { (s, dir) =>
      val hour = expr("(ts DIV 3600000000000) % 24")
      val byHour = Tables(s, dir, "events")
        .select(col("event_type"), hour.as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))
      byHour.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          max(struct(col("n"), (-col("h")).as("nh"))).as("__pk"),
          sum(col("n") * col("n")).as("__ss"))
        .select(col("event_type"), col("n_events"),
          (-col("__pk.nh")).cast("long").as("peak_hour"),
          expr("(__pk.n * 1000000) DIV n_events").as("peak_share_ppm"),
          // chi-square vs uniform over all 24 slots (absent hours
          // contribute their N^2 term via the expansion):
          // sum((24*n_h - N)^2) / (24*N) == (24*ss - N^2) / N.
          // LONG-safe to N ~ 6e8 events/type; DECIMAL(38) beyond.
          expr("(24 * __ss - n_events * n_events) DIV n_events")
            .as("dispersion"))
    }, oracle =
      """WITH h AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(sum(n * n) AS BIGINT) AS ss
        |  FROM h GROUP BY 1),
        |pk AS (
        |  SELECT event_type, hr AS peak_hour, n AS peak_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, hr ASC) AS rk FROM h)
        |  WHERE rk = 1)
        |SELECT p.event_type, p.n_events,
        |  CAST(pk.peak_hour AS BIGINT) AS peak_hour,
        |  (pk.peak_n * 1000000) // p.n_events AS peak_share_ppm,
        |  (24 * p.ss - p.n_events * p.n_events) // p.n_events
        |    AS dispersion
        |FROM p JOIN pk USING (event_type)""".stripMargin),
    // SEASONALITY-AWARE gap audit (the recorded resample composition):
    // the hourly grid of events_resample_gapfill carrying each hour's
    // seasonal EXPECTATION from the events_hourly_seasonality profile
    // — a 3 a.m. gap reads "expected ~0", a 2 p.m. gap on a peaked
    // profile reads "outage". Profile/slot tables are (keys x 24)
    // broadcasts into the metadata grid; one corpus scan total.
    QuerySpec("events_resample_seasonal", { (s, dir) =>
      Resample.seasonalGapFill(Tables(s, dir, "events"),
        col("event_type"), col("ts"))
    }, oracle = Resample.Sql.eventsSeasonal),
    // WEIGHTED rendezvous (virtual replicas — log-free, unlike the
    // classic -w/ln(u)): capacities 1/2/4 land keys ~1:2:4; per-shard
    // counts gate the distribution, the argmax stays md5-exact.
    QuerySpec("layout_rendezvous_weighted", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(Rendezvous.shardOfWeighted(col("doc_id"),
          Seq(1, 2, 4)).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_keys"))
    }, oracle = {
      // weighted HRW replay: virtual replica keys "s#r:key", same argmax
      val reps = Seq(1, 2, 4).zipWithIndex.flatMap { case (w, sh) =>
        (0 until w).map(r => s"{'sh': CAST($sh AS BIGINT), 'rk': '$sh#$r:'}")
      }.mkString("[", ", ", "]")
      s"""SELECT list_sort([{'w': -('0x'||substr(md5(v.rk
         |      ||CAST(doc_id AS VARCHAR)),1,8))::BIGINT, 's': v.sh}
         |    FOR v IN $reps])[1].s AS shard,
         |  CAST(count(*) AS BIGINT) AS n_keys
         |FROM documents GROUP BY 1""".stripMargin
    }),
    // CDC changeset apply (MERGE INTO semantics): a three-wave delta —
    // rev1 text updates on ids %10, deletes on ids %17 (seq 2 beats the
    // seq-1 update where both hit), inserts at id+100000 — folded into
    // the documents snapshot, latest-seq-per-key wins. Delta derived
    // deterministically from the table so the oracle replays both sides.
    QuerySpec("cdc_apply_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" rev1")))
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
      val del = docs.filter(col("doc_id") % 17 === 0)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      val ins = docs.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
        .withColumn("seq", lit(3L)).withColumn("op", lit("I"))
      Cdc.applyChangeset(docs,
        upd.unionByName(del).unionByName(ins), "doc_id", "seq", "op")
    }, oracle =
      s"""$cdcV2Sql
         |SELECT doc_id, lang, source, text FROM v2""".stripMargin),
    // SCD Type-2 history from the same changeset family: one validity
    // interval per change event (seq_from/seq_to, is_current), via ONE
    // window over the CHANGESET — per-key state bounded by its change
    // count, corpus never touched.
    QuerySpec("cdc_scd2_documents", { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val upd = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
          md5(concat(col("text"), lit(" rev1"))).as("fp"))
      val del = base.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("fp"))
      val ins = base.filter(col("doc_id") < 40)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          lit(3L).as("seq"), lit("I").as("op"), md5(col("text")).as("fp"))
      Cdc.scd2History(upd.unionByName(del).unionByName(ins),
        "doc_id", "seq", "op")
    }, oracle =
      // Latest-per-key replay via QUALIFY row_number; the full-outer
      // apply and the D filter mirror Cdc.applyChangeset exactly.
      // SCD2 replay: the changeset's lead() window per key; is_current =
      // no later event and not a delete
      """WITH ch AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS seq_from, 'U' AS op,
        |    md5(text || ' rev1') AS fp
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 3, 'I', md5(text)
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id, seq_from, op, fp,
        |  CAST(lead(seq_from) OVER w AS BIGINT) AS seq_to,
        |  (lead(seq_from) OVER w IS NULL AND op <> 'D') AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY doc_id ORDER BY seq_from)""".stripMargin),
    // TIME TRAVEL to seq=2 over the same change log: updates (seq 1)
    // and deletes (seq 2) visible, inserts (seq 3) not yet — "rebuild
    // the exact corpus run X trained on". Latest-per-key struct-max
    // over the log only; the base snapshot never shuffles.
    QuerySpec("corpus_asof_documents", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
          md5(concat(col("text"), lit(" rev1"))).as("fp"))
      val del = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("fp"))
      val ins = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          lit(3L).as("seq"), lit("I").as("op"), md5(col("text")).as("fp"))
      Cdc.asOf(base, upd.unionByName(del).unionByName(ins),
        "doc_id", "seq", "op", atSeq = 2L)
    }, oracle =
      // as-of replay: latest change per key at seq<=2 via a window pick
      // (different algorithm, same unique-seq order), untouched base
      // rows anti-joined through
      """WITH ch AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS seq, 'U' AS op,
        |    md5(text || ' rev1') AS fp
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 3, 'I', md5(text)
        |  FROM documents WHERE doc_id < 40),
        |latest AS (
        |  SELECT doc_id, op, fp FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM ch WHERE seq <= 2) WHERE rn = 1),
        |alive AS (SELECT doc_id, fp FROM latest WHERE op <> 'D'),
        |untouched AS (
        |  SELECT d.doc_id, md5(d.text) AS fp
        |  FROM documents d LEFT JOIN latest l ON l.doc_id = d.doc_id
        |  WHERE l.doc_id IS NULL)
        |SELECT doc_id, fp FROM untouched
        |UNION ALL SELECT doc_id, fp FROM alive""".stripMargin),
    // FLAGSHIP composition — the corpus REFRESH a production pipeline
    // runs per ingest cycle: CDC changeset applied to the snapshot ->
    // classifier quality gate -> exact dedup (keep lowest id) ->
    // per-language audit with an order-independent survivor digest.
    // Fingerprint + the integer gate compute in ONE projection behind
    // one exchange barrier (the corpus_clean alias-inlining
    // rationale), and the gate lives INSIDE the dedup aggregation
    // (null-skipped struct-min) so no pushed-down filter re-runs the
    // battery in the scan stage.
    QuerySpec("corpus_refresh_pipeline", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" rev1")))
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
      val del = docs.filter(col("doc_id") % 17 === 0)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      val ins = docs.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
        .withColumn("seq", lit(3L)).withColumn("op", lit("I"))
      val v2 = Cdc.applyChangeset(docs,
        upd.unionByName(del).unionByName(ins), "doc_id", "seq", "op")
      // tokens staged as an attribute BEFORE the weight fold: inlined,
      // the interpreted fold re-evaluates the tokenizer per reference
      // (quadratic in doc length — the HashedLinear.weightSumOfTokens
      // doc); staged, the fold reads the array once. Same integers.
      val enriched = v2.repartition(col("doc_id"))
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokens(lower(col("text"))).as("__t"))
        .select(
          col("doc_id"), col("lang"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.functions.HashedLinear.weightSumOfTokens(col("__t"))
            .as("w_sum"))
      val perFp = enriched.groupBy(col("fp"))
        .agg(
          min(when(col("w_sum") >= 0,
            struct(col("doc_id"), col("lang")))).as("keep"),
          count(when(col("w_sum") >= 0, 1)).as("n_gated"))
        .filter(col("keep").isNotNull)
      val keeperHash = conv(substring(
        md5(col("keep.doc_id").cast("string")), 1, 8), 16, 10).cast("long")
      perFp.groupBy(col("keep.lang").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_gated")).as("n_source_rows"),
          sum(keeperHash).as("keeper_hash"))
    }, oracle =
      // refresh replay: the shared v2 CTEs, then fingerprint + the
      // classifier integer gate per row, null-skipped struct-min dedup,
      // per-lang audit with the order-independent u32(md5) digest
      s"""$cdcV2Sql,
         |tk0 AS (SELECT doc_id, lang, text,
         |  ${TextAnalysis.Sql.tokens("lower(text)")} AS tk FROM v2),
         |fs0 AS (SELECT doc_id, lang, text,
         |  tk || [tk[i] || ' ' || tk[i + 1]
         |         FOR i IN range(1, len(tk))] AS fs FROM tk0),
         |en AS (SELECT doc_id, lang,
         |  ${TextAnalysis.Sql.fingerprint("text")} AS fp,
         |  COALESCE(CAST(list_sum([
         |    ('0x' || substr(md5('w:' || CAST(
         |       ('0x' || substr(md5('f:' || x), 1, 8))::BIGINT % 4096
         |     AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000
         |    FOR x IN fs]) AS BIGINT), 0) AS w_sum
         |  FROM fs0),
         |perfp AS (
         |  SELECT fp,
         |    min(CASE WHEN w_sum >= 0 THEN
         |      struct_pack(doc_id := doc_id, lang := lang) END) AS keep,
         |    count(CASE WHEN w_sum >= 0 THEN 1 END) AS n_gated
         |  FROM en GROUP BY fp),
         |surv AS (SELECT keep.doc_id AS kid, keep.lang AS lang, n_gated
         |         FROM perfp WHERE keep IS NOT NULL)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_gated) AS BIGINT) AS n_source_rows,
         |  CAST(sum(('0x' || substr(md5(CAST(kid AS VARCHAR)), 1, 8))
         |    ::BIGINT) AS BIGINT) AS keeper_hash
         |FROM surv GROUP BY lang""".stripMargin),
    // Materialized-view maintenance: the base aggregate state is NEVER
    // recomputed — the delta aggregates alone (map-combined) and
    // merges in with one key-sized full-outer join. The oracle IS the
    // semantic contract: merged state == full recompute over base+delta.
    QuerySpec("agg_incremental_update", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      def state(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      IncrementalAgg.merge(
        state(docs.filter(col("doc_id") < 450)),
        state(docs.filter(col("doc_id") >= 450)),
        Seq("lang"), sums = Seq("n_docs", "sum_chars"),
        mins = Seq("min_chars"), maxs = Seq("max_chars"))
    }, oracle =
      // incremental-maintenance contract: merged base+delta state must
      // equal the FULL recompute — which is exactly this oracle
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // ------------------------------------- relational coverage (§2.4)
    QuerySpec("rel_revenue_by_region", Relational.revenueByRegion _, oracle =
      """SELECT r_name AS region_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lineitems,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    QuerySpec("rel_pricing_summary", Relational.pricingSummary _, oracle =
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("rel_top_customers", { (s, dir) => Relational.topCustomers(s, dir) }, oracle =
      """SELECT c_custkey AS custkey, c_name AS name, total_spent, n_orders
        |FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent,
        |        count(*) AS n_orders
        |      FROM orders GROUP BY o_custkey)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spent DESC, custkey LIMIT 10""".stripMargin),
    QuerySpec("rel_semi_anti_customers", Relational.customerOrderCoverage _, oracle =
      """SELECT n_name AS nation_name,
        |  coalesce((SELECT count(*) FROM customer c
        |    WHERE c.c_nationkey = n.n_nationkey
        |      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)), 0)
        |    AS n_with_orders,
        |  coalesce((SELECT count(*) FROM customer c
        |    WHERE c.c_nationkey = n.n_nationkey
        |      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)), 0)
        |    AS n_without_orders
        |FROM nation n""".stripMargin),
    QuerySpec("rel_nation_setops", Relational.nationSetOps _, oracle =
      """SELECT n_name AS nation_name, 'both' AS kind FROM (
        |  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  INTERSECT
        |  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |UNION ALL
        |SELECT n_name AS nation_name, 'customer_only' AS kind FROM (
        |  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  EXCEPT
        |  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)""".stripMargin),
    QuerySpec("rel_supplier_running_revenue", Relational.supplierRunningRevenue _, oracle =
      """SELECT l_suppkey AS suppkey, l_orderkey AS orderkey,
        |  l_linenumber AS linenumber,
        |  row_number() OVER w AS ship_seq,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
        |      AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000 AS BIGINT)
        |    AS running_revenue_e4
        |FROM lineitem WHERE l_suppkey < 3
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin),
    QuerySpec("rel_price_quantiles", Relational.priceQuantiles _, oracle =
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("rel_pricing_rollup", Relational.pricingRollup _, oracle =
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("rel_orders_pivot", Relational.ordersPivot _, oracle =
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    // Bloom-prefiltered join — the 100 TB shape when the dim side's
    // KEYSET fits a bitmap but the rows don't fit a broadcast: the
    // fact side drops bloom-negative rows BEFORE its shuffle (no false
    // negatives, so the result is exactly the plain join — the oracle
    // doesn't mention the bloom). The md5 bitmap rides as a literal in
    // a stateless per-row probe; at this SF Spark would broadcast the
    // dim anyway — the prefilter is the strategy that survives when it
    // can't.
    QuerySpec("rel_bloom_join", { (s, dir) =>
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val m = 1 << 17
      val words = graft.functions.BloomMd5.build(
        orders, col("o_orderkey").cast("string"), m, k = 3)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      val pre = graft.functions.BloomMd5.markPositive(
          li, col("l_orderkey").cast("string"), words, m, k = 3, "__maybe")
        .filter(col("__maybe")).drop("__maybe")
      pre.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
            2).as("revenue"))
    }, oracle =
      // the bloom prefilter never drops a matching row, so the oracle is
      // the PLAIN join — written-vs-intended divergence fails the hash
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lineitems,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'P'
        |GROUP BY o_orderpriority""".stripMargin),
    // Ordered conversion funnel: stage-k completion requires a
    // qualifying event AT/AFTER the user's stage-(k-1) time; one
    // map-combined min() per stage, shuffles reuse one user
    // partitioning, integer-ppm conversions.
    QuerySpec("events_funnel_ordered", { (s, dir) =>
      Funnel.ordered(Tables(s, dir, "events"), col("user_id"),
        col("event_type"), col("ts"), Seq("signup", "click", "purchase"))
    }, oracle =
      // funnel replay: stage thresholds chain through per-user mins;
      // integer-ppm conversions (// = exact integer division)
      funnelOracleSql),
    // CMS AS STREAM STATE: CountMin.sketch is itself a streaming
    // aggregation — the depth x width counter matrix is the state,
    // bounded at 4096 rows no matter the stream volume, and counter
    // sums are order-associative so micro-batch slicing is invisible
    // by construction. Candidates (exact top-50 users, batch side)
    // estimate against the final snapshot — the live "who is hammering
    // the pipeline" board. Exact oracle: the whole CMS replays in SQL.
    QuerySpec("events_stream_heavy_users", { (s, dir) =>
      import graft.functions.CountMin
      val sk = EventStream.runToCompletion(
        CountMin.sketch(
          Tables.eventsStream(s, dir).select(col("user_id").as("term")),
          col("term"), depth = 4, width = 1024),
        "stream_cms_out")
      val exact = Tables(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(50)
      CountMin.estimate(sk, exact, col("user_id"),
        depth = 4, width = 1024)
    }, oracle =
      // streaming CMS replay: identical md5 cells over events/user_id;
      // counter sums are order-associative so the stream state equals
      // this batch SQL exactly
      """WITH exact AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, user_id LIMIT 50),
        |cells AS (
        |  SELECT d,
        |    ('0x'||substr(md5(CAST(d AS VARCHAR)||':'||user_id),1,8))::BIGINT
        |      % 1024 AS cell,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events CROSS JOIN (SELECT unnest(range(0,4)) AS d)
        |  GROUP BY 1, 2)
        |SELECT e.user_id, e.exact_cnt,
        |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
        |FROM exact e
        |CROSS JOIN (SELECT unnest(range(0,4)) AS d) ds
        |LEFT JOIN cells c ON c.d = ds.d AND c.cell =
        |  ('0x'||substr(md5(CAST(ds.d AS VARCHAR)||':'||e.user_id),1,8))::BIGINT
        |    % 1024
        |GROUP BY 1, 2""".stripMargin),
    // STREAMING twin of the ordered funnel: per-user stage-time arrays
    // are the stream's aggregation state (collect_list per stage type
    // — a real stateful micro-batch plan), and the order-sensitive
    // funnel recursion runs over the snapshot, where array_min +
    // threshold filters make it ORDER-INVARIANT: any micro-batch
    // slicing, including late-arriving earlier-stage events, lands on
    // the batch twin's exact result (shared oracle).
    QuerySpec("events_stream_funnel_ordered", { (s, dir) =>
      val stages = Seq("signup", "click", "purchase")
      val ev = Tables.eventsStream(s, dir)
        .filter(col("event_type").isin(stages: _*))
      val aggs = stages.zipWithIndex.map { case (st, i) =>
        collect_list(when(col("event_type") === st, col("ts")))
          .as(s"times_${i + 1}")
      }
      val perUser = ev.groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      Funnel.orderedFromStageTimes(
        EventStream.runToCompletion(perUser, "stream_funnel_out"),
        nStages = 3)
    }, oracle =
      // the streaming twin's collect_list state + order-invariant
      // recursion must land on the same single summary row
      funnelOracleSql),
    // Sliding 10-min windows every 5 min (integer window arithmetic, a
    // width-2 map-side explode — not TimeWindow expand — so membership
    // replays as integer SQL; see Relational.eventsSliding).
    QuerySpec("events_sliding_10min", { (s, dir) =>
      Relational.eventsSliding(s, dir)
    }, oracle =
      // sliding replay: every event belongs to exactly the two starts
      // {s0, s0-300}; same exact e4 sum
      """SELECT ws AS window_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS total_value_e4
        |FROM (SELECT (epoch_ns(ts) // 1000000000) // 300 * 300 - off
        |        AS ws, event_type, value
        |      FROM events
        |      CROSS JOIN (SELECT unnest([0, 300]) AS off) o)
        |GROUP BY 1, 2""".stripMargin),
    // Cohort retention matrix: users cohort by first active day; each
    // active day counts into (cohort_day, day_offset).
    QuerySpec("events_retention_cohorts", { (s, dir) =>
      Relational.eventsRetentionCohorts(s, dir)
    }, oracle = retentionCohortsOracleSql),
    // STREAMING twin of the retention matrix (the established two-level
    // pattern): the first-level aggregate — per-user (min day,
    // distinct-day set) — is the stream's state, both order-associative
    // so micro-batch slicing is invisible; the matrix pivots over the
    // snapshot, where each (user, day) is already unique so a plain
    // count is the distinct-user count. Shares the batch twin's oracle.
    QuerySpec("events_stream_retention_cohorts", { (s, dir) =>
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"),
          collect_set(col("day")).as("days"))
      EventStream.runToCompletion(perUser, "stream_retention_out")
        .select(col("user_id"), col("cohort_day"),
          explode(col("days")).as("day"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    }, oracle = retentionCohortsOracleSql),
    // Bucketed co-located join: both fact tables are written bucketed +
    // sorted by the join key ONCE (external parquet under /tmp), then
    // the join plans with ZERO pre-join exchanges — the write-time
    // shuffle is amortized over every later join. hint("merge") keeps
    // the plan on the bucket-aware sort-merge path even when one side
    // is broadcast-sized at test SF. Values use the per-item-round ->
    // DECIMAL -> scaled-long pattern for cross-engine exactness.
    // Partition-pruned scan: documents re-laid-out as lang=<v>/ dirs,
    // then a two-language query plans with PartitionFilters — excluded
    // languages are never listed or read. Planning-time pruning over a
    // coarse layout column is the first-order 100 TB lever.
    QuerySpec("source_partition_pruning", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      graft.sources.Bucketed.writePartitioned(docs,
        "/tmp/graft_partitioned/documents", "lang")
      graft.sources.Bucketed
        .readPartitioned(s, "/tmp/graft_partitioned/documents")
        .filter(col("lang").isin("en", "fr"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
    }, oracle =
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang, source""".stripMargin),
    QuerySpec("rel_bucketed_join", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.sources.Bucketed.write(li, "graft_li_b",
        "/tmp/graft_bucketed/lineitem", "l_orderkey", 8)
      graft.sources.Bucketed.write(ord, "graft_ord_b",
        "/tmp/graft_bucketed/orders", "o_orderkey", 8)
      graft.sources.Bucketed.read(s, "graft_li_b").hint("merge")
        .join(graft.sources.Bucketed.read(s, "graft_ord_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast("decimal(18,4)")) * 10000).cast("long").as("revenue_e4"))
    }, oracle =
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
        |    AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    // Salted skew join: big side salted deterministically, small side
    // replicated per salt bucket — one hot key spreads over `buckets`
    // reducers; result identical to the plain join (its oracle).
    QuerySpec("rel_salted_join", { (s, dir) =>
      val li = Tables(s, dir, "lineitem").select(col("l_suppkey"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Relational.saltedJoin(li, sup, "l_suppkey",
          Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          (sum(round(col("l_quantity"), 4).cast("decimal(18,4)")) * 10000)
            .cast("long").as("qty_e4"))
    }, oracle =
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_quantity, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS qty_e4
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin),
    QuerySpec("events_tumbling_5min", Relational.eventsTumbling _,
      oracle = tumbling5minOracleSql),
    QuerySpec("events_json_props", Relational.eventsJsonProps _, oracle =
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),
    // Iterative graph analytics: integer fixed-point PageRank (5
    // rounds, d=17/20, BIGINT micro-ranks) over the item-transition
    // graph of consecutive events per user — page/domain quality
    // weighting for corpus curation. One src-join + one dst-agg per
    // round; every step integer-exact, oracle unrolls the rounds.
    QuerySpec("graph_pagerank_events", { (s, dir) =>
      PageRank.overEventTransitions(Tables(s, dir, "events"), iters = 5)
    }, oracle = PageRank.Sql.query(iters = 5)),
    // Triangle census + local clustering coefficients over the same
    // transition graph, via degree-ordered orientation (wedges only at
    // the (deg, node)-minimal vertex -> out-degree bounded O(sqrt(m)),
    // hubs receive rather than emit). Integer ppm coefficients.
    QuerySpec("graph_triangles_events", { (s, dir) =>
      Triangles.overEventTransitions(Tables(s, dir, "events"))
    }, oracle = Triangles.Sql.query),
    // LAST-TOUCH revenue attribution: each purchase credits the user's
    // most recent prior non-purchase event within 1 hour (else
    // 'unattributed') — the channel-performance rollup marketing runs
    // daily. The touch lookup is the as-of join (tag+union+one running
    // window — never a range join); concurrent touches at one
    // microsecond resolve deterministically to the highest event_id.
    QuerySpec("events_attribution_lasttouch", { (s, dir) =>
      val ev = Tables(s, dir, "events").select(col("event_id"),
        col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("t_us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(struct(col("event_id"), col("event_type"))).as("w"))
        .select(col("user_id"), col("t_us"),
          col("w.event_type").as("channel"))
      Relational.asofJoin(purchases, touches, Seq("user_id"), "t_us")
        .select(col("value"),
          when(col("asof.t_us").isNotNull &&
            col("asof.t_us") >= col("t_us") - 3600000000L,
            col("asof.channel")).otherwise("unattributed")
            .as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          Relational.exactValueSumE4.as("attributed_value_e4"))
    }, oracle =
      // last-touch replay: same deterministic per-instant touch pick
      // (highest event_id), DuckDB ASOF, same 1-hour window rule
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS t_us, value
        |  FROM events),
        |p AS (SELECT user_id, t_us, value FROM ev
        |      WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, t_us, event_type AS channel FROM (
        |    SELECT user_id, t_us, event_type,
        |      row_number() OVER (PARTITION BY user_id, t_us
        |        ORDER BY event_id DESC) AS rk
        |    FROM ev WHERE event_type <> 'purchase')
        |  WHERE rk = 1),
        |a AS (
        |  SELECT p.value,
        |    CASE WHEN t.t_us IS NOT NULL
        |        AND t.t_us >= p.t_us - 3600000000
        |      THEN t.channel ELSE 'unattributed' END AS channel
        |  FROM p ASOF LEFT JOIN t
        |    ON p.user_id = t.user_id AND p.t_us >= t.t_us)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS attributed_value_e4
        |FROM a GROUP BY channel""".stripMargin),
    // DeepWalk-style training corpus: one deterministic 4-hop random
    // walk per node of the item-transition graph — walk sequences are
    // the "sentences" a graph skip-gram trains on. Randomness is an
    // md5-uniform of (walk, step): reproducible under repartitioning,
    // hop-for-hop SQL-replayable (rand() walks cannot be gated). One
    // equi-join per step against rank-indexed adjacency; sinks
    // self-terminate.
    QuerySpec("graph_random_walks", { (s, dir) =>
      graft.operators.Walks.overEventTransitions(
        Tables(s, dir, "events"), steps = 4)
    }, oracle = graft.operators.Walks.Sql.query(steps = 4)),
    // CO-VISITATION mining (the recommender association signal):
    // items viewed within 2 positions of each other in a user's
    // time-ordered stream, ranked by the same exact integer lift as
    // the text collocation miner — one operator, two modalities.
    QuerySpec("events_covisitation_lift", { (s, dir) =>
      val seqs = Tables(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts").as("t"), col("event_id").as("e"),
            get_json_object(col("props"), "$.k").as("i")).as("s"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("s"))).as("ss"))
        .select(transform(col("ss"), x => x.getField("i")).as("seq"))
      graft.functions.Cooccurrence.topPairsFromSequences(
        seqs, col("seq"), window = 2, minCount = 5, k = 50)
    }, oracle = covisitationOracleSql),
    // STREAMING twin of co-visitation: per-user (ts, event_id, item)
    // structs collect as stream state (collect_list — order varies by
    // micro-batch interleaving, which sort_array over the SNAPSHOT
    // erases), then the same pair miner runs over the final per-user
    // sequences. Shares the batch twin's oracle.
    QuerySpec("events_stream_covisitation", { (s, dir) =>
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"),
          struct(col("ts").as("t"), col("event_id").as("e"),
            get_json_object(col("props"), "$.k").as("i")).as("s"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(collect_list(col("s")).as("ss"))
      val seqs = EventStream.runToCompletion(perUser, "stream_covis_out")
        .select(sort_array(col("ss")).as("ss"))
        .select(transform(col("ss"), x => x.getField("i")).as("seq"))
      graft.functions.Cooccurrence.topPairsFromSequences(
        seqs, col("seq"), window = 2, minCount = 5, k = 50)
    }, oracle =
      // stream-state twins converge on the batch results exactly —
      // order-associative first level, order erased at the snapshot —
      // so both replay against the batch oracles verbatim
      covisitationOracleSql),
    // TRANSITION MATRIX (the Sankey edge table): per-user consecutive
    // event-type pairs with each row's share of its origin's outflow
    // in ppm — the one-hop summary the trigram census and PageRank
    // both build on, exposed as its own artifact for flow dashboards.
    // One per-user window + one agg; shares via a window over the
    // (type x type)-bounded matrix only.
    QuerySpec("events_type_transitions", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val m = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type").as("src_type"),
          lead(col("event_type"), 1).over(w).as("dst_type"))
        .filter(col("dst_type").isNotNull)
        .groupBy(col("src_type"), col("dst_type"))
        .agg(count(lit(1)).as("n"))
      m.withColumn("outflow_ppm",
        expr("(n * 1000000) DIV sum(n)" +
          " OVER (PARTITION BY src_type)"))
    }, oracle =
      // same per-user lead pairs; shares over the tiny matrix
      """WITH tr AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS dst_type
        |  FROM events),
        |m AS (
        |  SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
        |  FROM tr WHERE dst_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, n,
        |  (n * 1000000) // CAST(sum(n)
        |    OVER (PARTITION BY src_type) AS BIGINT) AS outflow_ppm
        |FROM m""".stripMargin),
    // Sequential-pattern census: event-type trigrams walked per user
    // (two per-user leads, one map-combined groupBy) with exact
    // distinct-user reach — funnel discovery, not funnel checking.
    QuerySpec("events_path_trigrams", { (s, dir) =>
      Paths.trigramCensus(Tables(s, dir, "events"), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))
    }, oracle = Paths.Sql.eventsTrigrams),
    // Time-series RESAMPLE: hourly per-type grid with gap rows
    // materialized (sequence explode over each key's own span) and
    // last-observation-carried-forward sums — per-key windows only,
    // e4-decimal exact.
    QuerySpec("events_resample_gapfill", { (s, dir) =>
      Resample.gapFill(Tables(s, dir, "events"), col("event_type"),
        col("ts"), col("value"), binNs = 3600L * 1000000000L)
    }, oracle = Resample.Sql.eventsByType(binNs = 3600L * 1000000000L)),
    // As-of join: each purchase gets the user's most recent click at or
    // before it. Spark lacks a native as-of join; this is the linear
    // tag+union+running-window shape (one exchange on user_id), oracled
    // against DuckDB's native ASOF LEFT JOIN. Clicks are pre-aggregated
    // to (user, ts) grain so the match is deterministic; nulls from
    // unmatched purchases are coalesced to -1 on both sides.
    QuerySpec("events_asof_clicks", { (s, dir) =>
      val ev = Tables(s, dir, "events").select(col("event_id"),
        col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("t_us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("t_us"))
        .agg(Relational.exactValueSumE4.as("click_value_e4"))
      Relational.asofJoin(purchases, clicks, Seq("user_id"), "t_us")
        .select(col("event_id"), col("user_id"),
          col("t_us").as("purchase_ts_us"),
          coalesce(col("asof.t_us"), lit(-1L)).as("click_ts_us"),
          coalesce(col("t_us") - col("asof.t_us"), lit(-1L)).as("wait_us"),
          coalesce(col("asof.click_value_e4"), lit(-1L)).as("click_value_e4"))
    }, oracle =
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS t_us, value
        |  FROM events),
        |p AS (SELECT event_id, user_id, t_us FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, t_us,
        |    CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |      AS click_value_e4
        |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.t_us AS purchase_ts_us,
        |  coalesce(c.t_us, -1) AS click_ts_us,
        |  coalesce(p.t_us - c.t_us, -1) AS wait_us,
        |  coalesce(c.click_value_e4, -1) AS click_value_e4
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.t_us >= c.t_us""".stripMargin),
    // Batch RANGE join with no equi-key (incident correlation: errors
    // within ±5 min of each purchase, across ALL users). Naive Spark
    // plan is a BroadcastNestedLoopJoin; rangeJoinBinned turns it into
    // an equi-join on 600 s time bins (each error in ONE bin, each
    // purchase exploded over exactly 2) + the exact interval filter.
    QuerySpec("events_range_join_batch", { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("ts").as("e_ts"), col("value").as("e_value"))
      Relational.rangeJoinBinned(purchases, errors, "p_ts", "e_ts",
          lowerNs = -300000000000L, upperNs = 300000000000L,
          binNs = 600000000000L)
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_errors"),
          (sum(round(col("e_value"), 4).cast("decimal(18,4)")) * 10000)
            .cast("long").as("err_value_e4"))
    }, oracle =
      """WITH p AS (
        |  SELECT event_id AS p_id, epoch_ns(ts) AS p_ts FROM events
        |  WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT epoch_ns(ts) AS e_ts, value AS e_value FROM events
        |  WHERE event_type = 'error')
        |SELECT p_id, count(*) AS n_errors,
        |  CAST(sum(CAST(round(e_value, 4) AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS err_value_e4
        |FROM p JOIN e
        |  ON e_ts BETWEEN p_ts - 300000000000 AND p_ts + 300000000000
        |GROUP BY p_id""".stripMargin),
    QuerySpec("events_sessions_30min", { (s, dir) => Relational.eventsSessions(s, dir) }, oracle =
      """WITH marked AS (
        |  SELECT user_id, event_id, value,
        |    epoch_ns(ts) // 1000000000 AS tsec,
        |    CASE WHEN lag(epoch_ns(ts) // 1000000000) OVER w IS NULL THEN 1
        |         WHEN epoch_ns(ts) // 1000000000
        |              - lag(epoch_ns(ts) // 1000000000) OVER w > 1800 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000, event_id)),
        |sessioned AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY tsec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM marked)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  min(tsec) AS session_start, max(tsec) AS session_end,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS session_value_e4
        |FROM sessioned GROUP BY user_id, session_seq""".stripMargin),
    // STREAMING declared query: the identical tumbling aggregation run
    // as a real micro-batch streaming plan (file source, watermark,
    // stateful agg, Trigger.AvailableNow, memory sink) — shares
    // events_tumbling_5min's exact oracle, so streaming execution gets a
    // driver CORRECTNESS row instead of spec-only coverage.
    QuerySpec("events_tumbling_5min_stream", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      // stable sink name: repeated invocations in one session REPLACE
      // the memory table (a per-call unique name would pin every past
      // result set on the driver for the session lifetime)
      EventStream.runToCompletion(
          EventStream.tumbling(events), "tumbling_stream_out")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("event_type"), col("n_events"), col("total_value_e4"))
    }, oracle =
      // streaming twin computes the identical aggregation -> same oracle
      tumbling5minOracleSql),
    // Stream-STATIC broadcast join executed as a real micro-batch plan:
    // the event stream enriched per batch against the broadcast
    // customer→segment dim (no join state), then a watermarked tumbling
    // window per segment. Oracle is the equivalent batch join+group.
    QuerySpec("events_stream_static_join", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("user_id"), col("value"))
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      EventStream.runToCompletion(
          EventStream.staticEnriched(events, dim), "static_join_out")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("segment"), col("n_events"), col("total_value_e4"))
    }, oracle =
      """SELECT (epoch_ns(ts) // 1000000000) // 300 * 300 AS window_start,
        |  c_mktsegment AS segment, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS total_value_e4
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin),
    // STREAMING exact dedup as a real micro-batch plan:
    // dropDuplicatesWithinWatermark on (user_id, event_type) — bounded
    // state, the at-least-once-replay guard. Downstream counts distinct
    // event types per user, so the result is insensitive to which
    // duplicate the stream saw first (oracle: batch count DISTINCT).
    QuerySpec("events_stream_dedup", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("user_id"), col("event_type"))
      EventStream.runToCompletion(
          EventStream.dedupWithinWatermark(events,
            Seq("user_id", "event_type")), "stream_dedup_out",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"))
    }, oracle =
      // Insensitive to stream arrival order by construction: count of
      // DISTINCT event types per user.
      """SELECT user_id,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY 1""".stripMargin),
    // Stream-stream interval join executed as a real micro-batch plan:
    // purchases x same-user clicks in the prior 30 minutes, watermarks
    // on both sides bounding the buffered state to the lookback
    // horizon. Append-mode memory sink; oracle is the equivalent batch
    // range join in DuckDB.
    QuerySpec("events_stream_interval_join", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      EventStream.runToCompletion(
          EventStream.purchaseClickJoin(events), "stream_join_out",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us"),
          unix_micros(col("c_ts")).as("c_ts_us"),
          col("click_value_e4"))
    }, oracle =
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS t_us, value
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, t_us AS p_ts_us
        |      FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, t_us AS c_ts_us,
        |        CAST(CAST(round(value, 4) AS DECIMAL(18,4)) * 10000
        |          AS BIGINT) AS click_value_e4
        |      FROM ev WHERE event_type = 'click')
        |SELECT purchase_id, p.user_id, p_ts_us, c_ts_us, click_value_e4
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c_ts_us <= p_ts_us
        |  AND c_ts_us >= p_ts_us - 1800000000""".stripMargin),
    // LEFT-OUTER stream-stream interval join: purchases WITHOUT a
    // qualifying click emit too (null click columns) — but only after
    // the click watermark proves no match can still arrive, in the
    // trailing state-flush micro-batch. The no-match rows are the
    // interesting product signal (un-attributed conversions); the
    // oracle is the plain LEFT JOIN replay.
    QuerySpec("events_stream_interval_left", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      EventStream.runToCompletion(
          EventStream.purchaseClickJoin(events, joinType = "left_outer"),
          "stream_join_left_out",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us"),
          unix_micros(col("c_ts")).as("c_ts_us"),
          col("click_value_e4"))
    }, oracle =
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS t_us, value
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, t_us AS p_ts_us
        |      FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, t_us AS c_ts_us,
        |        CAST(CAST(round(value, 4) AS DECIMAL(18,4)) * 10000
        |          AS BIGINT) AS click_value_e4
        |      FROM ev WHERE event_type = 'click'),
        |m AS (SELECT ((least((SELECT max(p_ts_us) FROM p),
        |          (SELECT max(c_ts_us) FROM c)) // 1000)
        |        - 3600000) * 1000 AS wm)
        |SELECT purchase_id, p.user_id, p_ts_us, c_ts_us, click_value_e4
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c_ts_us <= p_ts_us
        |  AND c_ts_us >= p_ts_us - 1800000000, m
        |WHERE c_ts_us IS NOT NULL OR p_ts_us < wm""".stripMargin),
    // Reference-exact TFDS positional split semantics (`train[:90%]`
    // slices contiguously by POSITION): first 90% of documents in
    // doc_id order — the hash-bucket Splits.slice twin stays the default
    // for stable membership splits.
    QuerySpec("split_positional_documents", { (s, dir) =>
      Splits.sliceByPosition(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        0, 90, col("doc_id"))
    }, oracle =
      // positional boundaries at floor(pct * n / 100), 0-based ranks
      """WITH ranked AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, lang, source FROM ranked
        |WHERE idx >= (0 * n) // 100 AND idx < (90 * n) // 100""".stripMargin),

    // ------------------------------------------------- multimodal columns
    // Binary payload frame-sampling (video-frame topology) — documents'
    // ASCII text stands in for the payload so the byte-addressed frame
    // slicing has an exact VARCHAR oracle.
    QuerySpec("multimodal_frames_documents", { (s, dir) =>
      val payload = col("text").cast("binary")
      val frames = Multimodal.sampleFrames(payload, frameSize = 64, stride = 4)
      Tables(s, dir, "documents").select(
        col("doc_id"),
        octet_length(payload).cast("long").as("n_bytes"),
        ceil(octet_length(payload).cast("double") / 64).cast("long").as("n_frames"),
        size(frames).cast("long").as("n_sampled"),
        md5(array_join(transform(frames, f => f.cast("string")), ""))
          .as("frames_digest"))
    }, oracle =
      // text is pure ASCII (verified strlen==length), so VARCHAR substr
      // mirrors byte-addressed binary substring exactly
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames,
        |  len(range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT), 4)) AS n_sampled,
        |  md5(array_to_string(list_transform(
        |    range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT), 4),
        |    i -> substr(text, CAST(i * 64 + 1 AS BIGINT), 64)), '')) AS frames_digest
        |FROM documents""".stripMargin),
    // PERCEPTUAL-HASH near-dup over media payloads: decode lane
    // energies (batch-shaped stub decoder) -> 64-bit block-energy
    // pHash -> Hamming<=6 pairs via the SimHash segment-pigeonhole
    // join (exact recall, linear topology — reused via the pluggable
    // hashFn). Near-dups by construction: 20 payloads get a 3-byte
    // append twin; the pair set replays exactly in SQL.
    QuerySpec("multimodal_phash_neardup", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val variants = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          concat(col("text"), lit(" xx")).as("text"))
      val all = docs.select(col("doc_id"), col("text"))
        .unionByName(variants)
      val hashed = Multimodal.phash64(
        Multimodal.syntheticMedia(all, col("doc_id"), col("text")))
      Dedup.simhashPairs(hashed, col("ph"), col("media_id"),
        maxHamming = 6, hashFn = c => c)
    }, oracle =
      // pHash replay: 64 lane byte-sums per (possibly twinned) payload,
      // bit j set iff lane*64 >= total (sum of disjoint bit values ==
      // the OR pattern; only the j=63 term is negative, so the
      // arithmetic sum stays in BIGINT range), then ALL-pairs Hamming —
      // a different algorithm than the pigeonhole join, same exact set
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' xx'
        |  FROM documents WHERE doc_id < 20),
        |lanes AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(range(0, 64), j ->
        |      CAST(coalesce(list_sum(list_transform(
        |        range(1 + j, strlen(text) + 1, 64),
        |        i -> ord(substr(text, CAST(i AS BIGINT), 1)))), 0)
        |        AS BIGINT)) AS ls
        |  FROM src),
        |ph AS (
        |  SELECT media_id,
        |    CAST(list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN ls[CAST(j + 1 AS BIGINT)] * 64 >= list_sum(ls)
        |           THEN CASE WHEN j = 63 THEN -9223372036854775808
        |                ELSE (1::BIGINT << CAST(j AS INT)) END
        |           ELSE 0 END))
        |      AS BIGINT) AS h
        |  FROM lanes)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.h, b.h)) <= 6""".stripMargin),
    // Batch-shaped feature extraction over opaque media payloads (the
    // decode itself is a deterministic stub). The declared row emits
    // scalar columns only — the driver's checker sorts rows by every
    // column and cannot hash array cells — digesting the exact integer
    // lane sums, which carry a full DuckDB oracle; the float `features`
    // view stays in the library API (pinned in MultimodalSpec).
    QuerySpec("multimodal_decode_features", { (s, dir) =>
      val media = Multimodal.syntheticMedia(
        Tables(s, dir, "documents"), col("doc_id"), col("text"))
      Multimodal.decodeFeatures(media.repartition(8), dim = 8).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          md5(concat_ws(",",
            transform(col("lane_sums"), v => v.cast("string"))))
            .as("lane_digest"))
    }, oracle =
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  strlen(text) AS n_bytes,
        |  md5(array_to_string(list_transform(range(0, 8), j ->
        |    CAST(coalesce(list_sum(list_transform(
        |      range(1 + j, strlen(text) + 1, 8),
        |      i -> ord(substr(text, CAST(i AS BIGINT), 1)))), 0) AS BIGINT)),
        |    ',')) AS lane_digest
        |FROM documents""".stripMargin),
    // REAL image decode: valid binary PGM (P5) payloads — ASCII
    // header + md5-derived 8x8 raster, built with engine-replayable
    // bytes — parsed by an actual netpbm decoder (dimensions/maxval
    // from the HEADER, pixel stats from the RASTER; malformed bytes
    // fail loudly). No media library needed for uncompressed formats;
    // the oracle recomputes the same pixel bytes hex-wise.
    QuerySpec("multimodal_decode_pgm", { (s, dir) =>
      val px = concat((0 until 4).map(i =>
        unhex(md5(concat(lit(s"px$i:"),
          col("doc_id").cast("string"))))): _*)
      val payload = concat(lit("P5 8 8 255\n").cast("binary"), px)
      Multimodal.decodePgm(
        Tables(s, dir, "documents")
          .select(col("doc_id"), payload.as("payload")),
        col("doc_id"), col("payload")).toDF()
    }, oracle =
      // lane j (0-based, dim=8) sums bytes at 1-based positions j+1, j+9, …
      // — exact integers, so the digest is engine-independent (text is
      // pure ASCII: ord(char) == payload byte)
      """WITH px AS (
        |  SELECT doc_id,
        |    unhex(md5('px0:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('px1:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('px2:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('px3:' || CAST(doc_id AS VARCHAR))) AS p
        |  FROM documents),
        |b AS (SELECT doc_id,
        |        [('0x' || substr(hex(p), i*2+1, 2))::BIGINT
        |         FOR i IN range(0, 64)] AS v
        |      FROM px)
        |SELECT doc_id AS media_id, 'pgm' AS format,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(255 AS INT) AS maxval, CAST(64 AS BIGINT) AS n_pixels,
        |  CAST(list_sum(v) AS BIGINT) AS pixel_sum,
        |  CAST(list_min(v) AS INT) AS pixel_min,
        |  CAST(list_max(v) AS INT) AS pixel_max
        |FROM b""".stripMargin),
    // REAL audio decode: valid RIFF/WAVE payloads (44-byte canonical
    // header + 32 md5-derived PCM16 LE samples) walked by an actual
    // chunk parser — channels/rate/bits from `fmt `, exact integer
    // sample stats from `data`.
    QuerySpec("multimodal_decode_wav", { (s, dir) =>
      val hdr: Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(44)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(100)
        bb.put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
        bb.putShort(1); bb.putShort(1); bb.putInt(16000)
        bb.putInt(32000); bb.putShort(2); bb.putShort(16)
        bb.put("data".getBytes("US-ASCII")); bb.putInt(64)
        bb.array()
      }
      val pcm = concat((0 until 4).map(i =>
        unhex(md5(concat(lit(s"au$i:"),
          col("doc_id").cast("string"))))): _*)
      Multimodal.decodeWav(
        Tables(s, dir, "documents")
          .select(col("doc_id"), concat(lit(hdr), pcm).as("payload")),
        col("doc_id"), col("payload")).toDF()
    }, oracle =
      """WITH px AS (
        |  SELECT doc_id,
        |    unhex(md5('au0:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('au1:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('au2:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('au3:' || CAST(doc_id AS VARCHAR))) AS p
        |  FROM documents),
        |b AS (SELECT doc_id,
        |        [('0x' || substr(hex(p), i*2+1, 2))::BIGINT
        |         FOR i IN range(0, 64)] AS v
        |      FROM px),
        |sm AS (SELECT doc_id,
        |         [v[2*i+1] + 256 * v[2*i+2]
        |          - CASE WHEN v[2*i+2] >= 128 THEN 65536 ELSE 0 END
        |          FOR i IN range(0, 32)] AS s
        |       FROM b)
        |SELECT doc_id AS media_id, 'wav' AS format,
        |  CAST(1 AS INT) AS n_channels, CAST(16000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits, CAST(32 AS BIGINT) AS n_samples,
        |  CAST(list_sum(s) AS BIGINT) AS sample_sum,
        |  CAST(list_min(s) AS INT) AS sample_min,
        |  CAST(list_max(s) AS INT) AS sample_max
        |FROM sm""".stripMargin),
    // REAL COMPRESSED image decode: md5-derived 8x8 rasters are encoded
    // as actual PNGs (zlib DEFLATE via the JDK, scanline filters
    // rotating through all 5 types) and decoded by the full parser —
    // CRC-verified chunk walk, inflate (adler checked), 5-branch
    // defilter. Dimensions come from IHDR, stats from the RECONSTRUCTED
    // raster; the oracle replays the same pixel bytes hex-wise, so any
    // filter/inflate bug breaks the hash.
    QuerySpec("multimodal_decode_png", { (s, dir) =>
      val px = concat((0 until 4).map(i =>
        unhex(md5(concat(lit(s"pg$i:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Png.encodeColumn(
        Tables(s, dir, "documents").select(col("doc_id"), px.as("px")),
        col("doc_id"), col("px"), w = 8, h = 8)
      Png.decodeColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle =
      // png replay: the oracle never parses the container — it recomputes
      // the md5-derived RASTER bytes and their stats; the Spark side must
      // reconstruct the identical raster through deflate+filter+defilter
      """WITH px AS (
        |  SELECT doc_id,
        |    unhex(md5('pg0:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg1:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg2:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg3:' || CAST(doc_id AS VARCHAR))) AS p
        |  FROM documents),
        |b AS (SELECT doc_id,
        |        [('0x' || substr(hex(p), i*2+1, 2))::BIGINT
        |         FOR i IN range(0, 64)] AS v
        |      FROM px)
        |SELECT doc_id AS media_id, 'png' AS format,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(255 AS INT) AS maxval, CAST(64 AS BIGINT) AS n_pixels,
        |  CAST(list_sum(v) AS BIGINT) AS pixel_sum,
        |  CAST(list_min(v) AS INT) AS pixel_min,
        |  CAST(list_max(v) AS INT) AS pixel_max
        |FROM b""".stripMargin),
    // Truecolor PNG decode: the same chunk/inflate/defilter machinery
    // with bpp = 3 (the left filter neighbor sits 3 bytes back — the
    // channel-aware arithmetic the gray path never exercises); exact
    // per-channel integer sums replay from the md5 raster bytes.
    QuerySpec("multimodal_decode_png_rgb", { (s, dir) =>
      val px = concat((0 until 12).map(i =>
        unhex(md5(concat(lit(s"pc$i:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Png.encodeRgbColumn(
        Tables(s, dir, "documents").select(col("doc_id"), px.as("px")),
        col("doc_id"), col("px"), w = 8, h = 8)
      Png.decodeRgbColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle = {
      // NOTE: the concat operator must END each line — a continuation
      // line starting with whitespace + '||' loses a bar to the outer
      // stripMargin (the documented pitfall)
      val digests = (0 until 12).map(i =>
        s"unhex(md5('pc$i:' || CAST(doc_id AS VARCHAR)))")
        .mkString(" ||\n")
      s"""WITH px AS (
         |  SELECT doc_id, $digests AS p
         |  FROM documents),
         |b AS (SELECT doc_id,
         |        [('0x' || substr(hex(p), i*2+1, 2))::BIGINT
         |         FOR i IN range(0, 192)] AS v
         |      FROM px)
         |SELECT doc_id AS media_id,
         |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
         |  CAST(64 AS BIGINT) AS n_pixels,
         |  CAST(list_sum([v[3*i + 1] FOR i IN range(0, 64)]) AS BIGINT)
         |    AS r_sum,
         |  CAST(list_sum([v[3*i + 2] FOR i IN range(0, 64)]) AS BIGINT)
         |    AS g_sum,
         |  CAST(list_sum([v[3*i + 3] FOR i IN range(0, 64)]) AS BIGINT)
         |    AS b_sum
         |FROM b""".stripMargin
    }),
    // The compressed path through the LaneCodec boundary: PNG payloads
    // -> Png.PngLanes inside decodeFeatures — lane sums over DECODED
    // pixels, exact. (n_bytes is excluded: compressed size depends on
    // the deflate implementation and is not engine-replayable.)
    QuerySpec("multimodal_png_features", { (s, dir) =>
      import s.implicits._
      val px = concat((0 until 4).map(i =>
        unhex(md5(concat(lit(s"pg$i:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Png.encodeColumn(
        Tables(s, dir, "documents").select(col("doc_id"), px.as("px")),
        col("doc_id"), col("px"), w = 8, h = 8)
      val media = enc.select(col("media_id"), lit("image").as("kind"),
        col("payload"), lit(8).as("width"), lit(8).as("height"),
        lit("png").as("format")).as[Multimodal.Media]
      Multimodal.decodeFeatures(media.repartition(8), dim = 8,
          codec = Png.PngLanes).toDF()
        .select(col("media_id"), col("kind"),
          md5(concat_ws(",",
            transform(col("lane_sums"), v => v.cast("string"))))
            .as("lane_digest"))
    }, oracle =
      """WITH px AS (
        |  SELECT doc_id,
        |    unhex(md5('pg0:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg1:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg2:' || CAST(doc_id AS VARCHAR)))
        |    || unhex(md5('pg3:' || CAST(doc_id AS VARCHAR))) AS p
        |  FROM documents),
        |b AS (SELECT doc_id,
        |        [('0x' || substr(hex(p), i*2+1, 2))::BIGINT
        |         FOR i IN range(0, 64)] AS v
        |      FROM px)
        |SELECT doc_id AS media_id, 'image' AS kind,
        |  md5(array_to_string(list_transform(range(0, 8), j ->
        |    CAST(list_sum(list_transform(range(0, 8),
        |      k -> v[k*8 + j + 1])) AS BIGINT)), ',')) AS lane_digest
        |FROM b""".stripMargin),
    // Baseline-DCT JPEG, the compressed format PNG couldn't stand in
    // for: md5-derived QUANTIZED COEFFICIENTS (the deterministic side
    // of a lossy codec) are huffman-encoded into a real JPEG stream
    // (DQT/DHT/SOF0/SOS, byte stuffing, DC prediction, RLE/EOB/ZRL)
    // and the full decoder — canonical huffman per Annex C/F, dequant,
    // pinned fixed-point IDCT — must recover them bit-exactly; the
    // oracle replays coefficients->pixels with the SAME integer tables
    // interpolated as literals. 16x16 = 4 blocks, so DC prediction
    // chains across blocks.
    QuerySpec("multimodal_decode_jpeg", { (s, dir) =>
      val blob = concat((for (b <- 0 until 4; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"jg${b}x$k:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Jpeg.encodeGrayColumn(
        Tables(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
        col("doc_id"), col("blob"), w = 16, h = 16)
      Jpeg.decodeColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle =
      // jpeg replay: coefficients -> pinned integer IDCT -> pixel stats;
      // the container (huffman/markers) is the Spark side's burden
      (jpegCoefPipeline("jg", 4) + "\n" +
        """SELECT doc_id AS media_id, 'jpeg' AS format,
          |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
          |  CAST(255 AS INT) AS maxval, CAST(256 AS BIGINT) AS n_pixels,
          |  CAST(sum(CAST(list_sum(px) AS BIGINT)) AS BIGINT) AS pixel_sum,
          |  CAST(min(list_min(px)) AS INT) AS pixel_min,
          |  CAST(max(list_max(px)) AS INT) AS pixel_max
          |FROM px GROUP BY doc_id""".stripMargin)),
    // Color twin: 16x8 4:4:4 YCbCr (2 MCUs, interleaved Y/Cb/Cr blocks,
    // per-component DC predictors, separate chroma quant table) with
    // the pinned Q16 integer YCbCr->RGB as part of the decode contract.
    QuerySpec("multimodal_decode_jpeg_rgb", { (s, dir) =>
      val blob = concat((for (b <- 0 until 6; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"jc${b}x$k:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Jpeg.encodeYccColumn(
        Tables(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
        col("doc_id"), col("blob"), w = 16, h = 8)
      Jpeg.decodeRgbColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle =
      (jpegCoefPipeline("jc", 6,
        "(CASE WHEN b % 3 = 0 THEN qt0[n + 1] ELSE qt1[n + 1] END)") + ",\n" +
        """y AS (SELECT doc_id, b // 3 AS m, px AS py FROM px WHERE b % 3 = 0),
          |cbt AS (SELECT doc_id, b // 3 AS m, px AS pcb FROM px WHERE b % 3 = 1),
          |crt AS (SELECT doc_id, b // 3 AS m, px AS pcr FROM px WHERE b % 3 = 2),
          |rgb AS (
          |  SELECT y.doc_id AS doc_id,
          |    list_transform(range(0, 64), i -> least(greatest(py[i + 1] +
          |      (91881 * (pcr[i + 1] - 128) + 32768) // 65536, 0), 255)) AS rl,
          |    list_transform(range(0, 64), i -> least(greatest(py[i + 1] -
          |      (22554 * (pcb[i + 1] - 128) + 46802 * (pcr[i + 1] - 128)
          |       + 32768) // 65536, 0), 255)) AS gl,
          |    list_transform(range(0, 64), i -> least(greatest(py[i + 1] +
          |      (116130 * (pcb[i + 1] - 128) + 32768) // 65536, 0), 255)) AS bl
          |  FROM y
          |  JOIN cbt ON y.doc_id = cbt.doc_id AND y.m = cbt.m
          |  JOIN crt ON y.doc_id = crt.doc_id AND y.m = crt.m)
          |SELECT doc_id AS media_id,
          |  CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
          |  CAST(128 AS BIGINT) AS n_pixels,
          |  CAST(sum(CAST(list_sum(rl) AS BIGINT)) AS BIGINT) AS r_sum,
          |  CAST(sum(CAST(list_sum(gl) AS BIGINT)) AS BIGINT) AS g_sum,
          |  CAST(sum(CAST(list_sum(bl) AS BIGINT)) AS BIGINT) AS b_sum
          |FROM rgb GROUP BY doc_id""".stripMargin)),
    // DRI/RSTn restart intervals (what camera JPEGs ship for error
    // resilience): 24x16 gray = 6 MCUs, interval 2 -> byte-aligned
    // RST0/RST1 markers inside the entropy stream, DC predictor RESET
    // per interval. The oracle is the plain coefficient replay — the
    // restart machinery is pure container; getting any of it wrong
    // (marker sequence, bit re-alignment, predictor reset) breaks the
    // recovered coefficients and the hash.
    QuerySpec("multimodal_decode_jpeg_rst", { (s, dir) =>
      val blob = concat((for (b <- 0 until 6; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"jr${b}x$k:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Jpeg.encodeGrayColumn(
        Tables(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
        col("doc_id"), col("blob"), w = 24, h = 16, restartInterval = 2)
      Jpeg.decodeColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle =
      // restart replay: identical coefficient pipeline (the restart
      // machinery is container-only); 6 blocks, 24x16
      (jpegCoefPipeline("jr", 6) + "\n" +
        """SELECT doc_id AS media_id, 'jpeg' AS format,
          |  CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
          |  CAST(255 AS INT) AS maxval, CAST(384 AS BIGINT) AS n_pixels,
          |  CAST(sum(CAST(list_sum(px) AS BIGINT)) AS BIGINT) AS pixel_sum,
          |  CAST(min(list_min(px)) AS INT) AS pixel_min,
          |  CAST(max(list_max(px)) AS INT) AS pixel_max
          |FROM px GROUP BY doc_id""".stripMargin)),
    // 4:2:0 — the sampling real-world JPEGs actually ship: MCU =
    // 16x16 = [Y00 Y01 Y10 Y11 Cb Cr] (luma 2x2, chroma 1x1), luma DC
    // prediction chaining WITHIN the MCU, pinned replicate chroma
    // upsampling as part of the decode contract. Exact per-channel
    // integer sums, same coefficient-replay oracle family.
    QuerySpec("multimodal_decode_jpeg_420", { (s, dir) =>
      val blob = concat((for (b <- 0 until 6; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"j4${b}x$k:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Jpeg.encodeYcc420Column(
        Tables(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
        col("doc_id"), col("blob"), w = 16, h = 16)
      Jpeg.decodeRgbColumn(enc, col("media_id"), col("payload")).toDF()
    }, oracle = {
      // 4:2:0 replay: the 6 per-MCU block rasters pivot into one
      // list-of-lists row per doc (ll[1..4] = Y quadrants, ll[5]/ll[6] =
      // Cb/Cr); pixel (py, px) reads Y from quadrant (py//8)*2 + px//8
      // and chroma from (py//2, px//2) — the pinned replicate upsample —
      // then the same Q16 conversion
      val yAt = "ll[(i // 16 // 8) * 2 + (i % 16 // 8) + 1]" +
        "[(i // 16 % 8) * 8 + i % 16 % 8 + 1]"
      val cbAt = "ll[5][(i // 16 // 2) * 8 + (i % 16 // 2) + 1]"
      val crAt = "ll[6][(i // 16 // 2) * 8 + (i % 16 // 2) + 1]"
      jpegCoefPipeline("j4", 6,
        "(CASE WHEN b < 4 THEN qt0[n + 1] ELSE qt1[n + 1] END)") + ",\n" +
        s"""piv AS (SELECT doc_id, list(px ORDER BY b) AS ll
           |        FROM px GROUP BY doc_id),
           |rgb AS (
           |  SELECT doc_id,
           |    list_transform(range(0, 256), i -> least(greatest($yAt +
           |      (91881 * ($crAt - 128) + 32768) // 65536, 0), 255)) AS rl,
           |    list_transform(range(0, 256), i -> least(greatest($yAt -
           |      (22554 * ($cbAt - 128) + 46802 * ($crAt - 128)
           |       + 32768) // 65536, 0), 255)) AS gl,
           |    list_transform(range(0, 256), i -> least(greatest($yAt +
           |      (116130 * ($cbAt - 128) + 32768) // 65536, 0), 255)) AS bl
           |  FROM piv)
           |SELECT doc_id AS media_id,
           |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           |  CAST(256 AS BIGINT) AS n_pixels,
           |  CAST(CAST(list_sum(rl) AS BIGINT) AS BIGINT) AS r_sum,
           |  CAST(CAST(list_sum(gl) AS BIGINT) AS BIGINT) AS g_sum,
           |  CAST(CAST(list_sum(bl) AS BIGINT) AS BIGINT) AS b_sum
           |FROM rgb""".stripMargin
    }),
    // JPEG through the LaneCodec boundary: Jpeg.JpegLanes inside
    // decodeFeatures — lane sums over DECODED pixels, exact (the PNG
    // twin's contract, now for the second compressed format).
    QuerySpec("multimodal_jpeg_features", { (s, dir) =>
      import s.implicits._
      val blob = concat((for (b <- 0 until 4; k <- 0 until 4) yield
        unhex(md5(concat(lit(s"jg${b}x$k:"),
          col("doc_id").cast("string"))))): _*)
      val enc = Jpeg.encodeGrayColumn(
        Tables(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
        col("doc_id"), col("blob"), w = 16, h = 16)
      val media = enc.select(col("media_id"), lit("image").as("kind"),
        col("payload"), lit(16).as("width"), lit(16).as("height"),
        lit("jpeg").as("format")).as[Multimodal.Media]
      Multimodal.decodeFeatures(media.repartition(8), dim = 8,
          codec = Jpeg.JpegLanes).toDF()
        .select(col("media_id"), col("kind"),
          md5(concat_ws(",",
            transform(col("lane_sums"), v => v.cast("string"))))
            .as("lane_digest"))
    }, oracle =
      // lane j of a 16-wide raster with dim 8 is column j of each block:
      // raster_idx % 8 = x-in-block whenever width % 8 = 0
      (jpegCoefPipeline("jg", 4) + ",\n" +
        """lanes AS (
          |  SELECT doc_id, b, list_transform(range(0, 8), j ->
          |    CAST(list_sum(list_transform(range(0, 8), y -> px[y * 8 + j + 1]))
          |      AS BIGINT)) AS l
          |  FROM px),
          |lx AS (
          |  SELECT doc_id,
          |    unnest([{'j': j, 'v': l[j + 1]} FOR j IN range(0, 8)]) AS u
          |  FROM lanes),
          |g AS (
          |  SELECT doc_id, u.j AS j, CAST(sum(u.v) AS BIGINT) AS s
          |  FROM lx GROUP BY doc_id, u.j)
          |SELECT doc_id AS media_id, 'image' AS kind,
          |  md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY j)) AS lane_digest
          |FROM g GROUP BY doc_id""".stripMargin)),
    // §2.6 consumer pipeline: per-group tokenize -> concat -> fixed
    // 128-token blocks (the reference's training-data chunking).
    QuerySpec("group_chunked_blocks", { (s, dir) =>
      GroupConsumer.chunkedBlocks(
        Tables(s, dir, "documents"), Grouper.byColumn("lang"),
        col("text"), col("doc_id"), blockSize = 128)
    }, oracle =
      s"""WITH toks AS (
        |  SELECT lang, doc_id,
        |    $textTokens AS t
        |  FROM documents),
        |pos AS (
        |  SELECT lang, doc_id, unnest([{'i': i, 'tok': t[i]}
        |    FOR i IN range(1, len(t) + 1)]) AS u
        |  FROM toks),
        |seqd AS (
        |  SELECT lang AS group_id, u.tok AS tok,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id, u.i) AS seq
        |  FROM pos)
        |SELECT group_id, (seq - 1) // 128 AS block_idx,
        |  count(*) AS n_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY seq)) AS block_digest
        |FROM seqd GROUP BY group_id, (seq - 1) // 128""".stripMargin),
    // Composed LLM-corpus cleaning pipeline: quality-filter, then keep
    // one document per distinct normalized text (min doc_id survivor),
    // emitting the quality and predicted language of each survivor —
    // the operators composing exactly as a user would chain them.
    // Plan shape: shuffle RAW rows (the one-task parquet scan must not
    // run the regex battery), score once post-exchange, barrier the
    // COMPUTED values behind a second cheap exchange (otherwise the
    // quality filter collapses onto the projection and re-evaluates
    // qualityScore — the repo's documented CollapseProject hazard), then
    // a single min_by aggregation picks each fingerprint's survivor with
    // no join-back at all.
    QuerySpec("corpus_clean_pipeline", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val t = col("text")
      // The quality gate lives INSIDE the aggregation, not in a
      // Filter: a post-projection `filter(quality >= 0.3)` gets pushed
      // by PushDownPredicates through both exchanges with the quality
      // expression INLINED into the predicate, so the whole regex/HOF
      // battery runs a second time in the (single-task) scan stage —
      // measured 99s vs ~3s at sf0.1. min_by skips rows whose ordering
      // value is NULL, so nulling the ordering key for low-quality rows
      // filters them exactly, and all-unqualified groups (w IS NULL)
      // drop post-agg. Battery evaluates ONCE, post-exchange, parallel.
      // The second repartition is NOT about parallelism: without an
      // exchange between the projection and the aggregate, alias
      // inlining rebuilds the full battery inside the agg expressions
      // (group key + struct + ordering key) and the optimizer+codegen
      // pass over those giant trees alone costs ~30s (measured; warm
      // run 1.7s). Behind the barrier the agg sees plain columns.
      val gate = col("quality") >= 0.3
      docs.select(col("doc_id"), t.as("text"))
        .repartition(col("doc_id"))
        .select(
          col("doc_id"),
          TextAnalysis.qualityScoreOf(TextAnalysis.profile(t)).as("quality"),
          TextAnalysis.langIdOf(TextAnalysis.profile(t)).as("lang_pred"),
          TextAnalysis.fingerprint(t).as("fp"))
        .repartition(col("doc_id"))
        .groupBy(col("fp"))
        .agg(min_by(
          struct(col("doc_id"), col("lang_pred"), col("quality")),
          when(gate, col("doc_id"))).as("w"))
        .filter(col("w").isNotNull)
        .select(col("w.doc_id").as("doc_id"),
          col("w.lang_pred").as("lang_pred"),
          col("w.quality").as("quality"))
    }, oracle = {
      import TextAnalysis.Sql._
      s"""WITH scored AS (
         |  SELECT doc_id, ${qualityScore("text")} AS quality,
         |    ${langId("text")} AS lang_pred,
         |    md5(${normalized("text")}) AS fp
         |  FROM documents
         |  WHERE ${qualityScore("text")} >= 0.3)
         |SELECT min(doc_id) AS doc_id,
         |  arg_min(lang_pred, doc_id) AS lang_pred,
         |  arg_min(quality, doc_id) AS quality
         |FROM scored GROUP BY fp""".stripMargin
    }),
    // Built-in session_window in BATCH mode (streaming parity operator,
    // distinct formulation from the gaps-and-islands query — both carry
    // oracles).
    QuerySpec("events_session_window_batch", { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(col("user_id"),
          timestamp_micros(expr("ts DIV 1000")).as("tse"), col("value"))
      e.groupBy(session_window(col("tse"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          Relational.exactValueSumE4.as("session_value_e4"))
        .select(
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("user_id"), col("n_events"), col("session_value_e4"))
    }, oracle = sessionsOracleSql),
    // STREAMING session windows driven to completion — the stateful
    // session-merge plan (not the batch rewrite) computing the same
    // result; shares events_session_window_batch's oracle.
    QuerySpec("events_session_window_stream", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      // stable sink name — see events_tumbling_5min_stream
      EventStream.runToCompletion(
          EventStream.sessions(events), "sessions_stream_out")
        .select(unix_timestamp(col("session_start")).as("session_start"),
          col("user_id"), col("n_events"), col("session_value_e4"))
    }, oracle =
      // streaming session_window twin computes the identical sessions
      sessionsOracleSql),
    // Exactly-once STREAMING FILE SINK: the events stream written to
    // parquet through a checkpointed micro-batch query (the
    // produce-training-shards-continuously topology), then read back
    // and aggregated — the read-back equals the batch result iff the
    // sink committed each batch exactly once. Oracle is the plain
    // batch aggregation.
    QuerySpec("events_stream_parquet_sink", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      // scratch (wiped per run): a reused checkpoint dir with a reused
      // sink dir would otherwise make AvailableNow a no-op on rerun
      val out = scratchDir("streamsink")
      val cp = scratchDir("streamsink-cp")
      val q = src.select(col("event_id"), col("user_id"),
          col("event_type"), expr("ts DIV 1000").as("t_us"), col("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Relational.exactValueSumE4.as("total_value_e4"))
    }, oracle =
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS total_value_e4
        |FROM events GROUP BY event_type""".stripMargin),
    // EXACTLY-ONCE foreachBatch upsert sink: the source is re-laid as 4
    // files streamed one per micro-batch, each batch MERGED into a
    // keyed snapshot table under a batchId commit marker — then the
    // WHOLE stream replays under a fresh checkpoint and every batch is
    // absorbed by its marker (idempotent). Output = the final table;
    // exact integer sums make it byte-identical however batched.
    QuerySpec("events_stream_upsert_totals", { (s, dir) =>
      val files = scratchDir("upsert-files")
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(files)
      val schema = s.read.parquet(files).schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(files)
      val table = scratchDir("upsert-table")
      EventStream.upsertTotalsRun(stream, table, scratchDir("upsert-cp1"))
      // full replay, fresh checkpoint: markers must absorb every batch
      EventStream.upsertTotalsRun(stream, table, scratchDir("upsert-cp2"))
      EventStream.latestSnapshot(s, table).get
    }, oracle =
      // upsert-table replay: the final merged snapshot equals the plain
      // per-user aggregate, however the stream was micro-batched
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS value_e4
        |FROM events GROUP BY user_id""".stripMargin),
    // Streaming TRENDING LEADERBOARD: the decay-totals twin maintained
    // incrementally through the exactly-once foreachBatch snapshot
    // protocol. Calendar half-life buckets make per-(key, bucket)
    // state batching-invariant (a sliding anchor is not additive), so
    // the 4-batch run + a full replay under a fresh checkpoint must
    // yield the same bit-exact board the one-shot SQL replay computes.
    QuerySpec("events_stream_decay_totals", { (s, dir) =>
      val h = 259200L * 1000000000L // 3-day half-life, as the batch twin
      val files = scratchDir("decay-files")
      Tables(s, dir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(files)
      val schema = s.read.parquet(files).schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(files)
      val table = scratchDir("decay-table")
      EventStream.decayTotalsRun(stream, table, scratchDir("decay-cp1"), h)
      // full replay, fresh checkpoint: markers must absorb every batch
      EventStream.decayTotalsRun(stream, table, scratchDir("decay-cp2"), h)
      EventStream.decayedLeaderboard(s, table)
    }, oracle =
      // streaming decay twin: calendar buckets (k = max_bucket - bucket,
      // bucket = ts // h) instead of the sliding anchor; snapshot state
      // replayed as one bucketed aggregation
      """WITH e AS (SELECT event_type AS key,
        |        epoch_ns(ts) // 259200000000000 AS b, value
        |      FROM events),
        |mx AS (SELECT max(b) AS maxb FROM e)
        |SELECT key, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)) *
        |    (CASE WHEN maxb - b >= 20 THEN 0
        |          ELSE 1000000 >> (maxb - b) END)) * 10000
        |    AS BIGINT) AS decayed_value_e10
        |FROM e, mx GROUP BY 1""".stripMargin),
    // Sessionization via ARBITRARY KEYED STATE (flatMapGroupsWithState,
    // streaming): the custom-state twin of events_session_window_* —
    // session merge/close logic in user code with one open session per
    // user in the state store. A time-shifted "__flush" copy of the
    // source is unioned in so every session closes before the bounded
    // stream ends (see EventStream.sessionsCustomState); shares the
    // batch session oracle.
    QuerySpec("events_sessions_custom_state", { (s, dir) =>
      val src = Tables.eventsStream(s, dir)
      val events = src.select(
        timestamp_micros(expr("ts DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val flush = events.select(
        (col("ts") + expr("INTERVAL 100 DAYS")).as("ts"),
        col("user_id"), lit("__flush").as("event_type"),
        lit(0.0).as("value"))
      EventStream.runToCompletion(
        EventStream.sessionsCustomState(events.unionByName(flush)),
        "sessions_custom_out",
        org.apache.spark.sql.streaming.OutputMode.Append())
    }, oracle =
      // custom-state sessionization computes the identical sessions as
      // the built-in session_window twins -> same oracle
      sessionsOracleSql),
    // Skew-resistant salted aggregation — identical semantics to
    // group_counts_lineitem (shares its oracle), two-phase topology.
    QuerySpec("group_counts_lineitem_salted", { (s, dir) =>
      GroupCounts.salted(Tables(s, dir, "lineitem"),
        Grouper.byColumn("l_returnflag"), saltBuckets = 8)
    }, oracle = lineitemCountsOracleSql),
    // Synthetic random partitioner (reference group_randomly) via the
    // deterministic md5-mod keying — md5 exists in both engines, so this
    // carries an exact oracle (the faster xxhash64 twin byHashMod stays
    // in the library API, spec-covered).
    QuerySpec("group_counts_hash_partition", { (s, dir) =>
      GroupCounts(Tables(s, dir, "lineitem"),
        Grouper.byMd5Mod(10, col("l_orderkey"), col("l_linenumber")))
    }, oracle =
      // bucket = first 8 md5 hex chars as unsigned int, mod 10 — exact in
      // both engines ('0x…'::BIGINT in DuckDB, conv(…,16,10) in Spark)
      s"""WITH keyed AS (
         |  SELECT *, 'group_' ||
         |    CAST(CAST(('0x' || substr(md5(l_orderkey || '|' || l_linenumber),
         |      1, 8)) AS BIGINT) % 10 AS VARCHAR) AS group_id
         |  FROM lineitem)
         |SELECT group_id,
         |  count(*) AS num_examples,
         |  CAST(sum(68 + strlen(l_returnflag) + strlen(l_linestatus)) AS BIGINT) AS num_bytes,
         |  CAST(sum(${duckWords("l_returnflag")} + ${duckWords("l_linestatus")}) AS BIGINT) AS num_words
         |FROM keyed GROUP BY group_id""".stripMargin),
    // Capped deterministic pack over the big fact table: payload built
    // only from integer/string fields so the oracle's string rendering
    // is byte-identical.
    QuerySpec("pack_capped_lineitem", { (s, dir) =>
      val payload = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"))
      val packed = Pack.packCappedDeterministic(
        Tables(s, dir, "lineitem"), Grouper.byColumn("l_returnflag"),
        payload, col("l_orderkey") * 10 + col("l_linenumber"),
        limit = 100000L)
      packed.select(col("group_id"), col("num_examples"), col("num_bytes"),
        md5(array_join(transform(col("examples"), b => b.cast("string")), ""))
          .as("digest"))
    }, oracle =
      """WITH rows_in AS (
        |  SELECT l_returnflag AS g,
        |    l_orderkey * 10 + l_linenumber AS tb,
        |    l_orderkey || '|' || l_linenumber || '|' || l_returnflag
        |      || '|' || l_linestatus AS payload
        |  FROM lineitem),
        |ranked AS (
        |  SELECT g, tb, payload, strlen(payload) AS len,
        |    sum(strlen(payload)) OVER (PARTITION BY g
        |      ORDER BY strlen(payload), tb, payload
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rows_in)
        |SELECT g AS group_id,
        |  count(*) FILTER (WHERE cum < 100000) AS num_examples,
        |  CAST(coalesce(sum(len) FILTER (WHERE cum < 100000), 0) AS BIGINT) AS num_bytes,
        |  md5(coalesce(string_agg(payload, '' ORDER BY len, tb, payload)
        |    FILTER (WHERE cum < 100000), '')) AS digest
        |FROM ranked GROUP BY g""".stripMargin)
  ))

  /** Lineitem group counts by return flag (shared by `group_counts_lineitem`
    * and its salted twin). */
  private lazy val lineitemCountsOracleSql: String =
    s"""SELECT l_returnflag AS group_id,
       |  count(*) AS num_examples,
       |  CAST(sum(68 + strlen(l_returnflag) + strlen(l_linestatus)) AS BIGINT) AS num_bytes,
       |  CAST(sum(${duckWords("l_returnflag")} + ${duckWords("l_linestatus")}) AS BIGINT) AS num_words
       |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Blocklist scan replay (shared by `text_blocklist_scan` and its dense
    * twin): positional overlap-inclusive recount per (doc, pattern) —
    * nested matches land naturally because every start offset is tested. */
  private lazy val blocklistScanOracleSql: String =
    graft.functions.AhoCorasick.Sql.query(
      Seq("query", "small query", "dup", "window", "in"))

  /** HLL distinct users per event type (shared by
    * `events_hll_distinct_users` and its stream twin). */
  private lazy val hllDistinctUsersOracleSql: String =
    graft.functions.Hll.Sql.query("events", "event_type",
      "user_id::VARCHAR", outName = "event_type")

  /** Sorted-export manifest replay (shared by `export_sorted_shards` and
    * `export_sorted_files`). Cuts are the exact interior octiles of
    * o_totalprice (DOUBLE in the testdata, so quantile_cont parity gives
    * identical cut doubles); shard = #cuts strictly below the key,
    * membership pinned by the commutative u32-md5 sum. */
  private lazy val sortedExportOracleSql: String =
    """WITH cuts AS (
      |  SELECT quantile_cont(o_totalprice,
      |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c
      |  FROM orders),
      |a AS (
      |  SELECT o_orderkey, o_totalprice,
      |    (CASE WHEN o_totalprice > c[1] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[2] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[3] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[4] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[5] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[6] THEN 1 ELSE 0 END) +
      |    (CASE WHEN o_totalprice > c[7] THEN 1 ELSE 0 END) AS shard
      |  FROM orders, cuts)
      |SELECT CAST(shard AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(o_totalprice) AS min_key, max(o_totalprice) AS max_key,
      |  CAST(sum(('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,8))::BIGINT)
      |    AS BIGINT) AS member_sum
      |FROM a GROUP BY 1""".stripMargin

  /** Dataset-card replay (shared by `dataset_card_documents` and its fused
    * twin): each section a small aggregate; near-dup pairs reuse the exact
    * pair CTEs; gopher pass rate reuses the full signal battery as a
    * subquery. */
  private lazy val datasetCardOracleSql: String =
    {
    val gq = graft.functions.Gopher.Sql.query
    s"""WITH $NgramPairsCtes
       |SELECT 'corpus' AS section, 'n_docs' AS metric,
       |  CAST(count(*) AS BIGINT) AS value FROM documents
       |UNION ALL
       |SELECT 'corpus', 'n_tokens',
       |  CAST(sum(${TextAnalysis.Sql.tokenCount("text")}) AS BIGINT)
       |FROM documents
       |UNION ALL
       |SELECT 'lang_share_ppm', lang,
       |  CAST(count(*) * 1000000 //
       |    (SELECT count(*) FROM documents) AS BIGINT)
       |FROM documents GROUP BY lang
       |UNION ALL
       |SELECT 'source_share_ppm', source,
       |  CAST(count(*) * 1000000 //
       |    (SELECT count(*) FROM documents) AS BIGINT)
       |FROM documents GROUP BY source
       |UNION ALL
       |SELECT 'dedup', 'exact_dup_docs',
       |  CAST(count(*) - count(DISTINCT
       |    ${TextAnalysis.Sql.fingerprint("text")}) AS BIGINT)
       |FROM documents
       |UNION ALL
       |SELECT 'dedup', 'neardup_pairs', CAST(count(*) AS BIGINT)
       |FROM pairs
       |UNION ALL
       |SELECT 'quality', 'gopher_pass_ppm',
       |  CAST(count(*) FILTER (WHERE gopher_pass) * 1000000 //
       |    (SELECT count(*) FROM documents) AS BIGINT)
       |FROM ($gq)""".stripMargin
  }

  /** Incremental dedup replay (shared by `dedup_incremental_documents` and
    * its bloom twin). */
  private lazy val incrementalDedupOracleSql: String =
    {
    import TextAnalysis.Sql.{fingerprint => fpr}
    s"""WITH delta AS (
       |  SELECT ${fpr("text")} AS fp, min(doc_id) AS id,
       |    count(*) AS n_delta_copies
       |  FROM documents WHERE doc_id % 10 >= 8 GROUP BY 1),
       |base AS (
       |  SELECT DISTINCT ${fpr("text")} AS fp
       |  FROM documents WHERE doc_id % 10 < 8)
       |SELECT d.fp, d.id, d.n_delta_copies FROM delta d
       |WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.fp = d.fp)""".stripMargin
  }

  /** Event sessions (30-minute gap) replay (shared by the session_window
    * batch and stream twins and the custom-state sessionizer).
    * Microsecond-granular gap logic: session membership must be decided at
    * the same precision Spark's session_window sees (micros), not floored
    * seconds — a 1799.7s gap is one session, 1800.0s is two. */
  private lazy val sessionsOracleSql: String =
    """WITH marked AS (
      |  SELECT user_id, value, event_id,
      |    epoch_ns(ts) // 1000 AS tus,
      |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL THEN 1
      |         WHEN epoch_ns(ts) // 1000
      |              - lag(epoch_ns(ts) // 1000) OVER w >= 1800000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)),
      |sessioned AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM marked)
      |SELECT CAST(min(tus) // 1000000 AS BIGINT) AS session_start,
      |  user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
      |    AS session_value_e4
      |FROM sessioned GROUP BY user_id, session_seq""".stripMargin

  /** Deterministic seed-vector IVF, recomputed step for step (shared by
    * `similarity_ivf_anchored` and `similarity_ivf_persisted`): cells =
    * first 16 ids normalized; cell rank = RAW-vector dot (desc, cell asc);
    * corpus assigned to rank-1 cell, queries probe rank<=4; candidates
    * scored on normalized vectors, ranked (score desc, id). */
  private lazy val ivfAnchoredOracleSql: String =
    s"""WITH ${unitVecsCte("v")},
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
       |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
       |cellrank AS (
       |  SELECT q.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_sum([CAST(q.embedding[i] AS DOUBLE) * c.e[i]
       |        FOR i IN range(1, len(c.e) + 1)]) DESC, c.cell) AS rnk
       |  FROM embeddings q CROSS JOIN cents c),
       |assigned AS (SELECT vec_id, cell FROM cellrank WHERE rnk = 1),
       |probes AS (SELECT vec_id, cell FROM cellrank
       |           WHERE rnk <= 4 AND vec_id < 10),
       |scored AS (
       |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    round(list_sum([qe.e[i] * ce.e[i]
       |      FOR i IN range(1, len(qe.e) + 1)]), 6) AS score
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
       |  JOIN v qe ON qe.vec_id = p.vec_id
       |  JOIN v ce ON ce.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, rank, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** Co-visitation lift replay (shared by `events_covisitation_lift` and its
    * stream twin): per-user ordered item streams, then the identical lift
    * chain. */
  private lazy val covisitationOracleSql: String =
    """WITH toks AS (
      |  SELECT list(json_extract_string(props, '$.k')
      |    ORDER BY epoch_ns(ts), event_id) AS t
      |  FROM events GROUP BY user_id),
      |uni AS (
      |  SELECT w AS token, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM uni),
      |pos AS (
      |  SELECT t, unnest(range(1, len(t))) AS i
      |  FROM toks WHERE len(t) >= 2),
      |pairs AS (
      |  SELECT t[i] AS tok_a, t[j] AS tok_b
      |  FROM (SELECT t, i,
      |          unnest(range(i + 1, least(i + 2, len(t)) + 1)) AS j
      |        FROM pos)),
      |pc AS (
      |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
      |scored AS (
      |  SELECT tok_a, tok_b, n_ab, a.n AS n_a, b.n AS n_b,
      |    CAST((CAST(n_ab AS HUGEINT) * grand * 1000000)
      |      // (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_e6
      |  FROM pc JOIN uni a ON pc.tok_a = a.token
      |          JOIN uni b ON pc.tok_b = b.token, tot)
      |SELECT CAST(row_number() OVER
      |    (ORDER BY lift_e6 DESC, tok_a, tok_b) AS INT) AS rank,
      |  tok_a, tok_b, n_ab, n_a, n_b, lift_e6
      |FROM scored
      |ORDER BY lift_e6 DESC, tok_a, tok_b
      |LIMIT 50""".stripMargin

  /** Cohort retention replay (shared by `events_retention_cohorts` and its
    * stream twin): first active day per user, day-granular distinct
    * activity, matrix counts. */
  private lazy val retentionCohortsOracleSql: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      |FROM d JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Five-minute tumbling windows per event type (shared by
    * `events_tumbling_5min` and its stream twin). */
  private lazy val tumbling5minOracleSql: String =
    """SELECT (epoch_ns(ts) // 1000000000) // 300 * 300 AS window_start,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000 AS BIGINT)
      |    AS total_value_e4
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Shared z-order manifest replay — `layout_zorder_lineitem` and its
    * pruned twin both derive from this one statement. */
  private lazy val zorderManifestSql: String = {
    val zExpr = (0 until 16).map(i =>
      s"((((a >> $i) & 1) << ${2 * i + 1}) | (((b >> $i) & 1) << ${2 * i}))")
      .mkString(" | ")
    s"""WITH z AS (
       |  SELECT l_partkey, l_suppkey, CAST($zExpr AS BIGINT) AS z
       |  FROM (SELECT l_partkey, l_suppkey, l_partkey % 65536 AS a,
       |          l_suppkey % 65536 AS b FROM lineitem)),
       |cuts AS (SELECT quantile_cont(z,
       |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c FROM z),
       |asg AS (
       |  SELECT l_partkey, l_suppkey, z,
       |    (CASE WHEN z > c[1] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[2] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[3] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[4] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[5] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[6] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[7] THEN 1 ELSE 0 END) AS fg
       |  FROM z, cuts)
       |SELECT CAST(fg AS INT) AS file_group,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(z) AS z_min, max(z) AS z_max,
       |  min(l_partkey) AS a_min, max(l_partkey) AS a_max,
       |  min(l_suppkey) AS b_min, max(l_suppkey) AS b_max
       |FROM asg GROUP BY 1""".stripMargin
  }

  /** The Hilbert xy->d state machine as one chained CTE per level
    * (rx/ry bound in a nested subquery, reflect+swap reading the
    * previous level's x/y); `carry` columns ride through every level. */
  private def hilbertChainSql(carry: String, bits: Int): String =
    ((bits - 1) to 0 by -1).zipWithIndex.map {
      case (i, k) =>
        val s = 1L << i
        val s2 = s * s
        val prev = s"h$k"
        val next = s"h${k + 1}"
        s"""$next AS (
           |  SELECT $carry,
           |    CASE WHEN ry = 0 THEN
           |      CASE WHEN rx = 1 THEN $s - 1 - y ELSE y END
           |    ELSE x END AS x,
           |    CASE WHEN ry = 0 THEN
           |      CASE WHEN rx = 1 THEN $s - 1 - x ELSE x END
           |    ELSE y END AS y,
           |    d + $s2 * xor(3 * rx, ry) AS d
           |  FROM (SELECT *,
           |          CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |          CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
           |        FROM $prev))""".stripMargin
    }.mkString(",\n")

  /** Hilbert-manifest replay: the level chain, then the same
    * exact-percentile cuts as the z-order oracle. */
  private lazy val hilbertManifestSql: String = {
    val bits = 16
    s"""WITH h0 AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(l_partkey % 65536 AS BIGINT) AS x,
       |    CAST(l_suppkey % 65536 AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |${hilbertChainSql("l_partkey, l_suppkey", bits)},
       |hv AS (SELECT l_partkey, l_suppkey, d AS h FROM h$bits),
       |cuts AS (SELECT quantile_cont(h,
       |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c FROM hv),
       |asg AS (
       |  SELECT l_partkey, l_suppkey, h,
       |    (CASE WHEN h > c[1] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[2] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[3] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[4] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[5] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[6] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[7] THEN 1 ELSE 0 END) AS fg
       |  FROM hv, cuts)
       |SELECT CAST(fg AS INT) AS file_group,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(h) AS h_min, max(h) AS h_max,
       |  min(l_partkey) AS a_min, max(l_partkey) AS a_max,
       |  min(l_suppkey) AS b_min, max(l_suppkey) AS b_max
       |FROM asg GROUP BY 1""".stripMargin
  }

  /** Hilbert incremental-maintenance replay: base cuts from the base
    * slice's realized h maxima, delta rows assigned by cut-exceed
    * count — the z-order incremental oracle on the Hilbert key. */
  private lazy val hilbertIncrementalSql: String = {
    val bits = 16
    s"""WITH h0 AS (
       |  SELECT l_orderkey,
       |    CAST(l_partkey % 65536 AS BIGINT) AS x,
       |    CAST(l_suppkey % 65536 AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |${hilbertChainSql("l_orderkey", bits)},
       |hv AS (SELECT l_orderkey, d AS h FROM h$bits),
       |bz AS (SELECT h FROM hv WHERE l_orderkey % 10 < 8),
       |dz AS (SELECT h FROM hv WHERE l_orderkey % 10 >= 8),
       |cuts AS (SELECT quantile_cont(h,
       |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c FROM bz),
       |basg AS (
       |  SELECT h,
       |    (CASE WHEN h > c[1] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[2] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[3] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[4] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[5] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[6] THEN 1 ELSE 0 END) +
       |    (CASE WHEN h > c[7] THEN 1 ELSE 0 END) AS fg
       |  FROM bz, cuts),
       |bman AS (SELECT fg, CAST(count(*) AS BIGINT) AS n_base,
       |           max(h) AS hmax
       |         FROM basg GROUP BY 1),
       |mx AS (SELECT list(hmax ORDER BY fg) AS ms
       |       FROM bman WHERE fg < (SELECT max(fg) FROM bman)),
       |dasg AS (SELECT CAST(len(list_filter(ms, m -> h > m)) AS INT)
       |           AS fg
       |         FROM dz, mx),
       |dcnt AS (SELECT fg, CAST(count(*) AS BIGINT) AS n_delta
       |         FROM dasg GROUP BY 1)
       |SELECT CAST(b.fg AS INT) AS file_group, b.n_base,
       |  coalesce(d.n_delta, 0) AS n_delta,
       |  (coalesce(d.n_delta, 0) * 1000000)
       |    // (b.n_base + coalesce(d.n_delta, 0)) AS delta_ppm,
       |  ((coalesce(d.n_delta, 0) * 1000000)
       |    // (b.n_base + coalesce(d.n_delta, 0))) >= 200000
       |    AS needs_rewrite
       |FROM bman b LEFT JOIN dcnt d USING (fg)""".stripMargin
  }

  /** The unrolled MMR greedy steps 2..k (shared by `rag_mmr_rerank`
    * and the PQ-candidate composition `similarity_pq_mmr`) — each step
    * an argmax of rel − max-sim-to-selected over CTEs named `cand`
    * (query_id, neighbor_id, rel_e6), `ps` (candidate-pair sims) and
    * the running prefix `p{t-1}`. */
  private def mmrStepsSql(k: Int): String =
    (2 to k).map { t =>
      s"""s$t AS (
         |  SELECT query_id, $t AS mmr_rank, neighbor_id, rel_e6 FROM (
         |    SELECT r.query_id, r.neighbor_id, r.rel_e6,
         |      row_number() OVER (PARTITION BY r.query_id
         |        ORDER BY r.rel_e6 - coalesce(m.ms, 0) DESC,
         |          r.neighbor_id) AS rn
         |    FROM cand r
         |    LEFT JOIN p${t - 1} pv ON pv.query_id = r.query_id
         |      AND pv.neighbor_id = r.neighbor_id
         |    LEFT JOIN (
         |      SELECT p.query_id, p.a, max(p.sim_e6) AS ms
         |      FROM ps p JOIN p${t - 1} s ON p.query_id = s.query_id
         |        AND p.b = s.neighbor_id
         |      GROUP BY 1, 2) m
         |      ON m.query_id = r.query_id AND m.a = r.neighbor_id
         |    WHERE pv.neighbor_id IS NULL)
         |  WHERE rn = 1),
         |p$t AS (SELECT * FROM p${t - 1} UNION ALL SELECT * FROM s$t)"""
        .stripMargin
    }.mkString(",\n")

  /** Ordered-funnel replay (shared by the batch and streaming twins):
    * per-stage earliest-qualifying-time recursion, integer-ppm shares. */
  private lazy val funnelOracleSql: String =
    """WITH s1 AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |             THEN epoch_ns(ts) END) AS t1
      |  FROM events GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(t1) AS t1,
      |    min(CASE WHEN event_type = 'click' AND epoch_ns(ts) >= t1
      |             THEN epoch_ns(ts) END) AS t2
      |  FROM events e JOIN s1 USING (user_id) GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(t2) AS t2,
      |    min(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) >= t2
      |             THEN epoch_ns(ts) END) AS t3
      |  FROM events e JOIN s2 USING (user_id) GROUP BY 1),
      |c AS (SELECT
      |    (SELECT count(t1) FROM s2) AS n1,
      |    count(t2) AS n2, count(t3) AS n3 FROM s3)
      |SELECT CAST(n1 AS BIGINT) AS n_stage1, CAST(n2 AS BIGINT)
      |    AS n_stage2, CAST(n3 AS BIGINT) AS n_stage3,
      |  CAST(n2 * 1000000 // greatest(n1, 1) AS BIGINT) AS ppm_stage2,
      |  CAST(n3 * 1000000 // greatest(n2, 1) AS BIGINT) AS ppm_stage3
      |FROM c""".stripMargin

  /** Anomaly-window replay (shared by the batch and streaming twins):
    * hourly per-type counts, median/MAD flagging at 3 x 1.4826. */
  private lazy val anomalyWindowsOracleSql: String =
    """WITH wc AS (
      |  SELECT event_type AS key,
      |    epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS window_start,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT key, quantile_cont(cnt, 0.5) AS med
      |       FROM wc GROUP BY 1),
      |dev AS (SELECT wc.key, window_start, cnt, med,
      |          abs(cnt - med) AS ad
      |        FROM wc JOIN st USING (key)),
      |md AS (SELECT key, quantile_cont(ad, 0.5) AS mad
      |       FROM dev GROUP BY 1)
      |SELECT dev.key, window_start, cnt, med, mad
      |FROM dev JOIN md USING (key)
      |WHERE ad > 3 * 1.4826 * mad""".stripMargin

  /** Windowed-leaderboard replay (shared by the batch and streaming
    * twins — micro-batch slicing must be invisible in the result). */
  private lazy val windowTopkOracleSql: String =
    """WITH pu AS (
      |  SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000
      |      AS window_start,
      |    user_id,
      |    CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) * 10000
      |      AS BIGINT) AS v_e4
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start, user_id, CAST(rk AS INT) AS rank,
      |  v_e4 AS value_e4
      |FROM (SELECT *, row_number() OVER (PARTITION BY window_start
      |        ORDER BY v_e4 DESC, user_id) AS rk FROM pu)
      |WHERE rk <= 3""".stripMargin

  /** One integer power-iteration step for the PCA oracle: dots from
    * the previous direction CTE `prev`, lane sums w$k, renormalized
    * direction v$k (DuckDB `//` truncates toward zero = the driver's
    * BigInt division). Expects CTEs qv (vec_id, q), lanes (j), mv
    * (marr) in scope. */
  private def pcaStepSql(k: Int, prev: String): String =
    s"""dots$k AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    list_sum([(q.q[j] - m.marr[j]) * p.varr[j]
       |      FOR j IN range(1, 65)]) AS d
       |  FROM qv q CROSS JOIN mv m CROSS JOIN $prev p),
       |w$k AS MATERIALIZED (
       |  SELECT l.j, sum((q.q[l.j] - m.marr[l.j]) * d.d) AS w
       |  FROM qv q JOIN dots$k d USING (vec_id)
       |  CROSS JOIN lanes l CROSS JOIN mv m
       |  GROUP BY l.j),
       |v$k AS MATERIALIZED (
       |  SELECT list(CAST(w * 256 // (SELECT max(abs(w)) FROM w$k)
       |    AS BIGINT) ORDER BY j) AS varr
       |  FROM w$k)""".stripMargin

  /** One integer power step over DEFLATED lanes (CTE `src` with the
    * per-row deflated array `c` in scope) — the second/third-component
    * oracles' twin of [[pcaStepSql]]; `out` prefixes the emitted CTE
    * names so two deflation depths can unroll side by side. */
  private def pcaDeflStepSql(k: Int, prev: String, src: String = "dl",
                             out: String = "u"): String =
    s"""${out}dots$k AS MATERIALIZED (
       |  SELECT d.vec_id,
       |    list_sum([d.c[j] * p.varr[j] FOR j IN range(1, 65)]) AS d2
       |  FROM $src d CROSS JOIN $prev p),
       |${out}w$k AS MATERIALIZED (
       |  SELECT l.j, sum(d.c[l.j] * t.d2) AS w
       |  FROM $src d JOIN ${out}dots$k t USING (vec_id)
       |  CROSS JOIN lanes l
       |  GROUP BY l.j),
       |$out$k AS MATERIALIZED (
       |  SELECT list(CAST(w * 256 // (SELECT max(abs(w)) FROM ${out}w$k)
       |    AS BIGINT) ORDER BY j) AS varr
       |  FROM ${out}w$k)""".stripMargin

  /** Shared preamble for the PCA oracles: quantized lanes, lane means,
    * the all-ones seed, and the 3 unrolled power steps ending at v3. */
  private lazy val pcaTrainSql: String =
    s"""WITH qv AS MATERIALIZED (SELECT vec_id,
       |  [CAST(floor(CAST(x AS DOUBLE) * 256) AS BIGINT)
       |   FOR x IN embedding] AS q
       |  FROM embeddings),
       |lanes AS (SELECT unnest(range(1, 65)) AS j),
       |mean AS MATERIALIZED (SELECT l.j AS j, sum(q.q[l.j]) // count(*) AS m
       |         FROM qv q CROSS JOIN lanes l GROUP BY l.j),
       |mv AS MATERIALIZED (SELECT list(m ORDER BY j) AS marr FROM mean),
       |v0 AS MATERIALIZED (SELECT [CAST(256 AS BIGINT)
       |               FOR i IN range(1, 65)] AS varr),
       |${pcaStepSql(1, "v0")},
       |${pcaStepSql(2, "v1")},
       |${pcaStepSql(3, "v2")}""".stripMargin

  /** [[pcaTrainSql]] extended through the FIRST deflation: |v1|^2,
    * component-1 dots, deflated lanes `dl`, and the 3 power steps
    * ending at u3 (= v2) — shared by the second- and third-component
    * oracles. Every multiply-referenced CTE is MATERIALIZED (the r8
    * EXPLAIN-hang lesson: DuckDB re-expands plain CTEs per reference,
    * exponentially on deflation chains). */
  private lazy val pcaSecondSql: String =
    s"""$pcaTrainSql,
       |vq AS MATERIALIZED (SELECT list_sum([x * x FOR x IN varr]) AS vsq FROM v3),
       |d1 AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    list_sum([(q.q[j] - m.marr[j]) * v.varr[j]
       |      FOR j IN range(1, 65)]) AS d
       |  FROM qv q CROSS JOIN mv m CROSS JOIN v3 v),
       |dl AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    [(q.q[j] - m.marr[j]) - (v.varr[j] * d1.d) // vq.vsq
       |     FOR j IN range(1, 65)] AS c
       |  FROM qv q JOIN d1 USING (vec_id)
       |  CROSS JOIN mv m CROSS JOIN v3 v CROSS JOIN vq),
       |u0 AS MATERIALIZED (SELECT [CAST(256 AS BIGINT)
       |               FOR i IN range(1, 65)] AS varr),
       |${pcaDeflStepSql(1, "u0")},
       |${pcaDeflStepSql(2, "u1")},
       |${pcaDeflStepSql(3, "u2")}""".stripMargin

  /** Shared PQ replay prefix: anchored codebook + per-(vector,
    * subspace, centroid) squared-L2 distances — `embedding_pq_codes`
    * and `similarity_pq_adc` both build on these CTEs. */
  private lazy val pqDistsSql: String =
    """WITH cb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
      |    embedding AS ce
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        ORDER BY vec_id LIMIT 16)),
      |dists AS (
      |  SELECT e.vec_id, s.j, cb.ci,
      |    (list_sum([CAST(e.embedding[i] AS DOUBLE)
      |               * CAST(e.embedding[i] AS DOUBLE)
      |       FOR i IN range(s.j*8 + 1, s.j*8 + 9)])
      |     - 2.0 * list_sum([CAST(e.embedding[i] AS DOUBLE)
      |                       * CAST(cb.ce[i] AS DOUBLE)
      |       FOR i IN range(s.j*8 + 1, s.j*8 + 9)]))
      |    + list_sum([CAST(cb.ce[i] AS DOUBLE)
      |                * CAST(cb.ce[i] AS DOUBLE)
      |       FOR i IN range(s.j*8 + 1, s.j*8 + 9)]) AS d
      |  FROM embeddings e
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) s
      |  CROSS JOIN cb)""".stripMargin

  /** The hashed-linear classifier replay (shared by
    * `quality_classifier_documents` and the calibration sweep). */
  private lazy val classifierOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${TextAnalysis.Sql.tokens("lower(text)")} AS tk
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    tk || [tk[i] || ' ' || tk[i + 1]
       |           FOR i IN range(1, len(tk))] AS fs
       |  FROM t),
       |w AS (
       |  SELECT doc_id, len(fs) AS nf,
       |    COALESCE(CAST(list_sum([
       |      ('0x' || substr(md5('w:' || CAST(
       |         ('0x' || substr(md5('f:' || x), 1, 8))::BIGINT % 4096
       |       AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000
       |      FOR x IN fs]) AS BIGINT), 0) AS w_sum
       |  FROM f)
       |SELECT doc_id, CAST(nf AS INT) AS n_feats, w_sum,
       |  round(CASE WHEN nf = 0 THEN 0.0
       |             ELSE w_sum / (1000.0 * nf) END, 6) AS score,
       |  CASE WHEN w_sum >= 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM w""".stripMargin

  /** One integer Lloyd round of the `similarity_ivf_lloyd` replay:
    * assign the train slice to `prev` cells (BIGINT squared-L2 over the
    * quantized lanes, ties to the lower cell) and floor-mean each
    * non-empty cell's lanes into `next`; empty cells keep `prev`'s
    * centroid. All arithmetic integer or double-exact (lane sums
    * < 2^33), so the round replays Spark's driver fit bit-for-bit. */
  private def lloydRoundSql(prev: String, next: String): String =
    s"""a$next AS (
       |  SELECT t.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY list_sum([(t.q[i] - c.c[i]) * (t.q[i] - c.c[i])
       |        FOR i IN range(1, 65)]), c.cell) AS rnk
       |  FROM train t CROSS JOIN $prev c),
       |m$next AS (
       |  SELECT a.cell, r.i,
       |    CAST(floor(CAST(sum(t.q[r.i]) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS cv
       |  FROM a$next a, train t, range(1, 65) r(i)
       |  WHERE t.vec_id = a.vec_id AND a.rnk = 1
       |  GROUP BY a.cell, r.i),
       |$next AS (
       |  SELECT p.cell, coalesce(n.c, p.c) AS c
       |  FROM $prev p LEFT JOIN (SELECT cell, list(cv ORDER BY i) AS c
       |                          FROM m$next GROUP BY cell) n USING (cell))"""
      .stripMargin

  /** Incremental z-order replay: base layout (exact cuts over the 80%
    * slice), realized per-group z maxima as the delta cuts, delta mix
    * per group. */
  private lazy val zorderIncrementalSql: String = {
    val zExpr = (0 until 16).map(i =>
      s"((((a >> $i) & 1) << ${2 * i + 1}) | (((b >> $i) & 1) << ${2 * i}))")
      .mkString(" | ")
    s"""WITH z AS MATERIALIZED (
       |  SELECT l_orderkey, CAST($zExpr AS BIGINT) AS z
       |  FROM (SELECT l_orderkey, l_partkey % 65536 AS a,
       |          l_suppkey % 65536 AS b FROM lineitem)),
       |bz AS (SELECT z FROM z WHERE l_orderkey % 10 < 8),
       |dz AS (SELECT z FROM z WHERE l_orderkey % 10 >= 8),
       |cuts AS (SELECT quantile_cont(z,
       |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c FROM bz),
       |basg AS (
       |  SELECT z,
       |    (CASE WHEN z > c[1] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[2] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[3] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[4] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[5] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[6] THEN 1 ELSE 0 END) +
       |    (CASE WHEN z > c[7] THEN 1 ELSE 0 END) AS fg
       |  FROM bz, cuts),
       |bman AS (SELECT fg, CAST(count(*) AS BIGINT) AS n_base,
       |           max(z) AS zmax
       |         FROM basg GROUP BY 1),
       |mx AS (SELECT list(zmax ORDER BY fg) AS ms
       |       FROM bman WHERE fg < (SELECT max(fg) FROM bman)),
       |dasg AS (SELECT CAST(len(list_filter(ms, m -> z > m)) AS INT)
       |           AS fg
       |         FROM dz, mx),
       |dcnt AS (SELECT fg, CAST(count(*) AS BIGINT) AS n_delta
       |         FROM dasg GROUP BY 1)
       |SELECT CAST(b.fg AS INT) AS file_group, b.n_base,
       |  coalesce(d.n_delta, 0) AS n_delta,
       |  (coalesce(d.n_delta, 0) * 1000000)
       |    // (b.n_base + coalesce(d.n_delta, 0)) AS delta_ppm,
       |  ((coalesce(d.n_delta, 0) * 1000000)
       |    // (b.n_base + coalesce(d.n_delta, 0))) >= 200000
       |    AS needs_rewrite
       |FROM bman b LEFT JOIN dcnt d USING (fg)""".stripMargin
  }

  /** One integer Lloyd round of the PER-SUBSPACE PQ codebook replay
    * (`similarity_ivfpq_lloyd`): assign every train row's subvector j
    * to its nearest centroid (BIGINT squared-L2 over quantized lanes,
    * ties to the lower index), floor-mean each non-empty centroid;
    * empty centroids keep their position. Expects `train` (vec_id,
    * q = quantized lanes) in scope; centroids carry (j, ci, c). */
  private def pqLloydRoundSql(prev: String, next: String,
                              trainCte: String = "train",
                              materialized: Boolean = false): String = {
    // multiply-referenced final books (drift + code batteries) must be
    // MATERIALIZED — DuckDB re-expands plain CTEs per reference and
    // the Lloyd chain is deep (the documented r8 lesson)
    val mat = if (materialized) "MATERIALIZED " else ""
    s"""a$next AS (
       |  SELECT t.vec_id, c.j, c.ci,
       |    row_number() OVER (PARTITION BY t.vec_id, c.j
       |      ORDER BY list_sum([(t.q[c.j*8 + i] - c.c[i])
       |        * (t.q[c.j*8 + i] - c.c[i]) FOR i IN range(1, 9)]),
       |        c.ci) AS rnk
       |  FROM $trainCte t CROSS JOIN $prev c),
       |m$next AS (
       |  SELECT a.j, a.ci, r.i,
       |    CAST(floor(CAST(sum(t.q[a.j*8 + r.i]) AS DOUBLE) / count(*))
       |      AS BIGINT) AS cv
       |  FROM a$next a, $trainCte t, range(1, 9) r(i)
       |  WHERE t.vec_id = a.vec_id AND a.rnk = 1
       |  GROUP BY 1, 2, 3),
       |$next AS $mat(
       |  SELECT p.j, p.ci, coalesce(n.c, p.c) AS c
       |  FROM $prev p LEFT JOIN (SELECT j, ci, list(cv ORDER BY i) AS c
       |                          FROM m$next GROUP BY 1, 2) n
       |    USING (j, ci))""".stripMargin
  }

  /** Shared CDC replay prefix: the changeset, latest-per-key pick, and
    * merged v2 snapshot — `cdc_apply_documents` and
    * `corpus_refresh_pipeline` both build on these CTEs. */
  private lazy val cdcV2Sql: String =
    """WITH snap AS (SELECT doc_id, lang, source, text FROM documents),
      |ch AS (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS seq, 'U' AS op, lang,
      |    source, text || ' rev1' AS text
      |  FROM snap WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, 2, 'D', lang, source, text
      |  FROM snap WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, 3, 'I', lang, source, text
      |  FROM snap WHERE doc_id < 40),
      |latest AS (
      |  SELECT * FROM ch
      |  QUALIFY row_number() OVER (PARTITION BY doc_id
      |    ORDER BY seq DESC) = 1),
      |m AS (
      |  SELECT coalesce(s.doc_id, l.doc_id) AS doc_id, l.op,
      |    CASE WHEN l.doc_id IS NOT NULL THEN l.lang ELSE s.lang END
      |      AS lang,
      |    CASE WHEN l.doc_id IS NOT NULL THEN l.source ELSE s.source END
      |      AS source,
      |    CASE WHEN l.doc_id IS NOT NULL THEN l.text ELSE s.text END
      |      AS text
      |  FROM snap s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id),
      |v2 AS (SELECT doc_id, lang, source, text FROM m
      |       WHERE op IS NULL OR op <> 'D')""".stripMargin

  private lazy val TrainBlocksOracle: String =

      s"""WITH toks AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.Sql.tokens("lower(text)")} AS l
         |  FROM documents),
         |cnt AS (
         |  SELECT token, count(*) AS cnt
         |  FROM (SELECT unnest(l) AS token FROM toks) GROUP BY 1),
         |vocab AS (
         |  SELECT token, CAST(row_number() OVER
         |    (ORDER BY cnt DESC, token) AS INT) AS rank
         |  FROM cnt ORDER BY cnt DESC, token LIMIT 500),
         |pos AS (
         |  SELECT doc_id, unnest(l) AS token,
         |    generate_subscripts(l, 1) AS p
         |  FROM toks),
         |stream AS (
         |  SELECT d.lang, coalesce(v.rank, 0) AS tid,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY pos.doc_id, pos.p) - 1 AS gp
         |  FROM pos JOIN documents d ON d.doc_id = pos.doc_id
         |  LEFT JOIN vocab v ON v.token = pos.token),
         |blk AS (SELECT lang, gp // 129 AS example_id, gp % 129 AS o,
         |          tid
         |        FROM stream),
         |outb AS (
         |  SELECT lang AS group_id, example_id,
         |    md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY o)
         |      FILTER (WHERE o < 128)) AS input_digest,
         |    md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY o)
         |      FILTER (WHERE o >= 1)) AS target_digest,
         |    CAST(count(*) FILTER (WHERE o >= 1 AND tid <> 0) AS BIGINT)
         |      AS n_weight1,
         |    count(*) AS nb
         |  FROM blk GROUP BY 1, 2)
         |SELECT group_id, CAST(example_id AS BIGINT) AS example_id,
         |  input_digest, target_digest, n_weight1
         |FROM outb WHERE nb = 129""".stripMargin

  /** JPEG replay pipeline: md5-derived zigzag coefficients ->
    * dequantize -> the pinned fixed-point separable IDCT -> clamped
    * pixels, per (doc, block). The integer tables (Q20 IDCT basis,
    * zigzag inverse, quant) are interpolated from [[Jpeg]]'s Scala
    * values, so both engines share literally the same numbers — the
    * pinned-literal discipline, never runtime libm twice. The oracle
    * never parses the JPEG container: the Spark side must reach the
    * same coefficients through real Huffman/marker decode. `tabs` and
    * `px` are multiply-referenced -> AS MATERIALIZED (the documented
    * DuckDB CTE re-expansion lesson). Returns CTEs ending at `px`;
    * callers append their SELECT (or further CTEs starting ",\n"). */
  private def jpegCoefPipeline(tag: String, nBlocks: Int,
                               qtExpr: String = "qt0[n + 1]"): String = {
    val w = Jpeg.IdctW.mkString("[", ", ", "]")
    val zzinv = Jpeg.ZigZagInv.mkString("[", ", ", "]")
    val qt0 = Jpeg.QtLuma.mkString("[", ", ", "]")
    val qt1 = Jpeg.QtChroma.mkString("[", ", ", "]")
    val blist = (0 until nBlocks).mkString("[", ", ", "]")
    val digest = (0 until 4).map(k =>
      s"md5('$tag' || CAST(bb.b AS VARCHAR) || 'x$k:' || CAST(doc_id AS VARCHAR))")
      .mkString(" ||\n")
    s"""WITH tabs AS MATERIALIZED (
       |  SELECT $w AS w, $zzinv AS zzinv, $qt0 AS qt0, $qt1 AS qt1),
       |blk AS (
       |  SELECT doc_id, bb.b AS b,
       |    $digest AS hx
       |  FROM documents CROSS JOIN (SELECT unnest($blist) AS b) bb),
       |cz AS (
       |  SELECT doc_id, b, list_transform(range(0, 64), i -> CASE
       |    WHEN i = 0 THEN (('0x' || substr(hx, 1, 2))::BIGINT % 64) - 32
       |    WHEN ('0x' || substr(hx, i*2 + 1, 2))::BIGINT % 4 = 0
       |    THEN ((('0x' || substr(hx, i*2 + 1, 2))::BIGINT // 4) % 31) - 15
       |    ELSE 0 END) AS cz
       |  FROM blk),
       |dq AS (
       |  SELECT doc_id, b, list_transform(range(0, 64),
       |    n -> cz[zzinv[n + 1] + 1] * $qtExpr) AS dq
       |  FROM cz CROSS JOIN tabs),
       |r1 AS (
       |  SELECT doc_id, b, list_transform(range(0, 64), j ->
       |    (CAST(list_sum(list_transform(range(0, 8),
       |      v -> dq[(j // 8) * 8 + v + 1] * w[v * 8 + (j % 8) + 1]))
       |      AS BIGINT) + 512) // 1024) AS r1
       |  FROM dq CROSS JOIN tabs),
       |px AS MATERIALIZED (
       |  SELECT doc_id, b, list_transform(range(0, 64), j ->
       |    least(greatest((CAST(list_sum(list_transform(range(0, 8),
       |      u -> w[u * 8 + (j // 8) + 1] * r1[u * 8 + (j % 8) + 1]))
       |      AS BIGINT) + 536870912) // 1073741824 + 128, 0), 255)) AS px
       |  FROM r1 CROSS JOIN tabs)""".stripMargin
  }

  /** CTE chain recomputing the md5-anchored LSH signatures (no leading
    * WITH): `hp` = ±1 sign planes from md5 hex-digit parity, `qv` =
    * floor(x*2^20) integer-quantized vectors, `sigs` = per-(vec, table)
    * sign-bit signatures — the exact integer arithmetic twin of
    * Similarity.{md5SignPlanes,quantized,bucketExpr}. */
  private def AnchoredSigCtes(nTables: Int, nBits: Int): String =
    // NOTE: this text is re-interpolated into strings that apply their
    // own stripMargin — no line here may start with (whitespace +) '|',
    // or the outer stripMargin eats one bar of a '||' concat operator
    s"""hp AS MATERIALIZED (
       |  SELECT t, b,
       |    [CASE WHEN (strpos('0123456789abcdef',
       |        md5(t::VARCHAR || ':' || b::VARCHAR || ':' ||
       |            ((i - 1) // 32)::VARCHAR)[1 + ((i - 1) % 32)]) - 1)
       |        % 2 = 1
       |      THEN 1 ELSE -1 END FOR i IN range(1, 65)] AS s
       |  FROM range(0, $nTables) tt(t), range(0, $nBits) bb(b)),
       |qv AS MATERIALIZED (
       |  SELECT vec_id,
       |    [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
       |     FOR x IN embedding] AS q
       |  FROM embeddings),
       |sigs AS (
       |  SELECT qv.vec_id, hp.t,
       |    CAST(sum(CASE WHEN list_sum([hp.s[i] * qv.q[i]
       |        FOR i IN range(1, 65)]) >= 0
       |      THEN 1::BIGINT << hp.b ELSE 0 END) AS BIGINT) AS sig
       |  FROM qv CROSS JOIN hp
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain producing the exact word-3-gram Jaccard pairs
    * >= 0.8 as a `pairs` relation (no leading WITH, so callers can
    * prepend RECURSIVE and append closure CTEs). */
  private lazy val NgramPairsCtes: String =
    s"""toks AS (
      |  SELECT doc_id,
      |    $textTokens AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |    FOR i IN range(1, len(t) - 1)]) AS s
      |  FROM toks WHERE len(t) >= 3),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
      |pairs AS (
      |  SELECT ida AS id_a, idb AS id_b,
      |    round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON ida = sa.doc_id
      |  JOIN sizes sb ON idb = sb.doc_id
      |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8)""".stripMargin

  /** Exact word-3-gram Jaccard pairs >= 0.8 — oracle for both the exact
    * inverted-index query and the MinHash-LSH query (whose verified
    * candidates equal the exact result on this corpus). */
  private lazy val NgramJaccardOracle: String =
    s"WITH $NgramPairsCtes\nSELECT id_a, id_b, jaccard FROM pairs"

  /** Shared transitive-closure CTE chain ending in `asg(doc_id,
    * cluster_id)` — reused by the clusters and keep-best oracles. */
  private lazy val NgramClusterCtes: String =
    s"""$NgramPairsCtes,
      |edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      |  WHERE e.v <> r.u),
      |lbl AS (SELECT u, least(u, min(v)) AS l FROM reach GROUP BY u),
      |asg AS (
      |  SELECT d.doc_id, coalesce(l.l, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.u)""".stripMargin

  /** Connected components over the same pair graph: recursive-CTE
    * transitive closure, label = min reachable id, singletons map to
    * themselves. */
  private lazy val NgramClustersOracle: String =
    s"""WITH RECURSIVE $NgramClusterCtes
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM asg""".stripMargin

  /** One Profiler.binnedCuts(rounds=2) rank replay: CTEs suffixed
    * `tag` deriving the refined cut for `rankExpr` (written in terms
    * of mm.n). Expects v/mm/h1/c1 CTEs in scope: v = non-null doubles,
    * mm = (lo, hi, n), h1 = round-1 4096-cell histogram (b, cnt),
    * c1 = h1 with cumulative cum. Round 2 re-histograms INSIDE the
    * chosen cell — membership by the SAME bin expression that built
    * h1, never a value-range filter (fp edge recomputation could
    * disagree with the floor). Lines are pre-stripped: none begins
    * with whitespace+bar, so the outer template's stripMargin leaves
    * them intact. */
  private def binnedCutCtes(tag: String, rankExpr: String): String =
    s"""s$tag AS (SELECT min(b) AS b1 FROM c1, mm
       |    WHERE cum >= $rankExpr),
       |e$tag AS (SELECT b1, lo + b1 * (hi - lo) / 4096.0 AS elo,
       |    lo + (b1 + 1) * (hi - lo) / 4096.0 AS ehi,
       |    coalesce((SELECT max(cum) FROM c1, s$tag WHERE b < b1), 0)
       |      AS off
       |  FROM s$tag, mm),
       |h$tag AS (SELECT least(greatest(CAST(floor(CASE WHEN ehi > elo
       |      THEN (v - elo) / (ehi - elo) * 4096.0 ELSE 0.0 END)
       |      AS BIGINT), 0), 4095) AS b,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM v, mm, e$tag
       |  WHERE least(CAST(floor((v - lo) / (hi - lo) * 4096.0)
       |      AS BIGINT), 4095) = b1
       |  GROUP BY 1),
       |c$tag AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum
       |  FROM h$tag),
       |q$tag AS (SELECT coalesce(
       |    (SELECT min(elo + (b + 1) * (ehi - elo) / 4096.0)
       |     FROM c$tag, e$tag, mm
       |     WHERE ehi > elo AND off + cum >= $rankExpr),
       |    (SELECT ehi FROM e$tag)) AS cut)""".stripMargin

  /** Shared by the batch and streaming sliding-distinct queries: both
    * land on identical per-day sketches, so one replay gates both.
    * Parametric in the window so the stickiness ratio (window 1 vs 7)
    * reuses the same replay. */
  private def slidingDistinctSql(windowBuckets: Int): String =
    s"""WITH h AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS bucket,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      ::BIGINT AS u
      |  FROM events),
      |ev AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_events
      |  FROM h GROUP BY 1),
      |sk AS (
      |  SELECT bucket, u FROM (
      |    SELECT bucket, u,
      |      row_number() OVER (PARTITION BY bucket ORDER BY u) AS rk
      |    FROM (SELECT DISTINCT bucket, u FROM h))
      |  WHERE rk <= 64),
      |contrib AS (
      |  SELECT s.bucket + d AS bucket, s.u
      |  FROM sk s, (SELECT unnest(range(0, $windowBuckets)) AS d)),
      |uni AS (
      |  SELECT bucket, u,
      |    row_number() OVER (PARTITION BY bucket ORDER BY u) AS rk
      |  FROM (SELECT DISTINCT bucket, u FROM contrib)),
      |grp AS (
      |  SELECT bucket, count(*) AS sz,
      |    max(CASE WHEN rk = 64 THEN u END) AS h64
      |  FROM uni WHERE rk <= 64 GROUP BY bucket)
      |SELECT g.bucket,
      |  CAST(coalesce(ev.n_events, 0) AS BIGINT) AS n_events,
      |  CAST(CASE WHEN sz < 64 THEN sz
      |    ELSE 63 * 4294967296 // greatest(h64, 1) END AS BIGINT)
      |    AS est_distinct
      |FROM grp g LEFT JOIN ev ON ev.bucket = g.bucket
      |WHERE g.bucket <= (SELECT max(bucket) FROM ev)""".stripMargin

  private lazy val SlidingDistinctOracle: String = slidingDistinctSql(7)

  private lazy val NgramKeepBestOracle: String = {
    import TextAnalysis.Sql.{qualityScore => qs}
    s"""WITH RECURSIVE $NgramClusterCtes,
      |q AS (SELECT doc_id, ${qs("text")} AS quality FROM documents),
      |sel AS (
      |  SELECT a.cluster_id, a.doc_id, q.quality,
      |    row_number() OVER (PARTITION BY a.cluster_id
      |      ORDER BY q.quality DESC, a.doc_id ASC) AS rk,
      |    count(*) OVER (PARTITION BY a.cluster_id) AS cluster_size
      |  FROM asg a JOIN q USING (doc_id))
      |SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_score,
      |  cluster_size
      |FROM sel WHERE rk = 1""".stripMargin
  }
}
