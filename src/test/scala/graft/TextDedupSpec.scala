package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / token count / bpe count") {
    val df = Seq("the quick  brown fox", "", "  ", "a1b2").toDF("t")
    df.select(TextAnalysis.tokenCount($"t")).as[Long].collect().toSeq shouldBe
      Seq(4L, 0L, 0L, 1L)
    // 'the quick  brown fox' -> the| quick|(double space)|brown| fox = 5
    // (no lookahead in the pattern, so a whitespace run is its own token);
    // 'a1b2' -> 'a','1','b','2' = 4 subtokens
    df.select(TextAnalysis.bpeTokenCount($"t")).as[Long].collect().toSeq shouldBe
      Seq(5L, 0L, 1L, 4L)
  }

  test("normalization + fingerprint: whitespace/case-insensitive identity") {
    val df = Seq(("a", "Hello  World "), ("b", "hello world")).toDF("id", "t")
    val fps = df.select(TextAnalysis.fingerprint($"t")).as[String].collect()
    fps(0) shouldBe fps(1)
  }

  test("exact dedup groups duplicates under min id") {
    val df = Seq((10L, "same Text"), (3L, "same  text"), (7L, "other")).toDF("doc_id", "text")
    val r = Dedup.exact(df, $"text", $"doc_id")
      .orderBy("keeper_id")
      .select($"keeper_id", $"n_copies").as[(Long, Long)].collect()
    r.toSeq shouldBe Seq((3L, 2L), (7L, 1L))
  }

  test("shingles: 3-grams of a 5-token doc") {
    val df = Seq("a b c d e").toDF("t")
    df.select(Dedup.shingles($"t", 3)).as[Seq[String]].head() shouldBe
      Seq("a b c", "b c d", "c d e")
    // under-length doc -> empty set
    Seq("a b").toDF("t").select(Dedup.shingles($"t", 3))
      .as[Seq[String]].head() shouldBe Seq.empty
  }

  test("ngram Jaccard pairs: hand-computed golden") {
    // doc1/doc2 share 2 of (3 + 3 - 2) shingles -> J = 0.5
    val df = Seq(
      (1L, "a b c d e"),   // shingles: abc bcd cde
      (2L, "x a b c d"),   // shingles: xab abc bcd
      (3L, "q r s t u"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, $"text", $"doc_id", 3, 0.4)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    pairs.toSeq shouldBe Seq((1L, 2L, 0.5))
  }

  test("prefix-filtered ngram pairs == full-inverted-index pairs (exactness)") {
    val docs = Tables(spark, sf0001, "documents")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    val pf = collectPairs(Dedup.ngramJaccardPairs(docs, $"text", $"doc_id", 3, 0.8))
    val full = collectPairs(
      Dedup.ngramJaccardPairsFullIndex(docs, $"text", $"doc_id", 3, 0.8))
    pf should not be empty
    pf shouldBe full
    // lower threshold => larger prefix => still exact
    collectPairs(Dedup.ngramJaccardPairs(docs, $"text", $"doc_id", 3, 0.5)) shouldBe
      collectPairs(Dedup.ngramJaccardPairsFullIndex(docs, $"text", $"doc_id", 3, 0.5))
  }

  test("minhash-LSH equals exact ngram pairs on driver corpus (sf0.001)") {
    val docs = Tables(spark, sf0001, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, $"text", $"doc_id", 3, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, $"text", $"doc_id")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    exact should not be empty // the generator plants near-dups
    lsh shouldBe exact
  }

  test("ngramContainmentPairs: quoted doc found where Jaccard is blind") {
    val small = "alpha beta gamma delta epsilon zeta"
    val bigTail = (1 to 60).map(i => s"w$i").mkString(" ")
    val otherTail = (1 to 60).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, small),                    // 4 shingles
      (2L, small + " " + bigTail),    // quotes doc 1 wholesale
      (3L, "iota kappa " + otherTail)) // unrelated long doc
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, $"text", $"doc_id",
      n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    cont((1L, 2L)) shouldBe 1.0 // every shingle of 1 is inside 2
    cont.keySet should not contain ((2L, 1L)) // direction matters
    // Jaccard at any usable threshold misses it: 4 / (4+63-4) ~ 0.06
    Dedup.ngramJaccardPairs(docs, $"text", $"doc_id", 3, 0.5)
      .count() shouldBe 0L
    // mutual twins appear in both directions
    val twins = Seq((10L, small), (11L, small)).toDF("doc_id", "text")
    val t = Dedup.ngramContainmentPairs(twins, $"text", $"doc_id",
      n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    t shouldBe Set((10L, 11L), (11L, 10L))
    // driver-side brute force differential on the corpus
    val corpus = Tables(spark, sf0001, "documents")
    val got = Dedup.ngramContainmentPairs(corpus, $"text", $"doc_id",
      n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    val shs = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().flatMap { case (id, t0) =>
        val toks = t0.split("\\s+").filter(_.nonEmpty)
        if (toks.length < 3) None
        else Some(id -> toks.sliding(3).map(_.mkString(" ")).toSet)
      }
    val expect = (for {
      (a, sa) <- shs; (b, sb) <- shs
      if a != b && sa.intersect(sb).size.toDouble / sa.size >= 0.9
    } yield (a, b)).toSet
    got shouldBe expect
  }

  test("minhashIncrementalPairs: delta-involving subset of one-shot LSH; sides labeled") {
    val docs = Tables(spark, sf0001, "documents")
    val base = docs.filter($"doc_id" % 10 < 8)
    val delta = docs.filter($"doc_id" % 10 >= 8)
    val idx = Dedup.minhashIndexBuild(base, $"text", $"doc_id")
    val inc = Dedup.minhashIncrementalPairs(idx, delta, $"text", $"doc_id")
      .as[(Long, Long, Boolean, Double)].collect()
    // ground truth: one-shot pairs over the WHOLE corpus, restricted to
    // pairs touching the delta, renamed to the incremental convention
    val all = Dedup.minhashLshPairs(docs, $"text", $"doc_id")
      .as[(Long, Long, Double)].collect()
    val expect = all.flatMap { case (a, b, j) =>
      val (aD, bD) = (a % 10 >= 8, b % 10 >= 8)
      if (bD) Some((b, a, !aD, j))
      else if (aD) Some((a, b, !bD, j))
      else None
    }.toSet
    inc.toSet shouldBe expect
    inc should not be empty // generator plants near-dups across the cut
    inc.foreach { case (idNew, idM, inBase, _) =>
      (idNew % 10 >= 8) shouldBe true  // id_new always a delta doc
      (idM % 10 < 8) shouldBe inBase   // label matches the side
      if (!inBase) idM should be < idNew // delta-delta: later duplicates earlier
    }
    // synthetic guarantee of both sides: a delta twin of a base doc and
    // a delta twin of another delta doc
    val toy = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (18L, "alpha beta gamma delta epsilon zeta eta theta"),
      (28L, "iota kappa lambda mu nu xi omicron pi"),
      (38L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    val tIdx = Dedup.minhashIndexBuild(
      toy.filter($"doc_id" % 10 < 8), $"text", $"doc_id")
    val tInc = Dedup.minhashIncrementalPairs(tIdx,
      toy.filter($"doc_id" % 10 >= 8), $"text", $"doc_id")
      .as[(Long, Long, Boolean, Double)].collect().toSet
    tInc shouldBe Set((18L, 10L, true, 1.0), (38L, 28L, false, 1.0))
  }

  test("incrementalBloom == incremental: exact result through the prefilter") {
    val docs = Tables(spark, sf0001, "documents")
    val base = docs.filter($"doc_id" % 10 < 8)
    val delta = docs.filter($"doc_id" % 10 >= 8)
    val plain = Dedup.incremental(base, delta, $"text", $"doc_id")
      .as[(String, Long, Long)].collect().toSet
    // loose fpp: lots of base false positives, the exact confirm must
    // still produce the identical set
    val loose = Dedup.incrementalBloom(base, delta, $"text", $"doc_id", fpp = 0.5)
      .as[(String, Long, Long)].collect().toSet
    val tight = Dedup.incrementalBloom(base, delta, $"text", $"doc_id", fpp = 0.001)
      .as[(String, Long, Long)].collect().toSet
    plain should not be empty
    loose shouldBe plain
    tight shouldBe plain
  }

  test("incrementalBloom: overlap suppressed, delta self-dup keeps min id") {
    val base = Seq((1L, "shared Text"), (2L, "base only")).toDF("doc_id", "text")
    val delta = Seq((11L, "shared  text"), (12L, "fresh a"), (13L, "FRESH A"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalBloom(base, delta, $"text", $"doc_id")
      .select($"id", $"n_delta_copies").as[(Long, Long)].collect().toSeq
    // "shared text" fp exists in base -> suppressed; the two "fresh a"
    // normalize to one fingerprint surviving under the min id
    r shouldBe Seq((12L, 2L))
  }

  test("native WordShingles == HOF shingles (differential, driver corpus)") {
    val docs = Tables(spark, sf0001, "documents")
    val diff = docs.select(
      (Dedup.shingles($"text", 3) =!= Dedup.shinglesHof($"text", 3)).as("d"))
      .filter($"d").count()
    diff shouldBe 0L
  }

  test("codegen sketches == HOF formulations (differential, driver corpus)") {
    val docs = Tables(spark, sf0001, "documents")
    val sh = Dedup.shingles($"text", 3)
    val diff = docs
      .filter(org.apache.spark.sql.functions.size(sh) > 0)
      .select(
        (Dedup.minhashSignature(sh, 64, 42L) =!=
          Dedup.minhashSignatureHof(sh, 64, 42L)).as("sigDiff"),
        (Dedup.simhash($"text") =!= Dedup.simhashHof($"text")).as("shDiff"))
      .filter($"sigDiff" || $"shDiff")
      .count()
    diff shouldBe 0L
  }

  // shingle base hashes of the sf0.001 corpus, as Dedup computes them
  private def baseHashes = transform(Dedup.shingles($"text", 3),
    s => pmod(xxhash64(s), lit(graft.expressions.MinHashCoeffs.P)))

  test("MinHash bands equal a driver-side model of the MinHashCoeffs lanes") {
    import graft.expressions.{MinHash, MinHashCoeffs}
    val (k, bands, seed) = (64, 16, 42L)
    val rows = Tables(spark, sf0001, "documents")
      .select(baseHashes.as("x"), MinHash.bands(baseHashes, k, bands, seed).as("b"))
      .collect()
    val (as, bs) = MinHashCoeffs(k, seed)
    rows.length should be > 0
    rows.foreach { r =>
      val xs = r.getSeq[Long](0)
      val sig = (0 until k).map(j => xs.foldLeft(MinHashCoeffs.P)(
        (m, x) => math.min(m, (as(j) * x + bs(j)) % MinHashCoeffs.P)))
      val model = sig.grouped(k / bands)
        .map(_.foldLeft(1125899906842597L)((h, lane) => 31L * h + lane)).toSeq
      r.getSeq[Long](1) shouldBe model
    }
  }

  test("MinHash outputs are bit-identical with codegen on and under NO_CODEGEN") {
    import graft.expressions.MinHash
    val docs = Tables(spark, sf0001, "documents")
    val outs = Seq(MinHash.signature(baseHashes, 64, 42L),
      MinHash.bands(baseHashes, 64, 16, 42L), MinHash.bands(baseHashes, 32, 8, 7L))
    def run(confs: (String, String)*): Map[Long, Seq[Seq[Long]]] = {
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        docs.select($"doc_id" +: outs: _*).collect().map { r =>
          r.getLong(0) -> (1 to outs.length).map(i => r.getSeq[Long](i))
        }.toMap
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    generated.size shouldBe docs.count()
    generated shouldBe interpreted
    generated.values.foreach(v => v.map(_.length) shouldBe Seq(64, 16, 8))
  }

  test("tfidf topTerms: exact scores on a toy corpus; ties by term asc") {
    val docs = Seq(
      (1L, "en", "apple apple banana"),
      (2L, "en", "apple cherry"),
      (3L, "fr", "banana banana cherry")).toDF("doc_id", "lang", "text")
    val r = graft.functions.TfIdf.topTerms(docs, $"lang", $"text", $"doc_id",
        k = 2, minTermLen = 3)
      .collect().map(x => (x.getString(0), x.getString(1), x.getInt(2),
        x.getDouble(3), x.getLong(4), x.getLong(5)))
    val en = r.filter(_._1 == "en").sortBy(_._3)
    // en: apple tf=3 df=2 -> 1.5; banana tf=1 df=2 -> 0.5;
    //     cherry tf=1 df=2 -> 0.5 — banana wins rank 2 on term asc
    en(0) shouldBe ("en", "apple", 1, 1.5, 3L, 2L)
    en(1) shouldBe ("en", "banana", 2, 0.5, 1L, 2L)
    val fr = r.filter(_._1 == "fr").sortBy(_._3)
    fr(0) shouldBe ("fr", "banana", 1, 1.0, 2L, 2L)
    fr(1) shouldBe ("fr", "cherry", 2, 0.5, 1L, 2L)
  }

  test("tfidf topTerms matches the window formulation on the driver corpus") {
    val docs = Tables(spark, sf0001, "documents")
    val fast = graft.functions.TfIdf.topTerms(docs, $"lang", $"text",
      $"doc_id", k = 10)
    val toks = docs.select($"lang", $"doc_id",
        explode(TextAnalysis.tokens(lower($"text"))).as("term"))
      .filter(org.apache.spark.sql.functions.length($"term") >= 3)
    val tf = toks.groupBy($"lang", $"term").agg(count(lit(1)).as("tf"))
    val dfq = toks.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(($"tf".cast("double") / $"df").desc, $"term")
    val naive = tf.join(dfq, "term")
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 10)
      .select($"lang".as("group"), $"term", $"rank",
        ($"tf".cast("double") / $"df").as("score"), $"tf", $"df")
    fast.exceptAll(naive).count() shouldBe 0L
    naive.exceptAll(fast).count() shouldBe 0L
  }

  test("simhashMd5: top 4 bits dead, identical texts collide") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta  gamma"),
      (3L, "totally different words entirely")).toDF("doc_id", "text")
    val hs = df.select($"doc_id", Dedup.simhashMd5($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    // 60-bit token hashes -> output bits 60..63 always vote negative
    all(hs.values.map(_ >>> 60)) shouldBe 0L
    hs(1L) shouldBe hs(2L) // whitespace-only difference, same token multiset
    hs(1L) should not be hs(3L)
    val pairs = Dedup.simhashPairs(df, $"text", $"doc_id",
        maxHamming = 3, hashFn = Dedup.simhashMd5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
  }

  test("simhash: identical texts collide, near-identical within hamming 3") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8"), (2L, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, $"text", $"doc_id")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect()
    pairs.toSeq shouldBe Seq((1L, 2L, 0L))
  }

  test("simhash pigeonhole finds all near pairs on driver corpus") {
    val docs = Tables(spark, sf0001, "documents")
    // ground truth by brute force over all simhash pairs
    val hashed = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
    val truth = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.h".bitwiseXOR($"b.h")).as("d"))
      .filter($"d" <= 3)
      .as[(Long, Long, Long)].collect().toSet
    val got = Dedup.simhashPairs(docs, $"text", $"doc_id")
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe truth
  }

  test("survivors drops the higher id of each matched pair") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "z y x w v"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, $"text", $"doc_id", 3, 0.9)
    Dedup.survivors(df, $"doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(1L, 3L)
  }

  test("rollingHash: bounded accumulator survives long texts under ANSI mode") {
    // regression: the old 2^61 modulus overflowed acc*131 after ~6
    // tokens and threw ARITHMETIC_OVERFLOW under default ANSI
    val long = (1 to 200).map(i => s"tok$i").mkString(" ")
    val df = Seq(long, "a b", "").toDF("t")
    val hs = df.select(TextAnalysis.rollingHash($"t")).as[Long].collect()
    hs.foreach { h => h should be >= 0L; h should be < 1000000007L }
    hs(2) shouldBe 0L // empty text -> zero accumulator
    // order-sensitive: permuted tokens hash differently
    Seq("a b", "b a").toDF("t").select(TextAnalysis.rollingHash($"t"))
      .as[Long].collect().toSet.size shouldBe 2
  }

  test("simhashPairs: maxHamming beyond 3 uses more segments, keeps exact recall") {
    val docs = Tables(spark, sf0001, "documents")
    val hashed = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
    val truth = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.h".bitwiseXOR($"b.h")).as("d"))
      .filter($"d" <= 6)
      .as[(Long, Long, Long)].collect().toSet
    val got = Dedup.simhashPairs(docs, $"text", $"doc_id", maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    got shouldBe truth // 7-segment pigeonhole must find every pair
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashPairs(docs, $"text", $"doc_id", maxHamming = 16)
  }

  test("langId: marker-based argmax with deterministic tie-break") {
    val df = Seq(
      "the cat and the dog is here",
      "el que la y en los",
      "der und die das ist",
      "zz qq ww").toDF("t")
    df.select(TextAnalysis.langId($"t")).as[String].collect().toSeq shouldBe
      Seq("en", "es", "de", "und")
  }

  test("quality score: longer natural text beats punctuation soup") {
    val natural = "the cat sat on the mat and it was a good day " * 3
    val soup = "@#$% ^&*( !!! ??? ::: ;;;"
    val df = Seq(natural, soup).toDF("t")
    val s = df.select(TextAnalysis.qualityScore($"t")).as[Double].collect()
    s(0) should be > s(1)
  }

  test("rolling window hashes == direct polynomial recompute (driver)") {
    import graft.expressions.RollingWindowHashes.{M, powers}
    val w = 5
    val texts = Seq(
      "a b c d e f g h i j k",
      "one two three four five",       // exactly w tokens -> 1 window
      "too short",                      // < w tokens -> no windows
      "x  y\tz   p \n q r s t u v")     // messy whitespace
    val got = texts.toDF("t")
      .select(graft.expressions.RollingWindowHashes(
        transform(TextAnalysis.tokens($"t"), Dedup.spanTokenHashMd5 _),
        w).as("h"))
      .as[Seq[Long]].collect().toSeq
    def md5u32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % M
    }
    val pw = powers(w)
    val expected = texts.map { t =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).map(md5u32)
      if (toks.length < w) Seq.empty[Long]
      else toks.sliding(w).map(win =>
        win.zip(pw).map { case (h, p) => h * p % M }.sum % M).toSeq
    }
    // the expression computes via the O(1) rolling update, the
    // recompute via the direct polynomial — equality pins both the
    // update algebra and the oracle's replay form
    got shouldBe expected
  }

  test("rolling span scan: planted duplicate passage found at any offset") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"unique lead-in words here then $passage and a tail"),
      (2L, s"$passage totally different continuation text follows now"),
      (3L, "no shared content in this document at all whatsoever ok")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpansRolling(docs, $"text", $"doc_id",
      windowTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the 8-token passage starts at offset 5 in doc 1 and offset 0 in
    // doc 2 — aligned chunking (chunk 0 = tokens 0-7) would MISS the
    // doc-1 occurrence; overlapping windows catch both
    out(1L)._2 shouldBe 1L   // exactly the passage window duplicated
    out(2L)._2 shouldBe 1L
    out(3L)._2 shouldBe 0L
    out(1L)._3 shouldBe 1L   // max run = the single shared window
    // window counts: n_tokens - w + 1 (doc 1 has 16 tokens: 5 lead-in
    // + 8 passage + 3 tail)
    out(1L)._1 shouldBe (16L - 8 + 1)
    out(3L)._1 shouldBe (10L - 8 + 1)
    // and the fixed-chunk scan indeed misses the unaligned copy
    val chunked = Dedup.duplicatedSpans(docs, $"text", $"doc_id",
      chunkTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    chunked(1L) shouldBe 0L
  }

  test("trimDuplicatedSpans: duplicated chunks cut, order and tail kept") {
    val boiler = (1 to 4).map(i => s"b$i").mkString(" ") // one 4-token chunk
    val docs = Seq(
      (1L, s"$boiler u1 u2 u3 u4 tail1 tail2"), // boiler + unique + tail
      (2L, s"$boiler v1 v2 v3 v4"),             // boiler + unique
      (3L, "w1 w2 w3 w4 w5")                    // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.trimDuplicatedSpans(docs, $"text", $"doc_id",
      chunkTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: chunks [boiler][u1..u4][tail1 tail2]; boiler recurs -> cut
    out(1L) shouldBe ((3L, 2L, "u1 u2 u3 u4 tail1 tail2"))
    out(2L) shouldBe ((2L, 1L, "v1 v2 v3 v4"))
    // doc 3: nothing duplicated, partial tail chunk [w5] preserved
    out(3L) shouldBe ((2L, 2L, "w1 w2 w3 w4 w5"))
  }

  test("trimDuplicatedSpansRolling: unaligned passages cut at any offset") {
    val docs = Seq(
      // shared 4-token passage at DIFFERENT alignments (the case the
      // fixed-chunk trim misses): covered tokens cut, rest kept
      (1L, "p1 p2 p3 p4 a1 a2"),
      (2L, "z1 p1 p2 p3 p4 b1"),
      // within-doc repeat: both occurrences covered -> everything cut
      (3L, "q1 q2 q3 q4 q1 q2 q3 q4"),
      // shorter than one window: passes through untouched
      (4L, "s1 s2 s3")
    ).toDF("doc_id", "text")
    val out = Dedup.trimDuplicatedSpansRolling(docs, $"text", $"doc_id",
        windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((6L, 2L, "a1 a2"))
    out(2L) shouldBe ((6L, 2L, "z1 b1"))
    out(3L) shouldBe ((8L, 0L, ""))
    out(4L) shouldBe ((3L, 3L, "s1 s2 s3"))
  }

  test("rolling span dedup RECALL AUDIT vs exact substring ground truth " +
      "on a planted corpus: all-or-nothing at the window size") {
    // What the linear rolling path (one count-shuffle, no candidate
    // pairs) trades away vs suffix-array-grade exact substring dedup,
    // QUANTIFIED. Planted corpus: per span length L, two docs share an
    // L-token passage at DIFFERENT offsets (7 vs 19); filler tokens are
    // unique per (doc, position) so the planted spans are the ONLY
    // duplicated substrings — the ground truth is known by
    // construction, which is what a suffix array would recover.
    val w = 16
    val lens = Seq(8, 12, 15, 16, 17, 24, 32)
    val docs = lens.flatMap { len =>
      val span = (0 until len).map(i => s"p${len}t$i")
      def doc(id: Long, tag: String, offset: Int) = {
        val filler = (0 until 40).map(i => s"f$tag$i")
        (id, (filler.take(offset) ++ span ++ filler.drop(offset))
          .mkString(" "))
      }
      Seq(doc(len * 10L, s"a$len", 7), doc(len * 10L + 1, s"b$len", 19))
    }.toDF("doc_id", "text")
    val trimmed = Dedup.trimDuplicatedSpansRolling(
        docs, $"text", $"doc_id", windowTokens = w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    lens.foreach { len =>
      Seq(len * 10L, len * 10L + 1).foreach { id =>
        val (nTok, nKept, text) = trimmed(id)
        nTok shouldBe (40L + len)
        if (len < w) {
          // MISS: a duplicated span shorter than one window carries no
          // complete window -> 0 of its tokens detected (recall 0)
          nKept shouldBe (40L + len)
        } else {
          // HIT: every token of a >=w span lies inside some recurring
          // window, at ANY alignment -> exactly the span removed
          // (token recall 1.0) and no filler token falsely cut
          // (precision 1.0: straddling windows include unique filler)
          nKept shouldBe 40L
          text.split(" ").toSeq shouldBe
            text.split(" ").filter(_.startsWith("f")).toSeq
        }
      }
    }
    // corpus-level token recall of the linear path on this plant:
    // sum(L >= w) / sum(L) = (16+17+24+32)/124 — the documented cost
    // of refusing a corpus-wide suffix sort; spans in [1, w-1] are
    // invisible BY DESIGN and the knob that buys them back is a
    // smaller w (more windows, same linear topology), not a new plan
    val caught = lens.filter(_ >= w).map(_.toLong).sum
    val planted = lens.map(_.toLong).sum
    caught shouldBe 89L
    planted shouldBe 124L
    // and the flag scan agrees with the trim on which docs carry dups
    val flags = Dedup.duplicatedSpansRolling(
        docs, $"text", $"doc_id", windowTokens = w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    lens.foreach { len =>
      val expectWins = if (len >= w) (len - w + 1).toLong else 0L
      flags(len * 10L) shouldBe expectWins
      flags(len * 10L + 1) shouldBe expectWins
    }
  }

  test("multi-res span scan: fine tier catches sub-w16 spans, coarse " +
      "tier stays separable, union == exact ground truth at e=4") {
    // planted corpus as in the recall audit: per L, two docs share an
    // L-token passage at different offsets; filler unique -> ground
    // truth known by construction
    val lens = Seq(4, 6, 8, 12, 16, 24)
    val docs = lens.flatMap { len =>
      val span = (0 until len).map(i => s"p${len}t$i")
      def doc(id: Long, tag: String, offset: Int) = {
        val filler = (0 until 40).map(i => s"f$tag$i")
        (id, (filler.take(offset) ++ span ++ filler.drop(offset))
          .mkString(" "))
      }
      Seq(doc(len * 10L, s"a$len", 7), doc(len * 10L + 1, s"b$len", 19))
    }.toDF("doc_id", "text")
    val out = Dedup.duplicatedSpansMultiRes(docs, $"text", $"doc_id",
        windows = Seq(4, 16))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    lens.foreach { len =>
      Seq(len * 10L, len * 10L + 1).foreach { id =>
        val (w4, w16, union) = out(id)
        w4 shouldBe len.toLong            // every planted span >= 4 fully covered
        w16 shouldBe (if (len >= 16) len.toLong else 0L) // r8's measured gap
        union shouldBe len.toLong         // union = the exact answer here
      }
    }
    // the recall harness reports the same story corpus-wide:
    // recall(union vs literal-4-gram truth) = 1.0 on this plant
    val rec = Dedup.exactSpanRecallMulti(docs, $"text", $"doc_id",
        exactLen = 4, windows = Seq(4, 16))
      .agg(sum($"n_cov_exact"), sum($"n_cov_scan"), sum($"n_cov_both"))
      .collect().head
    val (e, s, b) = (rec.getLong(0), rec.getLong(1), rec.getLong(2))
    e shouldBe lens.map(_.toLong * 2).sum
    b shouldBe e   // recall 1.0 by construction
    s shouldBe e   // no collision false-positives on this plant
  }

  test("exactSpanRecallTwin == exactSpanRecallMulti(windows = Seq(w)), " +
      "n_cov_scan named n_cov_rolling") {
    // the planted corpus of the recall audit, then the real sf0.001 one
    val lens = Seq(8, 12, 15, 16, 17, 24, 32)
    val planted = lens.flatMap { len =>
      val span = (0 until len).map(i => s"p${len}t$i")
      def doc(id: Long, tag: String, offset: Int) = {
        val filler = (0 until 40).map(i => s"f$tag$i")
        (id, (filler.take(offset) ++ span ++ filler.drop(offset))
          .mkString(" "))
      }
      Seq(doc(len * 10L, s"a$len", 7), doc(len * 10L + 1, s"b$len", 19))
    }.toDF("doc_id", "text")
    val documents = Tables(spark, sf0001, "documents")
    Seq(planted -> "planted", documents -> "sf0.001").foreach { case (docs, what) =>
      val twin = Dedup.exactSpanRecallTwin(docs, $"text", $"doc_id",
        exactLen = 4, windowTokens = 16)
      val multi = Dedup.exactSpanRecallMulti(docs, $"text", $"doc_id",
          exactLen = 4, windows = Seq(16))
        .withColumnRenamed("n_cov_scan", "n_cov_rolling")
      withClue(s"$what: ") {
        twin.columns.toSeq shouldBe multi.columns.toSeq
        val t = twin.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
        t shouldBe multi.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
        t.map(_(4).asInstanceOf[Long]).sum should be > 0L
      }
    }
  }

  test("trimDuplicatedSpansRolling: md5 and xxhash paths agree here") {
    val docs = Seq(
      (1L, "c1 c2 c3 c4 c5 u1"),
      (2L, "v1 c1 c2 c3 c4 c5")
    ).toDF("doc_id", "text")
    val md5p = Dedup.trimDuplicatedSpansRolling(docs, $"text", $"doc_id",
        windowTokens = 4, hashFn = Dedup.spanTokenHashMd5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val xxp = Dedup.trimDuplicatedSpansRolling(docs, $"text", $"doc_id",
        windowTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    md5p shouldBe xxp
    // 5-token passage shifted by one: both 4-token windows inside it
    // recur -> all 5 covered in each doc
    md5p(1L) shouldBe "u1"
    md5p(2L) shouldBe "v1"
  }

  test("bigram novelty: hand-computed inverse-probability goldens") {
    // unigrams: a:3 b:2 c:1; bigrams: (a,b):2 (a,c):1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("doc_id", "text")
    val out = graft.functions.NgramModel
      .bigramNovelty(docs, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    out(1L) shouldBe ((1L, 1500000L)) // a->b: 3/2 = 1.5
    out(2L) shouldBe ((1L, 1500000L))
    out(3L) shouldBe ((1L, 3000000L)) // a->c: 3/1 = 3 — rarer, scores higher
    out.contains(4L) shouldBe false   // single-token doc has no bigrams
  }

  test("rolling span scan: long duplicated span yields a run, not one hit") {
    val span = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span trailing unique suffix one"),
      (2L, s"prefix unique two $span")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpansRolling(docs, $"text", $"doc_id",
      windowTokens = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 20-token span, w=16 -> 5 consecutive duplicated windows per doc
    out(1L)._2 shouldBe 5L
    out(1L)._3 shouldBe 5L
    out(2L)._3 shouldBe 5L
  }
}
