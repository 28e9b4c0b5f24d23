package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token count and shingles") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = df.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.shingles($"text", 2).as("sh")).head()
    assert(got.getAs[Int]("n") === 4)
    assert(got.getAs[Seq[String]]("sh") === Seq("a b", "b c", "c d"))
  }

  test("shingles shorter than k collapse to whole text") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = df.select(TextAnalysis.shingles($"text", 3).as("sh")).head()
    assert(got.getAs[Seq[String]]("sh") === Seq("a b"))
  }

  test("quality signals: counts are exact") {
    val df = Seq((1L, "the cat sat. on the mat!")).toDF("doc_id", "text")
    val got = TextAnalysis.withQualitySignals(df).head()
    assert(got.getAs[Long]("n_tokens") === 6)
    assert(got.getAs[Long]("n_punct") === 2)
    assert(got.getAs[Long]("n_stopwords") === 2) // "the" twice
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "der hund und die katze"),
      (3L, "el perro y la casa en madrid")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df).orderBy("doc_id")
      .select("lang_pred").collect().map(_.getString(0)).toSeq
    assert(got === Seq("en", "de", "es"))
  }

  test("native shingle hashes are bit-identical to the builtin composition") {
    val real = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    for (k <- Seq(1, 3, 5)) {
      val native = real.select($"doc_id",
          TextAnalysis.shingleHashes($"text", k).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composed = real.select($"doc_id",
          TextAnalysis.shingleHashesComposed($"text", k).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      native.foreach { case (id, h) => assert(h === composed(id), s"doc $id k=$k") }
    }
    // shorter-than-k edge: whole-array hash
    val tiny = Seq((1L, "a b")).toDF("doc_id", "text")
    val n1 = tiny.select(TextAnalysis.shingleHashes($"text", 5)).head().getSeq[Long](0)
    val c1 = tiny.select(TextAnalysis.shingleHashesComposed($"text", 5)).head().getSeq[Long](0)
    assert(n1 === c1 && n1.length === 1)
  }

  test("pii scrub redacts emails, ipv4, digit runs; leaves prose alone") {
    val df = Seq((1L,
      "write to bob.smith+x@mail.example.org or call 555 123 4567 at 192.168.1.10 ok"))
      .toDF("doc_id", "text")
    val got = df.select(TextAnalysis.scrubPii($"text")).head().getString(0)
    assert(got === "write to <EMAIL> or call <NUMBER> at <IP> ok")
    val clean = Seq((1L, "no pii here just words")).toDF("doc_id", "text")
    assert(clean.select(TextAnalysis.scrubPii($"text")).head().getString(0)
      === "no pii here just words")
  }

  test("hash sampling is deterministic and near the target fraction") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val kept = docs.filter(TextAnalysis.hashSample($"text", 0.25))
    val k = kept.count()
    assert(k === kept.count()) // deterministic re-run
    assert(math.abs(k.toDouble / n - 0.25) < 0.1, s"kept $k of $n")
    assert(docs.filter(TextAnalysis.hashSample($"text", 0.0)).count() === 0)
    assert(docs.filter(TextAnalysis.hashSample($"text", 1.0)).count() === n)
  }

  test("tfidf: shared tokens score 0, rare tokens rank first") {
    val df = Seq(
      (1L, "apple banana common"),
      (2L, "cherry banana common"),
      (3L, "durian elder common")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, topK = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(5))).toMap
    // "common" is in every doc → idf = ln(1) = 0; unique tokens rank first
    assert(got((1L, 1L))._1 === "apple")
    assert(got((2L, 1L))._1 === "cherry")
    val ln3 = math.rint(math.log(3.0) * 1e6) / 1e6
    assert(got((1L, 1L))._2 === ln3) // tf=1 · ln(3/1), rounded to 6
    // banana (df=2) ranks above common (idf 0) for docs 1 and 2
    assert(got((1L, 2L))._1 === "banana")
  }

  test("repetition signals: exact fractions on a constructed doc") {
    val df = Seq(
      (1L, "a a a b"),        // 4 tokens, 2 distinct, top token 3x, top bigram "a a" 2x
      (2L, "x y z w")).toDF("doc_id", "text")
    val r = TextAnalysis.withRepetitionSignals(df).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") === 4)
    assert(r(0).getAs[Long]("n_distinct") === 2)
    assert(r(0).getAs[Double]("dup_token_frac") === 0.5)
    assert(r(0).getAs[Double]("top_token_frac") === 0.75)
    assert(r(0).getAs[Double]("top_bigram_frac") === 2.0 / 3.0)
    assert(r(1).getAs[Double]("dup_token_frac") === 0.0)
  }

  test("native repetition stats are bit-identical to the aggregate formulation") {
    val real = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    def key(r: org.apache.spark.sql.Row) = r.getLong(0)
    def vals(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val native = TextAnalysis.withRepetitionSignals(real)
      .collect().map(r => key(r) -> vals(r)).toMap
    val agg = TextAnalysis.withRepetitionSignalsAgg(real)
      .collect().map(r => key(r) -> vals(r)).toMap
    assert(native.keySet === agg.keySet)
    native.foreach { case (id, v) => assert(v === agg(id), s"doc $id") }
    // single-token edge (bigram = whole text)
    val tiny = Seq((1L, "solo")).toDF("doc_id", "text")
    val t = TextAnalysis.withRepetitionSignals(tiny).head()
    assert(t.getLong(1) === 1L && t.getDouble(5) === 1.0)
  }

  test("corpus-scale fingerprints equal the array-expression winnowing") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val fromArray = docs.select($"doc_id",
        org.apache.spark.sql.functions.explode(
          TextAnalysis.fingerprint($"text", 5, 4)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStream = TextAnalysis.fingerprints(docs, k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromStream === fromArray)
    // the window-function formulation agrees with the native one too
    val fromWindow = TextAnalysis.fingerprintsWindowed(docs, k = 5, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromWindow === fromArray)
  }

  test("fingerprint is deterministic and shift-robust on shared regions") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "zz w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")).toDF("doc_id", "text")
    val fps = df.select(TextAnalysis.fingerprint($"text", 3, 4).as("fp"))
      .collect().map(_.getSeq[Long](0))
    // winnowing guarantees shared windows produce shared min-hashes
    assert(fps(0).toSet.intersect(fps(1).toSet).nonEmpty)
  }

  test("profile: one row per column with exact null/distinct counts") {
    val df = Seq(
      (1L, Some("aa"), "x"), (2L, None, "x"), (3L, Some("bb"), "y"))
      .toDF("id", "s", "t")
    val p = TextAnalysis.profile(df).orderBy("col_name").collect()
    assert(p.map(_.getString(0)).toSeq === Seq("id", "s", "t"))
    val byCol = p.map(r => r.getString(0) -> r).toMap
    assert(byCol("id").getAs[Long]("n_rows") === 3)
    assert(byCol("id").getAs[Long]("n_nulls") === 0)
    assert(byCol("id").getAs[Long]("n_distinct") === 3)
    assert(byCol("id").getAs[String]("min_val") === "1")
    assert(byCol("s").getAs[Long]("n_nulls") === 1)
    assert(byCol("s").getAs[Long]("n_distinct") === 2)
    assert(byCol("s").getAs[String]("max_val") === "bb")
    assert(byCol("t").getAs[Long]("n_distinct") === 2)
    assert(p.forall(_.getAs[Boolean]("hll_ok")))
    // the 100 TB shape: expand-free, HLL stands in for the exact distinct
    val approx = TextAnalysis.profile(df, exact = false).orderBy("col_name")
    assert(approx.collect().map(_.getAs[Long]("n_distinct")).toSeq ===
      Seq(3L, 2L, 2L))
  }

  test("weightedHashSample: weight 0 drops all, 1 keeps all, clamps, composes") {
    val docs = (1L to 200L).map(i => (i, s"doc body number $i")).toDF("doc_id", "text")
    assert(TextAnalysis.weightedHashSample(docs, lit(0.0)).count() === 0L)
    assert(TextAnalysis.weightedHashSample(docs, lit(1.0)).count() === 200L)
    assert(TextAnalysis.weightedHashSample(docs, lit(7.5)).count() === 200L)   // clamp hi
    assert(TextAnalysis.weightedHashSample(docs, lit(-3.0)).count() === 0L)    // clamp lo
    // null weight drops (least/greatest skip nulls — an unguarded clamp
    // would silently treat unknown weight as 1.0 and keep everything)
    assert(TextAnalysis.weightedHashSample(docs,
      lit(null).cast("double")).count() === 0L)
    val half = TextAnalysis.weightedHashSample(docs, lit(0.5))
    val n = half.count()
    assert(n > 60 && n < 140, s"0.5 sample kept $n of 200")
    // same hash stream ⇒ samples NEST (min, not product): re-sampling the
    // 0.5 cut at 0.25 keeps exactly the direct 0.25 cut's rows
    val nested = TextAnalysis.weightedHashSample(half, lit(0.25))
      .collect().map(_.getLong(0)).toSet
    val direct = TextAnalysis.weightedHashSample(docs, lit(0.25))
      .collect().map(_.getLong(0)).toSet
    assert(nested === direct)
    assert(direct.subsetOf(half.collect().map(_.getLong(0)).toSet))
  }

  test("disposition labels each row with the first stage that dropped it") {
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val s1 = Seq(1L, 2L, 3L, 4L).toDF("doc_id")        // 5 dropped: dup
    val s2 = Seq(1L, 2L, 3L).toDF("doc_id")            // 4 dropped: quality
    val s3 = Seq(2L, 3L).toDF("doc_id")                // 1 dropped: ppl
    val got = TextAnalysis.disposition(all, Seq(
        "duplicate" -> s1, "quality" -> s2, "perplexity" -> s3))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "perplexity", 2L -> "kept", 3L -> "kept",
      4L -> "quality", 5L -> "duplicate"))
    // duplicate labels refuse loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.disposition(all, Seq("a" -> s1, "a" -> s2))
    }
  }

  test("tokenDrift ranks by the integer cross-multiplied frequency gap") {
    // side a: 4 tokens total, side b: 4 tokens total; "x" only in a,
    // "y" only in b, "c" balanced → drift |c_a*N_b - c_b*N_a| = 4*|..|
    val a = Seq((2L, "c c c x")).toDF("doc_id", "text")
    val b = Seq((1L, "c c c y")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDrift(a, b, k = 10).collect()
    val byTok = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byTok("x") === ((1L, 0L, 4L)))
    assert(byTok("y") === ((0L, 1L, 4L)))
    assert(byTok("c") === ((3L, 3L, 0L)))
    // deterministic order: drift desc, then token asc
    assert(got.map(_.getString(0)).toSeq === Seq("x", "y", "c"))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different words here nothing shared")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id and counts copies") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length === 3)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") === 1L)
    assert(Dedup.exactDedup(docs).count() === 3)
    assert(Dedup.exactDedup(docs).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 4L))
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5).collect()
    val ids = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ids.contains((1L, 2L))) // identical: J = 1.0
    assert(ids.contains((1L, 3L)) && ids.contains((2L, 3L))) // near dup
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("native minhash signature is bit-identical to the aggregate formulation") {
    val real = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val native = Dedup.minhashSignature(real, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = Dedup.minhashSignatureAgg(real, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet === agg.keySet)
    native.foreach { case (id, sig) => assert(sig === agg(id), s"doc $id") }
  }

  test("native bloom probe agrees with the broadcast filter on both execution paths") {
    // BloomMightContain must return exactly bf.mightContainLong(h) for
    // every hash — via whole-stage codegen (the filter path) AND via
    // interpreted eval (the path a codegen fallback would take).
    val rnd = new scala.util.Random(11)
    val present = Seq.fill(200)(rnd.nextLong()).distinct
    val absent = Seq.fill(200)(rnd.nextLong()).distinct.filterNot(present.contains)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(present.size, 0.01)
    present.foreach(bf.putLong)
    val bc = spark.sparkContext.broadcast(bf)
    val probe = (present ++ absent).toDF("h")
      .withColumn("got",
        graft.functions.GraftFunctions.bloomMightContain(bc, col("h")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // distributed (codegen) result equals a direct driver-side probe
    (present ++ absent).foreach { h =>
      assert(probe(h) === bf.mightContainLong(h), s"codegen path, h=$h")
    }
    // no false negatives, ever (the property bloomDedup's one-sided
    // error contract rests on)
    present.foreach(h => assert(probe(h), s"false negative for $h"))
    // interpreted eval path agrees too
    val expr = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), bc)
    (present ++ absent).foreach { h =>
      val viaEval = graft.functions.BloomMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(h), bc)
        .eval(null).asInstanceOf[Boolean]
      assert(viaEval === bf.mightContainLong(h), s"eval path, h=$h")
    }
    assert(expr.checkInputDataTypes().isSuccess)
  }

  test("minhash LSH candidates cover high-jaccard pairs; verification filters") {
    val verified = Dedup.minhashDedupPairs(docs, threshold = 0.5, numHashes = 64, bands = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(verified.contains((1L, 2L)))
    assert(verified.contains((1L, 3L)))
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("fuzzy decontamination: near-dup eval pairs surface, unrelated docs don't") {
    // train 10 paraphrases eval 100 (shares most 3-grams), train 11 is
    // unrelated prose, train 12 exactly duplicates eval 101
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely different text with no overlap at all here"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyDecontaminate(train, eval, threshold = 0.5,
        numHashes = 64, bands = 16)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id"),
        r.getAs[Double]("jaccard"))).toSeq
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((10L, 100L)))
    assert(pairs.contains((12L, 101L)))
    assert(!pairs.exists(_._1 == 11L))
    // the exact duplicate verifies at jaccard 1.0
    assert(got.find(t => t._1 == 12L).exists(_._3 === 1.0))
    // every verified pair meets the exact threshold (subset-of-exact)
    assert(got.forall(_._3 >= 0.5))
  }

  test("fuzzy decontamination property: reported pairs ⊆ exact threshold pairs, jaccards exact") {
    // seeded random corpora built from a small token pool (so shingle
    // overlap actually occurs), mutated eval copies planted in train
    val rnd = new scala.util.Random(7)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc(len: Int): String = Seq.fill(len)(pool(rnd.nextInt(pool.size))).mkString(" ")
    val eval = (100L to 109L).map(i => (i, doc(6 + rnd.nextInt(8))))
    val train = (1L to 30L).map { i =>
      if (i <= 10 && rnd.nextBoolean()) {
        // mutate an eval doc: drop or swap one token
        val toks = eval((i % 10).toInt)._2.split(" ").toBuffer
        toks.remove(rnd.nextInt(toks.size))
        (i, toks.mkString(" "))
      } else (i, doc(6 + rnd.nextInt(8)))
    }
    val trainDf = train.toDF("doc_id", "text")
    val evalDf = eval.toDF("doc_id", "text")
    val k = 3
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" +").toSeq
      if (toks.length < k) Set(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val thr = 0.3
    val exact = (for {
      (ti, tt) <- train; (ei, et) <- eval if jac(tt, et) >= thr
    } yield (ti, ei)).toSet
    val got = Dedup.fuzzyDecontaminate(trainDf, evalDf, threshold = thr,
        numHashes = 64, bands = 32, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // subset-of-exact with exact jaccard values (hashed-shingle jaccard ==
    // string-shingle jaccard in the collision-free regime)
    got.foreach { case (t, e, j) =>
      assert(exact.contains((t, e)), s"false pair ($t,$e)")
      val jd = jac(train.find(_._1 == t).get._2, eval.find(_._1 == e).get._2)
      assert(math.abs(j - jd) < 1e-12, s"jaccard mismatch ($t,$e): $j vs $jd")
    }
    // with 32 bands of 2 rows, near-identical pairs are essentially
    // always caught — require substantial recall, not perfection
    assert(exact.isEmpty || got.size * 10 >= exact.size * 7,
      s"recall ${got.size}/${exact.size}")
  }

  test("simhash: identical docs distance 0; near dups within threshold; different docs far") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Long]("hamming"))).toMap
    assert(pairs(((1L, 2L))) === 0L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("connected components: chains collapse to min id, singletons keep their own") {
    // components: {1,2,3,5} (chain 1-2, 2-3, 3-5), {7,8}; 4 and 9 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L))

    val all = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L).toDF("doc_id")
    val clusters = Dedup.dedupClusters(all, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connected components: a long chain converges on BOTH execution paths") {
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // union-find path (default: edge list under the driver limit)
    val uf = Dedup.connectedComponents(chain).collect()
    assert(uf.map(_.getLong(1)).distinct.toSeq === Seq(0L))
    assert(uf.length === 21)
    // distributed label-propagation path (force with driverEdgeLimit = 0)
    val dist = Dedup.connectedComponents(chain, driverEdgeLimit = 0L).collect()
    assert(dist.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      uf.map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("connected components: driver and distributed paths agree on supplementary-plane string ids") {
    // U+FFFF sorts BELOW U+10000 in UTF-8 byte order (Spark's min: EF BF
    // BF < F0 90 80 80) but ABOVE it in UTF-16 code-unit order
    // (String.compareTo: 0xFFFF > 0xD800) — the crowned cluster_id must
    // not depend on which path the edge-list size picks
    val hi = "𐀀" // U+10000
    val pairs = Seq(("￿", hi)).toDF("id_a", "id_b")
    val uf = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uf === dist)
    assert(uf.values.toSet === Set("￿")) // Spark's byte-order min
  }

  test("connected components: distributed path works on STRING ids (r2 ADVICE: sum-based convergence NPE'd)") {
    val pairs = Seq(("ant", "bee"), ("bee", "cat"), ("xen", "yak")).toDF("id_a", "id_b")
    val expect = Map("ant" -> "ant", "bee" -> "ant", "cat" -> "ant",
      "xen" -> "xen", "yak" -> "xen")
    val uf = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uf === expect)
    val dist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === expect)
  }

  test("connected components: 200-node path (diameter ≫ maxIter) converges via pointer jumping") {
    // plain one-hop propagation needs 200 rounds; the pointer-jump variant
    // halves effective diameter per round → ~8 rounds, well under maxIter
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dist = Dedup.connectedComponents(path, driverEdgeLimit = 0L, maxIter = 20)
      .collect()
    assert(dist.length === 201)
    assert(dist.map(_.getLong(1)).distinct.toSeq === Seq(0L))
  }

  test("connected components property: distributed ≡ union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 50
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val df = edges.toDF("id_a", "id_b")
      val uf = Dedup.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(df, driverEdgeLimit = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === uf, s"trial $trial: distributed and union-find labelings differ")
    }
  }

  test("connected components: byte-aware cutoff routes wide string edges to the distributed path") {
    // 3 rows — under the row limit — but the byte limit forces distributed;
    // result must be identical either way
    val pairs = Seq(("a" * 200, "b" * 200), ("b" * 200, "c" * 200)).toDF("id_a", "id_b")
    val viaBytes = Dedup.connectedComponents(pairs, driverEdgeBytesLimit = 100L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaDriver = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaBytes === viaDriver)
    assert(viaBytes.values.toSet === Set("a" * 200))
  }

  test("simhash64 on a non-array column fails at analysis time, not runtime") {
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.GraftFunctions.simhash64($"text")).collect()
    }
    assert(ex.getMessage.contains("array<string>"))
  }

  test("LSH-blocked embedding near-dup finds identical vectors without label blocking") {
    val vecs = Seq(
      (1L, Array.tabulate(64)(i => (i % 7).toFloat + 1f)),
      (2L, Array.tabulate(64)(i => (i % 7).toFloat + 1f)),     // identical to 1
      (3L, Array.tabulate(64)(i => ((i * 13) % 11).toFloat - 5f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupLsh(vecs, 0.999, nPlanes = 6, dim = 64).collect()
    assert(got.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet === Set((1L, 2L)))
  }

  test("embedding near-dup finds the planted identical vector") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f), 0),
      (2L, Array(1.0f, 0.0f, 0.5f), 0),   // identical
      (3L, Array(-1.0f, 0.2f, 0.0f), 0),
      (4L, Array(1.0f, 0.1f, 0.4f), 1)    // other block: never compared
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDup(vecs, 0.99, blockCol = Some("label")).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("id_a") === 1L)
    assert(got.head.getAs[Long]("id_b") === 2L)
    assert(math.abs(got.head.getAs[Double]("cosine") - 1.0) < 1e-12)
  }

  test("semantic dedup (SemDeDup): one representative per within-cell near-dup group") {
    // Two planted identical-vector groups plus distinct vectors. The cell
    // layout is the quantizer's business — the deterministic guarantees
    // are: identical vectors ALWAYS share a cell (same assignment
    // function), exactly one of each identical group survives (min id),
    // every cluster keeps exactly one representative, and no within-cell
    // KEPT pair reaches the threshold.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.2f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.2f)),   // ≡ 1
      (5L, Array(1.0f, 0.0f, 0.0f, 0.2f)),   // ≡ 1
      (10L, Array(0.0f, 1.0f, 0.3f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.3f, 0.0f)),  // ≡ 10
      (20L, Array(-1.0f, 0.5f, 0.0f, -0.3f)),
      (21L, Array(0.2f, -0.9f, 0.7f, 0.1f))
    ).toDF("vec_id", "embedding")
    val res = Dedup.semanticDedup(vecs, nCells = 3, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))) // (id, cell, cluster, kept)
    assert(res.length === 7)
    val byId = res.map(r => r._1 -> r).toMap
    // identical groups collapse to the min id
    assert(byId(1L)._4 && !byId(2L)._4 && !byId(5L)._4)
    assert(byId(2L)._3 === 1L && byId(5L)._3 === 1L)
    assert(byId(10L)._4 && !byId(11L)._4 && byId(11L)._3 === 10L)
    // distinct vectors survive as their own singletons
    assert(byId(20L)._4 && byId(20L)._3 === 20L)
    assert(byId(21L)._4 && byId(21L)._3 === 21L)
    // exactly one kept per cluster
    res.groupBy(_._3).foreach { case (c, ms) =>
      assert(ms.count(_._4) === 1, s"cluster $c kept ${ms.count(_._4)}")
    }
    // identical vectors share a cell
    assert(Set(byId(1L)._2, byId(2L)._2, byId(5L)._2).size === 1)
    assert(byId(10L)._2 === byId(11L)._2)
  }

  test("semantic dedup: a whale cell SPLITS recursively instead of refusing (r6 VERDICT)") {
    // Adversarially-skewed embedding space: every vector is a near-dup of
    // one direction, so K-Means puts (almost) the whole corpus in ONE cell
    // — the shape that silently turns the within-cell self-join quadratic.
    // Round 7: the oversized cell re-runs the sample-trained quantizer
    // inside itself (bounded depth) and the run COMPLETES without tuning.
    val rnd = new scala.util.Random(11)
    val whale = (0 until 200).map { i =>
      (i.toLong, Array.fill(4)(1.0f + (rnd.nextFloat() - 0.5f) * 0.01f))
    }.toDF("vec_id", "embedding")
    val res = Dedup.semanticDedup(whale, nCells = 4, threshold = 0.9,
      maxCellRows = 50L).collect()
    assert(res.length === 200)
    // the split really happened: leaf cells are path-extended and bounded
    val cellSizes = res.groupBy(_.getString(1)).view.mapValues(_.size)
    assert(cellSizes.values.max <= 50, cellSizes.toMap.toString)
    assert(res.exists(_.getString(1).contains("/")), "no cell was split")
    // depth exhausted still refuses loudly (the old guard, now the
    // escalation backstop)
    val e = intercept[Exception] {
      Dedup.semanticDedup(whale, nCells = 4, threshold = 0.9,
        maxCellRows = 50L, maxSplitDepth = 0).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("semanticDedup: cell")),
      s"expected the whale-cell guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("semantic dedup: one cell holding 50% of the corpus passes end-to-end (r6 VERDICT item 3)") {
    // The VERDICT's adversarial shape: half the corpus is ONE dense
    // near-dup cluster (tight jitter around one direction), half is
    // spread. No parameter tuning: default-shaped call with a small cap.
    // Also mixes in byte-identical copies — the truly unsplittable whale
    // — which must collapse linearly, never defeat the splitter.
    val rnd = new scala.util.Random(23)
    val dense = (0 until 300).map { i =>
      (i.toLong, Array.fill(8)(1.0f + (rnd.nextFloat() - 0.5f) * 0.005f))
    }
    val copies = (300 until 400).map(i => (i.toLong, dense(0)._2)) // identical
    val spread = (400 until 600).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    }
    val df = (dense ++ copies ++ spread).toDF("vec_id", "embedding")
    val res = Dedup.semanticDedup(df, nCells = 4, threshold = 0.95,
      maxCellRows = 64L).collect()
    assert(res.length === 600)
    // identical copies all land in vec 0's cluster and are dropped
    val byId = res.map(r => r.getLong(0) -> r).toMap
    (300L until 400L).foreach { i =>
      assert(byId(i).getLong(2) === byId(0L).getLong(2), s"copy $i cluster")
      assert(!byId(i).getBoolean(3), s"copy $i kept")
    }
    // exactly one kept per cluster; leaf cells bounded by the cap
    res.groupBy(_.getLong(2)).foreach { case (c, ms) =>
      assert(ms.count(_.getBoolean(3)) === 1, s"cluster $c")
    }
    // distinct vectors per leaf cell respect the cap (copies collapse, so
    // count distinct embeddings, not rows)
    res.groupBy(_.getString(1)).foreach { case (cell, ms) =>
      val distinctIds = ms.map(_.getLong(0)).filter(i => i < 300 || i >= 400)
      assert(distinctIds.size <= 64, s"leaf $cell holds ${distinctIds.size}")
    }
  }

  test("semantic dedup: a whale of identical zero-norm vectors bypasses the cell machinery (r7 review)") {
    // Failed-embedding rows are exactly this shape: many byte-identical
    // all-zero vectors. They can never pair (cosine NaN clears no
    // threshold) so each is a singleton by contract — but inside the
    // machinery they'd blow the cell cap, and no quantizer can split
    // identical points, so the split rounds would burn out and refuse
    // with advice that cannot work. They must route straight through.
    val zeros = (0 until 500).map(i => (i.toLong, Array.fill(8)(0.0f)))
    val normal = (500 until 520).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.1f))
    }
    val df = (zeros ++ normal).toDF("vec_id", "embedding")
      // a NULL embedding must survive as a singleton too, not silently
      // vanish (its norm is NULL — fails both a <=0 and a >0 filter
      // without the coalesce; r7 review), and so must a NaN-bearing one
      // (a failed embedding job's row: its norm is NaN, which ALSO fails
      // both filters; r15 review)
      .unionByName(Seq((999L, Option.empty[Array[Float]]))
        .toDF("vec_id", "embedding"))
      .unionByName(Seq((998L, Some(Array(Float.NaN, 1f, 0f, 0f, 0f, 0f, 0f, 0f))))
        .toDF("vec_id", "embedding"))
    // cap of 64 ≪ 500 zero vectors; completes without tuning or refusal
    val res = Dedup.semanticDedup(df, nCells = 4, threshold = 0.9,
      maxCellRows = 64L).collect()
    assert(res.length === 522)
    ((0L until 500L) ++ Seq(998L, 999L)).foreach { i =>
      val r = res.find(_.getLong(0) == i).get
      assert(r.getLong(2) === i, s"zero/null/NaN vec $i must be its own cluster")
      assert(r.getBoolean(3), s"zero/null/NaN vec $i must be kept")
    }
  }

  test("bloomDedup: sketch sizing guard + sidecar-driven expectedItems") {
    // bits = −n·ln(fpp)/ln²2: 10^10 items at fpp=0.01 ≈ 12 GB — the
    // documented driver-bitset bound the guard enforces.
    assert(Dedup.bloomBytes(10000000000L, 0.01) > 11L * (1L << 30))
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val batch = Seq((3L, "c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomDedup(corpus, batch,
        expectedItems = Some(10000000000L), maxBloomBytes = 1L << 30)
    }
    assert(e.getMessage.contains("driver+broadcast memory"), e.getMessage)

    // TrailDB overload: expectedItems defaults from the finalize sidecar
    // (num_events) — no extra corpus count pass
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-tdb")
    val db = new graft.core.TrailDBCons(spark, Seq("etype"))
      .add(Seq((f"${1}%032x", 100L, "e1"), (f"${2}%032x", 200L, "e2"))
        .toDF("uuid", "time", "etype"))
      .finalizeTo(dir.resolve("db").toString)
    val kept = Dedup.bloomDedup(db,
      Seq("e1", "e9").toDF("etype"), "etype", 0.01, 1L << 30).collect()
    assert(kept.map(_.getString(0)).toSeq === Seq("e9")) // e1 probes positive
  }

  test("semantic dedup property: contract holds on seeded random vectors") {
    // Full driver-side recomputation of the SemDeDup contract — the same
    // guarantees e_semantic_dedup's oracle checks, here against plain
    // Scala math with no shared Spark code path: exactly one kept per
    // cluster; no within-cell KEPT pair reaches the threshold; every
    // dropped vector has a same-cluster witness at >= threshold; cluster
    // members share a cell (blocking never merges across cells).
    val rnd = new scala.util.Random(7)
    for ((n, dim, thr) <- Seq((60, 8, 0.9), (80, 6, 0.8))) {
      // half random, half near-duplicates of earlier vectors (tiny jitter)
      val base = Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      (n / 2 until n).foreach { i =>
        val src = base(rnd.nextInt(n / 2))
        base(i) = src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
      }
      val df = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toSeq.toDF("vec_id", "embedding")
      val res = Dedup.semanticDedup(df, nCells = 4, threshold = thr)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getBoolean(3)))
      assert(res.length === n)

      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        d / math.sqrt(na * nb)
      }
      val cellOf = res.map(r => r._1 -> r._2).toMap
      val byCluster = res.groupBy(_._3)
      byCluster.foreach { case (c, ms) =>
        assert(ms.count(_._4) === 1, s"cluster $c kept ${ms.count(_._4)}")
        assert(ms.map(_._2).distinct.length === 1,
          s"cluster $c spans cells ${ms.map(_._2).distinct}")
      }
      val kept = res.filter(_._4).map(_._1)
      for (a <- kept; b <- kept if a < b && cellOf(a) == cellOf(b))
        assert(cos(base(a.toInt), base(b.toInt)) < thr,
          s"kept pair ($a,$b) in one cell at >= $thr")
      res.filterNot(_._4).foreach { case (id, _, cl, _) =>
        val members = byCluster(cl).map(_._1).filter(_ != id)
        assert(members.exists(m => cos(base(id.toInt), base(m.toInt)) >= thr),
          s"dropped $id has no >=$thr witness in cluster $cl")
      }
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = TestSpark.spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("covarianceMatrix: exact integer moments on a hand-computed case") {
    // vectors (1,2), (3,4), (5,0): micro sums s=(9e6, 6e6);
    // p00 = 1+9+25 = 35e12, p01 = 2+12+0 = 14e12, p11 = 4+16+0 = 20e12
    val df = Seq(
      (1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 0f)))
      .toDF("vec_id", "embedding")
      .repartition(3) // force partial buffers + merge
    val got = Similarity.covarianceMatrix(df, dim = 2).orderBy("i", "j")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got((0, 0))._3 === 35000000000000L)
    assert(got((0, 1)) === ((9000000L, 6000000L, 14000000000000L,
      (14.0 - 9.0 * 6.0 / 3.0) / 3.0)))
    assert(got((1, 1))._3 === 20000000000000L)
    // biased covariance: E[xy] - E[x]E[y]
    assert(math.abs(got((0, 0))._4 - (35.0 / 3 - 9.0 * 9.0 / 9)) < 1e-9)
    // guard: a corpus past the exact-integer bound refuses loudly
    val e = intercept[IllegalArgumentException](
      Similarity.covarianceMatrix(df, dim = 2, maxRows = 2L))
    assert(e.getMessage.contains("exact-integer bound"))
    // ragged input refuses loudly rather than mis-indexing
    val bad = Seq((1L, Seq(1f))).toDF("vec_id", "embedding")
    val e2 = intercept[Exception](Similarity.covarianceMatrix(bad, dim = 2).collect())
    assert(e2.getMessage.contains("dense"))
  }

  test("Gram property: packed moments equal the naive computation on seeded random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val dim = 1 + rnd.nextInt(7)
      val n = 1 + rnd.nextInt(40)
      val vecs = Seq.fill(n)(Seq.fill(dim)((rnd.nextFloat() - 0.5f) * 4f))
      // naive reference with the same SQL-round quantization
      def micro(x: Float): Long = {
        val y = x.toDouble * 1e6
        (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
      }
      val m = vecs.map(v => v.map(micro))
      val expS = (0 until dim).map(i => m.map(_(i)).sum)
      val expP = for (i <- 0 until dim; j <- i until dim)
        yield ((i, j), m.map(v => v(i) * v(j)).sum)
      val got = Similarity.covarianceMatrix(
          vecs.zipWithIndex.map { case (v, k) => (k.toLong, v) }
            .toDF("vec_id", "embedding").repartition(4),
          dim).collect()
      got.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        assert(r.getLong(2) === n.toLong, s"trial $trial n")
        assert(r.getLong(3) === expS(i), s"trial $trial s_i($i,$j)")
        assert(r.getLong(4) === expS(j), s"trial $trial s_j($i,$j)")
        assert(r.getLong(5) === expP.toMap.apply((i, j)), s"trial $trial p($i,$j)")
      }
      assert(got.length === dim * (dim + 1) / 2)
    }
  }

  test("whiten: whitened corpus has ~identity covariance; degenerate dims collapse") {
    // correlated 2-d data plus a THIRD dimension that is an exact copy of
    // the first — rank 2, so one whitened dim must carry ~zero variance
    val rows = Seq(
      Seq(1f, 2.1f, 1f), Seq(2f, 3.9f, 2f), Seq(3f, 6.2f, 3f),
      Seq(4f, 7.8f, 4f), Seq(5f, 10.1f, 5f), Seq(0f, 0.2f, 0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val wh = Similarity.whiten(rows, dim = 3)
      .select(col("whitened").as("embedding"))
    val c = Similarity.covarianceMatrix(wh, dim = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(6)).toMap
    val diag = Seq(c((0, 0)), c((1, 1)), c((2, 2)))
    // components ordered by variance: live dims ≈ 1 first, degenerate ≈ 0 last
    assert(math.abs(diag(0) - 1.0) < 1e-2, s"diag $diag")
    assert(math.abs(diag(1) - 1.0) < 1e-2, s"diag $diag")
    assert(diag(2) < 1e-2, s"degenerate dim should collapse: $diag")
    assert(Seq((0, 1), (0, 2), (1, 2)).forall(k => math.abs(c(k)) < 1e-2),
      "whitened off-diagonals should vanish")
    // the real corpus: 64 dims, all live
    val embWh = Similarity.whiten(emb.limit(300), dim = 64)
      .select(col("whitened").as("embedding"))
    val ec = Similarity.covarianceMatrix(embWh, dim = 64).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(6)).toMap
    val offMax = ec.collect { case ((i, j), v) if i != j => math.abs(v) }.max
    val diagErr = ec.collect { case ((i, j), v) if i == j => math.abs(v - 1.0) }.max
    assert(offMax < 1e-2, s"max off-diagonal $offMax")
    assert(diagErr < 1e-2, s"max diag error $diagErr")
  }

  test("opq rotation: orthogonal, cosine neighbors invariant, subspaces balanced") {
    val corpus = emb.limit(200).localCheckpoint()
    val rot = Similarity.fitOpqRotation(corpus, dim = 64, m = 4)
    // 1. R·Rᵀ = I — a pure rotation, nothing scaled or centered
    val R = rot.rows.map(_.toArray).toArray
    for (i <- 0 until 64; j <- i until 64) {
      val d = (0 until 64).map(t => R(i)(t) * R(j)(t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RRt($i,$j) = $d")
    }
    // 2. cosine neighbors EXACTLY invariant: same pairs, same cosines
    val queries = corpus.filter(col("vec_id") < 5)
    def rotated(df: org.apache.spark.sql.DataFrame) =
      rot.transform(df).select(col("vec_id"),
        col("rotated").cast("array<float>").as("embedding"))
    val raw = Similarity.bruteForceKnn(corpus, queries, k = 5)
      .select(col("query_id"), col("corpus_id"), col("cosine"))
    val rotKnn = Similarity.bruteForceKnn(rotated(corpus), rotated(queries), k = 5)
      .select(col("query_id"), col("corpus_id"), col("cosine").as("rcos"))
    val joined = raw.join(rotKnn, Seq("query_id", "corpus_id")).collect()
    assert(joined.length.toLong === raw.count(),
      "rotation changed the neighbor set")
    // float32 cast after rotation: agreement to ~1e-6, far under any gap
    joined.foreach(r => assert(
      math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5,
      s"cosine drift on pair (${r.getLong(0)}, ${r.getLong(1)})"))
    // 3. eigenvalue allocation BALANCES per-subspace log-variance vs the
    // naive PCA-descending contiguous slicing — visible only on an
    // anisotropic corpus, so build one (2 dominant directions at dim 8)
    val rnd = new scala.util.Random(5)
    val aniso = (0 until 400).map { i =>
      val a = 6.0 * rnd.nextGaussian(); val b = 4.0 * rnd.nextGaussian()
      val x = Array.tabulate(8)(d => 0.3f * rnd.nextGaussian().toFloat)
      x(0) = (x(0) + a).toFloat; x(3) = (x(3) + b).toFloat
      (i.toLong, x.toSeq)
    }.toDF("vec_id", "embedding")
    val rot8 = Similarity.fitOpqRotation(aniso, dim = 8, m = 4)
    val diag = Similarity.covarianceMatrix(
        rot8.transform(aniso).select(col("rotated").as("embedding")), dim = 8)
      .filter(col("i") === col("j")).orderBy("i")
      .select("cov").collect().map(_.getDouble(0))
    def spread(vs: Seq[Double]): Double = {
      val sums = vs.grouped(2).map(_.map(v => math.log(v max 1e-12)).sum).toSeq
      sums.max - sums.min
    }
    val opqSpread = spread(diag.toSeq)
    val naiveSpread = spread(diag.toSeq.sorted.reverse)
    assert(opqSpread < naiveSpread,
      s"allocation not balanced: opq $opqSpread vs naive $naiveSpread")
  }

  test("opq rotation: orthogonality and neighbor invariance hold on random anisotropic corpora") {
    // property sweep over seeded random low-rank corpora — the shapes
    // the single-case spec above can't cover (varying rank, scale
    // spread, rank-deficient dims)
    for (seed <- Seq(101, 202, 303)) {
      val rnd = new scala.util.Random(seed)
      val dim = 16
      val nDom = 2 + rnd.nextInt(4)
      val corpus = (0 until 250).map { i =>
        val x = Array.fill(dim)(0.2f * rnd.nextGaussian().toFloat)
        for (j <- 0 until nDom) {
          val a = (5.0 - j) * rnd.nextGaussian()
          x(j * 3 % dim) = (x(j * 3 % dim) + a).toFloat
        }
        (i.toLong, x.toSeq)
      }.toDF("vec_id", "embedding").localCheckpoint()
      val rot = Similarity.fitOpqRotation(corpus, dim, m = 4)
      val R = rot.rows.map(_.toArray).toArray
      for (i <- 0 until dim; j <- i until dim) {
        val d = (0 until dim).map(t => R(i)(t) * R(j)(t)).sum
        assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"seed $seed RRt($i,$j) = $d")
      }
      val queries = corpus.filter(col("vec_id") < 4)
      def rotated(df: org.apache.spark.sql.DataFrame) =
        rot.transform(df).select(col("vec_id"),
          col("rotated").cast("array<float>").as("embedding"))
      val raw = Similarity.bruteForceKnn(corpus, queries, k = 4)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rotSet = Similarity.bruteForceKnn(rotated(corpus), rotated(queries), k = 4)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rotSet === raw, s"seed $seed: neighbor set changed under rotation")
    }
  }

  test("native dot_f64 is bit-identical to the builtin zip_with fold") {
    val pairs = emb.limit(40).select($"vec_id".as("ia"), $"embedding".as("va"))
      .crossJoin(emb.limit(40).select($"vec_id".as("ib"), $"embedding".as("vb")))
    val diff = pairs.select(
        Similarity.dot($"va", $"vb").as("native"),
        Similarity.dotFold($"va", $"vb").as("fold"))
      .filter($"native" =!= $"fold").count()
    assert(diff === 0L)
    // analysis-time type error on non-float arrays
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b")
        .select(graft.functions.GraftFunctions.dotF64($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("array<float>"))
  }

  test("native int8 quant/dequant are bit-identical to the builtin compositions") {
    // Real corpus: every (scale6, n_sat, err_pico) row and every
    // reconstructed vector must agree exactly with the five-pass
    // higher-order-builtin form (which hash-matches the DuckDB oracle).
    val nq = Similarity.quantizeInt8(emb).orderBy("vec_id").collect().toSeq
    val fq = Similarity.quantizeInt8Fold(emb).orderBy("vec_id").collect().toSeq
    assert(nq.map(_.toString) === fq.map(_.toString) && nq.nonEmpty)
    val nd = Similarity.dequantized(emb).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val fd = Similarity.dequantizedFold(emb).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(nd === fd && nd.nonEmpty)
    // rounding ties and adversarial values: Spark's Round-on-double uses
    // BigDecimal.valueOf (decimal string), NOT the exact binary expansion
    // — .5-tie and near-tie vectors must still agree bit-for-bit
    val tricky = Seq(
      (1L, Array(2.5f, -2.5f, 0.5f, -0.5f)),
      (2L, Array(1.5f, 126.5f, -126.5f, 63.25f)),
      (3L, Array(0.49999997f, -0.50000003f, 127f, -127f)),
      (4L, Array(1e-8f, -1e-8f, 1e8f, -1e8f))).toDF("vec_id", "embedding")
    val tq = Similarity.quantizeInt8(tricky).orderBy("vec_id").collect().toSeq
    val tf = Similarity.quantizeInt8Fold(tricky).orderBy("vec_id").collect().toSeq
    assert(tq.map(_.toString) === tf.map(_.toString))
    // all-zero vector: no defined scale — dropped on both paths
    val z = Seq((9L, Array(0f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.quantizeInt8(z).count() === 0)
    assert(Similarity.quantizeInt8Fold(z).count() === 0)
    assert(Similarity.dequantized(z).count() === 0)
  }

  test("native sign_lsh is bit-identical to the builtin per-plane fold") {
    // Same weight derivation (xxhash64 of int index, seed 42), same
    // left-to-right double fold per plane — bucket ids must agree exactly
    // on the real (dense, length-64) embedding corpus.
    Seq(5, 8, 12).foreach { nPlanes =>
      val diff = emb.select(
          Similarity.lshBucket($"embedding", nPlanes, 64).as("native"),
          Similarity.lshBucketFold($"embedding", nPlanes, 64).as("fold"))
        .filter($"native" =!= $"fold").count()
      assert(diff === 0L, s"sign_lsh diverged from the fold at nPlanes=$nPlanes")
    }
    // length mismatch buckets to 0 (the builtin's null-padded fold does too)
    val short = Seq((1L, Array(1f, 2f))).toDF("id", "v")
    val got = short.select(
      graft.functions.GraftFunctions.signLsh($"v", 4, 64).as("b"),
      Similarity.lshBucketFold($"v", 4, 64).as("bf")).head()
    assert(got.getLong(0) === 0L)
    assert(got.getLong(1) === 0L)
    // analysis-time type error on non-float arrays
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1L, 2L)).toDF("a")
        .select(graft.functions.GraftFunctions.signLsh($"a", 4, 2)).collect()
    }
    assert(ex.getMessage.contains("array<float>"))
  }

  test("brute-force knn returns k ranked neighbors per query") {
    val queries = emb.filter($"vec_id" < 3)
    val got = Similarity.bruteForceKnn(emb, queries, k = 5)
    val rows = got.collect()
    assert(rows.length === 15)
    // ranks are 1..5 and cosine non-increasing within each query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
      val cs = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivf knn achieves reasonable recall@5 vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val approx = Similarity.ivfKnn(emb, queries, k = 5, nCells = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.3, s"IVF recall@5 = $recall")
  }

  test("lsh knn achieves reasonable recall@5 vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val approx = Similarity.lshKnn(emb, queries, k = 5, nPlanes = 5, dim = 64).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall@5 = $recall") // 64 buckets over 500 vecs + multiprobe
  }

  test("ivf-pq knn: prune+compress+rerank returns full ranked top-k with IVF-bounded recall") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val rows = Similarity.ivfPqKnn(emb, queries, k = 5, nCells = 8,
      nprobe = 3, m = 16, codebookK = 32, shortlist = 50).collect()
    // contract: full top-k per query, ranks 1..5, cosine non-increasing
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === 20)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
      val cs = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val approx = rows.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("corpus_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.3, s"IVF-PQ recall@5 = $recall")
    // pruning is real: with nprobe = nCells (no pruning) the result must
    // equal plain pqKnn's shortlist semantics on the same codebooks —
    // both ADC-score every candidate, so recall can only go up
    val noPrune = Similarity.ivfPqKnn(emb, queries, k = 5, nCells = 8,
      nprobe = 8, m = 16, codebookK = 32, shortlist = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recallNP = exact.intersect(noPrune).size.toDouble / exact.size
    assert(recallNP >= recall - 1e-9,
      s"un-pruned recall $recallNP below pruned $recall")
  }

  test("pq codes: argmin-L2 centroid per subspace on a hand codebook") {
    // m=2 subspaces of dim 2, k=2 centroids each:
    //   sub 0: c0=(0,0)  c1=(10,10);  sub 1: c0=(5,5)  c1=(-5,-5)
    val flat = Seq(0f, 0f, 10f, 10f, 5f, 5f, -5f, -5f)
    val df = Seq(
      (1L, Array(1f, 1f, 4f, 4f)),    // sub0→c0, sub1→c0
      (2L, Array(9f, 9f, -4f, -6f)),  // sub0→c1, sub1→c1
      (3L, Array(5f, 5f, 0f, 0f))     // ties: strict < keeps the FIRST code
    ).toDF("id", "v")
    val got = df.select($"id",
        graft.functions.GraftFunctions.pqCodes($"v", 2, 2, flat).as("codes"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    assert(got.toSeq === Seq((1L, Seq(0, 0)), (2L, Seq(1, 1)), (3L, Seq(0, 0))))

    // residual variant: codes quantize v − coarse(cell) with the SAME
    // codebooks — subtracting cell 1's centroid (10,10,0,0) moves row 2
    // into sub0's c0 basin while sub1 (centroid zero there) is unchanged
    val coarse = Seq(0f, 0f, 0f, 0f, 10f, 10f, 0f, 0f) // cell0=0, cell1=(10,10,0,0)
    val gotRes = df.withColumn("cell", when($"id" === 2L, 1).otherwise(0))
      .select($"id", graft.functions.GraftFunctions.pqResidualCodes(
        $"v", $"cell", 2, 2, flat, coarse).as("codes"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    // row 2: residual = (9,9,-4,-6) − (10,10,0,0) = (-1,-1,-4,-6) → sub0→c0, sub1→c1
    assert(gotRes.toSeq === Seq((1L, Seq(0, 0)), (2L, Seq(0, 1)), (3L, Seq(0, 0))))
    // analysis-time type error on non-float arrays
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1L, 2L)).toDF("a")
        .select(graft.functions.GraftFunctions.pqCodes($"a", 1, 2,
          Seq(0f, 0f, 1f, 1f))).collect()
    }
    assert(ex.getMessage.contains("array<float>"))
  }

  test("native adc_table is bit-identical to the builtin m*k fold tree") {
    // round 19: the per-query ADC table became one native expression —
    // every (subspace, centroid) entry must reproduce the
    // aggregate(zip_with(slice, lit, x*c)) fold double-for-double (same
    // left-to-right addition order over the subspace)
    val m = 16; val ck = 8
    val cb = Similarity.pqTrain(emb, m = m, k = ck, dim = 64)
    val both = emb.select(
        Similarity.adcTable($"embedding", cb).as("native"),
        Similarity.adcTableFold($"embedding", cb).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val nat = r.getSeq[scala.collection.Seq[Double]](0)
      val fld = r.getSeq[scala.collection.Seq[Double]](1)
      assert(nat.length === m && fld.length === m)
      nat.zip(fld).foreach { case (a, b) => assert(a === b) }
    }
  }

  test("native adc_table refuses null embedding elements loud") {
    // r19 review: the fold nulled the affected entry (candidate dropped
    // downstream); silently substituting 0.0 would RANK the malformed
    // row instead. The native expression refuses loud — the PqCodes
    // precondition convention.
    val m = 2; val ck = 2
    val cb = Similarity.pqTrain(emb, m = m, k = ck, dim = 64)
    val withNull = spark.range(1).select(
      org.apache.spark.sql.functions.expr(
        "array(cast(null as float), " +
          (1 until 64).map(i => s"cast($i as float)").mkString(", ") + ")")
        .as("embedding"))
    val ex = intercept[Throwable] {
      withNull.select(Similarity.adcTable($"embedding", cb)).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("must be dense"))
  }

  test("native adc_sum is bit-identical to the builtin fold composition") {
    // real codebooks + real codes over the corpus: the native m-lookup
    // loop must reproduce the aggregate(element_at∘element_at) fold
    // double-for-double (same left-to-right addition order)
    val m = 16; val ck = 8
    val cb = Similarity.pqTrain(emb, m = m, k = ck, dim = 64)
    val q = emb.filter($"vec_id" === 0)
      .select(Similarity.adcTable($"embedding", cb).as("tbl"))
    val both = emb.select($"vec_id",
        graft.functions.GraftFunctions.pqCodes($"embedding", m, ck, cb.flat)
          .as("codes"))
      .crossJoin(q)
      .select($"vec_id",
        graft.functions.GraftFunctions.adcSum($"codes", $"tbl").as("native"),
        Similarity.adcFold($"codes", $"tbl", m).as("fold"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2), s"vec ${r.getLong(0)}")
    }
    // analysis-time type error on wrong input types
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L), Seq(Seq(1.0)))).toDF("c", "t")
        .select(graft.functions.GraftFunctions.adcSum($"c", $"t")).collect()
    }
    assert(ex.getMessage.contains("array<int>"))
  }

  test("pq codebooks are a function of the data, not the partition layout") {
    val a = Similarity.pqTrain(emb, m = 4, k = 8, dim = 64)
    val b = Similarity.pqTrain(emb.repartition(13), m = 4, k = 8, dim = 64)
    assert(a.flat === b.flat)
  }

  test("pq knn: high recall@3 with exact-cosine-descending ranks") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val rows = Similarity.pqKnn(emb, queries, k = 3, m = 16, codebookK = 32,
      shortlist = 50).collect()
    val approx = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.7, s"PQ recall@3 = $recall")
    // the rerank step reports EXACT cosine, so ranks must descend in it
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 3))
    }
  }

  test("mmrSelect: first pick is the relevance argmax, near-duplicates are deferred") {
    // query along e1; cand 10 ≈ cand 11 (near-identical, both most
    // relevant); cand 12 orthogonal-ish but still relevant.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(0.99f, 0.14f, 0.0f)),
      (11L, Array(0.99f, 0.141f, 0.0f)),
      (12L, Array(0.7f, 0.0f, 0.71f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(rows, rows.filter($"vec_id" === 0),
        candidateN = 3, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // pure top-k order would be 10, 11, 12 — MMR defers 11 (a near-dup
    // of the first pick) behind the diverse 12
    assert(got.map(_._2).toSeq === Seq(10L, 12L, 11L))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // selection is exhaustive and within candidates for k = N
    val all = Similarity.mmrSelect(rows, rows.filter($"vec_id" === 0),
        candidateN = 3, k = 3, lambda = 1.0)
      .collect().map(_.getLong(1)).toSeq
    assert(all === Seq(10L, 11L, 12L)) // lambda=1 degenerates to top-k
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.mediaFromDocuments(
    TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  test("media table has the canonical schema") {
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "kind", "bytes", "meta"))
    assert(media.select("kind").distinct().collect().map(_.getString(0)).toSet
      === Set("image", "audio", "video"))
  }

  test("QOI roundtrip: every chunk type (RUN/INDEX/DIFF/LUMA/RGB) survives encode→decode") {
    // random walks with small channel deltas exercise DIFF and LUMA;
    // constant stretches exercise RUN; color revisits exercise INDEX;
    // jumps exercise RGB. Decode must reproduce the raster byte-for-byte.
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 10) {
      val w = 1 + rnd.nextInt(24); val h = 1 + rnd.nextInt(24)
      val rgb = new Array[Byte](w * h * 3)
      var (r, g, b) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
      var p = 0
      while (p < rgb.length) {
        rnd.nextInt(5) match {
          case 0 => // stay: run material
          case 1 => r = (r + rnd.nextInt(4) - 2) & 0xff        // DIFF range
            g = (g + rnd.nextInt(4) - 2) & 0xff
            b = (b + rnd.nextInt(4) - 2) & 0xff
          case 2 => val dg = rnd.nextInt(64) - 32              // LUMA range
            r = (r + dg + rnd.nextInt(16) - 8) & 0xff
            g = (g + dg) & 0xff
            b = (b + dg + rnd.nextInt(16) - 8) & 0xff
          case 3 => r = rnd.nextInt(256); g = rnd.nextInt(256); b = rnd.nextInt(256)
          case 4 => r = 17; g = 34; b = 51                     // revisit: INDEX
        }
        rgb(p) = r.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = b.toByte
        p += 3
      }
      val encoded = Multimodal.Qoi.encode(w, h, rgb)
      val (dw, dh, raster) = Multimodal.Qoi.decode(encoded)
      assert((dw, dh) === (w, h), s"trial $trial dims")
      assert(raster.toSeq === rgb.toSeq, s"trial $trial raster")
    }
    // long constant image: runs chunked at the 62-pixel spec cap
    val flat = Array.fill(300 * 3)(42.toByte)
    val (fw, fh, fr) = Multimodal.Qoi.decode(Multimodal.Qoi.encode(300, 1, flat))
    assert((fw, fh) === (300, 1) && fr.toSeq === flat.toSeq)
  }

  test("QOI decode handles foreign RGBA chunks (channels header is informative per spec)") {
    // hand-assemble a 3-pixel channels=3 stream that uses QOI_OP_RGBA —
    // legal per the spec (the channels field is 'purely informative'):
    // px0 RGBA(10,20,30,255); px1 RGBA(1,2,3,40); px2 INDEX→px0.
    val out = new java.io.ByteArrayOutputStream()
    out.write("qoif".getBytes("US-ASCII"))
    for (v <- Seq(3, 1)) { out.write(0); out.write(0); out.write(0); out.write(v) }
    out.write(3); out.write(0) // channels=3, srgb
    out.write(0xff); out.write(10); out.write(20); out.write(30); out.write(255)
    out.write(0xff); out.write(1); out.write(2); out.write(3); out.write(40)
    val idx0 = (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64
    out.write(idx0) // QOI_OP_INDEX back to px0
    for (_ <- 0 until 7) out.write(0)
    out.write(1)
    val (w, h, raster) = Multimodal.Qoi.decode(out.toByteArray)
    assert((w, h) === (3, 1))
    assert(raster.toSeq === Seq[Byte](10, 20, 30, 1, 2, 3, 10, 20, 30))
  }

  test("QOI corpus decode: compressed end-to-end with malformed-skip semantics") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val imgs = Multimodal.qoiMediaFromDocuments(docs)
    val dec = Multimodal.decodeAnyImages(imgs, thumbSide = 2)
    assert(dec.count() === 50)
    val r0 = dec.orderBy("media_id").head()
    val (w, h) = (r0.getAs[Int]("width"), r0.getAs[Int]("height"))
    assert(w >= 5 && w <= 10 && h >= 4 && h <= 8)
    // doc 0: even-row r gradient mean + odd-row constant 200
    val id = r0.getAs[Long]("media_id")
    val (ww, hh) = (5 + (id % 6).toInt, 4 + (id % 5).toInt)
    val gradSum = (0 until ww).map(x => (x * 255) / (ww - 1)).sum
    val expMeanR = (((hh + 1) / 2) * gradSum + (hh / 2) * ww * 200).toDouble / (ww * hh)
    assert(r0.getAs[Double]("mean_r") === expMeanR)
    // malformed blobs skipped, loud on request
    val bad = imgs.limit(1).union(
      Seq((999L, "nope".getBytes)).toDF("media_id", "bytes"))
    assert(Multimodal.decodeAnyImages(bad).count() === 1)
    assertThrows[org.apache.spark.SparkException](
      Multimodal.decodeAnyImages(bad, skipMalformed = false).collect())
  }

  test("real PPM decode: encode→decode round-trips, stats and thumbnail exact") {
    // hand-built 2x2 image: red, green, blue, white
    val rgb = Array[Byte](
      255.toByte, 0, 0,   0, 255.toByte, 0,
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte)
    val bytes = Multimodal.Ppm.encode(2, 2, rgb)
    val (w, h, raster) = Multimodal.Ppm.decode(bytes)
    assert((w, h) === (2, 2))
    assert(raster.toSeq === rgb.toSeq)

    val df = Seq((1L, bytes)).toDF("media_id", "bytes")
    val dec = Multimodal.decodeAnyImages(df, thumbSide = 2).head()
    assert(dec.getAs[Int]("width") === 2 && dec.getAs[Int]("height") === 2)
    assert(dec.getAs[Double]("mean_r") === (255.0 + 0 + 0 + 255) / 4)
    assert(dec.getAs[Double]("mean_g") === (0.0 + 255 + 0 + 255) / 4)
    assert(dec.getAs[Double]("mean_b") === (0.0 + 0 + 255 + 255) / 4)
    // 2x2 thumb of a 2x2 image is the image itself, normalized
    assert(dec.getAs[Seq[Float]]("thumb") === rgb.map(b => (b & 0xff) / 255.0f).toSeq)
  }

  test("WAV decode: round-trips, walks extra RIFF chunks, rejects non-PCM") {
    val samples = Array[Short](0, 100, -32768, 32767, -1)
    val bytes = Multimodal.Wav.encode(16000, samples)
    val (rate, got) = Multimodal.Wav.decode(bytes)
    assert(rate === 16000 && got.toSeq === samples.toSeq)

    // insert a LIST chunk (odd size → padded) between fmt and data: real
    // WAVs carry these, and the canonical-44-byte-offset shortcut breaks
    val fmtEnd = 12 + 8 + 16
    val extra = new java.io.ByteArrayOutputStream()
    extra.write(bytes, 0, fmtEnd)
    extra.write("LIST".getBytes("US-ASCII"))
    extra.write(Array[Byte](5, 0, 0, 0)) // size 5, little-endian
    extra.write("INFOx".getBytes("US-ASCII")); extra.write(0) // pad byte
    extra.write(bytes, fmtEnd, bytes.length - fmtEnd)
    val (rate2, got2) = Multimodal.Wav.decode(extra.toByteArray)
    assert(rate2 === 16000 && got2.toSeq === samples.toSeq)

    val stereo = bytes.clone; stereo(22) = 2 // channels field
    assertThrows[IllegalArgumentException](Multimodal.Wav.decode(stereo))
    assertThrows[IllegalArgumentException](
      Multimodal.Wav.decode("RIFFxxxxWAVE".getBytes))
  }

  test("document-synthesized WAV corpus decodes with exact analytic stats") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val dec = Multimodal.decodeAudio(Multimodal.wavMediaFromDocuments(docs))
    assert(dec.count() === 50)
    val r = dec.orderBy("media_id").head()
    val id = r.getAs[Long]("media_id")
    val (a, b, n) = (3 + (id % 5).toInt, (id % 7).toInt, 40 + (id % 50).toInt)
    val xs = (0 until n).map(i => ((i * a + b) % 97 - 48) * 100)
    assert(r.getAs[Int]("sample_rate") === 8000 + (id % 8).toInt * 1000)
    assert(r.getAs[Long]("n_samples") === n.toLong)
    assert(r.getAs[Int]("peak") === xs.map(math.abs).max)
    assert(r.getAs[Double]("mean") === xs.sum.toDouble / n)
    // malformed audio skipped, loud on request
    val bad = Seq((7L, Multimodal.Wav.encode(8000, Array[Short](1, 2))),
      (8L, "MP3junk".getBytes)).toDF("media_id", "bytes")
    assert(Multimodal.decodeAudio(bad).count() === 1)
    assertThrows[org.apache.spark.SparkException](
      Multimodal.decodeAudio(bad, skipMalformed = false).collect())
  }

  test("Y4M decode: round-trips frames, tolerates unknown tags, rejects bad chroma") {
    val w = 4; val h = 4
    val frame0 = Array.tabulate[Byte]((w * h * 3) / 2)(i => (i % 251).toByte)
    val frame1 = Array.tabulate[Byte]((w * h * 3) / 2)(i => ((i * 7) % 251).toByte)
    val bytes = Multimodal.Y4m.encode(w, h, 30, Seq(frame0, frame1))
    val (gw, gh, fps, frames) = Multimodal.Y4m.decode(bytes)
    assert((gw, gh, fps, frames.size) === (4, 4, 30, 2))
    assert(frames(0).toSeq === frame0.toSeq && frames(1).toSeq === frame1.toSeq)

    // header with reordered/unknown tags still parses (spec: tags are
    // order-independent, X tags are comments)
    val alt = ("YUV4MPEG2 Xgraft F30:1 H4 W4 C420 Ip\n" +
      "FRAME\n").getBytes("US-ASCII") ++ frame0
    val (aw, ah, afps, af) = Multimodal.Y4m.decode(alt)
    assert((aw, ah, afps, af.size) === (4, 4, 30, 1))

    assertThrows[IllegalArgumentException](Multimodal.Y4m.decode(
      "YUV4MPEG2 W4 H4 F30:1 C444\nFRAME\n".getBytes ++ frame0))
  }

  test("document-synthesized Y4M corpus decodes per frame with exact luma means") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val dec = Multimodal.decodeVideoFrames(Multimodal.y4mMediaFromDocuments(docs))
    val r = dec.orderBy("media_id", "frame_idx").head()
    val id = r.getAs[Long]("media_id")
    val (w, h) = (4 + (id % 3).toInt * 2, 4 + (id % 2).toInt * 2)
    val exp = (0 until w * h).map(p => (p * 3 + id).toInt % 251).sum.toDouble / (w * h)
    assert(r.getAs[Int]("frame_idx") === 0)
    assert(r.getAs[Double]("mean_y") === exp)
    // every doc yields its 2 + id%4 frames
    val n = dec.groupBy("media_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(n.forall { case (d, c) => c === 2 + (d % 4) })
    // malformed skipped / loud
    val bad = Seq((99L, "AVI junk".getBytes)).toDF("media_id", "bytes")
    assert(Multimodal.decodeVideoFrames(bad).count() === 0)
    assertThrows[org.apache.spark.SparkException](
      Multimodal.decodeVideoFrames(bad, skipMalformed = false).collect())
  }

  test("malformed blobs are skipped (DROPMALFORMED) or fail loudly on request") {
    val good = Multimodal.Ppm.encode(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    val bad = "P6\n2 1\n255\nxx".getBytes // truncated raster
    val notPpm = "GIF89a".getBytes
    val df = Seq((1L, good), (2L, bad), (3L, notPpm)).toDF("media_id", "bytes")
    val kept = Multimodal.decodeAnyImages(df).select("media_id").collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(1L))
    assertThrows[org.apache.spark.SparkException](
      Multimodal.decodeAnyImages(df, skipMalformed = false).collect())
  }

  test("document-synthesized PPM corpus decodes end to end") {
    val imgs = Multimodal.ppmMediaFromDocuments(
      TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100))
    val dec = Multimodal.decodeAnyImages(imgs, thumbSide = 2)
    assert(dec.count() === 100)
    val r = dec.orderBy("media_id").head()
    assert(r.getAs[Int]("width") >= 4 && r.getAs[Int]("height") >= 3)
    assert(r.getAs[Seq[Float]]("thumb").length === 12)
  }

  test("resize clamps the long side and keeps aspect direction") {
    val out = Multimodal.resize(media, 64).select("meta.width", "meta.height").collect()
    assert(out.forall(r => r.getInt(0) <= 64 && r.getInt(1) <= 64))
  }

  test("frame sampling explodes video rows by duration, one frame otherwise") {
    val out = Multimodal.sampleFrames(media, fps = 1.0)
    val byKind = out.groupBy("kind").agg(countDistinct("media_id").as("n_media"),
      count(lit(1)).as("n_frames")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byKind("image")._1 === byKind("image")._2) // 1 frame per non-video
    assert(byKind("video")._2 > byKind("video")._1)   // >1 frame per video
  }

  test("webdataset export round-trips every blob byte-exactly with its json pair") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.ppmMediaFromDocuments(docs).limit(60)
      .localCheckpoint() // pin the 60 rows — limit is otherwise re-picked
    val out = java.nio.file.Files.createTempDirectory("graft-wds-spec")
      .resolve("shards").toString
    val manifest = Multimodal.exportWebDataset(media, out, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = media.select((col("media_id") % 4).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest === want)
    // every entry's bytes round-trip through the repo's own ustar walker,
    // and each blob has its json metadata pair
    val blobs = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val dir = new java.io.File(out)
    val tars = dir.listFiles().filter(_.getName.endsWith(".tar"))
    assert(tars.length === manifest.size)
    var seen = 0
    tars.foreach { f =>
      val ar = graft.sources.TdbFormat.TdbArchive.open(f.toString)
      val names = ar.memberNames.toSeq
      names.filter(_.endsWith(".ppm")).foreach { n =>
        val k = n.stripSuffix(".ppm").toLong
        assert(java.util.Arrays.equals(ar.readAll(n), blobs(k)), s"blob $k diverged")
        assert(names.contains(s"$k.json"), s"missing json pair for $k")
        val meta = new String(ar.readAll(s"$k.json"),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(meta === s"""{"key":$k,"n_bytes":${blobs(k).length}}""")
        seen += 1
      }
    }
    assert(seen === blobs.size)
    // and the loader side reads the shard set back as rows: every blob,
    // every json pair, distributed one task per shard
    val back = Multimodal.readWebDataset(spark, out)
    assert(back.filter(col("ext") === "ppm").count() === blobs.size.toLong)
    assert(back.filter(col("ext") === "json").count() === blobs.size.toLong)
    val backBlobs = back.filter(col("ext") === "ppm").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    blobs.foreach { case (k, b) =>
      assert(java.util.Arrays.equals(backBlobs(k), b), s"read-back blob $k diverged")
    }
  }

  test("webdataset export is task-committed: no staging residue, re-export overwrites") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media1 = Multimodal.ppmMediaFromDocuments(docs).limit(20)
      .localCheckpoint()
    val out = java.nio.file.Files.createTempDirectory("graft-wds-commit")
      .resolve("shards").toString
    Multimodal.exportWebDataset(media1, out, nShards = 2).count()
    // every shard was promoted out of .staging and the sweep removed it —
    // a crash-leftover temp can never shadow or pollute the manifest
    assert(!new java.io.File(out, ".staging").exists())
    val n1 = Multimodal.readWebDataset(spark, out)
      .filter(col("ext") === "ppm").count()
    assert(n1 === 20L)
    // re-export DIFFERENT bytes for the same keys into the same dir:
    // the promote must replace the stale shard (the old create-overwrite
    // semantics), not silently keep it
    val media2 = media1.withColumn("bytes",
      concat(col("bytes"), lit(Array[Byte](7))))
    Multimodal.exportWebDataset(media2, out, nShards = 2).count()
    assert(!new java.io.File(out, ".staging").exists())
    val lens1 = media1.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    val back = Multimodal.readWebDataset(spark, out)
      .filter(col("ext") === "ppm").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    assert(back.size === 20)
    back.foreach { case (k, b) =>
      assert(b.length === lens1(k) + 1 && b.last === 7.toByte,
        s"blob $k not overwritten by the re-export")
    }
  }
}

class ImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def thumbOf(rgb: Array[Int]): Array[Float] =
    rgb.map(_ / 255.0f)

  test("dhash64/ahash64: known bit patterns, brightness invariance, type check") {
    import graft.functions.GraftFunctions.{ahash64, dhash64}
    // 2x2 grid (4 pixels, 12 channels), grayscale values per pixel
    def gray(vals: Int*): Array[Float] =
      thumbOf(vals.flatMap(v => Seq(v, v, v)).toArray)
    // constant image: no gradients, no above-mean pixels → both hashes 0
    val flat = Seq(Tuple1(gray(7, 7, 7, 7))).toDF("t")
    assert(flat.select(dhash64(col("t"))).head().getLong(0) === 0L)
    assert(flat.select(ahash64(col("t"))).head().getLong(0) === 0L)
    // row-increasing pixels: pixel 0<1 (bit 0), 1>0-wrap (bit 1 clear),
    // 2<3 (bit 2), 3>2-wrap (bit 3 clear) → dhash 0b0101
    val grad = Seq(Tuple1(gray(10, 20, 10, 20))).toDF("t")
    assert(grad.select(dhash64(col("t"))).head().getLong(0) === 5L)
    // ahash: mean 15 → pixels 1 and 3 above → 0b1010
    assert(grad.select(ahash64(col("t"))).head().getLong(0) === 10L)
    // dhash is invariant to a global brightness shift; this ahash too
    // (mean shifts with the pixels)
    val bright = Seq(Tuple1(gray(110, 120, 110, 120))).toDF("t")
    assert(bright.select(dhash64(col("t"))).head().getLong(0) === 5L)
    assert(bright.select(ahash64(col("t"))).head().getLong(0) === 10L)
    // analysis-time type error on a non-thumbnail column
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1("nope")).toDF("t").select(dhash64(col("t"))).collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("decodeAnyImages dispatches on magic bytes: mixed PPM+QOI batch decodes like per-format") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
    assert(media.select("fmt").distinct().collect().map(_.getString(0)).toSet
      === Set("ppm", "qoi"))
    val mixed = Multimodal.decodeAnyImages(media, thumbSide = 8)
      .select("media_id", "mean_r").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // each blob through its own format's codec, in-process
    val perFmt = media.select("media_id", "fmt", "bytes").collect().map { r =>
      val b = r.getAs[Array[Byte]](2)
      val (w, h, raster) =
        if (r.getString(1) == "ppm") Multimodal.Ppm.decode(b)
        else Multimodal.Qoi.decode(b)
      val sumR = raster.indices.by(3).map(i => (raster(i) & 0xff).toLong).sum
      r.getLong(0) -> sumR / (w * h).toDouble
    }.toMap
    assert(mixed === perFmt && mixed.size === 40)
  }

  test("imageNearDupPairs finds exactly the planted pairs and feeds CC/keepBest") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(80) // 20 groups
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
    val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
    val pairs = Multimodal.imageNearDupPairs(dec, maxHamming = 3)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    // planted: per group g, pairs (4g,4g+1) exact, (4g,4g+2) and
    // (4g+1,4g+2) one-pixel near dups; nothing else
    val expected = (0 until 20).flatMap { g =>
      val b = 4L * g
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    assert(got.map(p => (p._1, p._2)).toSeq === expected)
    got.foreach { case (a, bb, ham, diff) =>
      if (bb - a == 1 && a % 4 == 0) { // exact copy
        assert(ham === 0L && diff === 0L, s"($a,$bb)")
      } else { // one flipped pixel: ≤2 dHash bits, exactly 3 channels
        assert(ham <= 2L && diff === 3L, s"($a,$bb)")
      }
    }
    // clusters: {4g, 4g+1, 4g+2} per group; m=3 members stay singletons
    val clusters = Dedup.dedupClusters(
      dec.withColumnRenamed("media_id", "doc_id"), pairs)
    val byCluster = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).sorted.toSeq }
    val triples = byCluster.values.filter(_.size > 1).toSeq.sortBy(_.head)
    assert(triples === (0 until 20).map(g =>
      Seq(4L * g, 4L * g + 1, 4L * g + 2)))
    // keepBest: min media_id survives per cluster (score = -id)
    val kept = Dedup.keepBest(
      dec.withColumnRenamed("media_id", "doc_id"),
      clusters, -col("doc_id"))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(keptIds.toSeq === (0 until 20).flatMap(g =>
      Seq(4L * g, 4L * g + 3)).sorted)
  }

  test("quality-aware keepBest: the sharp original survives; ties break toward the min id") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val media = Multimodal.qualityImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val dec = Multimodal.decodeAnyImages(media, thumbSide = 8).localCheckpoint()
    // the degraded member's positive-affine contrast map preserves every
    // gradient sign: its dHash is IDENTICAL, so the cluster is {m0,m1,m2}
    val pairs = Multimodal.imageNearDupPairs(dec, maxHamming = 3)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0 until 4).flatMap { g =>
        val b = 4L * g
        Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
      }.toSet)
    val quality = Multimodal.withImageQualitySignals(dec)
      .select(col("media_id"), col("edge_energy"))
    val q = quality.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 4).foreach { g =>
      val b = 4L * g
      // the sharp twins tie EXACTLY (identical bytes); the degraded
      // member is strictly duller
      assert(q(b + 1) === q(b + 2) && q(b) < q(b + 1), s"group $g: $q")
    }
    val clusters = Dedup.dedupClusters(
      dec.withColumnRenamed("media_id", "doc_id"), pairs)
    val kept = Dedup.keepBest(
      quality.withColumnRenamed("media_id", "doc_id"), clusters,
      col("edge_energy"))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).sorted
    // survivor = the sharp ORIGINAL (4g+1): beats the degraded min-id
    // member on score, beats its identical copy (4g+2) on the pinned
    // min-id tie-break — distinguishable from min-id AND max-id policies
    assert(keptIds.toSeq === (0 until 4).flatMap(g =>
      Seq(4L * g + 1, 4L * g + 3)).sorted)
    // determinism: the tie-break is a total order, not partition luck
    val again = Dedup.keepBest(
      quality.withColumnRenamed("media_id", "doc_id").repartition(7),
      clusters, col("edge_energy"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again.toSeq === keptIds.toSeq)
  }

  test("ahash mode pairs the planted duplicates too") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(24)
    val dec = Multimodal.decodeAnyImages(
      Multimodal.dedupImageMediaFromDocuments(docs), thumbSide = 8)
    val pairs = Multimodal.imageNearDupPairs(dec, maxHamming = 3, ahash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies always pair under any perceptual hash
    (0 until 6).foreach(g => assert(pairs.contains((4L * g, 4L * g + 1))))
  }

  test("hammingPairs64 property: equals brute force at every radius (planted random clusters)") {
    // 40 random base signatures, each with variants at Hamming distance
    // 0..5 (distinct random bit positions per variant) — brute force
    // over all 240 sigs is the oracle: banding must find EXACTLY the
    // pairs within maxHamming, for several maxHamming values (recall =
    // pigeonhole, precision = the exact bit_count verify).
    val rnd = new scala.util.Random(7)
    def flip(sig: Long, k: Int): Long = {
      var s = sig
      rnd.shuffle((0 until 64).toList).take(k).foreach(b => s ^= (1L << b))
      s
    }
    val sigs = (0 until 40).flatMap { g =>
      val base = rnd.nextLong()
      (0 to 5).map(k => (g * 10L + k, flip(base, k)))
    }
    val byId = sigs.toMap
    for (mh <- Seq(0, 1, 3, 7)) {
      val brute = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= mh
      } yield (a, b, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
      val got = Multimodal.hammingPairs64(sigs.toDF("id", "sig"), mh,
          maxBucketDf = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
      assert(got === brute, s"maxHamming=$mh: banding != brute force")
      // the guard only ever REMOVES pairs, never invents them
      val guarded = Multimodal.hammingPairs64(sigs.toDF("id", "sig"), mh,
          maxBucketDf = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
      assert(guarded.subsetOf(brute), s"maxHamming=$mh: guard invented pairs")
      guarded.foreach { case (a, b, h) =>
        assert(java.lang.Long.bitCount(byId(a) ^ byId(b)).toLong === h)
      }
    }
  }

  test("degenerate-bucket guard: flat media cannot make the band join quadratic") {
    // 200 flat thumbnails all dHash to 0 — one (band, bits) bucket per
    // band holding the whole cohort. Unguarded that bucket is quadratic
    // (19,900 pairs from 200 items; at corpus scale, 10^12 from 10^6).
    // With the cap below the cohort size the bucket is DROPPED, planted
    // high-entropy pairs are untouched, and the audit names what went.
    val flat = Array.fill(8 * 8 * 3)(0.5f)
    def bumped(rowCols: (Int, Int)*): Array[Float] = {
      val t = flat.clone()
      rowCols.foreach { case (r, c) =>
        var ch = 0
        while (ch < 3) { t((r * 8 + c) * 3 + ch) = 0.8f; ch += 1 }
      }
      t
    }
    // two planted near-dup pairs with high-entropy (distinct-bucket) sigs
    val a0 = bumped((0, 1), (1, 3), (2, 5), (3, 2), (4, 6), (5, 4), (6, 2), (7, 5))
    val a1 = bumped((0, 1), (1, 3), (2, 5), (3, 2), (4, 6), (5, 4), (6, 2), (7, 6))
    val b0 = bumped((0, 4), (1, 6), (2, 1), (3, 7), (4, 2), (5, 1), (6, 5), (7, 3))
    val b1 = bumped((0, 4), (1, 6), (2, 1), (3, 7), (4, 2), (5, 1), (6, 6), (7, 3))
    val rows = (0 until 200).map(i => (1000L + i, flat)) ++
      Seq((1L, a0), (2L, a1), (3L, b0), (4L, b1))
    val dec = rows.toDF("media_id", "thumb")
    val guarded = Multimodal.imageNearDupPairs(dec, maxHamming = 3,
        maxBucketDf = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(guarded.toSet === Set((1L, 2L), (3L, 4L)),
      s"guard broke the planted pairs or leaked flat pairs: ${guarded.toSeq}")
    // the audit reports the dropped flat bucket in every band, df = 200
    import graft.functions.GraftFunctions.dhash64
    val sig = dec.select(col("media_id").as("id"), dhash64(col("thumb")).as("sig"))
    val dropped = Multimodal.degenerateHammingBuckets(sig, maxHamming = 3,
        maxBucketDf = 50)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(dropped.toSeq === (0 until 4).map(b => (b, 0L, 200L)),
      s"audit should name the 4 flat-sig buckets: ${dropped.toSeq}")
    // above the cap nothing is dropped: the flat cohort pairs all-pairs
    val unguarded = Multimodal.imageNearDupPairs(dec, maxHamming = 3,
      maxBucketDf = 1000)
    assert(unguarded.count() === 200L * 199 / 2 + 2)
    assert(Multimodal.degenerateHammingBuckets(sig, 3, 1000).count() === 0L)
  }

  test("band pigeonhole at its edge: hamming exactly 3 pairs, exactly 4 does not") {
    // maxHamming = 3 ⇒ 4 bands of 16 bits (rows 2b, 2b+1). A single
    // raised pixel at (r, c+1) sets exactly dHash bit (r, c) over a flat
    // base, so planted distances are EXACT, sitting AT the boundary:
    //  - 3 bits in 3 distinct bands → the 4th band agrees → recalled;
    //  - 4 bits in 4 distinct bands → NO shared band → correctly absent
    //    (this is the pigeonhole limit, not a bug: hamming 4 > maxHamming
    //    must not pair);
    //  - 4 bits inside ONE band → candidate via the 3 agreeing bands,
    //    killed by the exact bit_count verify.
    val flat = Array.fill(8 * 8 * 3)(0.5f)
    def bumped(rowCols: (Int, Int)*): Array[Float] = {
      val t = flat.clone()
      rowCols.foreach { case (r, c) =>
        var ch = 0
        while (ch < 3) { t((r * 8 + c) * 3 + ch) = 0.8f; ch += 1 }
      }
      t
    }
    def pairsOf(a: Array[Float], b: Array[Float]): Seq[(Long, Long, Long)] =
      Multimodal.imageNearDupPairs(
          Seq((0L, a), (1L, b)).toDF("media_id", "thumb"), maxHamming = 3)
        .select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exactly 3 bits, bands 0/1/2 → recalled at the boundary, hamming 3
    assert(pairsOf(flat, bumped((0, 1), (2, 1), (4, 1))) ===
      Seq((0L, 1L, 3L)))
    // exactly 4 bits, one per band → zero shared bands → absent
    assert(pairsOf(flat, bumped((0, 1), (2, 1), (4, 1), (6, 1))) === Seq.empty)
    // exactly 4 bits all in band 0 → candidate, exact verify rejects
    assert(pairsOf(flat, bumped((0, 1), (0, 4), (1, 1), (1, 4))) === Seq.empty)
  }

  test("image quality signals: flatness and edge energy separate degenerate from real media") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16)
    val planted = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val flats = (0 until 5).map(i =>
      (2000L + i, Multimodal.Ppm.encode(8, 8, new Array[Byte](192))))
      .toDF("media_id", "bytes")
    val q = Multimodal.withImageQualitySignals(
        Multimodal.decodeAnyImages(planted.unionByName(flats), thumbSide = 8))
      .select("media_id", "thumb_var", "edge_energy", "is_flat").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(q.size === 21)
    q.foreach { case (id, (v, e, flat)) =>
      if (id >= 2000L) assert(flat && v === 0.0 && e === 0.0, s"flat $id: $v/$e")
      else assert(!flat && v > 0.0 && e > 0.0, s"planted $id: $v/$e")
    }
  }

  test("routedImageDedup: flats go to exact blob star pairs, the rest to perceptual banding") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val planted = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val flats = (0 until 6).map(i =>
      (2000L + i, Multimodal.Ppm.encode(8, 8, new Array[Byte](192))))
      .toDF("media_id", "bytes")
    val got = Multimodal.routedImageDedup(planted.unionByName(flats))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected =
      (1 until 6).map(i => (2000L, 2000L + i, "exact_blob")).toSet ++
      (0 until 4).flatMap { g =>
        val b = 4L * g
        Seq((b, b + 1, "perceptual"), (b, b + 2, "perceptual"),
          (b + 1, b + 2, "perceptual"))
      }.toSet
    assert(got === expected)
    // the unified pair frame is drop-in for clustering: flats form ONE
    // component, planted groups keep theirs
    val all = planted.unionByName(flats)
      .select(col("media_id").as("doc_id"))
    val comps = Dedup.dedupClusters(all,
        Multimodal.routedImageDedup(planted.unionByName(flats))
          .select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 6).foreach(i => assert(comps(2000L + i) === 2000L))
    (0 until 4).foreach { g =>
      (0 to 2).foreach(mm => assert(comps(4L * g + mm) === 4L * g))
      assert(comps(4L * g + 3) === 4L * g + 3)
    }
  }

  test("incrementalImageNearDup = full-batch pairs minus the corpus self-join") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40) // 10 groups
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes").localCheckpoint()
    val isCorpus = (id: Long) => id % 4 == 0 || id % 4 == 3
    val index = Multimodal.imageSignatureIndex(Multimodal.decodeAnyImages(
      media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3),
      thumbSide = 8))
    val batch = media.filter(col("media_id") % 4 === 1 ||
      col("media_id") % 4 === 2)
    val incr = Multimodal.incrementalImageNearDup(batch, index)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // the contract: full pairs over the union, minus corpus-internal
    // pairs, with the side label telling which half each pair came from
    val full = Multimodal.imageNearDupPairs(
        Multimodal.decodeAnyImages(media, thumbSide = 8), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val expected = full.flatMap { case (a, b, d) =>
      (isCorpus(a), isCorpus(b)) match {
        case (true, true) => None // the corpus self-join incremental skips
        case (false, false) => Some((a, b, d, "batch"))
        case (true, false) => Some((a, b, d, "corpus"))
        case (false, true) => Some((b, a, d, "corpus"))
      }
    }.toSet
    assert(incr === expected && incr.nonEmpty)
  }

  test("blobDupGroups/dedupBlobs: byte-identical blobs collapse to the min key") {
    val rows = Seq(
      (10L, "aaa".getBytes), (11L, "bbb".getBytes), (12L, "aaa".getBytes),
      (13L, "ccc".getBytes), (14L, "aaa".getBytes), (15L, "bbb".getBytes))
      .toDF("key", "bytes")
    val groups = Multimodal.blobDupGroups(rows).collect()
      .map(r => (r.getAs[Long]("kept_key"), r.getAs[Long]("n_copies"),
        r.getAs[Long]("key_sum"))).sortBy(_._1)
    assert(groups.toSeq === Seq((10L, 3L, 36L), (11L, 2L, 26L), (13L, 1L, 13L)))
    val kept = Multimodal.dedupBlobs(rows).select("key").collect()
      .map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(10L, 11L, 13L))
  }

  test("imageSignatureIndex freezes its hash family; probes follow it") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes").localCheckpoint()
    val corpus = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    val copies = media.filter(col("media_id") % 4 === 1) // exact copies
    // an aHash-built index: the probe derives aHash from the metadata —
    // before the family was recorded this silently returned ZERO matches
    // (dhash probe signatures never collide with ahash index signatures)
    val aIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(corpus, thumbSide = 8), ahash = true)
    assert(Multimodal.indexHashIsAhash(aIdx))
    val got = Multimodal.imageNearDupAgainstIndex(copies, aIdx)
      .select("media_id", "match_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0 until 4).map(g => (4L * g + 1, 4L * g)).toSet)
    // the family survives the parquet round-trip a frozen index lives as
    val p = java.nio.file.Files.createTempDirectory("graft-ahash-idx")
      .resolve("idx").toString
    aIdx.write.parquet(p)
    assert(Multimodal.indexHashIsAhash(TestSpark.spark.read.parquet(p)))
    // dHash records dhash; a pre-metadata index defaults to dhash (the
    // only family old probe code ever applied)
    val dIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(corpus, thumbSide = 8))
    assert(!Multimodal.indexHashIsAhash(dIdx))
    val legacy = dIdx.select(col("band"), col("bits"), col("id"),
      col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty),
      col("thumb"))
    assert(!Multimodal.indexHashIsAhash(legacy))
    // an unknown recorded family fails loud, never zero-matches
    val bad = dIdx.select(col("band"), col("bits"), col("id"),
      col("sig").as("sig", new org.apache.spark.sql.types.MetadataBuilder()
        .putString(Multimodal.ImageHashKindKey, "phash").build()),
      col("thumb"))
    intercept[IllegalArgumentException] { Multimodal.indexHashIsAhash(bad) }
  }
}

class AvDedupSpec extends SparkSpec {
  import spark.implicits._

  test("audio fingerprint: exact power-of-two gain invariance, sensitivity to content") {
    val rng = new scala.util.Random(3)
    val base = Array.tabulate(2048)(i => ((rng.nextInt(16000) - 8000)).toShort)
    val scaled = base.map(s => (s * 2).toShort)
    val wordsB = Multimodal.AudioFp.frameWords(base)
    val wordsS = Multimodal.AudioFp.frameWords(scaled)
    assert(wordsB.nonEmpty && wordsB.toSeq === wordsS.toSeq,
      "2x gain moved a sign-of-change bit")
    assert(Multimodal.AudioFp.simhash(wordsB) ===
      Multimodal.AudioFp.simhash(wordsS))
    // different content → far fingerprint
    val other = Array.tabulate(2048)(i => ((rng.nextInt(16000) - 8000)).toShort)
    val ham = java.lang.Long.bitCount(
      Multimodal.AudioFp.simhash(wordsB) ^
      Multimodal.AudioFp.simhash(Multimodal.AudioFp.frameWords(other)))
    assert(ham > 10, s"independent audio landed at hamming $ham")
    // too short for even two frames → empty words
    assert(Multimodal.AudioFp.frameWords(new Array[Short](100)).isEmpty)
  }

  test("audioNearDupPairs finds exactly the planted groups; 2x copy is perceptual-only") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val media = Multimodal.dedupAudioMediaFromDocuments(docs)
    val pairs = Multimodal.audioNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    val expected = (0 until 10).flatMap { g =>
      val b = 4L * g
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    assert(pairs.map(p => (p._1, p._2)).toSeq === expected)
    pairs.foreach { case (a, b, ham, diff) =>
      assert(ham === 0L && diff === 0L, s"($a,$b)")
    }
    // the 2x member's BYTES differ (perceptual match, not blob match)
    val md5s = media.select(col("media_id"), md5(col("bytes")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(md5s(0L) === md5s(1L)); assert(md5s(0L) != md5s(2L))
  }

  test("audio quality signals: silence/rms/clip separate degenerate from audible clips") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8)
    val planted = Multimodal.dedupAudioMediaFromDocuments(docs)
    val silents = (0 until 3).map(i =>
      (3000L + i, Multimodal.Wav.encode(16000, new Array[Short](512))))
      .toDF("media_id", "bytes")
    // one clip clipped at the rails to exercise clip_rate
    val clipped = Seq((4000L, Multimodal.Wav.encode(16000,
      Array.fill[Short](100)(Short.MaxValue)))).toDF("media_id", "bytes")
    val q = Multimodal.withAudioQualitySignals(
        planted.select("media_id", "bytes").unionByName(silents)
          .unionByName(clipped))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getBoolean(5))).toMap
    assert(q.size === 12)
    (0 until 3).foreach { i =>
      val (rms, peak, clip, silent) = q(3000L + i)
      assert(silent && rms === 0.0 && peak === 0L && clip === 0.0)
    }
    (0L until 8L).foreach { id =>
      val (rms, peak, _, silent) = q(id)
      assert(!silent && rms > 0.0 && peak > 0L, s"planted $id")
    }
    val (_, peakC, clipC, silentC) = q(4000L)
    assert(!silentC && peakC === Short.MaxValue.toLong && clipC === 1.0)
  }

  test("routedAudioDedup: silent clips star-pair via blob dedup, audible clips via fingerprints") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val planted = Multimodal.dedupAudioMediaFromDocuments(docs)
    val silents = (0 until 5).map(i =>
      (3000L + i, Multimodal.Wav.encode(16000, new Array[Short](512))))
      .toDF("media_id", "bytes")
    val got = Multimodal.routedAudioDedup(
        planted.select("media_id", "bytes").unionByName(silents))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected =
      (1 until 5).map(i => (3000L, 3000L + i, "exact_blob")).toSet ++
      (0 until 4).flatMap { g =>
        val b = 4L * g
        Seq((b, b + 1, "perceptual"), (b, b + 2, "perceptual"),
          (b + 1, b + 2, "perceptual"))
      }.toSet
    assert(got === expected)
  }

  test("decodeVideoThumbs: per-frame gray thumbnails, dHash stable across exact copies") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8)
    val media = Multimodal.dedupVideoMediaFromDocuments(docs)
    val t = Multimodal.decodeVideoThumbs(media, thumbSide = 8)
    val row = t.head()
    assert(row.getAs[Seq[Float]]("thumb").length === 8 * 8 * 3)
    // same gid, m0 vs m1: identical per-frame hashes; m3: none shared
    val hashes = t.select(col("media_id"), col("frame_idx"),
        graft.functions.GraftFunctions.dhash64(col("thumb")).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val nf0 = hashes.keys.filter(_._1 == 0L).map(_._2).max + 1
    (0 until nf0).foreach(k => assert(hashes((0L, k)) === hashes((1L, k))))
    assert((0 until nf0).map(k => hashes((0L, k))).toSet
      .intersect((0 until nf0).map(k => hashes((3L, k))).toSet).isEmpty)
  }

  test("videoFrameHashSets: in-task distinct equals the batch plan's dhash64-distinct set") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(12)
    val media = Multimodal.dedupVideoMediaFromDocuments(docs)
    val inTask = Multimodal.videoFrameHashSets(media).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Long]]("frame_hashes").toSet).toMap
    val viaPlan = Multimodal.decodeVideoThumbs(media, thumbSide = 8)
      .select(col("media_id"),
        graft.functions.GraftFunctions.dhash64(col("thumb")).as("h"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(inTask === viaPlan && inTask.size === 12)
  }

  test("videoNearDupPairs: planted matched-frame counts; stop-frame removal kills common frames") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(24)
    val media = Multimodal.dedupVideoMediaFromDocuments(docs)
    val got = Multimodal.videoNearDupPairs(media, minMatchedFrames = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2))
    val expected = (0 until 6).flatMap { g =>
      val b = 4L * g; val nf = 3L + g % 3
      Seq((b, b + 1, nf), (b, b + 2, nf - 1), (b + 1, b + 2, nf - 1))
    }
    assert(got.toSeq === expected)
    // stop-frame removal: with maxFrameDf = 1 every within-group shared
    // frame (df >= 2) is dropped from the index → no pairs at all
    assert(Multimodal.videoNearDupPairs(media, minMatchedFrames = 1,
      maxFrameDf = 1).count() === 0L)
  }

  test("routedVideoDedup: all-stop-frame and zero-frame videos star-pair via blob dedup") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(16) // 4 groups
    val planted = Multimodal.dedupVideoMediaFromDocuments(docs)
    // 6 byte-identical all-black clips: their ONE frame hash has df=6 >
    // maxFrameDf=5, so stop-frame removal empties their frame sets —
    // before the routing these silently exited dedup entirely
    val blackFrame = {
      val f = new Array[Byte]((8 * 8 * 3) / 2)
      java.util.Arrays.fill(f, 8 * 8, f.length, 128.toByte)
      f
    }
    val blacks = (0 until 6).map(i =>
      (2000L + i, Multimodal.Y4m.encode(8, 8, 25, Seq(blackFrame))))
      .toDF("media_id", "bytes")
    // 2 byte-identical ZERO-frame clips (header-only y4m): no frames at
    // all, also degenerate, also blob-deduped
    val empties = (0 until 2).map(i =>
      (3000L + i, Multimodal.Y4m.encode(8, 8, 25, Seq.empty)))
      .toDF("media_id", "bytes")
    val got = Multimodal.routedVideoDedup(
        planted.unionByName(blacks).unionByName(empties), maxFrameDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected =
      (1 until 6).map(i => (2000L, 2000L + i, "exact_blob")).toSet ++
      Set((3000L, 3001L, "exact_blob")) ++
      (0 until 4).flatMap { g =>
        val b = 4L * g
        Seq((b, b + 1, "perceptual"), (b, b + 2, "perceptual"),
          (b + 1, b + 2, "perceptual"))
      }.toSet
    assert(got === expected)
  }

  test("routedMediaDedup: magic-byte dispatch per modality; unknown blobs keep exact dedup") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8) // 2 groups
    val img = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val aud = Multimodal.dedupAudioMediaFromDocuments(docs)
      .select((col("media_id") + 2000L).as("media_id"), col("bytes"))
    val vid = Multimodal.dedupVideoMediaFromDocuments(docs)
      .select((col("media_id") + 4000L).as("media_id"), col("bytes"))
    val unk = (Seq((9000L, "not-a-container".getBytes),
        (9001L, "not-a-container".getBytes),
        (9002L, "not-a-container".getBytes),
        (9003L, "something-else".getBytes)))
      .toDF("media_id", "bytes")
    val got = Multimodal.routedMediaDedup(
        img.unionByName(aud).unionByName(vid).unionByName(unk))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val triangle = (off: Long, mod: String) => (0 until 2).flatMap { g =>
      val b = off + 4L * g
      Seq((b, b + 1, "perceptual", mod), (b, b + 2, "perceptual", mod),
        (b + 1, b + 2, "perceptual", mod))
    }.toSet
    val expected = triangle(0L, "image") ++ triangle(2000L, "audio") ++
      triangle(4000L, "video") ++
      Set((9000L, 9001L, "exact_blob", "unknown"),
        (9000L, 9002L, "exact_blob", "unknown"))
    assert(got === expected)
  }

  test("routed dedup keeps byte-identical duplicates of UNDECODABLE media (corrupt payloads)") {
    // valid magic, garbage payload: the decoders skip these, and before
    // round 15's undecodable routing they silently exited dedup — losing
    // their byte-identical duplicates (truncated downloads mirror across
    // a crawl like intact ones)
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8) // 2 groups
    val badImgBytes = "P6\nnot-a-raster".getBytes
    // a REAL corrupt-wav shape: the RIFF/WAVE form tag intact, the
    // chunk list garbage (r18: a bare RIFF without WAVE is no longer
    // an audio magic — it stays kept as unknown, the routing-parity
    // fix — so the corrupt-audio cohort must carry the full magic)
    val badAudBytes = "RIFF0000WAVEgarbage".getBytes("ISO-8859-1")
    val badVidBytes = "YUV4MPEG2 garbage".getBytes
    def trio(off: Long, b: Array[Byte]) =
      (0 until 3).map(i => (off + i, b)).toDF("media_id", "bytes")

    val img = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val gotImg = Multimodal.routedImageDedup(
        img.unionByName(trio(3000L, badImgBytes)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotImg.filter(t => t._1 >= 3000L || t._2 >= 3000L) ===
      Set((3000L, 3001L, "exact_blob"), (3000L, 3002L, "exact_blob")))
    assert(gotImg.count(_._3 == "perceptual") === 2 * 3) // planted intact

    val aud = Multimodal.dedupAudioMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val gotAud = Multimodal.routedAudioDedup(
        aud.unionByName(trio(3000L, badAudBytes)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotAud.filter(t => t._1 >= 3000L || t._2 >= 3000L) ===
      Set((3000L, 3001L, "exact_blob"), (3000L, 3002L, "exact_blob")))
    assert(gotAud.count(_._3 == "perceptual") === 2 * 3)

    val vid = Multimodal.dedupVideoMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val gotVid = Multimodal.routedVideoDedup(
        vid.unionByName(trio(3000L, badVidBytes)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotVid.filter(t => t._1 >= 3000L || t._2 >= 3000L) ===
      Set((3000L, 3001L, "exact_blob"), (3000L, 3002L, "exact_blob")))
    assert(gotVid.count(_._3 == "perceptual") === 2 * 3)

    // through the dispatcher: each corrupt cohort routes INSIDE its
    // modality branch (labeled by the magic, not 'unknown')
    val mixed = trio(3000L, badImgBytes)
      .unionByName(trio(3100L, badAudBytes))
      .unionByName(trio(3200L, badVidBytes))
    val gotMix = Multimodal.routedMediaDedup(mixed)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(gotMix === Set(
      (3000L, 3001L, "exact_blob", "image"),
      (3000L, 3002L, "exact_blob", "image"),
      (3100L, 3101L, "exact_blob", "audio"),
      (3100L, 3102L, "exact_blob", "audio"),
      (3200L, 3201L, "exact_blob", "video"),
      (3200L, 3202L, "exact_blob", "video")))
  }

  test("incrementalAudioNearDup = full-batch pairs minus the corpus self-join") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40) // 10 groups
    val media = Multimodal.dedupAudioMediaFromDocuments(docs).localCheckpoint()
    val isCorpus = (id: Long) => id % 4 == 0 || id % 4 == 3
    val index = Multimodal.audioSignatureIndex(
      media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3))
    val batch = media.filter(col("media_id") % 4 === 1 ||
      col("media_id") % 4 === 2)
    val incr = Multimodal.incrementalAudioNearDup(batch, index)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val full = Multimodal.audioNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = full.flatMap { case (a, b, h) =>
      (isCorpus(a), isCorpus(b)) match {
        case (true, true) => None
        case (false, false) => Some((a, b, h, "batch"))
        case (true, false) => Some((a, b, h, "corpus"))
        case (false, true) => Some((b, a, h, "corpus"))
      }
    }.toSet
    assert(incr === expected && incr.nonEmpty)
  }

  test("incrementalVideoNearDup = full-batch pairs minus the corpus self-join") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(40) // 10 groups
    val media = Multimodal.dedupVideoMediaFromDocuments(docs).localCheckpoint()
    val isCorpus = (id: Long) => id % 4 == 0 || id % 4 == 3
    val index = Multimodal.videoFrameIndex(
      media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3))
    val batch = media.filter(col("media_id") % 4 === 1 ||
      col("media_id") % 4 === 2)
    val incr = Multimodal.incrementalVideoNearDup(batch, index)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    // the LIS chain is symmetric under (a, b) swap, so the corpus-side
    // reorientation preserves it
    val full = Multimodal.videoNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val expected = full.flatMap { case (a, b, n, l) =>
      (isCorpus(a), isCorpus(b)) match {
        case (true, true) => None
        case (false, false) => Some((a, b, n, l, "batch"))
        case (true, false) => Some((a, b, n, l, "corpus"))
        case (false, true) => Some((b, a, n, l, "corpus"))
      }
    }.toSet
    assert(incr === expected && incr.nonEmpty)
  }

  test("blobMd5Index: one row per distinct blob content, min-id representative") {
    val blobs = Seq(
      (7L, "aaaa".getBytes), (3L, "aaaa".getBytes), (9L, "aaaa".getBytes),
      (5L, "bbbb".getBytes)).toDF("media_id", "bytes")
    val idx = Multimodal.blobMd5Index(blobs)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(idx.length === 2)          // two distinct contents
    assert(idx.map(_._2).toSet === Set(3L, 5L)) // min id per content
  }

  test("incrementalMediaDedup: every modality's structure on both sides of the batch/corpus split") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8) // 2 groups
    val img = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val aud = Multimodal.dedupAudioMediaFromDocuments(docs)
      .select((col("media_id") + 2000L).as("media_id"), col("bytes"))
    val vid = Multimodal.dedupVideoMediaFromDocuments(docs)
      .select((col("media_id") + 4000L).as("media_id"), col("bytes"))
    // four byte-identical unknown containers: {9000, 9003} freeze into
    // the corpus (9000 the blob-index representative), {9001, 9002}
    // arrive in the batch
    val unk = (0 until 4).map(i => (9000L + i, "unknown-container".getBytes))
      .toDF("media_id", "bytes")
    val media = img.unionByName(aud).unionByName(vid).unionByName(unk)
      .localCheckpoint()
    val corpus = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    val tagged = Multimodal.classifyMedia(corpus).localCheckpoint()
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select("media_id", "bytes")
    val imgIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
    val audIdx = Multimodal.audioSignatureIndex(cohort("audio"))
    val vidIdx = Multimodal.videoFrameIndex(cohort("video"))
    val blobIdx = Multimodal.blobMd5Index(corpus)
    val batch = media.filter(col("media_id") % 4 === 1 ||
      col("media_id") % 4 === 2)
    val got = Multimodal.incrementalMediaDedup(batch, imgIdx, audIdx,
        vidIdx, blobIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    // per modality and group: the batch m=1/m=2 members pair with each
    // other (within), both match the frozen base perceptually, and the
    // byte-identical m=1 copy also matches it exactly
    def mod(off: Long, name: String) = (0 until 2).flatMap { g =>
      val b = off + 4L * g
      Seq((b + 1, b + 2, "perceptual", name, "batch"),
        (b, b + 1, "perceptual", name, "corpus"),
        (b, b + 2, "perceptual", name, "corpus"),
        (b, b + 1, "exact_blob", name, "corpus"))
    }.toSet
    val expected = mod(0L, "image") ++ mod(2000L, "audio") ++
      mod(4000L, "video") ++
      Set((9001L, 9002L, "exact_blob", "unknown", "batch"),
        (9000L, 9001L, "exact_blob", "unknown", "corpus"),
        (9000L, 9002L, "exact_blob", "unknown", "corpus"))
    assert(got === expected)
  }

  test("incrementalMediaDedup decodes each image blob ONCE across both legs (r18 adjudication: ppm/qoi/png/webp/corrupt/lossy cohorts)") {
    // the m_incr_media cost question: its fixture absorbed the
    // PNG/WebP/lossy cohorts — prove the decode-once checkpoint still
    // covers them: ONE decode attempt per image-modality batch blob,
    // counted across the within-batch AND against-index legs together
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(8) // 2 groups
    def off(df: org.apache.spark.sql.DataFrame, o: Long) = df.select(
      (col("media_id") + o).as("media_id"), col("bytes"))
    val media = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
      .unionByName(docs.select((col("doc_id") + 8000L).as("media_id"),
        concat(lit("P6\ncorrupt-".getBytes),
          encode(floor(col("doc_id") / 4).cast("string"), "UTF-8"))
          .as("bytes")))
      .unionByName(off(Multimodal.pngDedupMediaFromDocuments(docs), 10000L))
      .unionByName(off(Multimodal.webpDedupMediaFromDocuments(docs), 12000L))
      .unionByName(off(Multimodal.lossyWebpMediaFromDocuments(docs), 14000L))
      .localCheckpoint()
    val corpus = media.filter(col("media_id") % 4 === 0 ||
      col("media_id") % 4 === 3)
    val tagged = Multimodal.classifyMedia(corpus).localCheckpoint()
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select("media_id", "bytes")
    // eager checkpoints: the index-build decodes land BEFORE the
    // listener installs, so the count below is the incremental run's own
    val imgIdx = Multimodal.imageSignatureIndex(
      Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
      .localCheckpoint()
    val audIdx = Multimodal.audioSignatureIndex(cohort("audio"))
      .localCheckpoint()
    val vidIdx = Multimodal.videoFrameIndex(cohort("video"))
      .localCheckpoint()
    val blobIdx = Multimodal.blobMd5Index(corpus).localCheckpoint()
    val batch = media.filter(col("media_id") % 4 === 1 ||
      col("media_id") % 4 === 2).localCheckpoint()
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        sc.stageInfo.accumulables.values
          .filter(_.name.exists(_.contains("graft.image_decode_attempts")))
          .foreach(a => seen.addAndGet(
            a.value.map(_.toString.toLong).getOrElse(0L)))
    }
    TestSpark.spark.sparkContext.addSparkListener(listener)
    try {
      val n = Multimodal.incrementalMediaDedup(batch, imgIdx, audIdx,
        vidIdx, blobIdx).count()
      assert(n > 0)
      var waited = 0
      while (seen.get() < 20 && waited < 50) { Thread.sleep(100); waited += 1 }
      // 2 groups × (ppm/qoi 2 + corrupt 2 + png 2 + webp 2 + lossy 2)
      // image-modality batch blobs — each decoded (or attempted)
      // EXACTLY once; more means a leg re-decoded the cohort
      assert(seen.get() === 20L,
        s"image decode attempts ${seen.get()} != 20 batch image blobs — " +
          "a leg re-decoded the shared cohort")
    } finally TestSpark.spark.sparkContext.removeSparkListener(listener)
  }
}
