package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity

class DedupSimilaritySpec extends SparkSpec {

  test("exactDupGroups labels exact duplicates with one canonical id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "something else"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDupGroups(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("canonical_id"), r.getAs[Long]("dup_count")))
      .toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("paragraphDedup keeps only the globally first occurrence of each " +
      "segment and reassembles survivors") {
    import spark.implicits._
    // width 2: doc 1 = [a b][c d], doc 2 = [a b][x y] (first segment is a
    // repeat of doc 1's), doc 3 = [c d][c d] (repeats doc 1's second segment
    // AND itself), doc 4 = [a b] only (fully duplicated away)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d c d"), (4L, "a b"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, widthTokens = 2).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_kept"), r.getAs[String]("dedup_text")))
      .toSet
    assert(out == Set(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, ""),
      (4L, 1L, 0L, "")))
    // a trailing partial segment is its own paragraph, not merged or dropped
    val partial = Dedup.paragraphDedup(
        Seq((1L, "a b c")).toDF("doc_id", "text"), widthTokens = 2)
      .collect().map(r => (r.getAs[Long]("n_segs"), r.getAs[String]("dedup_text")))
    assert(partial.toSeq == Seq((2L, "a b c")))
  }

  test("dupNgramStats counts grams shared with ANY other doc, distinct " +
      "within a doc, and leaves short docs at zero grams") {
    import spark.implicits._
    // width 2: doc 1 grams {a b, b c}; doc 2 grams {a b, b x};
    // doc 3 = "z z z" grams {z z} (repeated in-doc gram counts ONCE);
    // doc 4 single token -> no grams
    val docs = Seq(
      (1L, "a b c"), (2L, "a b x"), (3L, "z z z"), (4L, "q"))
      .toDF("doc_id", "text")
    val out = Dedup.dupNgramStats(docs, n = 2).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_dup"), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    assert(out == Set(
      (1L, 2L, 1L, Some(0.5)),
      (2L, 2L, 1L, Some(0.5)),
      (3L, 1L, 0L, Some(0.0)),
      (4L, 0L, 0L, None)))
  }

  test("jaccardPairs: identical docs score 1.0, disjoint docs drop out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "blk", "alpha beta gamma"), (2L, "blk", "alpha beta gamma"),
      (3L, "blk", "delta epsilon zeta"))
      .toDF("doc_id", "source", "text")
    val pairs = Dedup.jaccardPairs(docs, "source", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("jaccardPairsFeatures over char shingles: boundary edits survive, " +
      "word-shingle misses") {
    import spark.implicits._
    // same characters, one space moved: token sets disagree almost
    // entirely, but char 3-gram sets overlap heavily
    val docs = Seq(
      (1L, "blk", "thequick brownfox"), (2L, "blk", "thequickbrown fox"),
      (3L, "blk", "zzzz yyyy xxxx"))
      .toDF("doc_id", "source", "text")
    val grams = array_distinct(graft.text.Text.charShingles(col("text"), 3))
    val charPairs = Dedup.jaccardPairsFeatures(docs, "source", 0.5, "doc_id", grams)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(charPairs.toSeq == Seq((1L, 2L)))
    val tokenPairs = Dedup.jaccardPairs(docs, "source", 0.5).collect()
    assert(tokenPairs.isEmpty)
    // the prefix-filtered formulation returns the identical pair set
    val prefixPairs = Dedup.jaccardPairsPrefixFeatures(docs, "source", 0.5,
        "doc_id", grams)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(prefixPairs.toSeq == Seq((1L, 2L)))
  }

  test("jaccardPairsPrefix agrees with the inverted-index formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "blk", "alpha beta gamma delta"), (2L, "blk", "alpha beta gamma epsilon"),
      (3L, "blk", "alpha beta gamma delta"), (4L, "blk", "unrelated words entirely"))
      .toDF("doc_id", "source", "text")
    val a = Dedup.jaccardPairs(docs, "source", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.jaccardPairsPrefix(docs, "source", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    assert(a.contains((1L, 3L, 1.0)))
  }

  test("minhash: identical docs have identical signatures; LSH finds them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, numHashes = 16).cache()
    val s = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(3L))
    assert(s(1L).length == 16)
    val cands = Dedup.minhashCandidates(sigs, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSet == Set((1L, 2L)))
  }

  test("minhashCandidates yields no bands when signatures are narrower than a band") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "alpha beta")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, numHashes = 2)
    assert(Dedup.minhashCandidates(sigs, rowsPerBand = 4).count() == 0)
  }

  test("minhash signatures are deterministic across evaluations") {
    import spark.implicits._
    val docs = Seq((1L, "spark scala parquet shuffle")).toDF("doc_id", "text")
    val a = Dedup.minhashSignatures(docs, 8).collect()(0).getSeq[Long](1)
    val b = Dedup.minhashSignatures(docs, 8).collect()(0).getSeq[Long](1)
    assert(a == b)
  }

  test("simhash: identical docs → distance 0; different docs → distance > 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    def distances(df: DataFrame, textCol: String): Map[(Long, Long), Long] = {
      val sh = Dedup.simhash(df, textCol = textCol)
      val a = sh.as("a"); val b = sh.as("b")
      a.join(b, col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          Dedup.hammingDist(col("a.simhash"), col("b.simhash")).as("d"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    }
    val d = distances(docs, "text")
    assert(d((1L, 2L)) == 0L)
    assert(d((1L, 3L)) > 0L)
    // the text column is referenced as a column, never spliced into SQL
    // text: a name that needs quoting yields the same distances
    assert(distances(docs.withColumnRenamed("text", "body text"),
      "body text") == d)
  }

  test("charGramJaccardPairs: renamed text and block columns give the " +
      "same pairs as the defaults") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "the quick brown fox jumps over the lazy dog!"),
      (3L, "web", "an entirely different sentence about parquet"),
      (4L, "news", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "source", "text")
    def pairs(df: DataFrame, blockCol: String, textCol: String) =
      Dedup.charGramJaccardPairs(df, blockCol, 5, 0.6, textCol = textCol)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(docs, "source", "text")
    // 1 and 2 share a block and nearly every 5-gram; 4 is identical to 1
    // but in another block, 3 shares no block-mate's grams
    assert(got == Set((1L, 2L)))
    assert(pairs(docs.withColumnRenamed("text", "body text")
      .withColumnRenamed("source", "doc source"), "doc source",
      "body text") == got)
  }

  test("connectedComponents labels chains and keeps components separate") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, singleton edgeless node is absent by design
    val edges = Seq((1L, 2L), (3L, 2L), (10L, 11L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("hyperplane LSH: identical vectors share signatures and bucket together") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(0.5f, 0.5f, -0.2f)), (1L, Seq(0.5f, 0.5f, -0.2f)),
      (2L, Seq(-0.5f, -0.5f, 0.2f))) // antipodal → complementary bits
      .toDF("vec_id", "embedding")
    val sigs = Similarity.hyperplaneSignatures(emb, 8).cache()
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) == byId(1L))
    assert(byId(0L) != byId(2L))
    val cands = Similarity.hyperplaneCandidates(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSet == Set((0L, 1L)))
  }

  test("bruteForceTopK: nearest neighbor of a vector is its duplicate") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),  // duplicate of 0
      (2L, Seq(0.0f, 1.0f, 0.0f), 1),
      (3L, Seq(0.9f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 2)
      .collect().map(r => (r.getAs[Long]("nid"), r.getAs[Double]("cos_sim")))
    assert(out.head._1 == 1L)
    assert(out.head._2 == 1.0)
    assert(out(1)._1 == 3L)
  }

  test("cellTopK restricts candidates to the probe's cell") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 7), (1L, Seq(0.9f, 0.1f), 7),
      (2L, Seq(1.0f, 0.0f), 8)) // same direction but different cell
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.cellTopK(emb, col("vec_id") === 0, 5)
      .collect().map(_.getAs[Long]("nid"))
    assert(out.toSeq == Seq(1L))
  }

  test("kmvSourceOverlap: exhaustive small sketches estimate exactly") {
    import spark.implicits._
    // every source has FAR fewer than k distinct 3-grams, so the KMV
    // sketches are the complete gram sets and the estimate must equal the
    // exact Jaccard — the regression case for dividing by min(k, |union|)
    // rather than the constant k (which would report 4/64 here). The d08
    // oracle shares the estimator formula, so only this spec can catch a
    // denominator bug.
    val docs = Seq(
      (1L, "srcA", "one two three four five six"),   // 4 grams
      (2L, "srcB", "one two three four five six"),   // identical → J = 1
      (3L, "srcC", "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.kmvSourceOverlap(docs, k = 64, n = 3).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(("srcA", "srcB")) == (1.0, 1.0),
      s"identical tiny sources must estimate J=1, got ${out(("srcA", "srcB"))}")
    assert(out(("srcA", "srcC")) == (0.0, 0.0))
    assert(out(("srcB", "srcC")) == (0.0, 0.0))
  }

  test("editDistancePairs: exact within threshold, blocked, short-doc fallback") {
    import spark.implicits._
    val long = "the quick brown fox jumps over the lazy dog and keeps running " * 4
    val docs = Seq(
      (1L, "A", long),                        // long doc, gram route
      (2L, "A", long.replaceFirst("quick", "quiet")), // 2 edits from doc 1
      (3L, "A", "ab"),                        // short: ≤ k·n grams
      (4L, "A", "ax"),                        // ed(3,4)=1, shares NO 4-gram
      (5L, "B", long)                         // identical text, other block
    ).toDF("doc_id", "blockv", "text")
    val got = Dedup.editDistancePairs(docs, Seq("blockv"), n = 4, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 2L, "gram-route pair must verify at its true distance")
    assert(got((3L, 4L)) == 1L, "zero-shared-gram short pair must come via the fallback")
    assert(!got.keySet.exists { case (a, b) => Set(a, b).contains(5L) },
      "blocking must exclude cross-block pairs even for identical text")
    assert(got.size == 2)
  }

  test("editDistancePairs: short-doc fallback join is length-banded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "ab"),               // short fallback docs
      (2L, "A", "ax"),               // ed(1,2)=1 → pair
      (3L, "A", "abcdefghijklmnop")  // 14 chars longer than doc 1 → banded out
    ).toDF("doc_id", "blockv", "text")
    val out = Dedup.editDistancePairs(docs, Seq("blockv"), n = 4, maxDist = 5)
    // the length predicate must sit INSIDE the fallback join (with the
    // lb bucket key), not only in the post-union verify: short docs are
    // the most numerous at web scale and an unbanded in-block pair join
    // would be quadratic in them
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joinConds = out.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.map(_.sql).getOrElse("")
    }
    assert(joinConds.exists(c => c.contains("lb") && c.contains("abs(")),
      s"no join carries the banded length predicate:\n${joinConds.mkString("\n")}")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("editDistancePairs: NULL block keys never pair") {
    import spark.implicits._
    // xxhash64 ignores NULL inputs — without the explicit null guard both
    // null-keyed docs would co-block (and pair, ed=1); the SQL equality
    // join the oracle uses never matches NULL = NULL
    val docs = Seq(
      (1L, Option.empty[String], "ab"),
      (2L, Option.empty[String], "ax"),
      (3L, Some("A"), "ab"),
      (4L, Some("A"), "ax")
    ).toDF("doc_id", "blockv", "text")
    val got = Dedup.editDistancePairs(docs, Seq("blockv"), n = 4, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 4L)))
  }

  test("clusterRepresentatives: best quality wins, ties break low, singletons survive") {
    import spark.implicits._
    // component {1,2,3} (labeled 1), singleton 4 (no component row)
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L)
    ).toDF("doc_id", "n_chars")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "label")
    val got = Dedup.clusterRepresentatives(docs, comp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // quality tie 2 vs 3 at 30 chars → lowest doc_id (2) is canonical
    assert(got(1L) == ((2L, 3L, 30L)))
    assert(got(4L) == ((4L, 1L, 7L)))
    assert(got.size == 2)
  }

  test("exactSubstrSpans finds the shared run in both docs, merges " +
      "overlapping windows into one maximal span, and stays silent on " +
      "unique text") {
    import spark.implicits._
    val shared = "abcdefghij" * 6 // 60 chars, shared verbatim across docs
    val docs = Seq(
      (1L, "AAAA_unique_prefix_xyz " + shared),
      (2L, shared + " BBBB_other_suffix_123"),
      (3L, "totally unique text with no repeats whatsoever here"))
      .toDF("doc_id", "text")
    def spans(df: DataFrame, textCol: String) =
      Dedup.exactSubstrSpans(df, minLen = 20, textCol = textCol).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = spans(docs, "text")
    assert(!got.contains(3L)) // no duplicated window → no rows
    // NOTE: "abcdefghij"*6 repeats internally with period 10, so within
    // ONE doc the 20-char windows starting 10 apart are also equal — the
    // span still merges into a single maximal range covering the run.
    // doc 1: run occupies positions 24..83; doc 2: positions 1..60.
    assert(got(1L) == ((1L, 24L, 83L, 60L)))
    assert(got(2L) == ((1L, 1L, 60L, 60L)))
    // the text column is referenced as a column, never spliced into SQL
    // text: a name that needs quoting yields the same spans
    assert(spans(docs.withColumnRenamed("text", "body text"), "body text") == got)
  }

  test("archiveScreen: exact copies flag exact_dup, near-dups verify by " +
      "jaccard, archive-internal twins never pair, output is batch-only") {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (10L, words, true),                           // archive
      (12L, words.replace("kappa", "KAPPA"), true), // archive twin of 10
      (1L, words, false),                           // batch: exact copy of 10
      (3L, words.replace("alpha", "OMEGA"), false), // batch: near-dup (J=19/21)
      (5L, "totally different content nothing shared at all", false))
      .toDF("doc_id", "text", "arch")
    val got = Dedup.archiveScreen(docs.drop("arch"),
        isArchive = col("doc_id") >= 10, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap
    // archive docs (10, 12) never appear: no history-vs-history pairing
    assert(got.keySet == Set(1L, 3L, 5L))
    val (e1, n1, j1, d1) = got(1L)
    assert(e1 && d1 && n1 >= 1 && j1.contains(1.0)) // exact + jaccard 1
    val (e3, n3, j3, d3) = got(3L)
    val j1921 = BigDecimal(19.0 / 21.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(!e3 && n3 >= 1 && j3.contains(j1921) && d3 == (j1921 >= 0.9))
    assert(got(5L) == ((false, 0L, None, false)))
  }

  test("bloomGramScreen: no false negatives, candidates bound the exact join") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the cat sat on the mat today", true),   // blocklist
      (1L, "the cat sat on a rug", false),           // shares 'the cat sat'
      (2L, "dogs bark at the moon loudly", false),   // no shared 3-gram
      (3L, "", false))                               // no grams at all
      .toDF("doc_id", "text", "blocked")
    val got = Dedup.bloomGramScreen(docs.drop("blocked"),
        isBlocked = col("doc_id") >= 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    val (g1, b1, e1, c1) = got(1L)
    // 'the cat sat' and 'cat sat on' are true hits: Bloom may add FPs
    // but NEVER misses them
    assert(g1 === 4L && e1 === 2L && b1 >= e1 && c1)
    val (g2, b2, e2, c2) = got(2L)
    assert(g2 === 4L && e2 === 0L && b2 >= 0L && !c2)
    assert(got(3L) === ((0L, 0L, 0L, false)))
  }

  test("centroidOutliers: vectors against their label mean, outliers flagged") {
    import graft.similarity.Similarity
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, 0L, Seq(1f, 0f)), (2L, 0L, Seq(1f, 0f)), (3L, 0L, Seq(-1f, 0f)),
      (4L, 1L, Seq(0f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidOutliers(emb, threshold = 0.2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    // label 0 centroid = [1/3, 0]: aligned vectors score 1, the flipped
    // one scores -1; label 1's single vector IS its centroid
    assert(got(1L) === ((1.0, false)))
    assert(got(2L) === ((1.0, false)))
    assert(got(3L) === ((-1.0, true)))
    assert(got(4L) === ((1.0, false)))
  }

  test("randomProjection: bit-exact vs a driver-side replay of the same " +
    "fold, and JL norm preservation holds on real embeddings") {
    val s = spark
    val emb = Tables.embeddings(s, sf0001)
    val outDims = 16
    val proj = Similarity.randomProjection(emb, outDims).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // driver-side replay: same squared-multiplicative sign hash, same
    // strictly-sequential double fold — values must be BIT-identical,
    // not approximately equal
    def sign(i: Int, j: Int): Double = {
      val h = (i.toLong * 1024L + j + 1L) * 2654435761L % 2147483647L
      if ((h * h % 2147483647L & 1L) == 0L) 1.0 else -1.0
    }
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val someIds = vecs.keys.toSeq.sorted.take(5)
    for (id <- someIds; j <- 0 until outDims) {
      var acc = 0.0
      val v = vecs(id)
      for (i <- v.indices) acc = acc + sign(i, j) * v(i)
      assert(proj((id, j.toLong)) == acc, s"vec $id dim $j")
    }

    // JL with ±1 entries: E‖proj‖² = outDims·‖v‖²; the realized ratio
    // should concentrate near 1 for nearly every vector
    val ratios = vecs.map { case (id, v) =>
      val p2 = (0 until outDims).map(j => { val x = proj((id, j.toLong)); x * x }).sum
      p2 / (outDims * v.map(x => x * x).sum)
    }.toSeq
    assert(ratios.count(r => r > 0.4 && r < 2.5) >= (ratios.size * 0.9).toInt)
  }
}
