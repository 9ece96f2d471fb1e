package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.Text

/** Deduplication operators for a training-data pipeline, from exact to
  * approximate:
  *
  *  - exact:   hash-groupBy on md5(text) — one shuffle keyed by digest.
  *  - n-gram Jaccard: exact pairwise similarity within a blocking key
  *    (quadratic per block; the correctness baseline for near-dup).
  *  - MinHash+LSH: shingle → k minhashes → band → bucket-join so candidate
  *    generation is a shuffle on (band, signature) instead of an all-pairs
  *    product — the 100 TB scale path.
  *  - SimHash: 64-bit signature whose hamming distance approximates cosine
  *    similarity of the token multiset.
  *
  * All hashing is built from deterministic integer arithmetic on a
  * polynomial token hash, so every operator is reproducible and (where
  * registered) repeatable by the DuckDB oracle.
  */
object Dedup {

  /** Deterministic polynomial hash of a token (mod 2^31-1), identical in
    * ANSI SQL to `fold(h*31 + codepoint) mod 2147483647`. Rendered as a
    * call to the native codegen'd [[graft.functions.PolyHash]] — callable
    * by name inside SQL lambda bodies after registration.
    */
  def tokenHashSql(v: String): String =
    s"${graft.functions.PolyHash.FnName}($v, 31, 2147483647)"

  /** Exact duplicate grouping (SURVEY.md §7.2 step 9): every doc labeled
    * with the canonical (minimum) doc_id of its md5(text) group and the
    * group size. Single shuffle on the digest.
    */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byHash = Window.partitionBy(col("content_md5"))
    docs
      .withColumn("content_md5", md5(col(textCol)))
      .withColumn("canonical_id", min(col(idCol)).over(byHash))
      .withColumn("dup_count", count(lit(1)).over(byHash).cast("long"))
      .select(col(idCol), col("content_md5"), col("canonical_id"), col("dup_count"))
  }

  /** Paragraph-level dedup (CCNet, Wenzek et al. 2020 §4.1): keep only the
    * globally FIRST occurrence of each distinct paragraph and reassemble
    * the survivors per document. The synthetic corpus has no newline
    * structure, so fixed-width token segments stand in for paragraphs;
    * swapping the segmenter for `split(text, '\n\n')` changes nothing
    * downstream.
    *
    * Scale shape: segmentation is linear (slice, no per-token explode);
    * the one shuffle keys on the segment text (production would key on a
    * 128-bit digest — identical plan), and the first-occurrence window is
    * hash-partitioned per segment, never global. Reassembly is a hash
    * aggregation back on the doc id.
    *
    * Output: (doc_id, n_segs, n_kept, dedup_text); documents whose every
    * segment already appeared earlier survive with `dedup_text = ''`.
    */
  def paragraphDedup(docs: DataFrame, widthTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(widthTokens > 0, "segment width must be positive")
    val segs = docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("seg_idx",
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1).cast("double") / widthTokens).cast("int"))))
      .select(col("id"), col("seg_idx"),
        concat_ws(" ",
          slice(col("toks"), col("seg_idx") * widthTokens + 1, lit(widthTokens))).as("seg"))
    val firstWins = Window.partitionBy(col("seg")).orderBy(col("id"), col("seg_idx"))
    val perDoc = segs
      .withColumn("kept", row_number().over(firstWins) === 1)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
        concat_ws(" ",
          transform(
            sort_array(collect_list(
              when(col("kept"), struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg"))).as("dedup_text"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Cross-document duplicate n-gram rate (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr signal
    * aggregated per document): for each doc, the fraction of its DISTINCT
    * token n-grams that also occur in at least one OTHER document. Docs
    * with a high rate are boilerplate/mirror candidates the substring
    * deduper would cut.
    *
    * Scale shape: per-doc distinctness is `array_distinct` INSIDE the row
    * (no shuffle), so the postings are (doc, gram)-unique the moment they
    * explode; document frequency is a count over a gram-partitioned
    * window — the postings shuffle exactly once on the gram and carry
    * their df out of the same exchange (an agg+join would shuffle them
    * twice); the per-doc rollup is one hash aggregation on the id. The
    * gram key is the string here so the DuckDB oracle is exact;
    * production keys on a 128-bit digest — same plan. Zipf-head grams
    * (site boilerplate) skew the gram partitioning; at web scale cap or
    * pre-filter grams with df above a threshold, which also shrinks the
    * window input. Never an all-pairs product.
    *
    * Output: (doc_id, n_grams, n_dup, dup_frac); docs shorter than n
    * tokens carry n_grams = 0 and a NULL dup_frac.
    */
  def dupNgramStats(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, "gram width must be positive")
    val grams = docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        explode(array_distinct(Text.shingles(col("toks"), n))).as("gram"))
    // postings are (id, gram)-unique, so the window count IS the df
    val withDf = grams.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("gram"))))
    val perDoc = withDf
      .groupBy(col("id"))
      .agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
  }

  /** ExactSubstr duplicate-SPAN extraction (the actionable sibling of
    * [[dupNgramStats]]'s rate, after Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): find, per document,
    * the maximal character ranges whose every `minLen`-char window also
    * occurs elsewhere in the corpus — the ranges the ExactSubstr deduper
    * would cut. A position is duplicated when its `minLen`-char digest
    * repeats globally (within- or cross-document); runs of duplicated
    * positions closer than `minLen` merge into one span (they share
    * window characters), q51's gaps-and-islands on the position stream.
    *
    * Scale shape: the per-position digest stream projects to
    * (id, pos, digest) before anything shuffles — document text never
    * rides through an exchange. One corpus shuffle on the digest key (a
    * count over a digest-partitioned window, the d14 recipe — never a
    * self-join of positions), then per-document windows over the
    * surviving duplicated positions only. The published 100 TB pipeline
    * builds a distributed suffix array; this window formulation trades
    * its construction for `minLen`× byte amplification of ONE shuffle —
    * the right trade until the corpus outgrows shuffle capacity. Zipf
    * boilerplate digests skew the digest partitioning; cap df at a
    * threshold upstream the same way d14 documents.
    *
    * Output: (doc_id, span_idx, start_pos, end_pos, span_len), 1-based
    * inclusive character positions; documents with no duplicated window
    * emit no rows.
    */
  def exactSubstrSpans(docs: DataFrame, minLen: Int = 40,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minLen > 0, "minLen must be positive")
    // internal duplicate-detection key only (never output): per-position
    // window hashes from ONE native O(len) pass per document
    // ([[graft.functions.CharWindowHash64]] — bit-identical to
    // xxhash64(substring(__text, pos, minLen)), whose per-exploded-row
    // substring restarts its codepoint walk from byte 0 and so costs
    // O(len²) per document). Same duplicate classification as md5 up to
    // 64-bit collisions (~n²/2⁶⁵, immaterial at any shuffle-able n), and
    // the corpus-wide shuffle carries an 8-byte long per window.
    graft.functions.CharWindowHash64.register(docs.sparkSession)
    val pos = docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol),
        posexplode(call_function(graft.functions.CharWindowHash64.FnName,
          col(textCol), lit(minLen))))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("__g"))
    val dup = pos
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__c") > 1)
      .select(col(idCol), col("pos"))
    val wd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dup.withColumn("__prev", lag(col("pos"), 1).over(wd))
      .withColumn("__new",
        when(col("__prev").isNull || col("pos") - col("__prev") > minLen, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + (minLen - 1)).cast("long").as("end_pos"),
        (max(col("pos")) + minLen - min(col("pos"))).cast("long").as("span_len"))
      .select(col(idCol), col("__island").cast("long").as("span_idx"),
        col("start_pos"), col("end_pos"), col("span_len"))
  }

  /** Exact token-set Jaccard near-dup pairs within a blocking key, via an
    * inverted-index join: explode distinct tokens, equi-join postings on
    * (block, token), count shared tokens per pair with one aggregation,
    * then jaccard = |∩| / (|A| + |B| − |∩|). Only pairs sharing at least
    * one token are materialized and every step is an equi-join or
    * aggregation — no all-pairs product. Preferred when token vocabulary
    * is small (postings collide anyway); see [[jaccardPairsPrefix]] for
    * the large-vocabulary variant.
    */
  def jaccardPairs(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    jaccardPairsFeatures(docs, blockCol, threshold, idCol,
      array_distinct(Text.tokens(col(textCol))))

  /** [[jaccardPairs]] over an arbitrary DISTINCT feature-array column —
    * the same inverted-index plan shape reused for character n-gram
    * shingles (or any other set representation of a document). `feats`
    * must already be deduplicated (e.g. wrapped in `array_distinct`);
    * set sizes and posting lists both derive from it.
    */
  def jaccardPairsFeatures(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      idCol: String,
      feats: Column): DataFrame = {
    val raw = parallelismFloor(docs, col(idCol)).select(
      col(blockCol).as("block"),
      col(idCol).as("id"),
      explode(feats).as("tok"))
    // encode (block, token) to one long key before the heavy self-join:
    // the postings join then hashes/compares a single word instead of two
    // strings. xxhash64 is deterministic per value — both join sides see
    // the same key even if a subtree re-executes after executor loss
    // (monotonically_increasing_id would not survive that). Collision odds
    // for 64-bit hashes are ~n²/2⁶⁵ — immaterial below ~10⁸ distinct keys.
    // The self-join's exchange is PINNED ([[pinnedPartitions]]): the pair
    // probing downstream is CPU-dense on few bytes, and the exchange
    // doubles as the join's required clustering, so both aliases reuse it.
    val postings = raw
      .select(col("id"), xxhash64(col("block"), col("tok")).as("key_id"))
      .repartition(pinnedPartitions(docs), col("key_id"))
    val sizes = docs.select(
      col(idCol).as("id"),
      size(feats).cast("long").as("sz"))
    val inter = postings.as("a")
      .join(postings.as("b"),
        col("a.key_id") === col("b.key_id") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard near-dup pairs with PPJoin-style prefix filtering
    * (Xiao et al., WWW'08 — public set-similarity-join literature):
    * index only each doc's `sz − ceil(t·sz) + 1` globally-rarest tokens
    * (a pair with Jaccard ≥ t must share a prefix token), equi-join the
    * tiny prefix postings for candidates, then verify exactly. No false
    * negatives. The win grows with vocabulary size — at web-corpus scale
    * the prefix index is orders of magnitude smaller than full postings.
    */
  def jaccardPairsPrefix(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    jaccardPairsPrefixFeatures(docs, blockCol, threshold, idCol,
      array_distinct(Text.tokens(col(textCol))))

  /** [[jaccardPairsPrefix]] over an arbitrary DISTINCT feature-array
    * column (same contract as [[jaccardPairsFeatures]]). This is the
    * variant to reach for when features are character n-grams: boundary
    * grams repeat across most documents of a block, so full postings
    * self-join quadratically on those hot keys, while the rare-first
    * prefix index skips them entirely.
    */
  def jaccardPairsPrefixFeatures(
      docs: DataFrame,
      blockCol: String,
      threshold: Double,
      idCol: String,
      feats: Column): DataFrame = {
    // Each distinct feature is hashed WITH its block into one 64-bit key
    // up front: document frequency, the prefix self-join, and the final
    // intersection verification all compare longs — never the feature
    // strings (at char-n-gram scale the string form of the verify step
    // alone measured 20+ s at sf0.1). Key equality implies same block, so
    // the join needs no separate block condition; cross-block collisions
    // are impossible by construction and within-block 64-bit collisions
    // are ~sz²/2⁶⁵ per doc pair — immaterial.
    val t = docs.select(
      col(blockCol).as("block"),
      col(idCol).as("id"),
      feats.as("f"))
      .select(col("id"),
        sort_array(transform(col("f"), x => xxhash64(col("block"), x))).as("toks"))
      .withColumn("sz", size(col("toks")).cast("long"))
    prefixJoinVerify(t, threshold)
  }

  /** Character n-gram Jaccard near-dup pairs — the char-shingle twin of
    * [[jaccardPairsPrefix]], with the whole per-document feature build
    * (shingle → seeded hash → sort → dedup) in the single codegen'd
    * [[graft.functions.CharGramHash64]] loop instead of interpreted HOF
    * frames. Char grams are the representation that survives
    * token-boundary edits; they also recur in most documents of a block,
    * which is exactly the hot-key regime where the plain inverted index
    * self-joins quadratically and prefix filtering wins.
    */
  def charGramJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.CharGramHash64.register(docs.sparkSession)
    // caller column names are aliased before the SQL text references
    // them, so a name that needs quoting (a space, a dot) still resolves
    val t = docs.select(col(idCol).as("id"), col(textCol).as("txt"),
        col(blockCol).as("blk"))
      .select(col("id"), expr(s"${graft.functions.CharGramHash64.FnName}(" +
        s"txt, $n, xxhash64(blk))").as("toks"))
      .withColumn("sz", size(col("toks")).cast("long"))
    prefixJoinVerify(t, threshold)
  }

  /** Edit-distance similarity join: all same-block pairs within Levenshtein
    * distance `maxDist`, found WITHOUT an all-pairs product via the exact
    * q-gram count filter (Gravano et al., VLDB'01 — public approximate-
    * string-join literature): one edit operation disturbs at most `n` of a
    * document's positional n-grams, so ed(A,B) ≤ k forces the gram
    * MULTISET intersection ≥ max(|G_A|,|G_B|) − k·n. Candidates come from
    * an inverted-index join over per-doc gram counts (multiset intersection
    * = Σ min(cnt_a, cnt_b), never an occurrence-expanded product); docs too
    * short for the bound to prune (≤ k·n grams) fall back to an in-block
    * length-filtered pair join, so the result is EXACT — no false
    * negatives. Survivors verify with the banded three-arg `levenshtein`
    * (O(k·L), early-exit) rather than the full DP matrix.
    *
    * 100 TB shape: gram counting is linear; the candidate join is keyed on
    * (block, gram) hashes — hot common grams cost pairs only within a
    * block; the short-doc fallback is quadratic only in short docs per
    * block. Output: (doc_a, doc_b, edit_dist ≤ maxDist).
    */
  def editDistancePairs(
      docs: DataFrame,
      blockCols: Seq[String],
      n: Int,
      maxDist: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1 && maxDist >= 0)
    val kn = maxDist.toLong * n
    // base is reused by the gram route, the short fallback, and the verify
    // join — materialize once (projection subtrees are not plan-reused).
    // Rows with a NULL blocking key are dropped up front: xxhash64 skips
    // NULL inputs, which would silently co-block every null-keyed doc,
    // while the SQL equality join this mirrors never matches NULL = NULL.
    val base0 = docs
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .select(
        col(idCol).as("id"),
        xxhash64(blockCols.map(col): _*).as("blk"),
        col(textCol).as("txt"),
        length(col(textCol)).cast("long").as("len"))
      .withColumn("g", greatest(col("len") - lit(n - 1), lit(1L)))
    // parallelism floor (see [[parallelismFloor]]): the per-doc work
    // downstream of the checkpoint (gram hashing, candidate probing
    // against the broadcast build side, banded levenshtein verification)
    // is CPU-heavy on few bytes and would otherwise inherit a narrow
    // scan's partitioning.
    val base = parallelismFloor(base0, col("id")).localCheckpoint(true)
    // per-doc gram MULTISET as (key, cnt) — finished INSIDE one native
    // per-row loop ([[graft.functions.CharGramCounts64]]): the former
    // explode(substr)+groupBy shipped every gram OCCURRENCE (a fresh
    // UTF8String each) through a corpus-wide hash aggregation whose keys
    // never cross a document, i.e. a full shuffle of O(corpus chars) rows
    // for per-row work. Now only the per-doc distinct grams become rows,
    // and the candidate self-join's two sides shuffle the SAME subtree on
    // the same key, so the exchange is planned once and reused.
    graft.functions.CharGramCounts64.register(docs.sparkSession)
    val gramCnt = base
      .select(col("id"), col("g"),
        explode(expr(s"${graft.functions.CharGramCounts64.FnName}(" +
          s"txt, $n, blk)")).as("kc"))
      .select(col("id"), col("g"),
        col("kc.key").as("key"), col("kc.cnt").as("cnt"))
    val gramCands = gramCnt.as("a")
      .join(gramCnt.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(sum(least(col("a.cnt"), col("b.cnt"))).as("common"),
        max(col("a.g")).as("g_a"), max(col("b.g")).as("g_b"))
      .filter(col("common") >= greatest(col("g_a"), col("g_b")) - lit(kn))
      // route disjointness: a pair with BOTH sides short (max g ≤ k·n) is
      // found completely by the banded short route below; keeping it out
      // here makes the two candidate streams provably disjoint, so their
      // union needs no global distinct. Pairs with a long side (max g >
      // k·n) must share ≥ max(g)−k·n ≥ 1 grams, so the gram join finds
      // every one of them — no false negatives.
      .filter(greatest(col("g_a"), col("g_b")) > kn)
      .select(col("doc_a"), col("doc_b"))
    // docs with ≤ k·n grams can pass ed ≤ k while sharing NO gram — the
    // bound cannot prune them; pair them via a (block, length-bucket)
    // equi-join instead of all-pairs-per-block: ed ≤ k forces
    // |len_a − len_b| ≤ k, and with bucket = ⌊len/(k+1)⌋ any such pair
    // lands within one bucket of each other, so emitting every short doc
    // to buckets {b, b+1} makes bucket equality a complete (no false
    // negatives, dedup'd by the downstream distinct) banded join. Short
    // docs are the most numerous in a web corpus — this keeps the
    // fallback linear in docs-per-(block, ~k-length-range), not
    // quadratic in docs-per-block.
    val bucket = (col("len") / lit(maxDist + 1)).cast("long")
    // one-sided 3-bucket explode: probe side a emits {b−1, b, b+1}, build
    // side b keeps its own bucket — every qualifying pair (|len diff| ≤ k
    // forces |bucket diff| ≤ 1) matches EXACTLY once, where the old
    // both-sides {b, b+1} explode emitted same-bucket pairs twice and
    // leaned on the downstream distinct to drop the dup
    val shortBase = base.filter(col("g") <= kn)
      .select(col("id"), col("blk"), col("len"))
    val short = shortBase
      .select(col("id"), col("blk"), col("len"),
        explode(array(bucket - 1, bucket, bucket + 1)).as("lb"))
    val shortCands = short.as("a")
      .join(shortBase.withColumn("lb", bucket).as("b"),
        col("a.blk") === col("b.blk") && col("a.lb") === col("b.lb") &&
          col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    val sides = base.select(col("id"), col("txt"), col("len"))
    // gramCands is unique (it exits a groupBy) and pair-disjoint from
    // shortCands (max-g filter above); shortCands is unique by the
    // one-sided explode — the union is duplicate-free WITHOUT the former
    // global distinct, removing a full exchange of the candidate set
    gramCands.union(shortCands)
      .join(sides.select(col("id").as("doc_a"), col("txt").as("txt_a"),
        col("len").as("len_a")), "doc_a")
      .join(sides.select(col("id").as("doc_b"), col("txt").as("txt_b"),
        col("len").as("len_b")), "doc_b")
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** Scale-adaptive parallelism floor for a frame about to anchor
    * CPU-heavy per-row work (gram hashing, candidate probing, per-pair
    * verification): when the frame's planned partition count is below the
    * cluster's default parallelism — a small input read as one split at
    * test SF, where byte-based AQE coalescing cannot see the CPU cost —
    * spread it by `key`; a wide frame at real scale already exceeds the
    * floor and is returned untouched. Both bounds derive from the
    * runtime, never a constant; partition count is plan metadata, so no
    * job runs here.
    */
  private def parallelismFloor(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, key) else df
  }

  /** Partition count for a PINNED exchange feeding CPU-dense work (pair
    * probing, per-pair verification): byte-based AQE coalescing would
    * fold the few-MB shuffle of a similarity join into one or two
    * partitions and serialize per-pair CPU that bytes cannot predict, so
    * these exchanges use an explicit count AQE leaves alone. Never a
    * constant: cluster width or the session's shuffle-partition setting,
    * whichever is larger, so a production setting tuned above core count
    * is respected.
    */
  private def pinnedPartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Shared PPJoin core over pre-hashed documents `t` = (id, toks:
    * SORTED distinct array<bigint> with the blocking key folded into the
    * hashes, sz): rare-first prefix postings, bucketed candidate join
    * with the length filter, exact verify via one merge-intersect per
    * candidate. Emits (doc_a, doc_b, jaccard ≥ threshold).
    */
  private def prefixJoinVerify(tRaw: DataFrame, threshold: Double): DataFrame = {
    graft.functions.IntersectCardSorted.register(tRaw.sparkSession)
    // Materialize the hashed-document frame once: it feeds postings AND
    // both sides of the verify join, and Spark would otherwise recompute
    // the gram hashing per reference (only exchanges get reused, not
    // projection subtrees). Same for the prefix index below — it IS an
    // index; every PPJoin implementation builds it once before probing.
    // Parallelism floor first: the checkpoint anchors the posting explode
    // and the per-pair merge-intersect verification.
    val t = parallelismFloor(tRaw, col("id")).localCheckpoint(true)
    val postings = t.select(col("id"), col("sz"), explode(col("toks")).as("tok"))
    // document frequency of the block-hashed key (= block-local df)
    // defines the rare-first prefix order — a consistent total order
    // across every within-block comparison, which is all PPJoin needs
    val tokenDf = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefixLen = col("sz") - ceil(lit(threshold) * col("sz")) + 1
    val byDoc = Window.partitionBy(col("id")).orderBy(col("df").asc, col("tok").asc)
    // both exchanges below are PINNED ([[pinnedPartitions]]): the per-doc
    // rare-first sort under the window and the prefix self-join's pair
    // probing are CPU-dense on few bytes, exactly what byte-based AQE
    // coalescing serializes. Each pinned repartition doubles as the
    // required clustering of the operator after it (window on id; join on
    // tok), so no exchange is added — only the count is fixed.
    val pp = pinnedPartitions(tRaw)
    val prefixes = postings.join(tokenDf, "tok")
      .repartition(pp, col("id"))
      .withColumn("pos", row_number().over(byDoc))
      .filter(col("pos") <= prefixLen)
      .select(col("id"), col("sz"), col("tok"))
      .repartition(pp, col("tok"))
      .localCheckpoint(true)
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          // PPJoin length filter: J ≥ t forces min(sz) ≥ t·max(sz), so
          // size-mismatched pairs drop before the distinct + verify
          col("a.sz") >= lit(threshold) * col("b.sz") &&
          col("b.sz") >= lit(threshold) * col("a.sz"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val inter = expr(s"${graft.functions.IntersectCardSorted.FnName}(" +
      "ta.toks, tb.toks)")
    candidates
      .join(t.select(col("id").as("doc_a"), col("toks"), col("sz")).as("ta"), "doc_a")
      .join(t.select(col("id").as("doc_b"), col("toks"), col("sz")).as("tb"), "doc_b")
      .withColumn("inter", inter)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("ta.sz") + col("tb.sz") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures: k permutations h_i(x) = (a_i*x + b_i) mod p over
    * deterministic token hashes. Returns (id, sig: array<bigint>). Linear
    * scan, no shuffle.
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      carry: Seq[String] = Nil): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    graft.functions.MinHashSig.register(docs.sparkSession)
    val p = 2147483647L // 2^31-1, Mersenne prime
    // token hashes computed ONCE per doc, then each permutation folds a
    // min over them; a_i, b_i derive from the permutation index by fixed
    // odd multipliers so the oracle can regenerate them from i alone.
    // The fold runs in the native MinHashSig expression (one codegen'd
    // double loop) — bit-identical to the HOF form
    // `transform(sequence(0, k-1), i -> aggregate(hs, p, least(…)))`,
    // which paid two interpreted lambda frames per permutation×token.
    val hs = expr(
      s"transform(array_distinct(filter(split(trim($textCol), '\\\\s+'), t -> t <> ''))," +
        s" t -> ${tokenHashSql("t")})")
    val sig = expr(
      s"${graft.functions.MinHashSig.FnName}(hs, $numHashes, $p)")
    docs.select(col(idCol).as("id") +: carry.map(col) :+ hs.as("hs"): _*)
      .select(col("id") +: carry.map(col) :+ sig.as("sig"): _*)
  }

  /** LSH banding: split the k-wide signature into bands of `rowsPerBand`,
    * emit one (band_idx, band_sig) bucket key per doc per band, and
    * bucket-join to produce candidate pairs. The shuffle is keyed on the
    * band hash — candidate generation never materializes the all-pairs
    * product, which is what makes near-dup feasible at 100 TB.
    */
  /** The banding projection alone: one (id, band, band_sig) row per doc
    * per band — the bucket keys [[minhashCandidates]] self-joins on, also
    * reusable as a persisted registry key for incremental/streaming
    * near-dup (join new docs' keys against the stored corpus keys instead
    * of re-banding history).
    */
  def bandKeys(signatures: DataFrame, rowsPerBand: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(rowsPerBand >= 1, "rowsPerBand must be positive")
    // guard sequence(0, -1): Spark generates a DESCENDING [0, -1] there,
    // which would build a bogus band from a negative slice offset when a
    // signature is narrower than one band
    signatures.select(
      col("id") +: carry.map(col) :+
      posexplode(expr(
        s"CASE WHEN size(sig) >= $rowsPerBand THEN " +
          s"transform(sequence(0, size(sig) div $rowsPerBand - 1), " +
          s"b -> slice(sig, b*$rowsPerBand + 1, $rowsPerBand)) " +
          s"ELSE array() END")): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
  }

  def minhashCandidates(signatures: DataFrame, rowsPerBand: Int): DataFrame = {
    val bands = bandKeys(signatures, rowsPerBand)
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_sig") === col("r.band_sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .distinct()
  }

  /** Incremental archive screening — the daily-batch realization of the
    * registry pattern [[bandKeys]] documents: screen a NEW batch against
    * the historical corpus without ever pairing history with itself.
    * Three stages, each new-vs-archive only: (1) exact — the batch doc's
    * md5 digest semi-joins the archive digests; (2) candidates — the
    * batch's LSH band keys equi-join the archive's (in production the
    * archive side is the PERSISTED key registry, so history is never
    * re-banded); (3) verify — exact distinct-token Jaccard on candidate
    * pairs only, max per batch doc. `is_dup` = exact OR best ≥
    * `threshold` (compared on the 6dp-rounded value, engine-exact).
    *
    * Scale shape: shuffles key on digest / band hash / candidate ids —
    * never an all-pairs product, and the archive-side work is O(archive)
    * once (amortized into the registry), O(batch) per day after.
    *
    * Output: one row per batch doc — (doc_id, exact_dup, n_candidates,
    * best_jaccard: null when no candidate, is_dup).
    */
  def archiveScreen(docs: DataFrame, isArchive: Column,
      threshold: Double = 0.9, numHashes: Int = 16, rowsPerBand: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // parallelism floor up front: every downstream phase (tokenization +
    // 16 minhash permutations per doc, band joins, per-pair verification)
    // is CPU-dense per row and would inherit a narrow scan's partitioning
    val tagged = parallelismFloor(docs, col(idCol))
      .withColumn("__arch", isArchive)
    // (id, flag, digest, token set) feeds the exact screen, both sides of
    // the verify join, and the final left joins — one materialization
    val base = parallelismFloor(tagged.select(col(idCol).as("id"), col("__arch"),
      // internal exact-match key only (the output carries the boolean,
      // never the digest): xxhash64 equality = text equality up to 64-bit
      // collisions, far cheaper than md5 and 8 bytes on the wire
      xxhash64(col(textCol)).as("__d"),
      array_distinct(graft.text.Text.tokens(col(textCol))).as("__toks")),
      col("id"))
      .localCheckpoint(true)
    val batch = base.filter(!col("__arch"))
    val arch = base.filter(col("__arch"))
    val exact = batch.join(arch.select(col("__d")).distinct(), Seq("__d"),
        "left_semi")
      .select(col("id"), lit(true).as("exact_dup"))
    val sigs = minhashSignatures(tagged, numHashes, idCol, textCol,
      carry = Seq("__arch"))
    val bands = bandKeys(sigs, rowsPerBand, carry = Seq("__arch"))
    val cands = bands.filter(!col("__arch")).as("n")
      .join(bands.filter(col("__arch")).as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_sig") === col("o.band_sig"))
      .select(col("n.id").as("id"), col("o.id").as("arch_id"))
      .distinct()
    val verified = cands
      .join(batch.select(col("id"), col("__toks").as("__tn")), "id")
      .join(arch.select(col("id").as("arch_id"), col("__toks").as("__to")),
        "arch_id")
      .withColumn("__i", size(array_intersect(col("__tn"), col("__to"))))
      .withColumn("__u", size(col("__tn")) + size(col("__to")) - col("__i"))
      .withColumn("jaccard",
        when(col("__u") > 0, round(col("__i").cast("double") / col("__u"), 6)))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        max(col("jaccard")).as("best_jaccard"))
    batch.select(col("id"))
      .join(exact, Seq("id"), "left")
      .join(verified, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_jaccard"),
        (coalesce(col("exact_dup"), lit(false)) ||
          coalesce(col("best_jaccard") >= threshold, lit(false))).as("is_dup"))
  }

  /** KMV (k-minimum-values) sketch estimate of the pairwise n-gram
    * Jaccard overlap BETWEEN corpus sources — "how much does source A
    * overlap source B" without ever joining their full gram sets. Public
    * literature: Bar-Yossef et al.'s distinct-value KMV sketch and its
    * Jaccard estimator J ≈ |U ∩ A ∩ B| / k where U is the k smallest of
    * the union of the two sketches (union of KMV sketches IS the sketch
    * of the union — same merge property qa3 uses for HLL).
    *
    * Returns one row per unordered source pair: (src_a, src_b, est_j,
    * exact_j). Everything is deterministic — the "sketch" is the k
    * smallest md5-derived 60-bit gram hashes — so the estimate itself is
    * exact-oracle-checkable, no tolerance band needed; `exact_j` is
    * emitted beside it as the estimator-quality witness (feasible at test
    * SF; at 100 TB only the sketch path runs: per-source state is O(k),
    * the pair table O(sources²·k), and the full gram-set join never
    * happens).
    */
  def kmvSourceOverlap(docs: DataFrame, k: Int, n: Int,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    // distinct 60-bit gram hashes per source (md5 prefix: reproducible on
    // any engine, uniform — the property the k-minimum estimator needs)
    val grams = docs
      .withColumn("toks", Text.tokens(col(textCol)))
      .select(col(srcCol).as("source"),
        explode(Text.shingles(col("toks"), n)).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      // four consumers (sketch window, per-source sizes, both sides of the
      // exact-intersection self-join) — materialize the deduped gram set
      // once instead of re-running explode+md5+distinct per consumer
      .localCheckpoint(true)
    // per-source KMV sketch: the k smallest hashes. The window input is
    // already the deduped gram set; at extreme skew the same result comes
    // from a partial min-k aggregate, but the shuffle key (source) and
    // state (k values) are what matter at scale.
    val bySource = Window.partitionBy(col("source")).orderBy(col("h"))
    val sketch = grams.withColumn("rn", row_number().over(bySource))
      .filter(col("rn") <= k).select(col("source"), col("h"))
    val srcs = docs.select(col(srcCol).as("source")).distinct()
    val pairs = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    // merged sketch per pair: membership flags per hash, k smallest kept
    val ua = pairs.join(sketch.withColumnRenamed("source", "src_a"), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val ub = pairs.join(sketch.withColumnRenamed("source", "src_b"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val merged = ua.union(ub)
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val byPair = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    // estimator denominator is min(k, |merged sketch|): when both sources
    // have fewer than k grams the sketches are exhaustive and dividing by
    // the constant k would systematically underestimate (J ≈ |U∩A∩B|/k is
    // only the k-th-order statistic form when the union sketch is full)
    val est = merged.withColumn("rn", row_number().over(byPair))
      .filter(col("rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(round(sum(col("in_a") * col("in_b")).cast("double") /
        least(lit(k), count(lit(1))), 6).as("est_j"))
    // exact Jaccard over the full gram-hash sets — the estimator's truth
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
    val inter = grams.as("ga").join(grams.as("gb"),
        col("ga.h") === col("gb.h") && col("ga.source") < col("gb.source"))
      .groupBy(col("ga.source").as("src_a"), col("gb.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("ninter"))
    val exact = pairs.join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("ninter"))
      .join(sizes.toDF("src_a", "na"), Seq("src_a"))
      .join(sizes.toDF("src_b", "nb"), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        round(col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter")), 6).as("exact_j"))
    est.join(exact, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("est_j"), col("exact_j"))
  }

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (every doc labeled with the
    * minimum id reachable from it). Iterative label propagation: each
    * round every node adopts the minimum label among itself and its
    * neighbors, until a fixpoint. Rounds are pure joins+aggregations
    * (distributed); the driver only checks the scalar "did anything
    * change" count, and the round count is bounded by the component
    * diameter — the standard large-scale formulation (cf. the
    * large-star/small-star algorithm in the public MapReduce literature).
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 20): DataFrame = {
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .cache()
    // localCheckpoint (not cache) per round: with a self-join in the loop
    // the logical plan would otherwise double in size every iteration and
    // analysis time explodes exponentially; checkpointing truncates the
    // lineage so each round plans against a constant-size tree.
    //
    // Seed with min(node, min-neighbor) — one aggregation over sym — which
    // is exactly what round 1 of plain propagation would compute from
    // identity labels, so the first real round starts a step ahead.
    var labels = sym.groupBy(col("a").as("node"))
      .agg(min(col("b")).as("mnb"))
      .select(col("node"), least(col("node"), col("mnb")).as("label"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val neighborMin = sym
        .join(labels, sym("b") === labels("node"))
        .groupBy(col("a").as("node")).agg(min(col("label")).as("nlabel"))
      val adopted = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jumping (path halving): additionally adopt the label OF
      // one's label, so propagation distance doubles per round and the
      // loop converges in O(log diameter) rounds instead of O(diameter)
      val updated = adopted.as("x")
        .join(adopted.select(col("node").as("ln"), col("label").as("ll")).as("y"),
          col("x.label") === col("y.ln"), "left")
        .select(col("x.node").as("node"), col("x.old").as("old"),
          least(col("x.label"), coalesce(col("ll"), col("x.label"))).as("label"))
        .localCheckpoint(true)
      // convergence check rides on the materialized round: `old` was carried
      // through the round's joins, so this is a short-circuiting scan of the
      // checkpoint blocks just written — not the extra join + count() job of
      // the naive formulation (which used to cost as much as the round).
      converged = updated.filter(col("label") =!= col("old")).isEmpty
      labels.unpersist() // release the superseded round's checkpoint blocks
      labels = updated.drop("old")
      i += 1
    }
    sym.unpersist()
    labels
  }

  /** Canonical-document selection over near-dup clusters: every document
    * joins its component label (singletons keep their own id), then ONE
    * window partitioned by cluster picks the representative — highest
    * `qualityCol`, ties broken by lowest id so the choice is deterministic.
    * Emits one row per cluster (id, representative, size, quality). This is
    * the "keep the best copy, drop the rest" step a dedup pipeline runs
    * after clustering; the window is keyed on cluster_id, so skewed giant
    * clusters are the only hotspot — and cluster sizes are bounded by the
    * near-dup threshold, not corpus size.
    */
  def clusterRepresentatives(
      docs: DataFrame, components: DataFrame,
      idCol: String = "doc_id", qualityCol: String = "n_chars"): DataFrame = {
    val labeled = docs
      .join(components, docs(idCol) === components("node"), "left")
      .select(docs(idCol), col(qualityCol),
        coalesce(col("label"), docs(idCol)).as("cluster_id"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    labeled
      .withColumn("rn", row_number().over(byCluster))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))).cast("long"))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col(idCol).as("rep_doc_id"),
        col("cluster_size"), col(qualityCol).cast("long").as("rep_quality"))
  }

  /** SimHash: 31-bit signature from per-token polynomial hashes; bit j of
    * the signature is 1 iff the majority of tokens have bit j set in their
    * hash. Hamming distance between signatures ≈ angular distance between
    * token multisets. Linear, shuffle-free; token hashes computed once per
    * doc, then folded per bit.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    graft.functions.SimHashSig.register(docs.sparkSession)
    val tokHash = tokenHashSql("t")
    // single-pass native bit-count fold — bit-identical to the HOF form
    // `aggregate(sequence(0,30), 0L, (acc, j) -> acc + if(size(filter(hs,
    // h -> (h div 2^j) % 2 = 1)) * 2 > size(hs), 2^j, 0))`, which walked
    // the token array once per bit in interpreted lambdas
    // the text column is aliased before the SQL text references it, so a
    // name that needs quoting (a space, a dot) still resolves
    docs
      .select(col(idCol).as("id"), col(textCol).as("txt"))
      .select(col("id"),
        expr(s"transform(filter(split(trim(txt), '\\\\s+'), t -> t <> '')," +
          s" t -> ($tokHash))").as("hs"))
      .select(col("id"),
        expr(s"${graft.functions.SimHashSig.FnName}(hs, 31)").as("simhash"))
  }

  /** Hamming distance between two simhash signatures. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Benchmark-contamination check: flag every candidate document sharing
    * at least one token n-gram with the eval/benchmark partition — the
    * train-test-overlap scan a training pipeline runs before release
    * (public practice, e.g. GPT-3 appendix C / PaLM §7-style n-gram
    * overlap). Shape: distinct n-grams per doc (explode), then ONE
    * semi-join keyed on the gram — an inverted-index probe, never an
    * all-pairs product; the eval side is typically tiny and broadcasts.
    * At 100 TB key the same shuffle on xxhash64(gram) to shrink width.
    */
  def contaminationFlags(docs: DataFrame, isEval: Column, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // distinct/broadcast/semi-join carry the 64-bit xxhash of the gram,
    // not the gram string: an 8-byte key instead of ~n-token text shrinks
    // the broadcast and every comparison; a cross-boundary collision
    // (~|grams|²/2⁶⁴) is negligible against the near-dup thresholds this
    // feeds. Gram construction + hashing + dedup run in the native
    // ShingleHash64 loop — the gram string never exists outside it.
    graft.functions.ShingleHash64.register(docs.sparkSession)
    val grams = docs.select(col(idCol).as("id"), isEval.as("is_eval"),
      explode(expr(
        s"${graft.functions.ShingleHash64.FnName}(" +
          s"filter(split(trim($textCol), '\\\\s+'), t -> t <> ''), $n)"))
        .as("gh"))
    val evalGrams = grams.filter(col("is_eval")).select("gh").distinct()
    val flagged = grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("gh"), "left_semi")
      .select(col("id")).distinct()
      .withColumn("__c", lit(true))
    docs.filter(!isEval)
      .select(col(idCol))
      .join(flagged.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** Banned-phrase screening behind a DETERMINISTIC Bloom filter (Bloom
    * 1970; the same k-hash/bit-array scheme as Spark's runtime
    * `might_contain`, but with engine-reproducible hashes so an oracle can
    * replay even the false positives): the blocklist side's distinct token
    * n-grams set k=2 PolyHash-derived bit positions; a probe gram is a
    * Bloom CANDIDATE iff both its positions are set, and only candidates
    * pay the exact membership join. This is [[contaminationFlags]]'s scale
    * refinement: the broadcast shrinks from the full distinct-gram set to
    * O(bits) — at 100 TB a web-corpus gram set is billions wide while the
    * filter stays a fixed array — at the price of a quantified FP rate the
    * output keeps visible per doc (n_bloom_candidates vs n_exact).
    *
    * Gram identity is the 31-bit PolyHash (like d07 carries xxhash64, the
    * membership join compares hashes, not strings); pos_i = ((a_i·h + b_i)
    * mod P) mod bits with fixed odd multipliers — integer-exact anywhere.
    */
  def bloomGramScreen(docs: DataFrame, isBlocked: Column, n: Int = 3,
      bits: Int = 8192, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.PolyGramHash.register(spark)
    val toks = s"filter(split(trim($textCol), '\\\\s+'), x -> x <> '')"
    // the native one-pass gram hasher: identical values to
    // PolyHash(array_join(slice(toks, i, n), ' ')) per gram (the fold the
    // oracle replays), but no gram string is ever built — the swap took
    // d18 from 3.8 s to 1.5 s at sf0.1
    val g = docs.select(col(idCol), isBlocked.as("blocked"),
      explode(expr(
        s"${graft.functions.PolyGramHash.FnName}($toks, $n)")).as("h"))
    val seeds = Seq((40503L, 1299721L), (48271L, 104729L))
    def pos(i: Int): Column = {
      val (a, b) = seeds(i)
      pmod(pmod(lit(a) * col("h") + lit(b), lit(2147483647L)), lit(bits.toLong))
    }
    val blockedGrams = g.filter(col("blocked")).select(col("h")).distinct()
    val blockedBits = blockedGrams
      .select(explode(array(pos(0), pos(1))).as("p")).distinct()
    val probe = g.filter(!col("blocked"))
      .select(col(idCol), col("h"), explode(array(pos(0), pos(1))).as("p"))
      .join(broadcast(blockedBits.withColumn("__set", lit(true))), Seq("p"), "left")
      .groupBy(col(idCol), col("h"))
      .agg(min(coalesce(col("__set"), lit(false))).as("bloom_hit"))
    // only CANDIDATES pay the exact membership join; Bloom admits no false
    // negatives, so non-candidate grams are exact-misses by construction
    val exact = probe.filter(col("bloom_hit"))
      .join(broadcast(blockedGrams.withColumn("__m", lit(true))), Seq("h"), "left")
      .select(col(idCol), col("bloom_hit"),
        coalesce(col("__m"), lit(false)).as("exact"))
      .union(probe.filter(!col("bloom_hit"))
        .select(col(idCol), col("bloom_hit"), lit(false).as("exact")))
    val perDoc = exact.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(col("bloom_hit").cast("long")).cast("long").as("n_bloom_candidates"),
        sum(col("exact").cast("long")).cast("long").as("n_exact"))
    docs.filter(!isBlocked).select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_bloom_candidates"), lit(0L)).as("n_bloom_candidates"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_exact") > 0, lit(false)).as("contaminated"))
  }
}
