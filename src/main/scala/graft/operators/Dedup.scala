package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * MinHash+LSH near-dup, n-gram Jaccard verification, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on the content hash — the same
  *    kernel as the CDC upsert precombine;
  *  - MinHash+LSH is the classic shingle→signature→band→bucket-join
  *    pipeline: cost is O(docs × shingles) map-side + one shuffle per
  *    explode stage; candidate verification touches only bucket
  *    collisions (quadratic ONLY within a bucket, not globally);
  *  - all hashing is md5/xxhash64 Catalyst expressions — no UDFs, the
  *    shingle/signature stages stay in WholeStageCodegen;
  *  - embedding near-dup is bucketless brute force here (bounded ids for
  *    the oracle query); the LSH-bucketed scale path lives in
  *    [[Similarity.annTopK]].
  */
object Dedup {

  /** Eagerly materialize a small reused intermediate so its subtree runs
    * exactly once. Uses a RELIABLE checkpoint when the caller configured
    * a checkpoint dir (`sc.setCheckpointDir`) — the cluster-safe path:
    * localCheckpoint stores blocks unreplicated on executors, so an
    * executor loss or dynamic-allocation decommission after the
    * checkpoint would fail the job. Local/test runs without a checkpoint
    * dir keep the cheap localCheckpoint.
    *
    * Cleanup contract: reliable checkpoint files outlive the query —
    * long-lived sessions calling dedup repeatedly should start the
    * context with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (a startup conf, so it cannot be set here) or manage the
    * checkpoint dir's lifecycle — [[withScopedCheckpoint]] makes that
    * contract self-enforcing; otherwise each call leaves its
    * checkpointed frames on disk. */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Scope reliable-checkpoint files to `body`: checkpoints land in a
    * fresh subdirectory of the session's current (resolved) checkpoint
    * dir, which is deleted when the scope closes — so long-lived
    * sessions calling dedup repeatedly don't leak disk. `body` must
    * fully CONSUME its results (run the terminal action —
    * write/collect — inside the scope): after the scope closes the
    * checkpoint files are gone and any still-lazy plan over them
    * fails. Without a configured checkpoint dir this is a plain
    * pass-through (localCheckpoint blocks are cleaned by the
    * ContextCleaner already).
    *
    * Restore semantics: `SparkContext.setCheckpointDir` resolves every
    * call to a fresh UUID subdirectory, so the PRE-SCOPE resolved path
    * cannot be reinstated verbatim; the scope instead re-points the
    * context at the same USER base directory (the resolved dir's
    * parent), which is semantically the original configuration — each
    * scope costs one empty UUID directory under the base, not nested
    * growth. Mutates context-global state: not safe for concurrent
    * scopes on one SparkContext. */
  def withScopedCheckpoint[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    sc.getCheckpointDir match {
      case None => body
      case Some(resolved) =>
        val userBase = new org.apache.hadoop.fs.Path(resolved).getParent.toString
        val sub = s"$resolved/graft-ckpt-scope"
        sc.setCheckpointDir(sub)
        try body
        finally {
          sc.setCheckpointDir(userBase)
          val p = new org.apache.hadoop.fs.Path(sub)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        }
    }
  }

  /** Exact dedup by content hash: one group per distinct (normalized)
    * text, keeping the minimum id as the canonical copy. */
  def exactGroups(docs: DataFrame, text: Column = col("text"), id: Column = col("doc_id")): DataFrame =
    docs.groupBy(md5(lower(text)).as("h"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Keep one row per distinct text (the min-id row). */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(lower(col("text")))).orderBy(col("doc_id").asc)
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word-3-shingle rows (doc_id, sh): tokens → the codegen
    * [[graft.functions.WordNgrams]] array kernel projected as a bound
    * column → explode. ZERO shuffles — shingle assembly is pure map
    * work. History of this shape: `explode(shingles3(text))` (HOF
    * child under a generator) benched 28 s at sf0.1; the relational
    * posexplode + two window `lead`s fixed that at ~1 s but SHUFFLED
    * the whole token stream on doc_id — at 100 TB that exchange was
    * the largest data movement in the dedup pipeline. The codegen
    * expression removes both failure modes: evaluated once per row
    * inside WholeStageCodegen, then the explode runs over a plain
    * attribute. Same shingle multiset as both prior shapes / the
    * DuckDB oracle.
    *
    * NOTE: rows are positional, NOT distinct — min-aggregation
    * (minhash) is duplicate-insensitive, so the expensive global
    * (doc_id, sh) dedup shuffle is deferred to the few places that
    * need set semantics (Jaccard verification dedups candidate docs
    * only). */
  def shingleRows(docs: DataFrame): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenNgrams(
          split(lower(col("text")), "\\s+"), 3).as("__shs"))
      .select(col("doc_id"), explode(col("__shs")).as("sh"))
  }

  /** Modulus for the minhash permutation family: 2^31−1 (Mersenne
    * prime). Operands stay < 2^62, so the arithmetic is exact in BIGINT
    * on both engines. */
  val MinhashP: Long = 2147483647L

  /** 48-bit integer from the first 12 hex digits of the md5-hex column
    * named `hexColName` — the native codegen
    * [[graft.functions.Md5Base48]] expression (`graft_md5b48`), bit-for-
    * bit the legacy digit-by-digit `instr`-over-the-alphabet tree that
    * the DuckDB oracles still mirror verbatim
    * ([[graft.queries.DecontaminateOracle.bucketExpr]]). Shared by the
    * minhash base, [[Sampling.sampleByKey]], and the q83 span keys —
    * one definition, mirrored once per oracle. Constructed directly
    * ([[graft.functions.NativeColumn]]) — no registry precondition for
    * DataFrame-API callers. */
  def md5Base48(hexColName: String): Column = md5Base48Of(col(hexColName))

  /** [[md5Base48]] over an arbitrary md5-hex Column expression. */
  def md5Base48Of(hexCol: Column): Column =
    graft.functions.NativeColumn(graft.functions.Md5Base48(
      graft.functions.NativeColumn.expr(hexCol)))

  /** Deterministic (a_i, b_i) coefficients of the pairwise-independent
    * affine family h_i(x) = (a_i·x + b_i) mod p — shared with the DuckDB
    * oracle generator. */
  def minhashCoeffs(numHashes: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x9E3779B9L)
    IndexedSeq.fill(numHashes)(
      (1L + rnd.nextLong(MinhashP - 1), rnd.nextLong(MinhashP)))
  }

  /** MinHash signatures in wide-column form: one row per doc with
    * numHashes `sig_i` BIGINT columns,
    * sig_i = min over shingles of (a_i·x + b_i) mod p, where x is the
    * 48-bit md5 prefix of the shingle (mod p). ONE md5 per shingle row —
    * the k permutations are the textbook pairwise-independent affine
    * family, 16× fewer digests than hashing per-i, and exactly
    * reproducible in the DuckDB oracle ([[graft.queries.MinhashOracle]]).
    * (48-bit base: cross-shingle collisions are ~|shingles|²/2^49 —
    * vanishing, and harmless to minhash anyway.)
    *
    * Wide aggregation instead of an explode-by-i: the k mins are k
    * aggregate expressions over ONE pass of the shingle rows, with
    * map-side partial aggregation, rather than multiplying the shuffle
    * input k-fold. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16): DataFrame =
    minhashSignaturesFromShingles(shingleRows(docs), numHashes)

  /** [[minhashSignatures]] over a PRECOMPUTED (doc_id, sh) shingle frame
    * (the [[shingleRows]] shape; positional rows fine — min-aggregation
    * is duplicate-insensitive). The shingle pass is the expensive stage
    * of every shingle consumer (a full window shuffle of the token
    * stream), so a pipeline composing several of them ([[nearDupPairs]]
    * verification, [[Decontaminate.contaminationReport]]) should
    * [[materialize]] ONE shingle frame and feed it everywhere — the
    * same share-the-expensive-frame rule as
    * [[ConnectedComponents.clusterLabelsFromComponents]]. */
  def minhashSignaturesFromShingles(shingles: DataFrame, numHashes: Int = 16): DataFrame = {
    graft.GraftSession.ensureConfs(shingles.sparkSession)
    val coeffs = minhashCoeffs(numHashes)
    val withBase = shingles
      .withColumn("md5_h", md5(col("sh")))
      .withColumn("hp", md5Base48("md5_h") % MinhashP)
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("hp") * lit(a) + lit(b)) % MinhashP).as(s"sig_$i")
    }
    withBase.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH bands from wide signatures: hash the ordered comma-join of each
    * band's `rowsPerBand` consecutive sigs, then unpivot to one row per
    * (doc, band). Docs sharing any band hash are candidates. */
  def lshBands(sigs: DataFrame, rowsPerBand: Int = 4): DataFrame = {
    val numHashes = sigs.columns.count(_.startsWith("sig_"))
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand); " +
        "trailing signatures would be silently dropped from banding")
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"sig_$i"))
      struct(lit(b.toLong).as("band"), md5(concat_ws(",", cols: _*)).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate pairs (a_id < b_id) sharing at least one band bucket.
    * The self-join shuffles on (band, bh) — bucket-local quadratic only. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"))
    val b = bands.select(col("band"), col("bh"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Full near-dup pipeline: MinHash → LSH candidates → exact 3-gram
    * Jaccard verification at `threshold`. Returns (a_id, b_id, jacc).
    *
    * Jaccard is computed relationally — |A∩B| by joining the two docs'
    * shingle rows on shingle equality, |A∪B| = |A|+|B|−|A∩B| — instead
    * of materializing arrays per pair. Values are identical to the
    * array formulation (exact integer identity, one double division);
    * the work is a semi-bounded shuffle join over only the candidate
    * docs' shingles, which is the shape that survives 100 TB. */
  def nearDupPairs(docs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame =
    nearDupPairsFromShingles(shingleRows(docs), numHashes, rowsPerBand, threshold)

  /** The q58 pair graph — minhash ([[nearDupPairs]]) ∪ simhash
    * ([[simhashNearDupPairs]]) `(a_id, b_id)` edges — with the two
    * INDEPENDENT arms built concurrently (guide §2.6: each arm's eager
    * internal materializations — bands/candidates on the minhash side,
    * the 64-column signature frame on the simhash side — are separate
    * job chains that only ran sequentially because the driver
    * constructed them sequentially). Identical edges, identical
    * downstream plan; one definition for every minhash∪simhash
    * consumer so the union cannot drift. */
  def unionNearDupPairs(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxHamming: Int = 5): DataFrame = {
    val Seq(mh, sh) = Par.run[DataFrame](
      () => nearDupPairs(docs, numHashes, rowsPerBand, threshold)
        .select(col("a_id"), col("b_id")),
      () => simhashNearDupPairs(docs, maxHamming)
        .select(col("a_id"), col("b_id")))
    mh.union(sh)
  }

  /** [[nearDupPairs]] over a precomputed shingle frame (see
    * [[minhashSignaturesFromShingles]] for the sharing rule). With an
    * UN-materialized frame this is exactly [[nearDupPairs]] — the
    * signature and verification stages each re-run the shingle pass,
    * today's single-call shape (deliberate: materializing the FULL
    * positional shingle frame trades a ~3× corpus-size checkpoint write
    * for the second pass, a loss for one-shot callers). A composing
    * pipeline that needs shingles elsewhere anyway (q71) passes a
    * [[materialize]]d frame and every consumer reads the cache. */
  def nearDupPairsFromShingles(shingles: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    // Every reused subtree below is materialized once — a DataFrame
    // referenced N times re-executes N times, and the self-join's
    // pre-exchange aliasing (a_id vs b_id) defeats Spark's exchange
    // reuse, so without this the whole minhash pipeline runs twice and
    // the candidate shingle scan three times (measured 6× slowdown at
    // 50k docs):
    //  - bands (4 small rows/doc) feeds both sides of the candidate
    //    self-join;
    //  - cands (bucket collisions, tiny) is referenced three times
    //    (ids, a-side, b-side);
    //  - sh (candidate docs' shingles, candidate-bounded) feeds the
    //    count and both intersection sides.
    val bands = materialize(
      lshBands(minhashSignaturesFromShingles(shingles, numHashes), rowsPerBand))
    val cands = materialize(candidatePairs(bands))
    verifyJaccard(shingles, cands, "a_id", "b_id", threshold)
  }

  /** Candidate-bounded exact Jaccard verification shared by
    * [[nearDupPairs]] and [[crossNearDupPairs]]: for each candidate
    * pair (`leftCol`, `rightCol`), |A∩B| by joining the two docs'
    * shingle rows on shingle equality, |A∪B| = |A|+|B|−|A∩B|.
    *
    * Set semantics only from here on, and only for candidate docs: a
    * semi-join bounds the distinct to bucket collisions (tiny at any
    * scale), not the whole corpus; the candidate shingle relation is
    * materialized once because it feeds the count and BOTH
    * intersection sides. */
  private def verifyJaccard(shingles: DataFrame, cands: DataFrame,
      leftCol: String, rightCol: String, threshold: Double): DataFrame =
    pairOverlapCounts(shingles, cands, leftCol, rightCol)
      .select(col(leftCol), col(rightCol),
        (col("n_int").cast("double") / (col("n_a") + col("n_b") - col("n_int"))).as("jacc"))
      .filter(col("jacc") >= threshold)

  /** Candidate-bounded shingle-set overlap counts — the shared kernel
    * under both similarity verifications: per candidate pair,
    * `(left, right, n_int, n_a, n_b)` with |A∩B| computed relationally
    * by joining the two docs' DISTINCT shingle rows on shingle
    * equality. The work is a semi-bounded shuffle join over only the
    * candidate docs' shingles — the 100 TB shape. */
  private def pairOverlapCounts(shingles: DataFrame, cands: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    val candIds = cands.select(col(leftCol).as("doc_id"))
      .union(cands.select(col(rightCol).as("doc_id"))).distinct()
    val sh = materialize(shingles
      .join(candIds, Seq("doc_id"), "left_semi").distinct())
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cands
      .join(sh.select(col("doc_id").as(leftCol), col("sh").as("sh")), leftCol)
      .join(sh.select(col("doc_id").as(rightCol), col("sh").as("sh")), Seq(rightCol, "sh"))
      .groupBy(col(leftCol), col(rightCol)).agg(count(lit(1)).as("n_int"))
    inter
      .join(counts.select(col("doc_id").as(leftCol), col("n_sh").as("n_a")), leftCol)
      .join(counts.select(col("doc_id").as(rightCol), col("n_sh").as("n_b")), rightCol)
  }

  /** Containment near-dup: among the SAME LSH candidate pairs as
    * [[nearDupPairs]], report pairs whose shingle-set containment
    * c = |A∩B| / min(|A|, |B|) reaches `threshold` — the
    * short-doc-embedded-in-long-doc relation symmetric Jaccard
    * dilutes (a 50-shingle doc fully inside a 500-shingle doc has
    * c = 1.0 but Jaccard ≈ 0.1). Candidate generation still uses the
    * Jaccard-tuned MinHash bands (a containment-tuned recall path
    * would band one-sided signatures); verification is exact, the
    * same candidate-bounded relational kernel as the Jaccard verify
    * with a different closing formula (one integer min + one IEEE
    * division — oracle-exact). Returns (a_id, b_id, n_int, n_a, n_b,
    * cont) sorted nowhere: downstream feeds [[ConnectedComponents]]
    * exactly like the Jaccard pairs. */
  def containmentPairs(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    val shingles = shingleRows(docs)
    val bands = materialize(
      lshBands(minhashSignaturesFromShingles(shingles, numHashes), rowsPerBand))
    val cands = materialize(candidatePairs(bands))
    pairOverlapCounts(shingles, cands, "a_id", "b_id")
      .select(col("a_id"), col("b_id"), col("n_int"), col("n_a"), col("n_b"),
        (col("n_int").cast("double") / least(col("n_a"), col("n_b"))).as("cont"))
      .filter(col("cont") >= threshold)
  }

  /** Incremental near-dup: pairs (new_id, corpus_id) where a NEW
    * document is a near-dup of a STANDING corpus document — the shape
    * a production pipeline runs on every append (dedup the incoming
    * batch against what's already kept, not the full self-join;
    * new×new dups are the batch's own [[nearDupPairs]] run).
    *
    * `isNewCol` is a boolean column of `docs` marking the incoming
    * side. ONE signature/banding pipeline runs over both sides
    * together (the corpus side's bands are exactly what an incremental
    * system would have persisted from previous loads); the candidate
    * join is new-bands × corpus-bands on (band, bucket) — fan-out
    * bounded by bucket population times the SMALL new side, never
    * corpus × corpus. Jaccard verification is the same
    * candidate-bounded relational kernel as [[nearDupPairs]]. */
  def crossNearDupPairs(docs: DataFrame, isNewCol: String, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    val membership = docs.select(col("doc_id"), col(isNewCol).as("__is_new"))
    val bands = materialize(
      lshBands(minhashSignatures(docs, numHashes), rowsPerBand)
        .join(membership, "doc_id"))
    val cands = materialize(
      bands.filter(col("__is_new")).select(col("band"), col("bh"), col("doc_id").as("new_id"))
        .join(bands.filter(!col("__is_new"))
          .select(col("band"), col("bh"), col("doc_id").as("corpus_id")), Seq("band", "bh"))
        .select("new_id", "corpus_id").distinct())
    verifyJaccard(shingleRows(docs), cands, "new_id", "corpus_id", threshold)
  }

  /** Cross-document repeated exact-substring spans — the
    * suffix-array-free form of Lee et al.'s exact substring dedup
    * criterion ("Deduplicating Training Data Makes Language Models
    * Better", ACL'22; see PAPERS.md): every `width`-token window at
    * the given `stride` is keyed by the 48-bit md5-derived span key
    * ([[md5Base48]], the minhash idiom); a key occurring in ≥ 2
    * DISTINCT documents marks a verbatim cross-document span —
    * boilerplate, license headers, templated text — that symmetric
    * whole-doc Jaccard ([[nearDupPairs]]) dilutes away. Per doc, the
    * repeated-window fraction is the memorization-risk signal, with a
    * `span_dup_heavy` flag at > 25 % repeated mass (integer
    * cross-multiplied). Docs shorter than `width` report 0 windows.
    *
    * Scale shape: windows explode map-side (≈ |tokens|/stride rows per
    * doc, each an 8-byte key — never the span text); the (doc, key)
    * pre-aggregation map-side-combines before its ONE hash exchange;
    * the repeated-key set derives from it without touching raw
    * windows, and the closing join is (doc, key)-level. The exchange
    * carries ~|corpus tokens|/stride keyed rows — the same order of
    * data movement as the shingle pass the near-dup family already
    * pays, and the honest lower bound for exact-substring detection
    * without a distributed suffix array. */
  /** The (doc_id, k, cnt) span-key frame behind [[repeatedSpanStats]],
    * exposed un-materialized (the FromShingles sharing idiom): the
    * window explode and per-(doc, key) map-side combine live here, so
    * composing pipelines can share one pass and plan audits (ScaleSpec)
    * can assert the pre-checkpoint aggregation shape directly. */
  /** The (doc_id, start, k) window frame under the span family: every
    * `width`-token window at the given `stride`, keyed by the 48-bit
    * md5-derived span key, with its 1-based token start position kept
    * — [[repeatedSpanKeys]] aggregates it (positions dropped) for the
    * q83 stats; [[scrubRepeatedSpans]] consumes the positions to
    * actually remove flagged spans. Map-side only: explode + hash, no
    * exchange. */
  def spanWindows(docs: DataFrame, width: Int = 16, stride: Int = 4): DataFrame = {
    require(width > 0 && stride > 0, s"width/stride must be positive, got $width/$stride")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    docs
      .select(col("doc_id"), graft.functions.TextFunctions.rawTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), greatest(size(col("toks")) - (width - 1), lit(1)),
          lit(stride))).as("start"))
      .filter(col("start") + (width - 1) <= size(col("toks")))
      .select(col("doc_id"), col("start"),
        md5(array_join(slice(col("toks"), col("start"), lit(width)), " ")).as("h"))
      .select(col("doc_id"), col("start"), md5Base48("h").as("k"))
  }

  def repeatedSpanKeys(docs: DataFrame, width: Int = 16, stride: Int = 4): DataFrame =
    spanWindows(docs, width, stride)
      .groupBy(col("doc_id"), col("k")).agg(count(lit(1)).as("cnt"))

  /** Span scrubbing — the TRANSFORM closing q83's detect step: remove
    * every token covered by a cross-document repeated span (a
    * `width`-token window whose key occurs in ≥ 2 distinct docs) and
    * reassemble the remaining tokens in order. Lee et al. diagnose
    * verbatim cross-document spans; this is the cure a pipeline
    * actually ships — license headers, navigation chrome, templated
    * boilerplate cut out of every afflicted document, not just
    * counted. Output: `(doc_id, clean_text, n_tokens, n_removed)`
    * with `clean_text` the whitespace-normalized kept-token stream
    * (the tokenization contract; '' when nothing survives — total on
    * null text, the q81 convention). Overlapping repeated windows
    * merge: a token is removed once, however many windows cover it.
    *
    * Scale shape: the window frame explodes map-side to 8-byte keys +
    * int positions and is materialized ONCE ([[spanWindows]] feeds
    * both the repeated-key derivation and the coverage frame — the
    * q83 reuse rule); the repeated-key set and the coverage join are
    * key-level; per-doc coverage collapses to a sorted int array
    * (bounded by windows-per-doc × width) in the afflicted-docs-only
    * frame, which is materialized so its true (small) size drives a
    * broadcast of the closing enrichment join — the corpus' text
    * column then never shuffles; token filtering and reassembly are
    * pure per-row array work. Cost per token of an afflicted doc is
    * O(|covered|) membership tests — bounded by doc length, the same
    * order as tokenization itself. */
  def scrubRepeatedSpans(docs: DataFrame, width: Int = 16, stride: Int = 4): DataFrame = {
    val win = materialize(spanWindows(docs, width, stride))
    val rep = win.select(col("doc_id"), col("k")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("k"))
    val cov = materialize(win.join(rep, "k")
      .groupBy(col("doc_id")).agg(collect_set(col("start")).as("starts"))
      .select(col("doc_id"),
        array_sort(array_distinct(flatten(transform(col("starts"),
          p => sequence(p, p + (width - 1)))))).as("covered")))
    docs.select(col("doc_id"), col("text"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(graft.functions.TextFunctions.rawTokens(col("text")),
          array().cast("array<string>")).as("t"),
        coalesce(col("covered"), array().cast("array<int>")).as("covered"))
      .select(col("doc_id"),
        concat_ws(" ", expr(
          "transform(filter(transform(t, (tok, i) -> named_struct('tok', tok, 'i', i)), " +
          "s -> NOT array_contains(covered, s.i + 1)), s -> s.tok)")).as("clean_text"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"))
  }

  def repeatedSpanStats(docs: DataFrame, width: Int = 16, stride: Int = 4): DataFrame = {
    // materialized once: it feeds BOTH the repeated-key derivation and
    // the per-doc stats join — without this the whole window/md5
    // pipeline executes twice (the round-2 reuse lesson)
    val perDocKey = materialize(repeatedSpanKeys(docs, width, stride))
    val repeated = perDocKey.groupBy(col("k")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select(col("k"), lit(1L).as("__rep"))
    val stats = perDocKey.join(repeated, Seq("k"), "left")
      .groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_windows"),
        sum(when(col("__rep").isNotNull, col("cnt")).otherwise(0L)).as("n_rep_windows"))
    docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_rep_windows"), lit(0L)).as("n_rep_windows"),
        when(lit(4) * coalesce(col("n_rep_windows"), lit(0L)) >
          coalesce(col("n_windows"), lit(0L)), 1L).otherwise(0L).as("span_dup_heavy"))
  }

  /** SimHash-64 document signatures, fully deterministic and
    * oracle-reproducible: per token, the 16 md5 hex digits supply 64
    * bits; each bit votes ±1 across the doc's token multiset; the sign
    * of each vote total reassembles into a 16-hex-digit signature
    * string (string form sidesteps 64-bit shift overflow in SQL).
    * Near-identical docs differ in few bits (compare with
    * [[hammingHex]]). One explode + one wide 64-column sum aggregate —
    * the same map-side-combined shape as the MinHash signatures.
    *
    * The per-token bits come from the native
    * [[graft.functions.Md5Bits64]] packing (`graft_md5b64`): ONE long
    * per token instead of the legacy 16 `instr`/`substring` digit
    * columns, with `shiftrightunsigned` bit votes — vote-identical to
    * the digit tree the DuckDB oracle still mirrors (non-hex digits
    * clamp to 0, which votes exactly like the legacy −1; see the
    * expression scaladoc). */
  def simhashSignature(docs: DataFrame): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
      .withColumn("__v", graft.functions.NativeColumn(graft.functions.Md5Bits64(
        graft.functions.NativeColumn.expr(md5(col("tok"))))))
    val votes = (0 until 16).flatMap { k =>
      (0 until 4).map { b =>
        sum(expr(s"CASE WHEN (shiftrightunsigned(__v, ${4 * (15 - k) + b}) & 1) = 1" +
            " THEN 1 ELSE -1 END"))
          .as(s"v${k}_$b")
      }
    }
    val agg = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val digitExprs = (0 until 16).map { k =>
      val d = (0 until 4).map(b => s"(CASE WHEN v${k}_$b >= 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
      s"substring('0123456789abcdef', ($d) + 1, 1)"
    }
    agg.select(col("doc_id"), expr(s"concat(${digitExprs.mkString(", ")})").as("simhash"))
  }

  /** Hamming distance between two equal-length hex-string signature
    * columns (referenced by name). */
  def hammingHex(aCol: String, bCol: String): Column =
    (0 until 16).map { k =>
      expr(s"""bit_count(cast(
        | (instr('0123456789abcdef', substring($aCol, ${k + 1}, 1)) - 1) ^
        | (instr('0123456789abcdef', substring($bCol, ${k + 1}, 1)) - 1) as bigint))""".stripMargin)
        .cast("long")
    }.reduce(_ + _)

  /** LSH bands over simhash signatures: the 16-hex signature splits into
    * `16 / bandChars` consecutive bands; docs sharing any band substring
    * are candidates. With 4 bands of 16 bits, any pair within hamming
    * distance 3 is GUARANTEED to collide (pigeonhole: ≤3 differing bits
    * cannot touch all 4 bands); larger distances collide with
    * probability falling off geometrically — the standard
    * recall/candidate-volume trade. */
  def simhashBands(sigs: DataFrame, bandChars: Int = 4): DataFrame = {
    require(16 % bandChars == 0, s"bandChars ($bandChars) must divide 16")
    val bandStructs = (0 until 16 / bandChars).map { b =>
      struct(lit(b.toLong).as("band"),
        substring(col("simhash"), 1 + bandChars * b, bandChars).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** End-to-end simhash near-dup pairs at scale: signature → banded
    * candidate bucket-join (quadratic only within a band bucket, the
    * same shape as [[candidatePairs]]) → hamming-distance verification
    * at ≤ `maxHamming`. Returns (a_id, b_id, hamming).
    *
    * The signature relation is referenced three times (banding + both
    * verify sides); it is materialized once so the wide 64-column vote
    * aggregation runs exactly once. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 5): DataFrame = {
    val sigs = materialize(simhashSignature(docs))
    // simhashBands emits the exact (doc_id, band, bh) shape the minhash
    // candidate join consumes — one candidate-pair semantics, one code path
    val cands = candidatePairs(simhashBands(sigs))
    cands
      .join(sigs.select(col("doc_id").as("a_id"), col("simhash").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("simhash").as("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"), hammingHex("sig_a", "sig_b").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Unit-id packing for sub-document near-dup: paragraph (doc_id,
    * para_idx) pairs pack into ONE BIGINT `doc_id * ParaPack +
    * para_idx` so every whole-doc kernel ([[nearDupPairsFromShingles]]
    * etc.) runs unchanged at paragraph granularity. Contract:
    * para_idx < 2^20 (a 2^20-paragraph doc is ~25M tokens at the
    * default block width) — enforced with raise_error in
    * [[packParagraphUnits]], because an overflow there is SILENT, not
    * loud: idx 2^20 of doc d aliases to idx 0 of doc d+1, so two
    * blocks of the SAME long doc would pass the cross-document filter
    * and keep-first could scrub a doc against itself. doc_id < 2^43 is
    * not separately asserted: violating ids overflow into negative
    * packed values the `a_id < b_id` canonicalization still orders
    * consistently, and the oracles mirror the same arithmetic. */
  val ParaPack: Long = 1048576L

  /** Paragraph rows `(doc_id, para_idx, para)` by BLANK-LINE split —
    * the RefinedWeb-style unit for corpora with real paragraph
    * structure. Empty/whitespace-only segments are dropped; `para_idx`
    * is the 0-based position among the doc's raw splits (kept, not
    * re-numbered, so the index is stable under segment drops). */
  def blankLineParagraphs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(split(col("text"), "\\n\\s*\\n")))
      .toDF("doc_id", "para_idx", "para")
      .filter(trim(col("para")) =!= "")
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"), col("para"))

  /** Paragraph rows `(doc_id, para_idx, para)` by fixed-width token
    * blocks — the segmentation fallback for corpora WITHOUT newline
    * structure (the driver's synthetic documents are single-line):
    * consecutive non-overlapping `blockTokens`-token windows of the
    * lower-cased whitespace token stream, the last block partial.
    * Pure map-side work (split + explode over a sequence — the
    * [[spanWindows]] shape at stride = width); `para` is the
    * space-rejoined block, so downstream shingling sees exactly the
    * in-block token stream. */
  def tokenBlockParagraphs(docs: DataFrame, blockTokens: Int = 24): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive, got $blockTokens")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0L, CAST((size(t) + ${blockTokens - 1}) DIV $blockTokens AS BIGINT) - 1)"))
          .as("para_idx"))
      .select(col("doc_id"), col("para_idx"),
        array_join(slice(col("t"),
          (col("para_idx") * blockTokens + 1).cast("int"), lit(blockTokens)), " ").as("para"))
  }

  /** Paragraph-granularity near-dup pairs (RefinedWeb-style): the
    * banded MinHash kernel ([[nearDupPairs]]) applied to paragraph
    * units instead of whole docs, catching templated boilerplate
    * paragraphs that whole-doc Jaccard dilutes away (a 5-paragraph doc
    * sharing ONE paragraph with another scores ~0.2 whole-doc — under
    * every dedup threshold — but 1.0 at this granularity; the same
    * motivation as the q83 exact spans, at a coarser, fuzzier unit).
    * Cross-document pairs only (`a_doc ≠ b_doc`): intra-doc repetition
    * is q73's separate signal. Output
    * `(a_doc, a_para, b_doc, b_para, jacc)` with a_doc < b_doc (the
    * packed `a_id < b_id` canonicalization orders doc-major).
    *
    * Scale shape: identical to the whole-doc pipeline — the unit
    * explode multiplies ROW COUNT (not bytes; blocks partition the
    * token stream) before the same map-side shingle/signature
    * collapse, banding keeps candidate verification bucket-local, and
    * nothing corpus-quadratic exists at any granularity. */
  def paragraphNearDupPairs(docs: DataFrame, blockTokens: Int = 24,
      numHashes: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame =
    paragraphPairsFromUnits(
      nearDupPairs(packParagraphUnits(tokenBlockParagraphs(docs, blockTokens)),
        numHashes, rowsPerBand, threshold))

  /** (doc_id, para_idx, para) → the packed (doc_id, text) unit frame
    * every whole-doc kernel consumes. The para_idx bound is fused into
    * the packed id (so the optimizer cannot prune the check): a ≥
    * 2^20-unit doc fails LOUDLY instead of aliasing into its
    * neighbor's id space (see [[ParaPack]]). */
  private def packParagraphUnits(paras: DataFrame): DataFrame =
    paras.select(
      when(col("para_idx") >= ParaPack, expr(
          s"raise_error('paragraph index >= $ParaPack — a ~25M-token doc exceeds the ParaPack contract')")
          .cast("long"))
        .otherwise(col("doc_id") * ParaPack + col("para_idx")).as("doc_id"),
      col("para").as("text"))

  /** Unpack kernel pairs over packed units to
    * (a_doc, a_para, b_doc, b_para, jacc), cross-document only. */
  private def paragraphPairsFromUnits(pairs: DataFrame): DataFrame =
    pairs.select(
        expr(s"CAST(a_id DIV $ParaPack AS BIGINT)").as("a_doc"),
        (col("a_id") % ParaPack).as("a_para"),
        expr(s"CAST(b_id DIV $ParaPack AS BIGINT)").as("b_doc"),
        (col("b_id") % ParaPack).as("b_para"),
        col("jacc"))
      .filter(col("a_doc") =!= col("b_doc"))

  /** Paragraph-dedup scrub — the TRANSFORM closing
    * [[paragraphNearDupPairs]]'s detect step, the way
    * [[scrubRepeatedSpans]] closes q83: every paragraph that is a
    * near-dup of a paragraph in a LOWER-id document (any `b`-side
    * appearance in the cross-doc pair set — keep-first semantics,
    * deterministic because the pair set is) is dropped, and the
    * survivors reassemble in paragraph order. Output
    * `(doc_id, clean_text, n_paras, n_dropped)`, total on null text
    * (the q81 convention).
    *
    * Scale shape (the q83 materialization rule): ONE paragraph frame
    * is materialized and feeds the pair pipeline AND the reassembly;
    * ONE shingle frame is materialized and feeds signatures AND
    * verification ([[nearDupPairsFromShingles]]); the drop-set is
    * pair-bounded (tiny), so the anti-join broadcasts; reassembly is
    * one doc_id group-key shuffle of the kept paragraphs — the only
    * corpus-sized exchange beyond the kernel's own. */
  def scrubDupParagraphs(docs: DataFrame, blockTokens: Int = 24,
      numHashes: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    val paras = materialize(tokenBlockParagraphs(docs, blockTokens))
    val sh = materialize(shingleRows(packParagraphUnits(paras)))
    // materialized so its TRUE (pair-bounded, tiny) size is known, and
    // broadcast explicitly: without the hint the static plan estimates
    // the aggregated drop-set large and sorts/shuffles the WHOLE
    // paragraph frame — text column included — through a merge
    // anti-join, the exact movement this operator exists to avoid.
    val drops = materialize(
      nearDupPairsFromShingles(sh, numHashes, rowsPerBand, threshold)
        .filter(expr(s"a_id DIV $ParaPack") =!= expr(s"b_id DIV $ParaPack"))
        .select(col("b_id").as("__unit")).distinct())
    val kept = paras.join(broadcast(drops),
      col("doc_id") * ParaPack + col("para_idx") === col("__unit"), "left_anti")
    reassembleUnits(docs.select(col("doc_id")), paras, kept, "n_paras")
  }

  /** Shared closing of the unit scrubs ([[scrubDupParagraphs]],
    * [[scrubBoilerplateUnits]], [[scrubBoilerplateIncrement]]):
    * reassemble surviving `(doc_id, para_idx, para)` units in order,
    * close totals over the doc base —
    * `(doc_id, clean_text, <nUnitsName>, n_dropped)`, total on docs
    * with no units (the q81 convention). One doc_id group-key shuffle
    * of the kept units — the only corpus-sized exchange any scrub's
    * closing pays. */
  private def reassembleUnits(docBase: DataFrame, units: DataFrame,
      kept: DataFrame, nUnitsName: String): DataFrame = {
    val agg = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(para_idx, para))), s -> s.para)"))
        .as("clean_text"))
    val tot = units.groupBy(col("doc_id")).agg(count(lit(1)).as("__n_units"))
    docBase.join(tot, Seq("doc_id"), "left").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("__n_units"), lit(0L)).as(nUnitsName),
        (coalesce(col("__n_units"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Corpus-level EXACT boilerplate removal (the MassiveText/RefinedWeb
    * repeated-line filter; C4's three-sentence-span rule is the same
    * signal): a unit — token-block paragraph, the same segmentation as
    * [[scrubDupParagraphs]] ([[blankLineParagraphs]] for real corpora)
    * — whose normalized text occurs in ≥ `minDocs` DISTINCT documents
    * is boilerplate (header/footer/nav/license chrome) and is dropped
    * from EVERY document. No keep-first: unlike the near-dup scrub,
    * prevalence itself is the drop signal — a unit the corpus repeats
    * verbatim carries no per-document information. Exact counterpart of
    * the fuzzy [[scrubDupParagraphs]]; the two compose (run this first,
    * it shrinks the near-dup candidate space). Survivors reassemble in
    * unit order; output `(doc_id, clean_text, n_units, n_dropped)`,
    * total on null text (the q81 convention).
    *
    * Scale shape: the corpus census groups on the unit's 48-bit md5 key
    * ([[md5Base48]]) — 8-byte shuffle rows, never unit text — and
    * distinct-doc counting is the standard two-level aggregate, both
    * levels map-side combinable. The boilerplate set is prevalence-
    * bounded and tiny (bounded by |corpus units|/minDocs, in practice
    * ~10⁻³ of it), so the drop is a broadcast anti-join on the same
    * 8-byte key, and reassembly is one doc_id group-key shuffle — the
    * text column moves exactly once. A 48-bit key collision can only
    * drop an innocent unit whose key collides with a boilerplate key
    * (~|units|·|boiler|/2^48, vanishing); the oracle mirrors the same
    * key arithmetic, so the check is bitwise either way. */
  def scrubBoilerplateUnits(docs: DataFrame, blockTokens: Int = 24,
      minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2L, s"minDocs < 2 would drop every unit, got $minDocs")
    val paras = materialize(tokenBlockParagraphs(docs, blockTokens))
    val keyed = paras.withColumn("__uk", md5Base48Of(md5(col("para"))))
    // census: distinct docs per unit key, two-level (both combinable)
    val boiler = materialize(
      keyed.select(col("__uk"), col("doc_id")).distinct()
        .groupBy(col("__uk")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= minDocs).select(col("__uk")))
    val kept = keyed.join(broadcast(boiler), Seq("__uk"), "left_anti")
    reassembleUnits(docs.select(col("doc_id")), paras, kept, "n_units")
  }

  /** Incremental boilerplate scrub — the [[scrubBoilerplateUnits]]
    * member of the incremental family (q68 minhash, q82 IVF drift,
    * q105 clusters, q109 BPE, q114 SemDeDup): scrub an incoming BATCH
    * against the COMBINED prevalence census without retro-scrubbing
    * the standing corpus (shipped docs are frozen — the q114
    * convention). A batch unit drops when its distinct-doc count
    * across standing ∪ batch reaches `minDocs`; the decision is
    * identical to running the monolithic scrub over the union and
    * reading only the batch rows, which is exactly what the oracle
    * replays — the hash match IS the incremental == monolithic
    * equivalence. `isNewCol` marks batch membership (the q68
    * md5-bucket split in the query surface). Output: the batch's
    * `(doc_id, clean_text, n_units, n_dropped)` only.
    *
    * Scale shape: the standing side collapses to its (unit-key,
    * distinct-doc-count) census — 16-byte rows a production system
    * PERSISTS and folds batch deltas into (the q82 standing-index
    * convention; replayed from the corpus here for the oracle), so
    * steady-state cost is batch-sized: the batch's unit frame, one
    * batch-keyspace census join (batch keys probe the standing
    * census), a broadcast anti-join, one batch-doc reassembly
    * shuffle. */
  def scrubBoilerplateIncrement(docs: DataFrame, isNewCol: String,
      blockTokens: Int = 24, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2L, s"minDocs < 2 would drop every unit, got $minDocs")
    val paras = materialize(tokenBlockParagraphs(
        docs.filter(col(isNewCol)).drop(isNewCol), blockTokens))
    val keyed = paras.withColumn("__uk", md5Base48Of(md5(col("para"))))
    // standing census: persisted state in production, replayed here
    val standing = tokenBlockParagraphs(
        docs.filter(!col(isNewCol)).drop(isNewCol), blockTokens)
      .select(md5Base48Of(md5(col("para"))).as("__uk"), col("doc_id")).distinct()
      .groupBy(col("__uk")).agg(count(lit(1)).as("__df_old"))
    val batchCensus = keyed.select(col("__uk"), col("doc_id")).distinct()
      .groupBy(col("__uk")).agg(count(lit(1)).as("__df_new"))
    val boiler = materialize(
      batchCensus.join(standing, Seq("__uk"), "left")
        .filter(col("__df_new") + coalesce(col("__df_old"), lit(0L)) >= minDocs)
        .select(col("__uk")))
    val kept = keyed.join(broadcast(boiler), Seq("__uk"), "left_anti")
    reassembleUnits(docs.filter(col(isNewCol)).select(col("doc_id")),
      paras, kept, "n_units")
  }

  /** Embedding-cosine near-dup pairs over the FULL corpus via sign-bit
    * LSH bucketing — the unbounded scale path ([[embeddingNearDupPairs]]
    * is the exact O(n²) form, only usable id-bounded). One bucket
    * shuffle; quadratic only within a bucket; with `probeAdjacent` the
    * a-side also joins against the `bits` one-bit-flip buckets so pairs
    * across a single hyperplane boundary are still found (pairs ≥2 bits
    * apart are the documented recall trade — near-IDENTICAL vectors
    * differ in ~0 sign bits, so dedup recall stays high; measured ≥0.9
    * on planted dups in DedupSpec).
    *
    * No dedup pass is needed: `a_id < b_id` canonicalizes — a
    * same-bucket pair matches only via the lower id's identity probe,
    * and a one-bit-apart pair only via the lower id's flip probe. */
  def embeddingNearDupPairsLsh(embs: DataFrame, threshold: Double,
      bits: Int = 4, seed: Long = 42L, dim: Int = 0,
      probeAdjacent: Boolean = true): DataFrame = {
    graft.GraftSession.ensureConfs(embs.sparkSession)
    val d = if (dim > 0) dim else Similarity.inferDim(embs)
    // empty/all-null corpus → zero pairs, not a crash (same degenerate
    // contract as annTopK)
    if (d <= 0) return embs.sparkSession.emptyDataFrame
      .select(lit(0L).as("a_id"), lit(0L).as("b_id"), lit(0.0).as("cos"))
      .limit(0)
    val planes = Similarity.hyperplanes(d, bits, seed)
    val v = embs.filter(col("embedding").isNotNull && size(col("embedding")) === d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      .withColumn("n", sqrt(Similarity.dot(col("ve"), col("ve"))))
      .withColumn("bucket0", Similarity.lshBucket(col("ve"), planes))
    val probeCols =
      if (probeAdjacent) col("bucket0") +: (0 until bits).map(j => col("bucket0").bitwiseXOR(lit(1L << j)))
      else Seq(col("bucket0"))
    val a = v.select(col("vec_id").as("a_id"), col("ve").as("a_v"), col("n").as("a_n"),
      explode(array(probeCols: _*)).as("bucket"))
    val b = v.select(col("vec_id").as("b_id"), col("ve").as("b_v"), col("n").as("b_n"),
      col("bucket0").as("bucket"))
    a.join(b, "bucket").filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Similarity.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup pairs among ids < `idBound` (the bound
    * keeps the O(n²) oracle-checkable slice small; the unbounded scale
    * path is [[embeddingNearDupPairsLsh]]). */
  def embeddingNearDupPairs(embs: DataFrame, threshold: Double, idBound: Long): DataFrame = {
    graft.GraftSession.ensureConfs(embs.sparkSession)
    val e = embs.filter(col("vec_id") < idBound)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("n").as("a_n"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("n").as("b_n"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Similarity.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** MinHash/LSH recall audit — the q117 pattern applied to the banded
    * dedup family: what fraction of TRUE near-dup pairs (exact 3-gram
    * Jaccard, computed on an id-bounded slice) does the banded
    * candidate generation ([[lshBands]] + [[candidatePairs]] at the
    * shipped `(numHashes, rowsPerBand)`) actually surface? This is the
    * number a 100 TB operator tunes its band geometry against: the
    * theoretical S-curve P(candidate) = 1 − (1 − j^r)^b says little
    * about a REAL corpus's shingle statistics; this measures it.
    *
    * Per similarity band `[thresholds(i), thresholds(i+1))` (last band
    * closed above by 1.0-inclusive): `t_lo` (the band's lower edge),
    * `n_true` true pairs whose exact Jaccard lands in the band,
    * `n_hits` of those surfaced as LSH candidates, `recall` =
    * n_hits/n_true, and `n_candidates` — the TOTAL candidate-pair
    * count on the slice (constant column: the precision/cost context —
    * candidates outside every band are LSH false positives the
    * verification stage pays for). Pairs sharing zero shingles have
    * Jaccard 0 and appear nowhere (thresholds are > 0).
    *
    * ONE shared shingle frame feeds both arms: the exact arm joins the
    * slice's distinct (doc, sh) rows on shingle equality (only
    * co-shingled pairs materialize — never the all-pairs cross
    * product; within-shingle fan-out is df², bounded by the id slice),
    * and the banded arm builds signatures from the same frame (min is
    * duplicate-insensitive, so distinct rows give the q28 signatures
    * bit-for-bit). Like q29/q30, the exact arm is the documented
    * audit-sized slice — production audits a sample, the unbounded
    * path stays [[nearDupPairs]]. */
  def minhashRecallAudit(docs: DataFrame, idBound: Long = 600L,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      thresholds: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.8, 0.9)): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.forall(t => t > 0.0 && t <= 1.0),
      s"thresholds must be sorted and in (0, 1], got $thresholds")
    val sh = materialize(shingleRows(docs.filter(col("doc_id") < idBound)).distinct())
    val cands = materialize(candidatePairs(
      lshBands(minhashSignaturesFromShingles(sh, numHashes), rowsPerBand)))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val truePairs = sh.select(col("doc_id").as("a_id"), col("sh"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_int"))
      .join(counts.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(counts.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("n_int").cast("double") / (col("n_a") + col("n_b") - col("n_int"))).as("jacc"))
    // band edge: highest threshold ≤ jacc wins (chained whens, high→low)
    val tLo = thresholds.init.zipWithIndex.reverse.foldLeft(
        when(col("jacc") >= thresholds.last, lit(thresholds.last))) {
      case (c, (t, _)) => c.when(col("jacc") >= t, lit(t))
    }
    val candCount = cands.agg(count(lit(1)).as("n_candidates"))
    truePairs
      .join(cands.withColumn("__hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .withColumn("t_lo", tLo).filter(col("t_lo").isNotNull)
      .groupBy(col("t_lo"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_true"))
      .crossJoin(broadcast(candCount))
  }

  /** Cross-source duplication matrix — the provenance report a
    * curation team reads off the near-dup pair graph: per unordered
    * SOURCE pair, how many near-dup pairs ([[nearDupPairs]], the q28
    * banded kernel) connect a document of one source to a document of
    * the other. The diagonal is each source's internal duplication
    * mass (mirror/self-syndication); a heavy off-diagonal cell names
    * the two feeds syndicating the same content — the signal that
    * drops a redundant source BEFORE paying its processing cost, and
    * the evidence sheet behind per-source dedup budgets (the
    * RefinedWeb/C4 practice of auditing WHERE duplication comes from,
    * not just how much).
    *
    * Output: one row per observed unordered source pair —
    * `(src_a, src_b, n_pairs)`, src_a ≤ src_b lexicographically, null
    * sources folded to '' (both engines agree on the fold; a null key
    * would silently drop the row in the group-by). All counts BIGINT —
    * oracles bitwise over the q28-pinned pair set.
    *
    * Scale shape (100 TB): the pair frame is LSH-band-bounded
    * (candidate collisions only — nothing quadratic); the
    * (doc_id, source) projection joins ID-KEYED onto it twice (the
    * pair side is vanishingly small next to the corpus, so the join
    * broadcasts it against the projection scan); the closing
    * aggregation collapses map-side onto source-pair keys (sources²
    * rows at most). The corpus text is touched only inside the audited
    * q28 kernel. */
  def sourceOverlapMatrix(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val pairs = nearDupPairs(docs, numHashes, rowsPerBand, threshold)
      .select(col("a_id"), col("b_id"))
    val src = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("__src"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("__src").as("__sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("__src").as("__sb")), "b_id")
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Duplication PROFILE — the cluster-size histogram (Lee et al.
    * 2021's corpus-health reading): per near-dup cluster size, how
    * many clusters and how many documents. The SHAPE of duplication
    * is the diagnosis — a few huge clusters are mirrors/scrapes
    * (drop the feed, q154 names it); a long tail of size-2/3
    * clusters is boilerplate and templates (scrub units, q115); and
    * the size-1 row is the uniqueness mass the corpus actually
    * contributes. Reads the q58 cluster layer (minhash ∪ simhash →
    * connected components); singletons are docs off the pair graph.
    *
    * Output: one row per occurring size —
    * `(cluster_size, n_clusters, n_docs)` with
    * `n_docs = cluster_size · n_clusters`; all-BIGINT → bitwise
    * oracle (the oracle reads the SAME closure CTE as q58/q59/q154).
    *
    * Scale shape: the audited q58 shapes; the histogram is two
    * map-side-combined aggregations over the graph-node-sized
    * components frame (cluster keys, then size keys) plus one
    * corpus count — nothing beyond the q58 cells touches the
    * corpus. */
  def clusterSizeProfile(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxHamming: Int = 5): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val pairs = unionNearDupPairs(docs, numHashes, rowsPerBand, threshold,
      maxHamming)
    val comp = materialize(ConnectedComponents.components(pairs))
    val sizes = comp.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val nDocs = docs.filter(col("doc_id").isNotNull)
      .agg(count(lit(1)).as("__n"))
    val nNodes = comp.agg(count(lit(1)).as("__g"))
    val singletons = nDocs.crossJoin(nNodes)
      .select(lit(1L).as("cluster_size"),
        (col("__n") - col("__g")).as("n_clusters"))
      .filter(col("n_clusters") > 0L)
    sizes.union(singletons)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
  }

  /** Per-SOURCE near-dup census — the dedup-side twin of the q153
    * gate-rate sheet: which feed is redundant, at what rate. A source
    * whose dup rate dwarfs the corpus's is a mirror/scrape of content
    * already held (pay for it at acquisition, not curation); a source
    * whose DROPPED rate is far below its dup-member rate is the
    * canonical home its mirrors collapse onto.
    *
    * Reads the q58 cluster layer (minhash q28 ∪ simhash q47 pair
    * graphs → connected components) joined back to the documents'
    * source column. Output: one row per source —
    * `(source, n, n_dup, n_dropped, dup_rate_q, drop_rate_q)` where
    * `n_dup` counts docs that are pair-graph members (every member's
    * component has ≥ 2 docs by construction), `n_dropped` counts the
    * non-canonical members (cluster_id ≠ doc_id — exactly the q59
    * drop-set), and rates are the exact two-step fixed point
    * (floor semantics, 2^20 scale). NULL sources group as the literal
    * 'unknown' (the q76 idiom).
    *
    * Scale shape: the pair graph and closure are the audited q58
    * shapes (banding keeps the graph a vanishing fraction of the
    * corpus; O(log² n) star rounds); the components frame is
    * graph-node-sized, so the left join back to the corpus broadcasts,
    * and the rollup collapses map-side onto source keys (a
    * sources-sized frame). The corpus text is touched only inside the
    * audited q28/q47 kernels.
    *
    * PRECONDITION (broadcast-size): the components frame — pair-graph
    * MEMBERS, not pairs — must fit an executor broadcast. That is the
    * q58/q59 operating envelope (banding keeps membership a vanishing
    * fraction of the corpus). On a pathological corpus where most
    * documents are mutual near-dups (membership ≈ corpus — the very
    * mirror storm this census detects), the unconditional hint below
    * would OOM rather than degrade to a shuffle join; run
    * [[clusterSizeProfile]] first (its histogram is cluster-keyed,
    * never corpus-broadcast) if membership scale is unknown, or drop
    * the hint at the call site by pre-materializing with stats. */
  def dupRatesBySource(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxHamming: Int = 5): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val pairs = unionNearDupPairs(docs, numHashes, rowsPerBand, threshold,
      maxHamming)
    val comp = ConnectedComponents.components(pairs)
      .select(col("node_id").as("doc_id"), col("cluster_id"))
    val base = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("source"), lit("unknown")).as("source"))
    def rate(cnt: String) = expr(
      s"""CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
         |ELSE (($cnt * 1024) DIV n) * 1024 + ((($cnt * 1024) % n) * 1024) DIV n
         |END""".stripMargin)
    // explicit broadcast: the components frame is a materialized
    // ExistingRDD (no stats), so without the hint Spark sort-merges a
    // pair-graph-sized frame against the corpus — the q59 convention
    // (|graph| is a vanishing fraction of the corpus) says broadcast
    base.join(broadcast(comp), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"), 1L)
          .otherwise(0L)).as("n_dropped"))
      .withColumn("dup_rate_q", rate("n_dup"))
      .withColumn("drop_rate_q", rate("n_dropped"))
  }
}
