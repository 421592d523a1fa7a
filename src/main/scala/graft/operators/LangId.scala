package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Language identification — the FIRST gate the CCNet acquisition
  * line applies (Wenzek et al. 2020 run fastText lang-ID before any
  * quality filtering): derive a document's language from its TEXT
  * instead of trusting an upstream label. The per-(source, lang)
  * sheets downstream (q76/q118) consume a `lang` column; this
  * operator is where a real pipeline mints it.
  *
  * Model: closed-form multinomial Naive Bayes over hashed CHARACTER
  * TRIGRAMS — char n-grams are the classic lang-ID feature (Cavnar &
  * Trenkle 1994; fastText's lang-ID ships char n-grams too) because
  * they survive domains where word features fail (no segmentation,
  * short strings, mixed scripts). NB with hashed n-gram features is
  * the [[Classifier]] kernel lifted from 2 classes to K: per class c,
  * `score_q(d, c) = log2q(n_c + 1) + Σ_b occ_b·log2q(cnt_bc + 1)
  * − n_grams_d·log2q(t_c + B)` — exactly the +1-smoothed multinomial
  * log-joint with the corpus-constant normalizer dropped (constant
  * across classes, so argmax and margins are unchanged). `predicted
  * = argmax_c score_q`, ties by class name ascending; `margin_q` is
  * best − second (0 with a single class) — the abstain knob a
  * deployment thresholds (CCNet drops low-confidence lang-ID rows).
  *
  * Determinism design (the [[Classifier]]/q126 conventions): features
  * are md5-48 hashed trigrams of `lower(text)` mod `buckets`; the
  * train/apply split is the standing md5 split
  * ([[Sampling.withSplitBucket]] — train = first `trainPermille`
  * buckets, scored = the REST); counts are BIGINTs; every log is
  * [[Mixing.log2qExpr]] (1/64-log2 fixed point); both engines count
  * string positions in code points. Bitwise-oracled end to end
  * (q181/q184/q185/q188). NULL labels train and score as the literal
  * 'unknown' (the q76 idiom); docs with NULL text or < 3 characters
  * carry no features and score prior-only; an EMPTY train split has
  * no classes and predicts nothing — audit before gating/acting,
  * like every standing model.
  *
  * Scale shape (100 TB): trigrams assemble map-side
  * (`transform(sequence(...))`, no join) and collapse onto
  * (doc, bucket) count keys — the only corpus-sized exchanges are
  * keyed on doc_id: the (doc, bucket) collapse, the (doc, class)
  * feature sum, and the docs×K argmax window (24-byte rows, K =
  * observed languages). The model sheet is ≤ buckets×K rows and the
  * class-constants frame K rows — both BROADCAST. The streaming gate
  * trades those doc_id exchanges for a per-arrival fold against the
  * broadcast one-row artifact (dense per-class arrays, O(1) indexed
  * lookups — see [[scoreAgainstModel]]); micro-batches pay zero
  * shuffle, the corpus-scale members pay the audited join path. */
object LangId {

  /** md5-48 hashes of every character trigram of `textCol`, as one
    * native codegen'd expression ([[graft.functions.CharTrigramB48]])
    * — bit-identical to the legacy
    * `transform(sequence(1, length(t)-2), i -> md5b48(md5(substr(t,i,3))))`
    * tree (CharTrigramB48Spec pins it) without the interpreted
    * per-trigram lambda, its two UTF8String allocations per element,
    * or the per-element MessageDigest. */
  private[graft] def charTrigramB48Of(textCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.NativeColumn(graft.functions.CharTrigramB48(
      graft.functions.NativeColumn.expr(textCol)))

  /** Per held-out doc: `(doc_id, lang, n_grams, predicted_lang,
    * margin_q)` — `lang` the labeled (actual) class, 'unknown' for
    * NULL. */
  def langIdScores(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame = {
    val (meta, hb, consts, sheet) =
      parts(docs, textCol, langCol, trainPermille, buckets, salt)
    scoredRows(meta, hb, consts, sheet, heldOutOnly = true)
  }

  /** The join-path scorer shared by [[langIdScores]] (held-out
    * evidence), [[applyLangId]] (the whole-corpus act) and
    * [[langDistDrift]] (both distribution seats) — ONE textual
    * definition of the NB scoring arithmetic, so the evidence, the
    * act and the monitor cannot drift. `meta`/`hb` are [[parts]]
    * outputs (possibly of a foreign frame scored against another
    * corpus's `consts`/`sheet`); `heldOutOnly` restricts to the
    * evidence split. Output: one row per scored doc —
    * `(doc_id, lang, n_grams, predicted_lang, margin_q)`.
    *
    * Scale shape: the only corpus-sized exchanges key on doc_id (the
    * feature-sum agg and the docs×K argmax window); `consts` and
    * `sheet` broadcast. Deliberately NOT the broadcast-fold kernel
    * the streaming gate runs ([[scoreAgainstModel]]): the fold costs
    * O(len·K) interpreted higher-order-function steps per doc, the
    * right trade for a micro-batch but strictly worse than the
    * codegen join path once the input is corpus-sized (repeated
    * trigrams collapse onto (doc, bucket) keys BEFORE any per-class
    * work here). */
  private def scoredRows(meta: DataFrame, hb: DataFrame,
      consts: DataFrame, sheet: DataFrame,
      heldOutOnly: Boolean): DataFrame = {
    val m = if (heldOutOnly) meta.filter(!col("__train")) else meta
    val h = if (heldOutOnly) hb.filter(!col("__train")) else hb
    val nf = h.groupBy(col("doc_id")).agg(sum(col("occ")).as("__nf"))
    val sf = h.select(col("doc_id"), col("b"), col("occ"))
      .join(broadcast(sheet), Seq("b"))
      .groupBy(col("doc_id"), col("__c"))
      .agg(sum(col("occ") * col("lg_q")).as("s_feat"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("__c").asc)
    m.select(col("doc_id"), col("__lang"))
      .join(nf, Seq("doc_id"), "left")
      .crossJoin(broadcast(consts))
      .join(sf, Seq("doc_id", "__c"), "left")
      .select(col("doc_id"), col("__lang").as("lang"), col("__c"),
        coalesce(col("__nf"), lit(0L)).as("n_grams"),
        (col("prior_q") + coalesce(col("s_feat"), lit(0L))
          - coalesce(col("__nf"), lit(0L)) * col("tlog_q")).as("score_q"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nxt", lead(col("score_q"), 1).over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_grams"),
        col("__c").as("predicted_lang"),
        (col("score_q") - coalesce(col("__nxt"), col("score_q")))
          .as("margin_q"))
  }

  /** The held-out CONFUSION sheet over [[langIdScores]] — the q143
    * evidence convention for the multi-class member: one row per
    * (labeled, predicted) pair with its doc count. The diagonal is
    * the per-language recall mass; a hot off-diagonal cell is either
    * a confusable language pair or (on labeled-by-provenance corpora)
    * a mislabeled feed — both worth reading before the q76/q118
    * sheets trust the label. Scale shape: [[langIdScores]]' audited
    * plan + ONE map-side-combined rollup onto ≤ K² keys. */
  def langIdConfusion(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame =
    langIdScores(docs, textCol, langCol, trainPermille, buckets, salt)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** The trained model collapsed to ONE broadcastable row —
    * `(classes, priors, tlogs, lgarrs, buckets)`: the sorted class
    * list, the per-class prior and normalizer maps, per class a DENSE
    * `buckets`-long log-count array (absent cells hold the
    * mathematically-correct 0 = log2q(0+1)), and the bucket count the
    * model was TRAINED with — persisted so [[scoreAgainstModel]] can
    * hash arrivals with the artifact's own modulus and reject a
    * mismatched caller loudly instead of silently misreading the
    * dense arrays — what a production system persists as the lang-ID
    * artifact and ships to ingest workers (the
    * [[Classifier.nbModelRow]] convention lifted to K classes). Dense arrays, not maps, deliberately: Spark evaluates
    * `element_at` on a MAP by LINEAR SCAN of its keys, so a
    * map-shaped artifact costs O(buckets) per trigram lookup —
    * measured as a pegged single task at corpus scale — while the
    * array is O(1) indexed access; at the default 8192 buckets the
    * row is K×64 KB, broadcast-cheap to hundreds of classes.
    * Single-sourced with [[langIdScores]]: both build from the same
    * split/feature/sheet chain, so the streaming gate's predictions
    * are bitwise the batch sheet's
    * ([[graft.streaming.Curation.langIdGate]];
    * StreamingLangIdGateSpec pins it). Byte-determinism: the dense
    * arrays fill by sorted bucket id and the class-keyed maps build
    * from explicitly sorted entry arrays (structs carrying arrays are
    * not sort-orderable, so the per-class rows sort by a key-only
    * comparator before `map_from_entries`). An empty or text-free
    * train split yields ONE row with empty classes — the gate then
    * predicts NULL for every arrival (audit before arming, like
    * every standing model).
    *
    * Scale shape: the K×buckets dense grid assembles from a literal
    * sequence exploded against the K-row constants frame (map-side),
    * left-joins the ≤ buckets×K sheet on (b, class), and collapses
    * onto K rows — nothing corpus-sized beyond [[parts]]' own
    * train-slice exchanges. */
  def langIdModelRow(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame = {
    val (_, _, consts, sheet) =
      parts(docs, textCol, langCol, trainPermille, buckets, salt)
    modelRowOf(consts, sheet, buckets)
  }

  /** The one-row-artifact CLOSING shared by [[langIdModelRow]]
    * (monolithic train) and [[langIdModelRowIncrement]] (counts
    * fold): `consts` = `(__c, prior_q, tlog_q)`, `sheet` =
    * `(b, __c, lg_q)` → the dense-array artifact row. ONE textual
    * definition so a patched artifact cannot differ in SHAPE from a
    * retrained one — only in the counts it was built from (and the
    * fold makes those equal too; LangIdSpec pins it). */
  private def modelRowOf(consts: DataFrame, sheet: DataFrame,
      buckets: Int): DataFrame = {
    val perClass = consts.select(col("__c"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${buckets - 1} AS BIGINT))"))
          .as("b"))
      .join(sheet, Seq("__c", "b"), "left")
      .groupBy(col("__c"))
      .agg(transform(
        array_sort(collect_list(struct(col("b"),
          coalesce(col("lg_q"), lit(0L)).as("v")))),
        x => x.getField("v")).as("arr"))
    consts.join(perClass, Seq("__c"), "left")
      .agg(
        sort_array(collect_list(col("__c"))).as("classes"),
        map_from_entries(array_sort(
          collect_list(struct(col("__c"), col("prior_q"))))).as("priors"),
        map_from_entries(array_sort(
          collect_list(struct(col("__c"), col("tlog_q"))))).as("tlogs"),
        collect_list(struct(col("__c"),
          coalesce(col("arr"), expr("CAST(array() AS array<bigint>)"))
            .as("arr"))).as("__lg"))
      // struct<string, array> is not sort-orderable; a key-only
      // comparator sorts the entry array before map construction so
      // the persisted artifact is byte-deterministic
      .withColumn("lgarrs", map_from_entries(expr(
        """array_sort(__lg, (l, r) ->
          |  CASE WHEN l.__c < r.__c THEN -1
          |       WHEN l.__c > r.__c THEN 1 ELSE 0 END)""".stripMargin)))
      // the artifact CARRIES its bucket count: [[scoreAgainstModel]]
      // hashes arrivals mod this persisted value and fails LOUDLY on
      // a caller mismatch — a silently different modulus would read
      // wrong dense-array cells and mislabel every arrival
      .select(col("classes"), col("priors"), col("tlogs"), col("lgarrs"),
        lit(buckets.toLong).as("buckets"))
  }

  /** The model's RAW-count grains — `(cls: (__c, n_c, t_c),
    * cells: (__c, b, cnt))` over the corpus's train split: what a
    * production system persists BESIDE the quantized artifact when it
    * wants exact incremental retrains, because NB counts are ADDITIVE
    * where the quantized logs are not (log2q(a+b) ≠ log2q(a) +
    * log2q(b) — a patched model must fold counts and re-quantize, so
    * the incremental family's lang member stores counts). Sheet-sized
    * whatever the corpus: ≤ K class rows + ≤ buckets×K cells. */
  def langIdCounts(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft")
      : (DataFrame, DataFrame) = {
    val (meta, hb, _, _) =
      parts(docs, textCol, langCol, trainPermille, buckets, salt)
    val cls = meta.filter(col("__train") && col("__text").isNotNull)
      .groupBy(col("__lang").as("__c")).agg(count(lit(1)).as("n_c"))
      .join(hb.filter(col("__train"))
        .groupBy(col("__lang").as("__c")).agg(sum(col("occ")).as("t_c")),
        Seq("__c"), "left")
      .select(col("__c"), col("n_c"),
        coalesce(col("t_c"), lit(0L)).as("t_c"))
    val cells = hb.filter(col("__train"))
      .groupBy(col("__lang").as("__c"), col("b"))
      .agg(sum(col("occ")).as("cnt"))
    (cls, cells)
  }

  /** The INCREMENTAL lang-ID model member — the q105/q109/q119
    * family's seat for the language model: a batch's (bucket, class)
    * trigram counts FOLD into the standing counts with NO retrain of
    * the standing corpus, exactly because multinomial NB state is a
    * sum of per-doc counts. Both sides' counts derive through the
    * SAME [[langIdCounts]] split/feature chain (the standing corpus
    * and the arriving batch each contribute their own train-split
    * rows — the md5 split is a pure function of doc_id, so the union
    * of the two train slices IS the monolithic train slice), the
    * folded counts re-quantize through the [[parts]] formulas, and
    * the result is BITWISE the monolithic retrain on standing ∪ batch
    * — the oracle is deliberately monolithic so the hash PROVES
    * incremental == monolithic (q195). Standing and batch must be
    * disjoint corpora (a doc present in both double-counts — the
    * incremental family's standing contract).
    *
    * Output: the patched model in relational form — one row per
    * trained (class, bucket) cell carrying the class constants:
    * `(cls, b, cnt, lg_q, n_c, t_c, prior_q, tlog_q)`; a class whose
    * train docs carry no trigrams keeps one `(cls, NULL, 0, 0, …)`
    * row (priors still count it).
    *
    * Scale shape (100 TB): the batch pays its OWN [[parts]] trigram
    * collapse only; the standing seat is sheet-sized counts (persist
    * them via [[langIdCounts]] and hand them to
    * [[incrementOverCounts]] — this convenience wrapper re-derives
    * them when given the corpus); every fold exchange carries
    * ≤ buckets×K cells. */
  def langIdModelIncrement(standing: DataFrame, batch: DataFrame,
      textCol: String = "text", langCol: String = "lang",
      trainPermille: Int = 500, buckets: Int = 8192,
      salt: String = "graft"): DataFrame = {
    val (sCls, sCells) =
      langIdCounts(standing, textCol, langCol, trainPermille, buckets, salt)
    val (bCls, bCells) =
      langIdCounts(batch, textCol, langCol, trainPermille, buckets, salt)
    incrementOverCounts(sCls, sCells, bCls, bCells, buckets)
  }

  /** The fold tail under [[langIdModelIncrement]], split out so a
    * deployment can hand it PERSISTED standing counts
    * ([[langIdCounts]]' grains) instead of re-deriving them — the
    * steady-state cost is then batch-sized + sheet-sized. Adds count
    * grains class-wise and cell-wise, then re-quantizes every log
    * through the [[parts]] formulas (prior = log2q(n_c + 1),
    * normalizer = log2q(t_c + buckets), cell = log2q(cnt + 1)). */
  def incrementOverCounts(sCls: DataFrame, sCells: DataFrame,
      bCls: DataFrame, bCells: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val cls = sCls.unionByName(bCls).groupBy(col("__c"))
      .agg(sum(col("n_c")).as("n_c"), sum(col("t_c")).as("t_c"))
      .select(col("__c"), col("n_c"), col("t_c"),
        expr(Mixing.log2qExpr("n_c + 1")).as("prior_q"),
        expr(Mixing.log2qExpr(s"t_c + $buckets")).as("tlog_q"))
    val cells = sCells.unionByName(bCells).groupBy(col("__c"), col("b"))
      .agg(sum(col("cnt")).as("cnt"))
    // sheet-sized on both sides (≤ K and ≤ buckets×K rows) — the one
    // exchange here is independent of corpus size
    cls.join(cells, Seq("__c"), "left")
      .select(col("__c").as("cls"), col("b"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        expr(Mixing.log2qExpr("coalesce(cnt, 0) + 1")).as("lg_q"),
        col("n_c"), col("t_c"), col("prior_q"), col("tlog_q"))
  }

  /** The PATCHED one-row artifact — [[langIdModelIncrement]]'s sheet
    * closed through the SAME [[modelRowOf]] as the monolithic
    * [[langIdModelRow]], so a gate holding the patched artifact
    * predicts bitwise what a gate holding the retrained artifact
    * would (LangIdSpec pins scoreAgainstModel under both). The
    * patched sheet materializes once (it feeds the constants and the
    * dense-array grains). */
  def langIdModelRowIncrement(standing: DataFrame, batch: DataFrame,
      textCol: String = "text", langCol: String = "lang",
      trainPermille: Int = 500, buckets: Int = 8192,
      salt: String = "graft"): DataFrame = {
    val patched = Dedup.materialize(
      langIdModelIncrement(standing, batch, textCol, langCol,
        trainPermille, buckets, salt))
    modelRowOf(
      patched.select(col("cls").as("__c"), col("prior_q"), col("tlog_q"))
        .distinct(),
      patched.filter(col("b").isNotNull)
        .select(col("b"), col("cls").as("__c"), col("lg_q")),
      buckets)
  }

  /** Score a frame against a broadcast ONE-ROW [[langIdModelRow]]
    * artifact, entirely MAP-SIDE — the kernel under the streaming
    * gate ([[graft.streaming.Curation.langIdGate]] delegates here)
    * and the streaming distribution monitor: hashed char trigrams
    * assemble per row, the class metadata zips ONCE per row into
    * (class, prior, tlog, dense-array) structs, each class's
    * multinomial log-joint is one `aggregate` fold of O(1) array
    * indexings, and the argmax folds over the SORTED class array
    * (first strict maximum wins — exactly the batch's score-DESC,
    * class-ASC tiebreak), tracking the runner-up for the margin.
    * Emits the input columns plus `(n_grams, predicted_lang,
    * margin_q)` — bitwise [[langIdScores]]' held-out columns on the
    * same corpus (the per-occurrence lookup sum ≡ the batch's
    * occ-grouped Σ occ·lg_q over exact integers;
    * StreamingLangIdGateSpec pins it). NULL/short text scores
    * prior-only; a row against an EMPTY model (classless train split)
    * reads predicted NULL, margin NULL. ZERO state, no shuffle.
    *
    * Cost model — why this is the MICRO-BATCH kernel and not the
    * corpus path: the fold runs O(len·K) interpreted HOF steps per
    * row (each O(1) after the dense-array change), perfect when
    * arrivals are batch-sized and shuffle is the enemy; the
    * corpus-scale members ([[applyLangId]], [[langDistDrift]]) use
    * the codegen join path instead, where repeated trigrams collapse
    * before any per-class work. */
  private[graft] def scoreAgainstModel(df: DataFrame, model: DataFrame,
      textCol: String = "text", buckets: Int = 8192): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val t = lower(col(textCol))
    df.crossJoin(broadcast(model))
      // the modulus is the PERSISTED artifact value, validated against
      // the caller's: a mismatch raises instead of silently hashing
      // into the wrong dense-array cells (the artifact knows what it
      // was trained with; the caller's default is just a claim)
      .withColumn("__bk",
        when(col("buckets") === buckets.toLong, col("buckets"))
          .otherwise(raise_error(concat(
            lit("lang-ID model trained with buckets="), col("buckets"),
            lit(s", caller passed $buckets"))).cast("long")))
      .withColumn("__gs",
        when(t.isNotNull && length(t) >= 3,
          transform(charTrigramB48Of(t), g => g % col("__bk")))
          .otherwise(expr("CAST(array() AS array<bigint>)")))
      .withColumn("n_grams", size(col("__gs")).cast("long"))
      // the K-entry class-metadata lookups happen ONCE per row here;
      // the per-trigram fold below touches only the zipped struct's
      // dense array — O(1) per step, never a map scan
      .withColumn("__cs", transform(col("classes"), c =>
        struct(c.as("c"),
          element_at(col("priors"), c).as("p"),
          element_at(col("tlogs"), c).as("t"),
          element_at(col("lgarrs"), c).as("arr"))))
      .withColumn("__scores", transform(col("__cs"), z =>
        struct(z.getField("c").as("c"),
          (z.getField("p") +
            aggregate(col("__gs"), lit(0L), (acc, b) =>
              acc + coalesce(
                element_at(z.getField("arr"), (b + lit(1L)).cast("int")),
                lit(0L))) -
            col("n_grams") * z.getField("t")).as("s"))))
      // classes are sorted ASC, so keeping only STRICT improvements
      // reproduces the batch (score DESC, class ASC) tiebreak; the
      // runner-up is the max of the non-best scores
      .withColumn("__best", expr(
        """aggregate(__scores,
          |  named_struct('s', CAST(NULL AS BIGINT),
          |    'c', CAST(NULL AS STRING), 'r', CAST(NULL AS BIGINT)),
          |  (acc, x) -> CASE
          |    WHEN acc.c IS NULL THEN
          |      named_struct('s', x.s, 'c', x.c, 'r', CAST(NULL AS BIGINT))
          |    WHEN x.s > acc.s THEN named_struct('s', x.s, 'c', x.c, 'r', acc.s)
          |    WHEN acc.r IS NULL OR x.s > acc.r THEN
          |      named_struct('s', acc.s, 'c', acc.c, 'r', x.s)
          |    ELSE acc END)""".stripMargin))
      .withColumn("predicted_lang", col("__best.c"))
      .withColumn("margin_q",
        when(col("__best.c").isNull, lit(null).cast("long"))
          .otherwise(col("__best.s") - coalesce(col("__best.r"), col("__best.s"))))
      .drop("__gs", "__cs", "__scores", "__best", "__bk",
        "classes", "priors", "tlogs", "lgarrs", "buckets")
  }

  /** The lang-ID APPLY member — the act that MINTS the `lang_id`
    * column for the corpus (the q162→q164 evidence→act convention):
    * EVERY doc (train and held-out alike — the act labels the corpus,
    * the evidence split only tunes it) scores through the SAME
    * [[scoredRows]] arithmetic as the q181 evidence sheet (one
    * textual definition — the act cannot drift from its evidence; the
    * streaming gate is pinned bitwise to the same arithmetic), and
    * docs whose margin falls BELOW `marginThresholdQ` read
    * `lang_id = 'unknown'` — the CCNet drop rule (Wenzek et al. 2020
    * discard low-confidence lang-ID rows rather than mislabel them).
    * The threshold is READ from the [[langIdOperatingPoints]] sheet,
    * never guessed; at `marginThresholdQ = 0` the act is plain argmax
    * (margins are non-negative by construction — LangIdSpec pins it).
    * NULL `doc_id` rows never emit, and a classless model labels
    * nothing (the [[langIdScores]] convention: no evidence, no act —
    * audit before acting).
    *
    * Output: one row per doc — `(doc_id, lang, n_grams,
    * predicted_lang, margin_q, lang_id)`; join back on doc_id to
    * carry the label onto the corpus.
    *
    * Scale shape (100 TB): exactly [[langIdScores]]' audited plan
    * over the whole corpus instead of the held-out split — trigrams
    * collapse map-side onto (doc, bucket) keys, the model sheet and
    * constants broadcast, and the only corpus-sized exchanges key on
    * doc_id. The broadcast-fold kernel is deliberately NOT used here
    * (see [[scoreAgainstModel]]'s cost model). */
  def applyLangId(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft",
      marginThresholdQ: Long = 0L): DataFrame = {
    require(marginThresholdQ >= 0,
      s"marginThresholdQ must be non-negative, got $marginThresholdQ")
    val (meta, hb, consts, sheet) =
      parts(docs, textCol, langCol, trainPermille, buckets, salt)
    scoredRows(meta, hb, consts, sheet, heldOutOnly = false)
      .withColumn("lang_id",
        when(col("predicted_lang").isNull ||
          col("margin_q") < marginThresholdQ, lit("unknown"))
          .otherwise(col("predicted_lang")))
  }

  /** The lang-ID act applied to the CORPUS — CCNet's FIRST gate
    * (Wenzek et al. 2020 drop non-target and low-confidence-language
    * docs before any quality machinery runs): keep the docs whose
    * MINTED `lang_id` ([[applyLangId]] at `marginThresholdQ`) is a
    * target language — `keepLangs = None` keeps every confidently
    * identified doc (drops only the abstained 'unknown' mass; the
    * multilingual-corpus seat), `Some(langs)` keeps exactly those
    * (the per-language-release seat) — and REPLACE the provenance
    * `langCol` with the minted label, so every downstream per-lang
    * sheet (q76/q118/q194) keys on what the text IS rather than what
    * a feed claimed. The q162→q164 evidence→act convention with the
    * language line in the verdict seat; q196 composes it at the HEAD
    * of the shared release build.
    *
    * Scale shape (100 TB): [[applyLangId]]'s audited plan + ONE
    * doc_id-keyed keep join (the q169 keep-set shape) + a map-side
    * relabel; everything downstream runs on the SMALLER kept
    * corpus. */
  def actOnLangId(docs: DataFrame, marginThresholdQ: Long = 5000L,
      keepLangs: Option[Seq[String]] = None, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame = {
    val act = applyLangId(docs, textCol, langCol, trainPermille,
        buckets, salt, marginThresholdQ)
      .select(col("doc_id"), col("lang_id"))
    val kept = keepLangs match {
      case Some(ls) => act.filter(col("lang_id").isin(ls: _*))
      case None     => act.filter(col("lang_id") =!= "unknown")
    }
    docs.join(kept, Seq("doc_id"))
      .withColumn(langCol, col("lang_id")).drop("lang_id")
  }

  /** The ABSTAIN operating-points sheet — the q147 convention for the
    * [[applyLangId]] knob: held-out margins swept at their own exact
    * DECILE thresholds (the q60-pinned radix selection — data-driven
    * cut candidates, not arbitrary constants), one row per distinct
    * threshold with the abstain/scored/correct counts, the held-out
    * accuracy AMONG SCORED docs, and the abstain rate — the sheet
    * `marginThresholdQ` is READ from: a deployment picks the leftmost
    * threshold whose accuracy clears its bar, and the abstain rate is
    * the data it pays for it (the CCNet trade: dropped mass for label
    * purity). Counts are BIGINTs; accuracy and abstain_rate are
    * single IEEE divisions of exact integers (−1.0 when undefined,
    * the q90 idiom) — the whole sheet oracles bitwise (q185).
    *
    * Output: ≤ 9 rows — `(thr_q, n_abstain, n_scored, n_correct,
    * accuracy, abstain_rate)` with `predict ⇔ margin_q ≥ thr_q`.
    *
    * Scale shape: [[langIdScores]]' audited plan reduced to 17-byte
    * (margin, correct) rows, the decile cuts by distributed radix
    * select (no single-task sort), then a ≤ 9× broadcast row
    * multiplication collapsing map-side onto ≤ 9 keys — the q147
    * shape exactly. */
  def langIdOperatingPoints(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame = {
    val scores = Dedup.materialize(
      langIdScores(docs, textCol, langCol, trainPermille, buckets, salt)
        .select(col("margin_q"),
          when(col("predicted_lang") === col("lang"), 1L).otherwise(0L)
            .as("correct")))
    val qs = (1 until 10).map { i =>
      s"e$i" -> (BigDecimal(i) / BigDecimal(10)).toDouble
    }
    // distributed radix select (bitwise percentile_disc) — held-out
    // margins are corpus-sized at scale; no single-task sort
    val cutsRow = Quantiles.globalQuantileDisc(scores, "margin_q", qs,
      materializeInput = false) // scores is already materialized
    val thr = cutsRow
      .select(explode(array(qs.map { case (n, _) => col(n) }: _*)).as("thr_q"))
      .filter(col("thr_q").isNotNull).distinct()
    scores.crossJoin(broadcast(thr))
      .groupBy(col("thr_q"))
      .agg(
        sum(when(col("margin_q") < col("thr_q"), 1L).otherwise(0L))
          .as("n_abstain"),
        sum(when(col("margin_q") >= col("thr_q"), 1L).otherwise(0L))
          .as("n_scored"),
        sum(when(col("margin_q") >= col("thr_q") && col("correct") === 1L,
          1L).otherwise(0L)).as("n_correct"))
      .select(col("thr_q"), col("n_abstain"), col("n_scored"),
        col("n_correct"),
        when(col("n_scored") === 0L, lit(-1.0))
          .otherwise(col("n_correct").cast("double") / col("n_scored"))
          .as("accuracy"),
        (col("n_abstain").cast("double") /
          (col("n_abstain") + col("n_scored"))).as("abstain_rate"))
  }

  /** A scored frame's PREDICTED-language distribution collapsed to
    * ONE broadcastable row — `(lmap, t_g)`: per predicted class the
    * doc count, plus the total (the [[Drift.contentKlModel]] artifact
    * shape with predicted langs in the bucket seat). `scored` is any
    * frame carrying `predicted_lang` ([[scoredRows]]' output, the
    * streaming gate's, or [[applyLangId]]'s). A frame predicting
    * nothing (empty model) reads `(empty map, 0)`. Byte-determinism:
    * the map builds from a sorted entry array. */
  def langDistRowOf(scored: DataFrame): DataFrame =
    scored.filter(col("predicted_lang").isNotNull)
      .groupBy(col("predicted_lang")).agg(count(lit(1)).as("c"))
      .agg(
        map_from_entries(array_sort(
          collect_list(struct(col("predicted_lang"), col("c"))))).as("lmap"),
        coalesce(sum(col("c")), lit(0L)).as("t_g"))

  /** The standing baseline ARTIFACT a deployment persists beside the
    * [[langIdModelRow]]: the standing corpus's whole-corpus
    * predictions (the [[applyLangId]] join path at threshold 0)
    * rolled into [[langDistRowOf]]'s one-row distribution. Built via
    * the audited join path — a standing corpus is corpus-sized by
    * definition, so the broadcast-fold kernel has no business here
    * (see [[scoreAgainstModel]]'s cost model). */
  def langDistBaseline(standing: DataFrame, textCol: String = "text",
      langCol: String = "lang", trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft"): DataFrame = {
    val (meta, hb, consts, sheet) =
      parts(standing, textCol, langCol, trainPermille, buckets, salt)
    langDistRowOf(scoredRows(meta, hb, consts, sheet, heldOutOnly = false))
  }

  /** The KL close over a SCORED batch vs a standing baseline row —
    * the kernel shared by the batch twin ([[langDistDrift]]) and the
    * streaming monitor ([[graft.streaming.Curation.langDistMonitor]]),
    * ONE textual definition so the two cannot drift: the batch's
    * predicted-lang counts spread over the model's K-class `support`
    * (one `predicted_lang` column — the monitor explodes it from the
    * broadcast artifact, the batch twin reads the constants frame;
    * absent classes read 0 on both sides), and the exact
    * add-1-smoothed KL(P_batch ‖ P_standing) closes in 1/64-log2
    * fixed point — the q158 arithmetic with K classes in place of the
    * 8192 hash buckets. The +1 smoothing over K ≪ 8192 support barely
    * shrinks even small batches, so this monitor stays sharp at probe
    * sizes the content-KL can't see — and it reads a signal
    * content-KL structurally can't: "this feed switched LANGUAGE"
    * shows as mass moving between classes even when bigram
    * concentration holds (provenance labels never see it; the
    * prediction is text-derived).
    *
    * Output: ONE row `(n_docs, n_langs, kl_q, alert)` — batch doc
    * count, distinct predicted langs in the batch, the KL in 1/64-bit
    * units (trunc-toward-zero through the sign CASE), `alert` at
    * `kl_q ≥ alertQ` (default 32 = 0.5 bits/doc). A batch predicting
    * EXACTLY the standing shares reads 0. Against an EMPTY support
    * (classless model): one all-NULL row with `alert = 0` — a monitor
    * must never crash, and the NULL kl is the audit signal to not arm
    * it. An EMPTY BATCH (t_b = 0) likewise reads `(0, 0, NULL, 0)`:
    * with no arrivals the +1 smoothing would otherwise make the batch
    * read as uniform and KL(uniform ‖ standing) clears any alert line
    * on a skewed baseline — a no-data micro-batch must never raise
    * the language-switch alarm (the empty-support rule applied to the
    * batch seat). All BIGINT → the batch twin oracles bitwise
    * (q188). */
  def langDistAgainst(scored: DataFrame, support: DataFrame,
      distRow: DataFrame, alertQ: Long = 32L): DataFrame = {
    val counts = scored.filter(col("predicted_lang").isNotNull)
      .groupBy(col("predicted_lang")).agg(count(lit(1)).as("c_bb"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    support.select(col("predicted_lang"))
      .withColumn("__k", count(lit(1)).over(whole))
      .join(counts, Seq("predicted_lang"), "left")
      .crossJoin(broadcast(distRow))
      .select(col("predicted_lang"), col("__k"),
        coalesce(col("c_bb"), lit(0L)).as("c_bb"),
        coalesce(element_at(col("lmap"), col("predicted_lang")), lit(0L))
          .as("c_gb"),
        coalesce(col("t_g"), lit(0L)).as("t_g"))
      .withColumn("t_b", sum(col("c_bb")).over(whole))
      .withColumn("__dq",
        expr(Mixing.log2qExpr("c_bb + 1")) -
          expr(Mixing.log2qExpr("t_b + __k")) -
          expr(Mixing.log2qExpr("c_gb + 1")) +
          expr(Mixing.log2qExpr("t_g + __k")))
      .agg(max(col("t_b")).as("n_docs"),
        sum(when(col("c_bb") > 0L, 1L).otherwise(0L)).as("n_langs"),
        sum((col("c_bb") + 1L) * col("__dq")).as("__num"),
        max(col("__k")).as("__kk"))
      .withColumn("kl_q", expr(
        """CASE WHEN n_docs IS NULL OR n_docs = 0 THEN CAST(NULL AS BIGINT)
          |WHEN __num >= 0 THEN __num DIV (n_docs + __kk)
          |ELSE -((-__num) DIV (n_docs + __kk)) END""".stripMargin))
      .withColumn("alert",
        when(col("kl_q") >= alertQ, lit(1L)).otherwise(lit(0L)))
      .drop("__num", "__kk")
  }

  /** The q158 batch-twin convention for the LANGUAGE monitor: the
    * corpus splits on an independent md5 bucket (`arrivalSalt` —
    * deliberately NOT the model's train salt, so the arrival slice
    * and the train split stay uncorrelated), the standing remainder
    * trains the model and folds its OWN whole-corpus predictions into
    * the baseline row, and the incoming slice scores through the SAME
    * [[scoredRows]] arithmetic into the shared [[langDistAgainst]]
    * close. Single-sourced with
    * [[graft.streaming.Curation.langDistMonitor]] end to end — the
    * streamed monitor scores through the gate kernel, which is pinned
    * bitwise to this arithmetic, so the batch sheet and a streamed
    * batch CANNOT disagree (StreamingLangIdGateSpec pins the
    * composite bitwise).
    *
    * Scale shape (100 TB): ONE [[parts]] chain per side (the standing
    * side's consts/sheet are materialized — they feed the baseline
    * scoring, the arrival scoring AND the class support, the q167
    * materialize-the-sheet rule); every corpus-sized exchange keys on
    * doc_id; the closes are ≤ K-key rollups. */
  def langDistDrift(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", newPermille: Int = 100,
      trainPermille: Int = 500, buckets: Int = 8192,
      salt: String = "graft", arrivalSalt: String = "arrivals",
      alertQ: Long = 32L): DataFrame = {
    val (_, arrivals, consts, base) = driftSides(docs, textCol, langCol,
      newPermille, trainPermille, buckets, salt, arrivalSalt)
    langDistAgainst(arrivals,
      consts.select(col("__c").as("predicted_lang")), base, alertQ)
  }

  /** [[langDistDrift]] PER SOURCE — the q155/q156 by-source
    * convention for the language monitor, the attribution the
    * one-row sheet can't give: when the aggregate KL moves, WHICH
    * feed switched language? Every arrival's prediction joins its
    * source back on doc_id, each source's predicted-lang counts
    * spread over the same K-class support, and the per-source exact
    * add-1-smoothed KL(P_source ‖ P_standing) closes in 1/64-log2
    * units — [[langDistAgainst]]'s arithmetic with every window
    * PARTITIONED BY source. A source predicting exactly the standing
    * shares reads 0; NULL sources group as 'unknown' (the q153
    * idiom); a source of prior-only docs still reads its (possibly
    * degenerate) distribution — the monitor is total. All BIGINT →
    * bitwise oracle (q192).
    *
    * Output: one row per arrival source —
    * `(source, n_docs, n_langs, kl_q)` (the q155 sheet shape; the
    * one-row twin carries the alert, this sheet carries the blame).
    *
    * Scale shape: [[langDistDrift]]'s audited plan with the arrival
    * scoring joined back to (doc_id, source) — doc_id-keyed,
    * arrival-sized — and ONE (source, class) rollup; the closes are
    * windows over the sources×K grid. */
  def langDistDriftBySource(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", srcCol: String = "source",
      newPermille: Int = 100, trainPermille: Int = 500,
      buckets: Int = 8192, salt: String = "graft",
      arrivalSalt: String = "arrivals"): DataFrame = {
    val (incoming, arrivals, consts, base) = driftSides(docs, textCol,
      langCol, newPermille, trainPermille, buckets, salt, arrivalSalt)
    val scored = arrivals
      .join(incoming.select(col("doc_id"),
        coalesce(col(srcCol), lit("unknown")).as("source")), Seq("doc_id"))
    val counts = scored.groupBy(col("source"), col("predicted_lang"))
      .agg(count(lit(1)).as("c_bb"))
    val srcs = incoming
      .select(coalesce(col(srcCol), lit("unknown")).as("source")).distinct()
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    langKlBySourceClose(
      srcs.crossJoin(
          consts.select(col("__c").as("predicted_lang"))
            .withColumn("__k", count(lit(1)).over(whole)))
        .join(counts, Seq("source", "predicted_lang"), "left")
        .crossJoin(broadcast(base))
        .select(col("source"), col("predicted_lang"), col("__k"),
          coalesce(col("c_bb"), lit(0L)).as("c_bb"),
          coalesce(element_at(col("lmap"), col("predicted_lang")), lit(0L))
            .as("c_gb"),
          coalesce(col("t_g"), lit(0L)).as("t_g")))
  }

  /** The standing/arrival split shared by [[langDistDrift]] and
    * [[langDistDriftBySource]]: the corpus splits on the `arrivalSalt`
    * md5 bucket, the standing remainder trains the model and scores
    * its own whole-corpus predictions into the baseline row, and the
    * arrival slice scores against that model. Returns
    * (incoming, arrival scored rows, consts, base).
    *
    * The standing-model chain (hb census → consts/sheet → baseline
    * row) and the arrival slice's own trigram census touch disjoint
    * corpus slices: build them concurrently (§2.6). Within the
    * standing chain, consts feeds the baseline grid, the arrival
    * grid AND the class support; sheet feeds both feature sums —
    * materialize so the train chain runs once (the q167
    * materialize-the-sheet rule), and materialize the two
    * concurrently too (both read only the checkpointed hb census).
    * The baseline is the persisted one-row artifact: materialized so
    * the close's broadcast carries ONE row with no upstream lineage. */
  private def driftSides(docs: DataFrame, textCol: String,
      langCol: String, newPermille: Int, trainPermille: Int,
      buckets: Int, salt: String, arrivalSalt: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(newPermille >= 0 && newPermille <= 1000,
      s"newPermille must be in [0,1000], got $newPermille")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val flagged = Sampling.withSplitBucket(docs, "doc_id", arrivalSalt)
    val standing = flagged.filter(col("__bucket") >= newPermille)
      .drop("__bucket")
    val incoming = flagged.filter(col("__bucket") < newPermille)
      .drop("__bucket")
    val Seq(Seq(consts, sheet, base), Seq(am, ah)) =
      graft.operators.Par.run[Seq[DataFrame]](
        () => {
          val (meta, hb, consts0, sheet0) =
            parts(standing, textCol, langCol, trainPermille, buckets, salt)
          val Seq(consts, sheet) = graft.operators.Par.run[DataFrame](
            () => Dedup.materialize(consts0),
            () => Dedup.materialize(sheet0))
          Seq(consts, sheet, Dedup.materialize(langDistRowOf(
            scoredRows(meta, hb, consts, sheet, heldOutOnly = false))))
        },
        // the arrival slice is a FOREIGN frame vs the standing model:
        // reuse parts for its trigram chain (its own consts/sheet are
        // never evaluated — lazy frames cost nothing unused)
        () => {
          val (meta, hb, _, _) =
            parts(incoming, textCol, langCol, trainPermille, buckets, salt)
          Seq(meta, hb)
        })
    (incoming, scoredRows(am, ah, consts, sheet, heldOutOnly = false),
      consts, base)
  }

  /** The per-source K-class KL closing arithmetic over a scoring grid
    * `(source, predicted_lang, __k, c_bb, c_gb, t_g)` — ONE textual
    * definition (the [[Mixing.klPerSourceClose]] convention lifted to
    * the language seat) shared by [[langDistDriftBySource]] (corpus
    * seat = a standing baseline row), [[langKlBySource]] (corpus seat
    * = the batch's own totals — the q159 scorecard member) and
    * [[langKlBySourceAgainstModel]] (the streaming scorecard seat),
    * so the three sheets cannot drift: per source, the exact
    * add-1-smoothed KL(P_source ‖ P_seat) in 1/64-log2 units with the
    * [[langDistAgainst]] empty-seat rule (a source with zero scored
    * docs reads NULL kl, never KL(uniform ‖ standing)). Output: one
    * row per source — `(source, n_docs, n_langs, kl_q)`.
    *
    * Scale shape: windows and rollups over the sources×K grid only —
    * nothing corpus-sized enters this close. */
  private[graft] def langKlBySourceClose(grid: DataFrame): DataFrame = {
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).rowsBetween(Long.MinValue, Long.MaxValue)
    grid
      .withColumn("t_b", sum(col("c_bb")).over(wSrc))
      .withColumn("__dq",
        expr(Mixing.log2qExpr("c_bb + 1")) -
          expr(Mixing.log2qExpr("t_b + __k")) -
          expr(Mixing.log2qExpr("c_gb + 1")) +
          expr(Mixing.log2qExpr("t_g + __k")))
      .groupBy(col("source"))
      .agg(max(col("t_b")).as("n_docs"),
        sum(when(col("c_bb") > 0L, 1L).otherwise(0L)).as("n_langs"),
        sum((col("c_bb") + 1L) * col("__dq")).as("__num"),
        max(col("__k")).as("__kk"))
      // the same empty-seat rule as [[langDistAgainst]]: a source (or
      // batch) with zero scored docs reads NULL, never
      // KL(uniform ‖ standing)
      .withColumn("kl_q", expr(
        """CASE WHEN n_docs IS NULL OR n_docs = 0 THEN CAST(NULL AS BIGINT)
          |WHEN __num >= 0 THEN __num DIV (n_docs + __kk)
          |ELSE -((-__num) DIV (n_docs + __kk)) END""".stripMargin))
      .drop("__num", "__kk")
  }

  /** Per-source LANGUAGE-fingerprint KL over the corpus's own minted
    * predictions — the fifth [[Ensemble.sourceScorecard]] member (the
    * [[Mixing.sourceKlDivergence]] convention with predicted
    * languages in the bucket seat): every doc scores through the SAME
    * [[scoredRows]] arithmetic as the q184 act (threshold 0 — the
    * member reads raw argmax shares, the acquisition seat, not the
    * abstain-gated release label), each source's predicted-language
    * distribution spreads over the K-class support, and the exact
    * add-1-smoothed KL(P_source ‖ P_corpus) closes per source in
    * 1/64-log2 units. The signal the provenance label and the
    * content-KL both structurally miss: a feed whose TEXT is in a
    * different language than the corpus norm reads a high seat here
    * even when its bigram concentration (q155) holds. A source
    * predicting exactly the corpus shares reads 0; NULL sources group
    * as 'unknown' (the q76 idiom). All BIGINT → bitwise oracle
    * (q193).
    *
    * Output: one row per source — `(source, n_docs, n_langs, kl_q)`
    * (the q192 sheet shape with the corpus in the baseline seat).
    *
    * Scale shape (100 TB): ONE whole-corpus scoring pass
    * ([[scoredRows]]' audited plan — trigrams collapse map-side onto
    * (doc, bucket) keys, model sheet and constants broadcast, doc_id
    * exchanges only), collapsed onto the sources×K counts sheet and
    * MATERIALIZED (it feeds the class totals, the grand total AND the
    * per-source grid — the q167 materialize-the-sheet rule); every
    * close is a window/rollup over that sheet. */
  def langKlBySource(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", srcCol: String = "source",
      trainPermille: Int = 500, buckets: Int = 8192,
      salt: String = "graft"): DataFrame = {
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val (meta, hb, consts0, sheet) =
      parts(docs, textCol, langCol, trainPermille, buckets, salt)
    // consts feeds the scoring grid AND the class support
    val consts = Dedup.materialize(consts0)
    val counts = Dedup.materialize(
      scoredRows(meta, hb, consts, sheet, heldOutOnly = false)
        .join(docs.filter(col("doc_id").isNotNull)
          .select(col("doc_id"),
            coalesce(col(srcCol), lit("unknown")).as("source")),
          Seq("doc_id"))
        .filter(col("predicted_lang").isNotNull)
        .groupBy(col("source"), col("predicted_lang"))
        .agg(count(lit(1)).as("c_bb")))
    val gb = counts.groupBy(col("predicted_lang"))
      .agg(sum(col("c_bb")).as("c_gb"))
    val tg = counts.agg(coalesce(sum(col("c_bb")), lit(0L)).as("t_g"))
    val srcs = docs.filter(col("doc_id").isNotNull)
      .select(coalesce(col(srcCol), lit("unknown")).as("source")).distinct()
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    langKlBySourceClose(
      srcs.crossJoin(
          consts.select(col("__c").as("predicted_lang"))
            .withColumn("__k", count(lit(1)).over(whole)))
        .join(broadcast(counts), Seq("source", "predicted_lang"), "left")
        .join(broadcast(gb), Seq("predicted_lang"), "left")
        .crossJoin(broadcast(tg))
        .select(col("source"), col("predicted_lang"), col("__k"),
          coalesce(col("c_bb"), lit(0L)).as("c_bb"),
          coalesce(col("c_gb"), lit(0L)).as("c_gb"),
          coalesce(col("t_g"), lit(0L)).as("t_g")))
  }

  /** [[langKlBySource]]'s STREAMING seat — per-source language KL of
    * a micro-batch against STANDING artifacts (the
    * [[Drift.klBySourceAgainstModel]] convention): arrivals score
    * through the broadcast [[langIdModelRow]] via the gate kernel
    * ([[scoreAgainstModel]] — pinned bitwise to the batch
    * arithmetic), each source's predicted-language counts spread over
    * the model's class support, and the shared
    * [[langKlBySourceClose]] closes against the standing
    * [[langDistBaseline]] row. The per-batch scorecard's lang seat
    * ([[graft.streaming.Curation.scorecardMonitor]]): zero streaming
    * state, two broadcast one-row artifacts, batch-local exchanges
    * only. A batch of standing-corpus docs against its own artifacts
    * reads bitwise [[langKlBySource]]'s sheet
    * (StreamingScorecardSpec pins it). */
  def langKlBySourceAgainstModel(batch: DataFrame, model: DataFrame,
      distRow: DataFrame, textCol: String = "text",
      srcCol: String = "source", buckets: Int = 8192): DataFrame = {
    val base = batch.filter(col("doc_id").isNotNull)
    val counts = scoreAgainstModel(base, model, textCol, buckets)
      .filter(col("predicted_lang").isNotNull)
      .groupBy(coalesce(col(srcCol), lit("unknown")).as("source"),
        col("predicted_lang"))
      .agg(count(lit(1)).as("c_bb"))
    val srcs = base
      .select(coalesce(col(srcCol), lit("unknown")).as("source")).distinct()
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    langKlBySourceClose(
      srcs.crossJoin(
          model.select(explode(col("classes")).as("predicted_lang"))
            .withColumn("__k", count(lit(1)).over(whole)))
        .join(counts, Seq("source", "predicted_lang"), "left")
        .crossJoin(broadcast(distRow))
        .select(col("source"), col("predicted_lang"), col("__k"),
          coalesce(col("c_bb"), lit(0L)).as("c_bb"),
          coalesce(element_at(col("lmap"), col("predicted_lang")), lit(0L))
            .as("c_gb"),
          coalesce(col("t_g"), lit(0L)).as("t_g")))
  }

  /** The shared split → lowered text → hashed char-trigram →
    * per-(doc, bucket) count → model chain: returns
    * (meta, hb, consts, sheet). */
  private def parts(docs: DataFrame, textCol: String, langCol: String,
      trainPermille: Int, buckets: Int, salt: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in [0,1000], got $trainPermille")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val meta = Sampling.withSplitBucket(docs, "doc_id", salt)
      .select(col("doc_id"), lower(col(textCol)).as("__text"),
        coalesce(col(langCol), lit("unknown")).as("__lang"),
        (col("__bucket") < trainPermille).as("__train"))
    val t = col("__text")
    val base = meta.filter(t.isNotNull && length(t) >= 3)
      .select(col("doc_id"), col("__train"), col("__lang"),
        explode(charTrigramB48Of(t)).as("g48"))
      .select(col("doc_id"), col("__train"), col("__lang"),
        (col("g48") % buckets.toLong).as("b"))
    // hb feeds the model sheet, the class totals, AND both held-out
    // sums — materialized so the trigram pass runs once
    val hb = Dedup.materialize(
      base.groupBy(col("doc_id"), col("__train"), col("__lang"), col("b"))
        .agg(count(lit(1)).as("occ")))
    // per-class constants: doc prior over text-bearing train docs,
    // normalizer over the class's train feature mass
    val consts = meta.filter(col("__train") && col("__text").isNotNull)
      .groupBy(col("__lang").as("__c")).agg(count(lit(1)).as("n_c"))
      .join(hb.filter(col("__train"))
        .groupBy(col("__lang").as("__c")).agg(sum(col("occ")).as("t_c")),
        Seq("__c"), "left")
      .select(col("__c"),
        expr(Mixing.log2qExpr("n_c + 1")).as("prior_q"),
        expr(Mixing.log2qExpr(s"coalesce(t_c, 0) + $buckets")).as("tlog_q"))
    // the (bucket, class) model sheet; absent cells contribute the
    // mathematically-correct 0 (= log2q(0 + 1))
    val sheet = hb.filter(col("__train"))
      .groupBy(col("b"), col("__lang").as("__c"))
      .agg(sum(col("occ")).as("cnt"))
      .select(col("b"), col("__c"),
        expr(Mixing.log2qExpr("cnt + 1")).as("lg_q"))
    (meta, hb, consts, sheet)
  }
}
