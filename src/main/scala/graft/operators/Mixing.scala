package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Temperature-scaled corpus mixing weights — the data-mixing step of
  * multi-source training-corpus assembly: given per-item sizes grouped
  * by source (or language), compute the per-group sampling weight
  * `w_i ∝ n_i^α` with `0 < α < 1`, which upsamples small sources and
  * damps dominant ones relative to natural proportion (α=1). The
  * α=1/2 square-root case is the common published choice for
  * multilingual rebalancing and gets the exactly-reproducible path.
  *
  * Determinism design (the QuerySpec contract): IEEE-754 `sqrt` is a
  * correctly-rounded required op, identical in the JVM and libm, and
  * multiplying by 2^20 only shifts the exponent — so
  * `floor(sqrt(n) * 2^20)` is a bitwise-deterministic BIGINT both
  * engines agree on. Summing THOSE integers is order-independent
  * (double sums across engine-chosen orders are not), and each output
  * weight is then a single IEEE division of exact integers. `pow`
  * (needed for general α) is NOT correctly rounded and diverges
  * across libm builds — that variant is engine-use only, never
  * oracled (the q51/q84 `ln` precedent).
  *
  * Scale shape: one map-side-combined aggregation keyed on the group
  * column, then an unpartitioned window over the per-group frame to
  * attach the totals. The window's single-partition sort touches at
  * most one row per group (thousands, not corpus rows) — the
  * alternative, re-aggregating totals on a second branch and
  * cross-joining them back, plans a SECOND full corpus scan (Spark
  * does not share the un-cached common subtree), which is the wrong
  * shape at 100 TB. Integer window sums are order-independent, so the
  * totals are still exact.
  */
object Mixing {

  private val Q = 1048576L // 2^20 — exponent-shift-only quantizer

  private val whole = org.apache.spark.sql.expressions.Window
    .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)

  /** α = 1/2 (square-root) temperature weights, exactly reproducible.
    *
    * Input: one row per ITEM with its group and integer size (e.g.
    * documents with per-doc token counts). Output: one row per group —
    * `(group, n_items, n_size, w_prop, w_temp, boost)` where `w_prop`
    * is the natural share `n_i/N`, `w_temp` the α=1/2 share, and
    * `boost = w_temp/w_prop` the up/down-sampling factor a weighted
    * sampler applies to that group.
    */
  def sqrtTemperatureWeights(items: DataFrame, groupCol: String,
      sizeCol: String): DataFrame = {
    val per = items
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("n_size"))
      .withColumn("s_q", floor(sqrt(col("n_size")) * lit(Q)).cast("long"))
    val wProp = col("n_size").cast("double") / sum(col("n_size")).over(whole)
    val wTemp = col("s_q").cast("double") / sum(col("s_q")).over(whole)
    per.select(col(groupCol), col("n_items"), col("n_size"),
      wProp.as("w_prop"), wTemp.as("w_temp"), (wTemp / wProp).as("boost"))
  }

  /** Integer sample-budget allocation over the α=1/2 weights — the
    * step AFTER [[sqrtTemperatureWeights]]: turn the per-group shares
    * into whole-document quotas summing EXACTLY to `budget`, by the
    * largest-remainder (Hamilton) method on the quantized integer
    * weights. `base_i = (budget · s_q_i) div S` floors every quota;
    * the `budget − Σ base` leftover seats go to the largest integer
    * remainders `budget · s_q_i − base_i · S`, ties broken by group
    * name ascending — every step is BIGINT arithmetic, so the plan
    * oracles bitwise (no float shares are ever allocated). Overflow
    * bound: `budget · s_q < 2^63` ⇒ with s_q ≤ 2^40 (n_size ≤ 2^40,
    * i.e. a trillion tokens per group) budgets to ~8 billion docs are
    * exact — documented, not checked; split the budget across shards
    * beyond that.
    *
    * Output: one row per group — `(group, n_items, n_size, s_q, base,
    * alloc)` with `Σ alloc = budget` whenever the corpus has nonzero
    * total weight (an all-zero-size corpus allocates nothing — no
    * evidence, no seats).
    * Scale shape: [[sqrtTemperatureWeights]]'s audited plan (one
    * map-side-combined corpus agg + unpartitioned window over the
    * per-group frame) plus rank/total windows over the SAME tiny
    * frame — nothing new touches corpus rows. */
  def sqrtAllocation(items: DataFrame, groupCol: String, sizeCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val per = items
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("n_size"))
      .withColumn("s_q", floor(sqrt(col("n_size")) * lit(Q)).cast("long"))
      .withColumn("__s", sum(col("s_q")).over(whole))
      // zero TOTAL weight (every group's size is 0) allocates NOTHING:
      // no evidence, no seats — the resampleCutRow empty-cut
      // convention, and the only branch that keeps the ANSI DIV total
      // (a plain DIV would throw DIVIDE_BY_ZERO on an all-empty-text
      // corpus)
      .withColumn("base", expr(
        s"CAST(CASE WHEN __s = 0 THEN 0 ELSE ($budget * s_q) DIV __s END AS BIGINT)"))
      .withColumn("__rem", lit(budget) * col("s_q") - col("base") * col("__s"))
      .withColumn("__left", when(col("__s") === 0L, lit(0L))
        .otherwise(lit(budget) - sum(col("base")).over(whole)))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__rem").desc, col(groupCol).asc)))
    per.select(col(groupCol), col("n_items"), col("n_size"), col("s_q"),
      col("base"),
      (col("base") + when(col("__rank") <= col("__left"), 1L).otherwise(0L))
        .as("alloc"))
  }

  /** Execute a [[sqrtAllocation]]: turn the per-group quotas into the
    * concrete keep-set — exactly `min(alloc_i, n_i)` items per group,
    * chosen by md5-hash order of the item key with the key as tiebreak
    * (the [[Sampling.capPerGroup]] ordering), so the kept set is a
    * pure function of the data: stable across runs, partitionings and
    * engines. A group smaller than its quota keeps everything (its
    * unused seats are NOT redistributed — re-run [[sqrtAllocation]]
    * on the survivors if exact-budget refill matters), so the output
    * has `Σ min(alloc_i, n_i) ≤ budget` rows.
    *
    * PRECONDITION (as [[Sampling.capPerGroup]]): `keyCol` unique
    * within each group — only then is the md5 order total and the
    * keep-set partition-independent. NULL keys are excluded from BOTH
    * the quota computation and the keep-set (one population for both
    * steps; a null has no stable identity to hash).
    *
    * Scale shape: the quota pass is [[sqrtAllocation]]'s audited plan
    * over a column-pruned second scan (group+size only — at 100 TB
    * the parquet reader prunes to two columns, so the extra pass is
    * cheap relative to materializing the full corpus); the per-group
    * quota frame (thousands of rows) broadcasts back onto the corpus,
    * and the keep-set costs ONE hash shuffle on the group key for the
    * ranking window. The rank is a BIGINT running count (no Int
    * row_number ceiling); skewed groups cost the sort of the hot
    * group, exactly the capPerGroup bound. */
  def executeSqrtAllocation(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, budget: Long, salt: String = "graft"): DataFrame = {
    val pop = items.filter(col(keyCol).isNotNull)
    val quotas = sqrtAllocation(pop, groupCol, sizeCol, budget)
      .select(col(groupCol), col("alloc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
      .rowsBetween(Long.MinValue, 0)
    pop.join(broadcast(quotas), Seq(groupCol))
      .withColumn("__rk", count(lit(1)).over(w))
      .filter(col("__rk") <= col("alloc"))
      .drop("__rk", "alloc")
  }

  /** Materialize a [[sqrtAllocation]] WITH repetition: one output row
    * per training-epoch appearance of an item, so every group emits
    * EXACTLY `alloc_i` rows even when its quota exceeds its size —
    * the sampling-with-replacement step of corpus mixing (a
    * boosted-but-small source is seen for multiple epochs). Repeats
    * are balanced: every item gets `alloc div n` base epochs and the
    * `alloc mod n` leftover epochs go to the md5-rank prefix
    * ([[executeSqrtAllocation]]'s ordering), so within a group no two
    * items' repeat counts differ by more than one, and with
    * `budget < corpus` the output degenerates to exactly
    * [[executeSqrtAllocation]]'s keep-set at `epoch = 0`. Every step
    * is BIGINT arithmetic on a total md5 order — the materialized
    * plan is a pure function of the data (same rows on any engine,
    * run, or partitioning).
    *
    * Output: the item columns plus `epoch` in `[0, reps_item)`;
    * `Σ rows per group = alloc_i`, total = budget (non-empty corpus).
    * Same PRECONDITION as [[executeSqrtAllocation]]: `keyCol` unique
    * per group; NULL keys join neither population.
    *
    * Scale shape: [[executeSqrtAllocation]]'s audited plan (pruned
    * quota pass, broadcast quota frame, ONE group-key shuffle for the
    * ranking window) plus a narrow per-row `sequence`+`explode` —
    * emitted rows are bounded by the budget, not the corpus, and no
    * new exchange is added. */
  def allocationEpochs(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, budget: Long, salt: String = "graft"): DataFrame = {
    val pop = items.filter(col(keyCol).isNotNull)
    val quotas = sqrtAllocation(pop, groupCol, sizeCol, budget)
      .select(col(groupCol), col("n_items"), col("alloc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
      .rowsBetween(Long.MinValue, 0)
    val outCols = pop.columns.toSeq
    pop.join(broadcast(quotas), Seq(groupCol))
      .withColumn("__rk", count(lit(1)).over(w))
      .withColumn("__reps",
        expr("CAST(alloc DIV n_items AS BIGINT)") +
          when(col("__rk") <= col("alloc") % col("n_items"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .select(outCols.map(col) :+
        explode(sequence(lit(0L), col("__reps") - lit(1L))).as("epoch"): _*)
  }

  /** The stride-interleave position grid: 2^62 slots. Budget-independent
    * (positions are comparable across manifests), and every stride
    * product stays strictly below it — `appearance · (GRID DIV alloc) <
    * GRID` for `appearance < alloc` — so the key arithmetic is
    * overflow-free over the FULL BIGINT budget domain (unlike the naive
    * `((2j+1)·budget) DIV (2·alloc)` form, which wraps past ~2^31
    * appearances). */
  private val InterleaveGrid = 4611686018427387904L // 2^62

  /** Deterministic mixture-interleaved TRAINING ORDER — the step after
    * [[allocationEpochs]]: every epoch-appearance of every item gets a
    * stride-scheduled global position key, so reading the manifest in
    * `(pos_key, group, appearance)` order yields a training stream in
    * which every window of every prefix carries each source at ~its
    * allocated share. This is the deterministic weighted interleave of
    * Megatron-LM's blendable dataset (Shoeybi et al. 2019, public
    * GitHub), whose greedy `argmax(weight·i − consumed)` schedule is
    * exactly stride scheduling (Waldspurger & Weihl 1995) in closed
    * form: appearance j of a source with quota `alloc` lands at grid
    * slot `j·S + S DIV 2` with stride `S = GRID DIV alloc` — the
    * `(2j+1)/(2·alloc)` low-discrepancy lattice on a 2^62-slot grid. A
    * plain md5-shuffle gives the right mix only in expectation; the
    * stride lattice guarantees it per prefix: a prefix of P grid slots
    * holds `⌊(P − S/2)/S⌋ + 1 ≈ P·alloc/GRID` appearances of each
    * source, off by at most 1 + alloc²/2^62 (the flooring of S drifts
    * the lattice by < j slots ≤ alloc slots total, i.e. < alloc²/2^62
    * appearance counts — zero below ~2^31-doc quotas, vanishing above).
    *
    * Within a source the order is epoch-major over the md5-rank lattice
    * (`appearance = epoch·n_items + rank−1`, a bijection onto
    * [0, alloc)): each epoch is one full md5-ordered pass, so repeats
    * of a doc sit ~n_items apart — the repeat spacing Muennighoff et
    * al. 2023 assume when equating repeated and fresh data at low
    * epoch counts. Every step is BIGINT arithmetic on the q102 total
    * order — same manifest on any engine, run, or partitioning. Grid
    * ties across sources (equal allocs share a stride) break by
    * `(group, appearance)` at read time; the manifest itself is
    * unordered (a trainer range-partitions by pos_key when writing —
    * a global SORT of budget rows is deliberately NOT part of the
    * operator).
    *
    * Output: the item columns plus `(epoch, appearance, pos_key)`;
    * exactly `alloc_i` rows per group, `Σ = budget` (non-empty corpus).
    * PRECONDITION as [[executeSqrtAllocation]]: `keyCol` unique per
    * group; NULL keys join neither population.
    *
    * Scale shape: [[allocationEpochs]]' audited plan — pruned quota
    * pass, broadcast quota frame, ONE group-key shuffle for the
    * ranking window — plus per-row key arithmetic on the exploded
    * appearances; emitted rows are budget-bounded and nothing else is
    * added (no global sort, no second corpus exchange). */
  def interleaveManifest(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, budget: Long, salt: String = "graft"): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val pop = items.filter(col(keyCol).isNotNull)
    val quotas = sqrtAllocation(pop, groupCol, sizeCol, budget)
      .select(col(groupCol), col("n_items"), col("alloc"))
    manifestOverQuotas(pop, keyCol, groupCol, quotas, salt)
  }

  /** The stride-manifest TAIL shared by [[interleaveManifest]] and
    * [[cappedInterleaveManifest]] — broadcast quota join, the q102
    * md5-rank window, epoch-major appearance explode, and the grid
    * stride keys — ONE textual definition so the capped order cannot
    * drift from the uncapped one (at cap = ∞ the two are bitwise
    * identical by construction; MixingSpec pins it). `quotas` must
    * carry `(groupCol, n_items, alloc)`. Zero-alloc groups emit no
    * rows (filtered before the stride division, so `GRID DIV 0` is
    * never evaluated). */
  private def manifestOverQuotas(pop: DataFrame, keyCol: String,
      groupCol: String, quotas: DataFrame, salt: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
      .rowsBetween(Long.MinValue, 0)
    val outCols = pop.columns.toSeq
    pop.join(broadcast(quotas), Seq(groupCol))
      .withColumn("__rk", count(lit(1)).over(w))
      .withColumn("__reps",
        expr("CAST(alloc DIV n_items AS BIGINT)") +
          when(col("__rk") <= col("alloc") % col("n_items"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__reps") - lit(1L))))
      .withColumn("appearance",
        col("epoch") * col("n_items") + col("__rk") - lit(1L))
      .withColumn("__stride", expr(s"CAST($InterleaveGrid DIV alloc AS BIGINT)"))
      .select(outCols.map(col) ++ Seq(col("epoch"), col("appearance"),
        (col("appearance") * col("__stride") +
          expr("CAST(__stride DIV 2 AS BIGINT)")).as("pos_key")): _*)
  }

  /** Epoch-CEILING-capped [[sqrtAllocation]] — the enforcement member
    * of the q173 epoch plan: cap every group's quota at
    * `cap_i = (maxEpochs64 · n_items_i) DIV 64` (the Muennighoff et
    * al. 2023 repeat ceiling at item granularity — repeated data
    * decays in value past ~4 epochs, the default 256/64) and
    * REDISTRIBUTE the stranded budget over the uncapped survivors by
    * the same largest-remainder rule, iterated to fixpoint. Each
    * round: the capped groups hold their caps, the residual budget
    * `budget − Σ_capped cap` Hamilton-allocates over the uncapped
    * groups' s_q weights (base = floor share, leftover seats by
    * remainder DESC then group ASC — [[sqrtAllocation]]'s exact
    * arithmetic), and any group pushed STRICTLY above its cap joins
    * the capped set. The capped set grows monotonically, so the
    * iteration terminates in ≤ groups rounds (each non-final round
    * caps ≥ 1 new group); in practice a handful — the sf0.01 corpus
    * converges in ≤ 4. At fixpoint no uncapped group exceeds its
    * ceiling and `Σ alloc = budget` whenever uncapped nonzero weight
    * remains (Hamilton conserves the residual); when EVERY group is
    * capped (the q173 infeasible regime) `Σ alloc = Σ cap < budget`
    * and the stranded mass reads off the sheet as `budget − Σ alloc`.
    * `maxEpochs64 = ∞` (any value making every cap ≥ budget) is
    * bitwise [[sqrtAllocation]]: round 1 finds no violator and the
    * allocation is the uncapped Hamilton (MixingSpec pins it).
    *
    * All BIGINT — the whole fixpoint oracles bitwise (the q179 oracle
    * replays it as a recursive CTE). Overflow headroom: the
    * [[sqrtAllocation]] bound (`budget · s_q < 2^63`) plus
    * `maxEpochs64 · n_items < 2^63` — documented, not checked.
    *
    * Output: one row per group — `(group, n_items, n_size, s_q, cap,
    * alloc, capped)` with `alloc ≤ cap` always and `capped` a 0/1
    * BIGINT flag.
    *
    * Scale shape (100 TB): the corpus aggregates ONCE into the
    * materialized per-group sheet ([[sqrtAllocation]]'s map-side
    * combine); every fixpoint round is windows over that SHEET
    * (sources-sized — thousands of rows, never corpus rows) plus one
    * sheet-sized any-violator action, the [[graft.operators.Phrases]]
    * bounded-driver-loop precedent. Rounds do not scale with corpus
    * size — only with the depth of the cap cascade (≤ groups), and
    * each round SERIALIZES as its own Spark job (a driver `while`
    * with a sheet-sized `.count()` probe): the pathological case is a
    * strictly-decreasing weight staircase where every round caps
    * exactly one group — `groups` serialized sheet-window jobs, each
    * milliseconds at thousands of sources (EdgeCasesSpec proves
    * termination and budget conservation at that bound). Keep the
    * group key at `source` granularity; a per-document group key
    * would make the bound — and the sheet — corpus-sized. */
  def cappedAllocation(items: DataFrame, groupCol: String, sizeCol: String,
      budget: Long, maxEpochs64: Long = 256L): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(maxEpochs64 >= 1, s"maxEpochs64 must be positive, got $maxEpochs64")
    graft.GraftSession.ensureConfs(items.sparkSession)
    val per = Dedup.materialize(items
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("n_size"))
      .withColumn("s_q", floor(sqrt(col("n_size")) * lit(Q)).cast("long"))
      .withColumn("cap", expr(s"CAST(($maxEpochs64 * n_items) DIV 64 AS BIGINT)")))
    var state = per
      .withColumn("capped", lit(false))
      .withColumn("alloc", lit(0L))
    var anyViolator = true
    while (anyViolator) {
      val next = Dedup.materialize(cappedRound(state, groupCol, budget))
      // sheet-sized any-violator probe (the bounded BPE-loop idiom);
      // `next` is materialized, so the probe re-reads cached rows
      anyViolator = next.filter(col("__viol")).limit(1).count() > 0
      state = next
        .withColumn("capped", col("capped") || col("__viol"))
        .withColumn("alloc",
          when(col("capped") || col("__viol"), col("cap")).otherwise(col("alloc")))
        .drop("__viol")
    }
    state.select(col(groupCol), col("n_items"), col("n_size"), col("s_q"),
      col("cap"), col("alloc"),
      when(col("capped"), 1L).otherwise(0L).as("capped"))
  }

  /** One [[cappedAllocation]] round over the state sheet `(group,
    * n_items, n_size, s_q, cap, capped, alloc)`: capped groups hold
    * their caps, the residual budget Hamilton-allocates over the
    * uncapped, and `__viol` marks groups pushed strictly above their
    * cap this round. All windows run over the sources-sized sheet. */
  private def cappedRound(state: DataFrame, groupCol: String,
      budget: Long): DataFrame =
    state
      .withColumn("__su",
        sum(when(col("capped"), 0L).otherwise(col("s_q"))).over(whole))
      .withColumn("__bres", lit(budget) -
        sum(when(col("capped"), col("cap")).otherwise(0L)).over(whole))
      .withColumn("__base", when(col("capped"), lit(null).cast("long"))
        .otherwise(expr(
          "CAST(CASE WHEN __su = 0 THEN 0 ELSE (__bres * s_q) DIV __su END AS BIGINT)")))
      .withColumn("__rem",
        col("__bres") * col("s_q") - col("__base") * col("__su"))
      .withColumn("__left", when(col("__su") === 0L, lit(0L))
        .otherwise(col("__bres") -
          sum(when(col("capped"), 0L).otherwise(col("__base"))).over(whole)))
      // uncapped first (false < true), then the Hamilton remainder
      // order; capped rows carry NULL __rem and sort last either way
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("capped").asc, col("__rem").desc_nulls_last,
            col(groupCol).asc)))
      .withColumn("alloc", when(col("capped"), col("cap"))
        .otherwise(col("__base") +
          when(col("__rank") <= col("__left"), 1L).otherwise(0L)))
      .withColumn("__viol", !col("capped") && col("alloc") > col("cap"))
      .select(col(groupCol), col("n_items"), col("n_size"), col("s_q"),
        col("cap"), col("capped"), col("alloc"), col("__viol"))

  /** [[interleaveManifest]] with the q173 epoch ceiling ENFORCED — the
    * training order shipped when a √-mass-boosted tiny source must not
    * repeat past the decay regime: quotas come from
    * [[cappedAllocation]] (caps + iterated-Hamilton redistribution)
    * and the stride-manifest tail is [[interleaveManifest]]'s own
    * ([[manifestOverQuotas]] — one textual definition). Per group at
    * most `(maxEpochs64 · n_items) DIV 64` appearances, i.e. no item
    * repeats more than ⌈maxEpochs64/64⌉ epochs; `Σ rows = budget`
    * whenever uncapped nonzero weight remains, `Σ cap < budget` rows
    * in the all-capped infeasible regime (the stranded budget is the
    * q173 sheet's `unused` signal — audit it before training). At
    * `maxEpochs64 = ∞` this is bitwise [[interleaveManifest]].
    *
    * Output: the item columns plus `(epoch, appearance, pos_key)`.
    * Scale shape: [[cappedAllocation]]'s one corpus agg + sheet-round
    * fixpoint, then [[interleaveManifest]]'s audited tail (broadcast
    * quotas, ONE group-key shuffle, budget-bounded explode — no
    * global sort). */
  def cappedInterleaveManifest(items: DataFrame, keyCol: String,
      groupCol: String, sizeCol: String, budget: Long,
      maxEpochs64: Long = 256L, salt: String = "graft"): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val pop = items.filter(col(keyCol).isNotNull)
    val quotas = cappedAllocation(pop, groupCol, sizeCol, budget, maxEpochs64)
      .select(col(groupCol), col("n_items"), col("alloc"))
    manifestOverQuotas(pop, keyCol, groupCol, quotas, salt)
  }

  /** Incremental member for the interleave family — the q178
    * frozen-decision convention applied to [[interleaveManifest]],
    * completing the incremental set (q68 minhash, q82 IVF, q105
    * clusters, q109 BPE, q114 SemDeDup, q119 boilerplate, q178
    * cluster sample): admit an incoming batch into a STANDING
    * training order without re-keying it. The standing corpus fixes
    * the per-group quotas and strides (the frozen manifest); its
    * REPEAT slots — appearances `n_standing … alloc−1`, the epoch ≥ 1
    * re-reads of standing docs — are the residual capacity, and a
    * fresh arrival is worth strictly more than a repeat at low epoch
    * counts (Muennighoff et al. 2023), so arrivals PATCH those slots:
    * batch item at md5-cohort rank r takes appearance
    * `n_standing + r − 1` (earliest residual slot first — fresh data
    * surfaces as early in the order as the frozen schedule allows),
    * keeping the slot's frozen pos_key; the loader swaps the slot's
    * content by position key. Admission stops at the residual
    * capacity `max(alloc − n_standing, 0)`; a group ABSENT from the
    * standing census admits nothing (the q178 rule: a frozen
    * allocation admits nothing outside its census), and the rejected
    * mass is the q82 refresh signal — enough of it means re-run the
    * full q170 interleave.
    *
    * Output: one row per batch item — the item columns plus
    * `(batch_rank, kept, epoch, appearance, pos_key)`; `epoch` is the
    * slot's standing epoch index (`appearance DIV n_standing`, ≥ 1 by
    * construction), and the three slot columns are NULL on rejected
    * rows. All BIGINT on the q102 md5 total order — bitwise oracle
    * (q182). PRECONDITION as [[executeSqrtAllocation]]: `keyCol`
    * unique across standing ∪ batch; NULL keys join neither side.
    *
    * Scale shape (100 TB): the standing quota pass is
    * [[sqrtAllocation]]'s audited plan over a column-pruned scan; the
    * quota sheet BROADCASTS onto the batch; the only new exchange is
    * the BATCH's group-key shuffle for the cohort rank — batch-sized,
    * never standing-corpus-sized. The standing manifest itself is
    * never read or re-keyed — exactly the point of the frozen
    * member. */
  def interleaveIncrement(standing: DataFrame, incoming: DataFrame,
      keyCol: String, groupCol: String, sizeCol: String, budget: Long,
      salt: String = "graft"): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val pop = standing.filter(col(keyCol).isNotNull)
    val quotas = sqrtAllocation(pop, groupCol, sizeCol, budget)
      .select(col(groupCol), col("n_items"), col("alloc"))
    incrementOverQuotas(quotas, incoming, keyCol, groupCol, salt)
  }

  /** [[interleaveIncrement]] for a standing CAPPED order — the
    * increment member the q179/q183 enforcement made necessary:
    * patching a [[cappedInterleaveManifest]] with the uncapped
    * increment would freeze the WRONG allocation (the cap
    * redistributes quotas, so the derived strides and pos_keys would
    * not exist in the frozen manifest). Here the frozen quotas come
    * from [[cappedAllocation]] with the SAME `maxEpochs64` the
    * standing order was built with, and the admission tail is
    * [[interleaveIncrement]]'s own (one textual definition — at
    * `maxEpochs64 = ∞` the two members are bitwise identical;
    * MixingSpec pins it). Note the cap also bounds the residual
    * capacity: a capped group's repeat slots are
    * `cap − n_standing ≤ (maxEpochs64/64 − 1)·n_standing`, so
    * arrivals can never push a frozen group past its epoch ceiling.
    * Scale shape: [[cappedAllocation]]'s one pruned corpus agg +
    * sheet-round fixpoint for the quota sheet, then the increment's
    * audited tail (broadcast quotas, ONE batch-sized group-key
    * shuffle); the standing manifest is never read or re-keyed. */
  def cappedInterleaveIncrement(standing: DataFrame, incoming: DataFrame,
      keyCol: String, groupCol: String, sizeCol: String, budget: Long,
      maxEpochs64: Long = 256L, salt: String = "graft"): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val pop = standing.filter(col(keyCol).isNotNull)
    val quotas = cappedAllocation(pop, groupCol, sizeCol, budget, maxEpochs64)
      .select(col(groupCol), col("n_items"), col("alloc"))
    incrementOverQuotas(quotas, incoming, keyCol, groupCol, salt)
  }

  /** The admission TAIL shared by [[interleaveIncrement]] and
    * [[cappedInterleaveIncrement]] — batch cohort rank, residual-slot
    * admission, frozen epoch/appearance/pos_key arithmetic — ONE
    * textual definition so the capped increment cannot drift from the
    * uncapped one. `quotas` must carry `(groupCol, n_items, alloc)` —
    * the allocation the standing order was actually built with. */
  private def incrementOverQuotas(quotas: DataFrame, incoming: DataFrame,
      keyCol: String, groupCol: String, salt: String): DataFrame = {
    val newPop = incoming.filter(col(keyCol).isNotNull)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
      .rowsBetween(Long.MinValue, 0)
    val outCols = newPop.columns.toSeq
    newPop.join(broadcast(quotas), Seq(groupCol), "left")
      .withColumn("batch_rank", count(lit(1)).over(w))
      .withColumn("kept",
        when(col("alloc").isNotNull &&
          col("batch_rank") <= col("alloc") - col("n_items"), 1L)
          .otherwise(0L))
      .withColumn("appearance",
        when(col("kept") === 1L, col("n_items") + col("batch_rank") - lit(1L)))
      // kept = 1 implies alloc > n_items ≥ 1, so the stride division
      // is only ever evaluated on a positive alloc
      .select(outCols.map(col) ++ Seq(col("batch_rank"), col("kept"),
        expr("CASE WHEN kept = 1 THEN appearance DIV n_items END").as("epoch"),
        col("appearance"),
        expr(s"""CASE WHEN kept = 1 THEN
                 |  appearance * ($InterleaveGrid DIV alloc)
                 |    + ($InterleaveGrid DIV alloc) DIV 2
                 |END""".stripMargin).as("pos_key")): _*)
  }

  /** The [[interleaveManifest]] ACCEPTANCE SHEET — per position block,
    * is the training stream actually mixed at the allocated shares?
    * The grid is cut into `nBlocks` equal slices (map-side — pos_key
    * is already a grid coordinate, so no global rank is ever
    * computed) and each `(block, group)` cell reports its appearance
    * count, its within-block share, the group's allocated target
    * share, and the signed deviation — the number a trainer checks
    * before shipping shards, because a badly mixed order shows up as
    * loss spikes only after GPUs are spent. Shares are exact 2^20
    * fixed-point floor divisions of the manifest's own counts (the
    * alloc targets are re-derived from the manifest by summation, not
    * re-joined from the quota pass — one definition, nothing to
    * drift). Empty corpus → empty sheet.
    *
    * Output: `(block, group, n_appearances, share_q, target_q, dev_q)`
    * with `share_q = n·2^20 DIV block_total`, `target_q = alloc·2^20
    * DIV budget_total`, `dev_q = share_q − target_q`; the stride
    * lattice bounds `|dev_q|` by ~2^20·(nGroups/block_total) (±1
    * appearance per group per block edge).
    *
    * Scale shape: the manifest's audited plan, a map-side block
    * projection, ONE map-side-combined (block, group) aggregation, and
    * three windows over the resulting nBlocks×nGroups SHEET (hundreds
    * of rows at any corpus size — the deliberate sheet-sized-total
    * pattern the plan-hygiene net whitelists). */
  def interleaveMixAudit(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, budget: Long, nBlocks: Int = 16,
      salt: String = "graft"): DataFrame =
    mixAuditOverManifest(
      interleaveManifest(items, keyCol, groupCol, sizeCol, budget, salt),
      groupCol, nBlocks)

  /** [[interleaveMixAudit]] for the CAPPED order — the acceptance
    * sheet over [[cappedInterleaveManifest]], closing the audit gap
    * the enforcement member opened: the cap CHANGES the targets
    * (stranded budget redistributes onto the open survivors), so the
    * uncapped q171 sheet cannot accept a capped manifest — but the
    * audit re-derives targets from the manifest by SUMMATION (the
    * one-definition rule), so lifting it is exactly
    * [[mixAuditOverManifest]] over the capped order. At
    * `maxEpochs64 = ∞` bitwise [[interleaveMixAudit]] (MixingSpec
    * pins it). Scale shape: the capped manifest's audited plan + the
    * sheet rollup — nothing new touches corpus rows. */
  def cappedInterleaveMixAudit(items: DataFrame, keyCol: String,
      groupCol: String, sizeCol: String, budget: Long,
      maxEpochs64: Long = 256L, nBlocks: Int = 16,
      salt: String = "graft"): DataFrame =
    mixAuditOverManifest(
      cappedInterleaveManifest(items, keyCol, groupCol, sizeCol, budget,
        maxEpochs64, salt),
      groupCol, nBlocks)

  /** The audit ROLLUP over ANY stride manifest — the sheet half of
    * [[interleaveMixAudit]], parameterized over the manifest so every
    * member of the order family (uncapped q170, capped q179, a
    * policy-acted composition) ships the same acceptance sheet:
    * targets are re-derived from the manifest's own counts by
    * summation, never re-joined from a quota pass, so the sheet
    * accepts whatever allocation actually shipped. `manifest` must
    * carry `(groupCol, pos_key)` with pos_key on the full 2^62 grid.
    * Scale shape: a map-side block projection, ONE map-side-combined
    * (block, group) agg, three windows over the nBlocks×groups
    * SHEET. */
  def mixAuditOverManifest(manifest: DataFrame, groupCol: String,
      nBlocks: Int = 16): DataFrame = {
    require(nBlocks >= 1 && nBlocks <= 65536,
      s"nBlocks must be in [1, 65536], got $nBlocks")
    val wBlock = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).rowsBetween(Long.MinValue, Long.MaxValue)
    val wGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).rowsBetween(Long.MinValue, Long.MaxValue)
    manifest
      // block = pos_key DIV (GRID DIV nBlocks): divide by the block
      // width rather than multiplying pos_key (pos_key·nBlocks would
      // overflow BIGINT); the last block absorbs the DIV remainder
      // slots (exact split whenever nBlocks is a power of two)
      .select(col(groupCol),
        least(
          expr(s"CAST(pos_key DIV (${InterleaveGrid}L DIV $nBlocks) AS BIGINT)"),
          lit(nBlocks - 1L)).as("block"))
      .groupBy(col("block"), col(groupCol))
      .agg(count(lit(1)).as("n_appearances"))
      .withColumn("__bt", sum(col("n_appearances")).over(wBlock))
      .withColumn("__alloc", sum(col("n_appearances")).over(wGroup))
      .withColumn("__tot", sum(col("n_appearances")).over(whole))
      .select(col("block"), col(groupCol), col("n_appearances"),
        expr("CAST((n_appearances * 1048576) DIV __bt AS BIGINT)").as("share_q"),
        expr("CAST((__alloc * 1048576) DIV __tot AS BIGINT)").as("target_q"))
      .withColumn("dev_q", col("share_q") - col("target_q"))
  }

  /** Curriculum PHASED interleave — [[interleaveManifest]] with a
    * training-phase dimension: the caller tags every item with a
    * phase index in `[0, nPhases)` (read order: phase 0 first — e.g.
    * q125's LM-quality tail→middle→head, the anneal-the-cleanest-last
    * curriculum many pipelines run), the 2^62 grid splits into
    * `nPhases` equal slices, and each phase stride-interleaves its
    * own slice. Phase budgets are the PROPORTIONAL (α=1) Hamilton
    * split of the total budget over phase size mass — the curriculum
    * reorders, it does not rebalance phases (rebalancing is the
    * α=1/2 step's job WITHIN each phase, where the per-source
    * sqrt-Hamilton runs exactly as q170). Every step is the q170
    * arithmetic with (phase, group) keys: appearance = epoch·n_items
    * + rank−1 within (phase, group), stride S = (GRID DIV nPhases)
    * DIV alloc, pos_key = phase·(GRID DIV nPhases) + appearance·S +
    * S DIV 2 — strictly inside the phase's slice (appearance·S + S/2
    * < alloc·S ≤ GRID DIV nPhases), so phases can NEVER interleave
    * with each other and within a phase every prefix carries every
    * source at its allocated share. NULL keys join no population;
    * NULL/out-of-range phases are the caller's bug (require-d on the
    * declared range at plan level is impossible — they form their own
    * slice arithmetic and are excluded by the [0, nPhases) filter,
    * documented).
    *
    * Output: the item columns plus `(epoch, appearance, pos_key)`.
    * Scale shape: ONE extra sheet pass over q170's audited plan (the
    * P-row phase-budget Hamilton and the (phase, group)-keyed quota
    * sheet are both tiny); the ranking window keys on
    * (phase, group) — strictly finer partitions than q170's own. */
  def phasedInterleave(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, phaseCol: String, nPhases: Int, budget: Long,
      salt: String = "graft"): DataFrame = {
    require(nPhases >= 1 && nPhases <= 1048576,
      s"nPhases must be in [1, 2^20], got $nPhases")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val pop = phasedPop(items, keyCol, phaseCol, nPhases)
    val budgets = phaseBudgetsOf(pop, sizeCol, phaseCol, budget)
    // per-(phase, source) sqrt-Hamilton within each phase's budget
    val wPhase = org.apache.spark.sql.expressions.Window.partitionBy(col("__p"))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val quotas = pop
      .groupBy(col(phaseCol).cast("long").as("__p"), col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("__gm"))
      .withColumn("s_q", floor(sqrt(col("__gm")) * lit(Q)).cast("long"))
      .withColumn("__s", sum(col("s_q")).over(wPhase))
      .join(broadcast(budgets), Seq("__p"))
      .withColumn("base", expr(
        "CAST(CASE WHEN __s = 0 THEN 0 ELSE (__pbudget * s_q) DIV __s END AS BIGINT)"))
      .withColumn("__rem", col("__pbudget") * col("s_q") - col("base") * col("__s"))
      .withColumn("__left", when(col("__s") === 0L, lit(0L))
        .otherwise(col("__pbudget") - sum(col("base")).over(wPhase)))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__p"))
          .orderBy(col("__rem").desc, col(groupCol).asc)))
      .select(col("__p"), col(groupCol), col("n_items"),
        (col("base") + when(col("__rank") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
    phasedManifestOverQuotas(pop, keyCol, groupCol, phaseCol, nPhases,
      quotas, salt)
  }

  /** The phased population: non-null keys, phases inside
    * [0, nPhases). */
  private def phasedPop(items: DataFrame, keyCol: String,
      phaseCol: String, nPhases: Int): DataFrame =
    items.filter(col(keyCol).isNotNull &&
      col(phaseCol) >= 0L && col(phaseCol) < nPhases.toLong)

  /** Phase budgets: proportional Hamilton over phase size mass (ties
    * by phase index ascending; zero total mass → zero seats, the
    * [[sqrtAllocation]] convention). Returns `(__p, __pbudget)`. */
  private def phaseBudgetsOf(pop: DataFrame, sizeCol: String,
      phaseCol: String, budget: Long): DataFrame = {
    val wholeW = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    pop
      .groupBy(col(phaseCol).cast("long").as("__p"))
      .agg(sum(col(sizeCol)).cast("long").as("__pm"))
      .withColumn("__tm", sum(col("__pm")).over(wholeW))
      .withColumn("__pb", expr(
        s"CAST(CASE WHEN __tm = 0 THEN 0 ELSE ($budget * __pm) DIV __tm END AS BIGINT)"))
      .withColumn("__prem", lit(budget) * col("__pm") - col("__pb") * col("__tm"))
      .withColumn("__pleft", when(col("__tm") === 0L, lit(0L))
        .otherwise(lit(budget) - sum(col("__pb")).over(wholeW)))
      .withColumn("__prk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__prem").desc, col("__p").asc)))
      .select(col("__p"),
        (col("__pb") + when(col("__prk") <= col("__pleft"), 1L).otherwise(0L))
          .as("__pbudget"))
  }

  /** The phase-sliced stride-manifest TAIL shared by
    * [[phasedInterleave]] and [[cappedPhasedInterleave]] — the
    * (phase, group)-keyed twin of [[manifestOverQuotas]], ONE textual
    * definition so the capped curriculum cannot drift from the
    * uncapped one. `quotas` must carry `(__p, groupCol, n_items,
    * alloc)`. */
  private def phasedManifestOverQuotas(pop: DataFrame, keyCol: String,
      groupCol: String, phaseCol: String, nPhases: Int,
      quotas: DataFrame, salt: String): DataFrame = {
    val slice = InterleaveGrid / nPhases
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p"), col(groupCol))
      .orderBy(md5(concat(lit(salt), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
      .rowsBetween(Long.MinValue, 0)
    val outCols = pop.columns.toSeq
    pop.withColumn("__p", col(phaseCol).cast("long"))
      .join(broadcast(quotas), Seq("__p", groupCol))
      .withColumn("__rk", count(lit(1)).over(w))
      .withColumn("__reps",
        expr("CAST(alloc DIV n_items AS BIGINT)") +
          when(col("__rk") <= col("alloc") % col("n_items"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__reps") - lit(1L))))
      .withColumn("appearance",
        col("epoch") * col("n_items") + col("__rk") - lit(1L))
      .withColumn("__stride", expr(s"CAST($slice DIV alloc AS BIGINT)"))
      .select(outCols.map(col) ++ Seq(col("epoch"), col("appearance"),
        (col("__p") * lit(slice) + col("appearance") * col("__stride") +
          expr("CAST(__stride DIV 2 AS BIGINT)")).as("pos_key")): _*)
  }

  /** [[phasedInterleave]] with the q173 epoch ceiling ENFORCED inside
    * every phase — [[cappedInterleaveManifest]]'s rule lifted to the
    * curriculum: per (phase, source) cohort the quota caps at
    * `(maxEpochs64 · n_items) DIV 64`, and each phase's stranded
    * budget redistributes over ITS OWN uncapped survivors by the
    * largest-remainder rule iterated to fixpoint (phases never trade
    * budget — the curriculum's phase split is the proportional
    * Hamilton, untouched by the cap; a fully-capped phase strands its
    * residual visibly as missing rows). The fixpoint loop runs all
    * phases together — every round is phase-partitioned windows over
    * the ONE materialized (phase, source) sheet, and the capped set
    * grows monotonically across the union, so rounds are bounded by
    * the deepest single-phase cascade. At `maxEpochs64 = ∞` this is
    * bitwise [[phasedInterleave]]; at `nPhases = 1` it is bitwise
    * [[cappedInterleaveManifest]] (MixingSpec pins both).
    *
    * Output: the item columns plus `(epoch, appearance, pos_key)`.
    * All BIGINT → bitwise oracle (q183: the q177 chain with the
    * per-phase fixpoint as a phase-partitioned recursive CTE).
    * Scale shape: [[phasedInterleave]]'s audited plan with the quota
    * pass replaced by sheet-round fixpoint windows (strictly finer
    * (phase,) partitions than q179's own) — nothing corpus-sized
    * moves that the uncapped curriculum didn't already move. */
  def cappedPhasedInterleave(items: DataFrame, keyCol: String,
      groupCol: String, sizeCol: String, phaseCol: String, nPhases: Int,
      budget: Long, maxEpochs64: Long = 256L,
      salt: String = "graft"): DataFrame = {
    require(nPhases >= 1 && nPhases <= 1048576,
      s"nPhases must be in [1, 2^20], got $nPhases")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(maxEpochs64 >= 1, s"maxEpochs64 must be positive, got $maxEpochs64")
    graft.GraftSession.ensureConfs(items.sparkSession)
    val pop = phasedPop(items, keyCol, phaseCol, nPhases)
    val budgets = phaseBudgetsOf(pop, sizeCol, phaseCol, budget)
    val per = Dedup.materialize(pop
      .groupBy(col(phaseCol).cast("long").as("__p"), col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("__gm"))
      .withColumn("s_q", floor(sqrt(col("__gm")) * lit(Q)).cast("long"))
      .withColumn("cap", expr(s"CAST(($maxEpochs64 * n_items) DIV 64 AS BIGINT)"))
      .join(broadcast(budgets), Seq("__p")))
    var state = per
      .withColumn("capped", lit(false))
      .withColumn("alloc", lit(0L))
    var anyViolator = true
    while (anyViolator) {
      val next = Dedup.materialize(phasedCappedRound(state, groupCol))
      anyViolator = next.filter(col("__viol")).limit(1).count() > 0
      state = next
        .withColumn("capped", col("capped") || col("__viol"))
        .withColumn("alloc",
          when(col("capped") || col("__viol"), col("cap")).otherwise(col("alloc")))
        .drop("__viol")
    }
    val quotas = state.select(col("__p"), col(groupCol), col("n_items"),
      col("alloc"))
    phasedManifestOverQuotas(pop, keyCol, groupCol, phaseCol, nPhases,
      quotas, salt)
  }

  /** One [[cappedPhasedInterleave]] round — [[cappedRound]]'s
    * arithmetic with every window PARTITIONED BY phase and the budget
    * read from the sheet's own `__pbudget` column. State sheet:
    * `(__p, group, n_items, __gm, s_q, cap, __pbudget, capped,
    * alloc)`. */
  private def phasedCappedRound(state: DataFrame,
      groupCol: String): DataFrame = {
    val wPhase = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).rowsBetween(Long.MinValue, Long.MaxValue)
    state
      .withColumn("__su",
        sum(when(col("capped"), 0L).otherwise(col("s_q"))).over(wPhase))
      .withColumn("__bres", col("__pbudget") -
        sum(when(col("capped"), col("cap")).otherwise(0L)).over(wPhase))
      .withColumn("__base", when(col("capped"), lit(null).cast("long"))
        .otherwise(expr(
          "CAST(CASE WHEN __su = 0 THEN 0 ELSE (__bres * s_q) DIV __su END AS BIGINT)")))
      .withColumn("__rem",
        col("__bres") * col("s_q") - col("__base") * col("__su"))
      .withColumn("__left", when(col("__su") === 0L, lit(0L))
        .otherwise(col("__bres") -
          sum(when(col("capped"), 0L).otherwise(col("__base"))).over(wPhase)))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__p"))
          .orderBy(col("capped").asc, col("__rem").desc_nulls_last,
            col(groupCol).asc)))
      .withColumn("alloc", when(col("capped"), col("cap"))
        .otherwise(col("__base") +
          when(col("__rank") <= col("__left"), 1L).otherwise(0L)))
      .withColumn("__viol", !col("capped") && col("alloc") > col("cap"))
      .select(col("__p"), col(groupCol), col("n_items"), col("__gm"),
        col("s_q"), col("cap"), col("__pbudget"), col("capped"),
        col("alloc"), col("__viol"))
  }

  /** The [[phasedInterleave]] ACCEPTANCE SHEET — the family
    * convention that every APPLY ships its evidence (q147 for the
    * classifier, q166 for the policy, q168/q171 for resample and
    * interleave), closing the one member that shipped without it:
    * per (phase, block, group), is each PHASE SLICE of the curriculum
    * internally mixed at its allocated shares? Each phase's grid
    * slice is cut into `nBlocks` equal sub-slices MAP-SIDE (pos_key
    * is a grid coordinate; `block = (pos_key − phase·slice) DIV
    * (slice DIV nBlocks)`, last block absorbing the remainder) and
    * every cell reports its appearance count, its within-block
    * share, the group's allocated share WITHIN THAT PHASE, and the
    * signed deviation — targets re-derived from the manifest by
    * summation, not re-joined from the quota pass (the q171
    * one-definition rule). A bad phase mix is otherwise invisible
    * until training: phases never interleave with each other, so
    * only this per-phase reading can catch a slice that degenerated
    * to a provenance-sorted slab. Shares are exact 2^20 fixed-point
    * floor divisions — bitwise oracle (q180). Empty corpus → empty
    * sheet.
    *
    * Output: `(phaseCol, block, group, n_appearances, share_q,
    * target_q, dev_q)` with `share_q = n·2^20 DIV block_total`,
    * `target_q = phase_alloc·2^20 DIV phase_total`; the stride
    * lattice bounds `|dev_q|` at ±1 appearance per group per block
    * edge within each phase.
    *
    * Scale shape: the manifest's audited plan (q177), a map-side
    * block projection, ONE map-side-combined (phase, block, group)
    * aggregation, and three windows over the resulting
    * nPhases×nBlocks×groups SHEET — the deliberate sheet-sized
    * pattern the plan net whitelists. */
  def phasedMixAudit(items: DataFrame, keyCol: String, groupCol: String,
      sizeCol: String, phaseCol: String, nPhases: Int, budget: Long,
      nBlocks: Int = 16, salt: String = "graft"): DataFrame =
    phasedMixAuditOverManifest(
      phasedInterleave(items, keyCol, groupCol, sizeCol, phaseCol, nPhases,
        budget, salt),
      groupCol, phaseCol, nPhases, nBlocks)

  /** [[phasedMixAudit]] for the CAPPED curriculum — the acceptance
    * sheet over [[cappedPhasedInterleave]], the phased twin of
    * [[cappedInterleaveMixAudit]]: the per-phase cap cascade changes
    * each phase's within-phase targets, and since the audit re-derives
    * them from the manifest by summation (the q171 one-definition
    * rule) the lift is [[phasedMixAuditOverManifest]] over the capped
    * order. At `maxEpochs64 = ∞` bitwise [[phasedMixAudit]]
    * (MixingSpec pins it). Scale shape: the capped curriculum's
    * audited plan + the sheet rollup. */
  def cappedPhasedMixAudit(items: DataFrame, keyCol: String,
      groupCol: String, sizeCol: String, phaseCol: String, nPhases: Int,
      budget: Long, maxEpochs64: Long = 256L, nBlocks: Int = 16,
      salt: String = "graft"): DataFrame =
    phasedMixAuditOverManifest(
      cappedPhasedInterleave(items, keyCol, groupCol, sizeCol, phaseCol,
        nPhases, budget, maxEpochs64, salt),
      groupCol, phaseCol, nPhases, nBlocks)

  /** The curriculum audit ROLLUP over ANY phased manifest — the
    * phased twin of [[mixAuditOverManifest]], ONE rollup for the
    * uncapped (q177) and capped (q183) curricula: per
    * (phase, block, group), within-block share vs the group's
    * allocated share WITHIN THAT PHASE, targets re-derived from the
    * manifest by summation. `manifest` must carry `(groupCol,
    * phaseCol, pos_key)` with pos_key phase-sliced on the 2^62 grid
    * exactly as [[phasedInterleave]] emits it. */
  def phasedMixAuditOverManifest(manifest: DataFrame, groupCol: String,
      phaseCol: String, nPhases: Int, nBlocks: Int = 16): DataFrame = {
    require(nPhases >= 1 && nPhases <= 1048576,
      s"nPhases must be in [1, 2^20], got $nPhases")
    require(nBlocks >= 1 && nBlocks <= 65536,
      s"nBlocks must be in [1, 65536], got $nBlocks")
    val slice = InterleaveGrid / nPhases
    val blockW = slice / nBlocks // ≥ 2^26 at the maximal 2^20 × 2^16
    val wBlock = org.apache.spark.sql.expressions.Window
      .partitionBy(col(phaseCol), col("block"))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val wGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col(phaseCol), col(groupCol))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val wPhase = org.apache.spark.sql.expressions.Window
      .partitionBy(col(phaseCol))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    manifest
      .select(col(groupCol), col(phaseCol).cast("long").as(phaseCol),
        least(
          expr(s"CAST((pos_key - CAST($phaseCol AS BIGINT) * ${slice}L) " +
            s"DIV ${blockW}L AS BIGINT)"),
          lit(nBlocks - 1L)).as("block"))
      .groupBy(col(phaseCol), col("block"), col(groupCol))
      .agg(count(lit(1)).as("n_appearances"))
      .withColumn("__bt", sum(col("n_appearances")).over(wBlock))
      .withColumn("__alloc", sum(col("n_appearances")).over(wGroup))
      .withColumn("__pt", sum(col("n_appearances")).over(wPhase))
      .select(col(phaseCol), col("block"), col(groupCol), col("n_appearances"),
        expr("CAST((n_appearances * 1048576) DIV __bt AS BIGINT)").as("share_q"),
        expr("CAST((__alloc * 1048576) DIV __pt AS BIGINT)").as("target_q"))
      .withColumn("dev_q", col("share_q") - col("target_q"))
  }

  /** Token-budget EPOCH PLAN — the data-constrained-scaling sheet
    * (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models", arXiv 2305.16264 — public): when the training token
    * budget exceeds the corpus, the α=1/2 mixture wants each source
    * repeated `alloc_i / n_tokens_i` epochs, but repeated data decays
    * in value past ~4 epochs — so the plan reports, per source, the
    * Hamilton token allocation, the implied epoch count, and how much
    * of the allocation a repeat ceiling would strand. A budget planner
    * reads the `capped` rows as "this source is exhausted — the
    * stranded budget must go elsewhere" (re-run the sheet on the
    * uncapped survivors with the freed budget: the
    * [[executeSqrtAllocation]] no-redistribution convention).
    *
    * All BIGINT: `alloc_tokens` is the q98 Hamilton quota at token
    * granularity, `epochs_q = (alloc·64) DIV n_size` the 1/64-epoch
    * fixed point (the log2q granularity convention), `eff_tokens =
    * min(alloc, (maxEpochs64·n_size) DIV 64)` the ceiling-respecting
    * spend, `unused_tokens` the stranded mass, `capped` the 0/1 flag.
    * A zero-token source always reads alloc = 0 / capped = 0: its
    * weight is 0, so its Hamilton base and remainder are both 0, and
    * the largest-remainder leftover (= Σ fractional parts, ≤ the
    * count of nonzero-remainder groups) never reaches a
    * zero-remainder row (the MixingSpec expectation). Overflow
    * headroom: `alloc·64 < 2^63` ⇒ budgets to
    * 2^57 tokens exact; `maxEpochs64·n_size < 2^63` ⇒ at the default
    * ceiling (4 epochs = 256/64) sources to 2^55 tokens — documented,
    * not checked, the [[sqrtAllocation]] convention.
    *
    * Scale shape: exactly [[sqrtAllocation]]'s audited plan (one
    * map-side-combined corpus agg + windows over the per-group sheet)
    * plus per-row closing arithmetic — nothing new touches corpus
    * rows. */
  def epochPlanSheet(items: DataFrame, groupCol: String, sizeCol: String,
      budgetTokens: Long, maxEpochs64: Long = 256L): DataFrame = {
    require(maxEpochs64 >= 1, s"maxEpochs64 must be positive, got $maxEpochs64")
    sqrtAllocation(items, groupCol, sizeCol, budgetTokens)
      .withColumn("epochs_q",
        when(col("n_size") > 0,
          expr("CAST((alloc * 64) DIV n_size AS BIGINT)")))
      .withColumn("eff_tokens",
        when(col("n_size") > 0,
          least(col("alloc"),
            expr(s"CAST(($maxEpochs64 * n_size) DIV 64 AS BIGINT)")))
          .otherwise(lit(0L)))
      .select(col(groupCol), col("n_items"), col("n_size"), col("s_q"),
        col("alloc").as("alloc_tokens"), col("epochs_q"), col("eff_tokens"),
        (col("alloc") - col("eff_tokens")).as("unused_tokens"),
        when(col("alloc") > col("eff_tokens"), 1L).otherwise(0L).as("capped"))
  }

  /** General-α temperature weights via `pow`. Same output shape minus
    * the quantized path: `(group, n_items, n_size, w_prop, w_temp,
    * boost)`. For library use — `pow` is not correctly rounded, so
    * this variant is spec-bounded (MixingSpec tolerance vs the exact
    * α=1/2 path), never DuckDB-oracled. */
  def temperatureWeights(items: DataFrame, groupCol: String, sizeCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val per = items
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(col(sizeCol)).cast("long").as("n_size"))
      .withColumn("s_a", pow(col("n_size").cast("double"), lit(alpha)))
    val wProp = col("n_size").cast("double") / sum(col("n_size")).over(whole)
    val wTemp = col("s_a") / sum(col("s_a")).over(whole)
    per.select(col(groupCol), col("n_items"), col("n_size"),
      wProp.as("w_prop"), wTemp.as("w_temp"), (wTemp / wProp).as("boost"))
  }

  /** Exact fixed-point log2 with 6 fractional bits over a positive
    * BIGINT SQL expression: `log2q(x) = floor(64·log2 x)` computed by
    * the classic squaring algorithm on a 2^20-scaled integer mantissa
    * — normalize x to m ∈ [2^20, 2^21), then six times: square, take
    * the defined truncation `m²DIV 2^20`, emit a fraction bit iff the
    * result crossed 2^21 (halving it back). Every step is a BIGINT
    * multiply/divide with a DEFINED truncation, so the value is
    * bit-identical on any engine that replays the same steps — the
    * libm-free log the q123 integer-log costs approximate at 0
    * fractional bits, now at 1/64 granularity (|log2q/64 − log2 x| <
    * 1/64 + quantization of the squaring truncations — property-pinned
    * in MixingSpec).
    *
    * Overflow headroom: the FULL positive BIGINT domain. The mantissa
    * normalizes by shifting x itself — down when it has more than 21
    * bits (`x DIV 2^(bitlen−21)`), up otherwise (`x · 2^(21−bitlen)`)
    * — which equals the naive `(x·2^20) DIV 2^(bitlen−1)` exactly
    * wherever the latter is defined (floor(x·2^a/2^c) = floor(x/
    * 2^(c−a)) for c ≥ a) while never forming the x·2^20 product that
    * silently wrapped to garbage at x ≥ 2^43. At 100 TB the
    * corpus-wide totals [[dsirWeights]] feeds in exceed 2^43
    * routinely (~8.8e12 bigram occurrences), so the guard is
    * structural, not an assert: m stays in [2^20, 2^21), m² < 2^42 —
    * no step can overflow for any x up to 2^63−1. Property-pinned at
    * x near 2^62 in MixingSpec. */
  private[graft] def log2qExpr(x: String): String =
    s"""aggregate(sequence(1, 6),
       |  named_struct(
       |    'm', IF(length(bin($x)) > 21,
       |           ($x) DIV shiftleft(CAST(1 AS BIGINT),
       |             CAST(length(bin($x)) - 21 AS INT)),
       |           ($x) * shiftleft(CAST(1 AS BIGINT),
       |             CAST(21 - length(bin($x)) AS INT))),
       |    'f', CAST(0 AS BIGINT)),
       |  (acc, i) -> element_at(transform(array((acc.m * acc.m) DIV 1048576), q ->
       |      named_struct('m', IF(q >= 2097152, q DIV 2, q),
       |        'f', acc.f * 2 + IF(q >= 2097152, 1, 0))), 1),
       |  acc -> CAST(length(bin($x)) - 1 AS BIGINT) * 64 + acc.f)""".stripMargin

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public): score every
    * raw document by how much more likely its hashed-bigram features
    * are under the TARGET distribution than under the raw corpus —
    * `weight = Σ_occurrences [log p_target(b) − log p_raw(b)]` — the
    * importance weight DSIR resamples by when assembling a
    * target-flavored training mix from a generic crawl.
    *
    * Determinism design: features are md5-48 hashed bigrams mod
    * `buckets` (the engine's one hash idiom); the target split is the
    * q55 md5-bucket membership (targetPermille); counts are +1-smoothed
    * BIGINTs; and every log is [[log2qExpr]] — fixed-point base-2 with
    * 6 fractional bits, exact integer arithmetic end to end, so the
    * whole sheet oracles bitwise (a libm `ln` would diverge — the
    * q51/q84 precedent). Per-bucket
    * `lr_q = log2q(ct+1) − log2q(cr+1) + log2q(Cr+1) − log2q(Ct+1)`
    * (the normalized-ratio decomposition; the constant terms ride
    * per-occurrence, folding the Ct/Cr normalizers in exactly), and
    * `weight_q = Σ occ·lr_q` in 1/64-log2 units. Output: one row per
    * doc `(doc_id, n_bigrams, weight_q)` — selection composes
    * downstream (q10 top-k / q101 allocation), deliberately NOT a
    * global sort here.
    *
    * Scale shape (100 TB): bigrams assemble MAP-SIDE (slice+arrays_zip
    * — the q91 idiom) and collapse onto (doc, bucket) count keys
    * before any join; the bucket sheet is `buckets`-sized (8192 rows)
    * with totals from one unpartitioned window over it (the q89
    * idiom), log-chained entirely within the sheet, and explicitly
    * BROADCAST into the per-doc scoring join; per-doc sums combine
    * map-side on the one doc_id exchange. Nothing corpus-sized moves
    * except the (doc, bucket) count rows — 24 bytes each. */
  def dsirWeights(docs: DataFrame, textCol: String = "text",
      targetPermille: Int = 100, buckets: Int = 8192,
      salt: String = "graft"): DataFrame = {
    require(targetPermille >= 0 && targetPermille <= 1000,
      s"targetPermille must be in [0,1000], got $targetPermille")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val hb = dsirHb(docs, textCol, targetPermille, buckets, salt)
    val sheet = dsirSheetFrom(hb).select(col("b"), col("lr_q"))
    val perDoc = hb.join(broadcast(sheet), "b")
      .groupBy(col("doc_id")).agg(
        sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * col("lr_q")).as("weight_q"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("weight_q"), lit(0L)).as("weight_q"))
  }

  /** The materialized per-(doc, bucket) occurrence counts under
    * [[dsirWeights]] — one textual definition of the feature frame. */
  private def dsirHb(docs: DataFrame, textCol: String,
      targetPermille: Int, buckets: Int, salt: String): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val base = Sampling.withSplitBucket(docs.filter(col(textCol).isNotNull), "doc_id", salt)
      .select(col("doc_id"), (col("__bucket") < targetPermille).as("__t"),
        explode(arrays_zip(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("p"))
      .select(col("doc_id"), col("__t"),
        (Dedup.md5Base48Of(md5(concat(col("p.0"), lit(" "), col("p.1"))))
          % buckets.toLong).as("b"))
    Dedup.materialize(
      base.groupBy(col("doc_id"), col("__t"), col("b")).agg(count(lit(1)).as("occ")))
  }

  /** The `buckets`-sized log-ratio sheet under [[dsirWeights]] —
    * `(b, lr_q, lr0_q)` where `lr_q` is the per-bucket normalized
    * log ratio and `lr0_q` the UNSEEN-bucket ratio (ct = cr = 0:
    * only the normalizer terms survive) — what a streaming gate
    * charges for a bucket the standing corpus never saw. */
  private def dsirSheetFrom(hb: DataFrame): DataFrame =
    // totals named tct/tcr, NOT Ct/Cr: withColumn resolves
    // case-insensitively and "Ct" would silently REPLACE column ct
    hb.groupBy(col("b")).agg(
        sum(when(col("__t"), col("occ")).otherwise(lit(0L))).as("ct"),
        sum(col("occ")).as("cr"))
      .withColumn("tct", sum(col("ct")).over(whole))
      .withColumn("tcr", sum(col("cr")).over(whole))
      .withColumn("lr_q",
        expr(log2qExpr("ct + 1")) - expr(log2qExpr("cr + 1")) +
          expr(log2qExpr("tcr + 1")) - expr(log2qExpr("tct + 1")))
      .withColumn("lr0_q",
        expr(log2qExpr("tcr + 1")) - expr(log2qExpr("tct + 1")))
      .select(col("b"), col("lr_q"), col("lr0_q"))

  /** The DSIR model ARTIFACT a production system persists and a
    * streaming gate broadcasts ([[graft.streaming.Curation
    * .resampleGate]]): ONE row `(lrmap, lr0_q)` — the [[dsirWeights]]
    * bucket sheet as a map plus the unseen-bucket ratio. An arrival's
    * weight is `Σ_bigram coalesce(lrmap[b], lr0_q)` — bitwise the
    * batch `Σ occ·lr_q` wherever the bucket was observed (the
    * per-occurrence summation ≡ the occ-grouped form), and the
    * smoothed normalizer ratio for novel buckets. Empty standing
    * corpus → empty map, lr0 0 (arrivals then key on pure Gumbel
    * noise; the paired [[resampleCutRow]] is NULL, so the gate keeps
    * nothing — audit before arming, like every standing model).
    *
    * Scale shape: the q126 audited pipeline once, collapsed to an
    * 8192-entry map in one row — the nbModelRow convention. */
  def dsirModelRow(docs: DataFrame, textCol: String = "text",
      targetPermille: Int = 100, buckets: Int = 8192,
      salt: String = "graft"): DataFrame = {
    require(targetPermille >= 0 && targetPermille <= 1000,
      s"targetPermille must be in [0,1000], got $targetPermille")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    dsirSheetFrom(dsirHb(docs, textCol, targetPermille, buckets, salt))
      .agg(
        // array_sort before map_from_entries: collect_list order is an
        // accident of partitioning; the persisted artifact must be
        // byte-deterministic
        map_from_entries(array_sort(collect_list(struct(col("b"), col("lr_q")))))
          .as("lrmap"),
        coalesce(max(col("lr0_q")), lit(0L)).as("lr0_q"))
  }

  /** The standing resample CUT — the other half of the gate's static
    * state: ONE row `(cut)` holding [[dsirResample]]'s exact
    * percentile cut over the standing corpus's Gumbel keys (kept =
    * key_q STRICTLY above it, the q161 rule). budgetPermille = 1000
    * yields Long.MinValue (keep everything — the batch path applies
    * no cut; no reachable key_q can equal MinValue, its magnitude is
    * bounded by the 1/64-log2 arithmetic); an empty corpus yields
    * NULL (keep nothing — the q161 empty-cut rule). */
  def resampleCutRow(docs: DataFrame, budgetPermille: Int,
      textCol: String = "text", targetPermille: Int = 100,
      buckets: Int = 8192, salt: String = "graft",
      sampleSalt: String = "resample"): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      s"budgetPermille must be in [0,1000], got $budgetPermille")
    require(salt != sampleSalt,
      "sampleSalt must differ from the target-split salt: a shared salt " +
        "correlates the Gumbel noise with target membership")
    if (budgetPermille == 1000)
      docs.sparkSession.range(1).select(lit(Long.MinValue).as("cut"))
    else {
      val q = BigDecimal(1000 - budgetPermille) / BigDecimal(1000)
      Quantiles.globalQuantileDisc(
        gumbelScored(docs, textCol, targetPermille, buckets, salt, sampleSalt),
        "key_q", Seq("cut" -> q.toDouble),
        materializeInput = false) // gumbelScored materializes
    }
  }

  /** Per-source KL-divergence fingerprint — for every feed, the exact
    * add-1-smoothed KL(P_source ‖ P_corpus) over the engine's hashed
    * bigram buckets (the [[dsirWeights]] feature space): how far a
    * source's token distribution sits from the corpus it feeds. The
    * acquisition-level reading the CCNet/DSIR line of work (Wenzek
    * 2020; Xie 2023) applies per document, lifted to the source
    * roll-up: a feed whose KL towers over its peers is
    * machine-generated, non-linguistic, or mislabeled-language
    * content wearing the corpus's clothes — flag it BEFORE paying to
    * curate it.
    *
    * Determinism: features are md5-48 hashed bigrams mod `buckets`;
    * all counts are BIGINTs; every log is [[log2qExpr]] (1/64-log2
    * fixed point); the closing division truncates toward zero through
    * an explicit sign CASE, so the whole sheet oracles bitwise.
    * Per source over ALL `buckets` cells (zero cells included —
    * smoothing makes them contribute):
    * `Δ_b = log2q(c_sb+1) − log2q(t_s+B) − log2q(c_gb+1) + log2q(t_g+B)`
    * and `kl_q = trunc(Σ_b (c_sb+1)·Δ_b / (t_s+B))` in 1/64-log2
    * units. Output: one row per source —
    * `(source, n_bigrams, n_buckets, kl_q)`; NULL sources group as
    * the literal 'unknown' (the q76 idiom); a bigram-free source
    * reads the uniform-vs-corpus divergence, not a crash.
    *
    * Scale shape (100 TB): bigrams assemble map-side and collapse
    * onto (source, bucket) keys BEFORE any join — the only
    * corpus-sized exchange carries 24-byte count rows, and sources ≪
    * docs makes it lighter than q126's (doc, bucket) exchange. The
    * scoring grid is sources × buckets (a sheet, never corpus-sized),
    * built by exploding a literal bucket sequence (no cross join);
    * the per-bucket global counts and the one-row corpus total
    * broadcast into it; the closing rollup collapses map-side onto
    * source keys. */
  /** DSIR importance RESAMPLING — the APPLY member of the mixing
    * family, closing the engine's train→apply convention (BPE
    * q106→q110, unigram LM q123→q124, NB scores q143→q147, and now
    * DSIR q126→q161): consume [[dsirWeights]]' importance weights
    * into the keep-set Xie et al. 2023 actually output — sample
    * `budgetPermille` of the corpus WITHOUT replacement with per-doc
    * probability proportional to 2^(weight_q/64) (the importance
    * weight itself), via the Gumbel-top-k equivalence the paper uses
    * (Kool et al. 2019): rank every doc by `log w + Gumbel(u)` and
    * keep the top slice.
    *
    * Determinism design: the uniform draw is the q55 md5 bucket
    * under `sampleSalt` — an INDEPENDENT salt from the target
    * split's, so the noise never correlates with target membership —
    * giving `u = (bucket+1)/1001 ∈ (0,1]`. The base-2 Gumbel
    * `−log2(−log2 u)` evaluates in the shared [[log2qExpr]] fixed
    * point: `eq = log2q(1001) − log2q(bucket+1)` (that is
    * `−log2 u` in 1/64 units, ≥ 0) and
    * `key_q = weight_q + 384 − log2q(eq + 1)` (384 = 6·64 rescales
    * the 1/64 units of eq back out; the +1 keeps the domain
    * positive). Base-2 logs are a positive affine transform of the
    * natural-log Gumbel key in STRUCTURE, so the kept set is a
    * quantized approximation of the paper's Gumbel-top-k: the 1/64
    * fixed-point floor of log2q plus the +1 shift draw the noise
    * from 1000 fixed-point levels (the md5 bucket granularity) with
    * a compressed right tail — same monotone selection-∝-weight
    * shape, NOT an exact importance-sampling guarantee. The budget
    * cut is the exact discrete percentile
    * ([[Quantiles.globalQuantileDisc]] — bitwise percentile_disc via
    * distributed radix select, the q60-pinned rank arithmetic) at
    * (1000−budgetPermille)/1000 over key_q; kept = key_q STRICTLY
    * above the cut — floor(budget·n/1000) docs absent key ties,
    * deterministically fewer when keys tie at the cut (ties drop; a
    * thousand-bucket Gumbel quantizes, so ties are possible). Every
    * step is BIGINT → the keep-set oracles bitwise. NULL doc_ids are
    * never sampled (the q55 contract: no stable identity to hash).
    *
    * Output: the KEPT rows only —
    * `(doc_id, source, n_bigrams, weight_q, key_q)`; source
    * coalesces to 'unknown' (q76 idiom) so the q163 composition
    * sheet reads straight off this relation.
    *
    * Scale shape (100 TB): the weights pipeline is q126's audited
    * shape (map-side bigram assembly, broadcast 8192-row sheet); the
    * bucket/Gumbel-key arithmetic is pure map-side expression; the
    * scored frame MATERIALIZES once (16-byte id + three BIGINTs — it
    * feeds both the cut and the filter; without this Spark re-plans
    * the whole weights pipeline per consumer, the q125 precedent);
    * the cut is [[Quantiles.globalQuantileDisc]]'s distributed radix
    * select — four map-side-combinable histogram passes over the
    * materialized narrow rows, every exchange sheet-sized, NO
    * single-partition sort anywhere whatever the key distribution;
    * the keep filter is map-side with the one-row cut broadcast. */
  def dsirResample(docs: DataFrame, budgetPermille: Int,
      textCol: String = "text", targetPermille: Int = 100,
      buckets: Int = 8192, salt: String = "graft",
      sampleSalt: String = "resample"): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      s"budgetPermille must be in [0,1000], got $budgetPermille")
    require(salt != sampleSalt,
      "sampleSalt must differ from the target-split salt: a shared salt " +
        "correlates the Gumbel noise with target membership")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val scored = gumbelScored(docs, textCol, targetPermille, buckets,
        salt, sampleSalt)
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("weight_q"), col("key_q"))
    if (budgetPermille == 1000) scored
    else {
      val q = BigDecimal(1000 - budgetPermille) / BigDecimal(1000)
      // globalQuantileDisc always yields ONE row, even on an empty
      // corpus (NULL cut then keeps nothing — the q125 idiom).
      val cut = Quantiles.globalQuantileDisc(scored, "key_q",
          Seq("cut" -> q.toDouble),
          materializeInput = false) // scored is already materialized
        .select(col("cut").as("__cut"))
      scored.crossJoin(broadcast(cut))
        .filter(col("key_q") > col("__cut"))
        .drop("__cut")
    }
  }

  /** TOKEN-budget DSIR resample — [[dsirResample]] with the budget in
    * the unit the published pipelines actually allocate (Xie et al.
    * 2023 and every mixture paper budget TOKENS, not documents — a
    * doc-permille budget over-represents long documents' mass): rank
    * every doc by the same deterministic Gumbel key and keep the
    * LONGEST PREFIX of the ranking whose cumulative token count stays
    * within `tokenBudgetPermille` of the corpus's total. Same
    * importance semantics (selection ∝ 2^(weight_q/64), without
    * replacement), different stopping rule — the cut is a cumulative
    * cap, not a rank percentile, so a single over-long document past
    * the cap drops even if its KEY ranks (the budget is a hard cap; a
    * knapsack would not be deterministic-streaming-stable). Token
    * counts are the q24/q144 codegen `graft_tokcount` over
    * `coalesce(text,'')` (a NULL text counts 1 — the q144 split
    * convention, oracled bitwise there); the keep test is the exact
    * integer cross-multiplication `cum·1000 ≤ total·budget` (no
    * division, no rounding ambiguity). Output: kept rows —
    * `(doc_id, source, n_tokens, weight_q, key_q)`. All-BIGINT →
    * bitwise oracle (q165).
    *
    * Scale shape (100 TB): the q126-audited weight pipeline +
    * map-side Gumbel keys, materialized once; the prefix selection is
    * DISTRIBUTED — [[Quantiles.radixLocate]] finds the boundary key
    * (the first key, in (key_q DESC, doc_id) order, whose running
    * token mass overflows the budget) in four map-side-combinable
    * histogram passes with NO single-partition sort whatever the key
    * distribution; rows strictly above the boundary key keep by one
    * broadcast comparison, and the boundary key's TIE GROUP (docs
    * sharing that exact Gumbel key) splits its residual budget by a
    * SECOND radix locate over `doc_id` — so NO window serializes the
    * tie group through one task either. That matters because the
    * collision set is NOT small in the worst case: the Gumbel noise
    * quantizes through two 1/64-fixed-point logs to only ~230
    * effective levels, so a corpus of n IDENTICAL texts collides
    * ~n/60 docs onto the fattest key (measured in MixingSpec's
    * planted full-duplicate spec — ~10^8 rows at 10^10 docs, far too
    * big to window). The doc_id locate is exactly the window's
    * keep-the-prefix-until-overflow rule (first doc whose inclusive
    * running mass reaches residual+1 is the exclusion boundary; zero
    * weights cannot cross it, preserving the inclusive-cum
    * semantics), and requires a BIGINT `doc_id` (the engine-wide id
    * type). The corpus total is one map-side aggregate. The prior
    * single-partition `Window.orderBy(key_q)` shape is gone. */
  def dsirResampleTokens(docs: DataFrame, tokenBudgetPermille: Int,
      textCol: String = "text", targetPermille: Int = 100,
      buckets: Int = 8192, salt: String = "graft",
      sampleSalt: String = "resample"): DataFrame = {
    require(tokenBudgetPermille >= 0 && tokenBudgetPermille <= 1000,
      s"tokenBudgetPermille must be in [0,1000], got $tokenBudgetPermille")
    require(salt != sampleSalt,
      "sampleSalt must differ from the target-split salt: a shared salt " +
        "correlates the Gumbel noise with target membership")
    require(docs.schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType,
      "dsirResampleTokens splits boundary ties by a radix locate over " +
        s"doc_id and needs it BIGINT; got ${docs.schema("doc_id").dataType}")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val out = Seq("doc_id", "source", "n_tokens", "weight_q", "key_q")
    // descending-key image: bitwise NOT (XOR −1) reverses signed
    // BIGINT order exactly, so ascending __u IS (key_q DESC) — across
    // the sign boundary too; the doc_id tiebreak stays entirely
    // within one __u group
    val scored = gumbelScored(docs, textCol, targetPermille, buckets,
        salt, sampleSalt)
      .withColumn("__u", col("key_q").bitwiseXOR(lit(-1L)))
    // budget B = floor(total·permille/1000): cum·1000 ≤ total·permille
    // over BIGINTs ⟺ cum ≤ B, so the boundary is the first row (in
    // keep order) whose running mass reaches B+1
    val target = scored
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("__tot"))
      .select(lit("b").as("qn"),
        (expr(s"(__tot * ${tokenBudgetPermille.toLong}) DIV 1000") + 1L)
          .as("rr"))
    // materialized: BOTH keep branches (above-boundary and tie-group)
    // broadcast this one-row frame — without it each re-derives the
    // whole 4-pass locate chain
    val loc = Dedup.materialize(
      Quantiles.radixLocate(
          scored.select(col("__u"), col("n_tokens").as("__w")), target)
        .select(col("u").as("__bu"), (col("rr") - 1L).as("__brem")))
    // NULL boundary = the whole corpus fits the budget: keep all
    val above = scored.crossJoin(broadcast(loc))
      .filter(col("__bu").isNull || col("__u") < col("__bu"))
      .select(out.map(col): _*)
    // the tie group (docs sharing the boundary Gumbel key) splits its
    // residual budget by a SECOND locate over doc_id: the exclusion
    // boundary is the first id whose inclusive running mass reaches
    // residual+1, so `doc_id < __bd` keeps exactly the window rule's
    // prefix (NULL __bd = the whole group fits). No task ever windows
    // the collision set — see the scaladoc bound.
    val ties = scored.crossJoin(broadcast(loc))
      .filter(col("__u") === col("__bu"))
    val target2 = loc.select(lit("b").as("qn"),
      (col("__brem") + 1L).as("rr"))
    val loc2 = Dedup.materialize(
      Quantiles.radixLocate(
          ties.select(col("doc_id").as("__u"), col("n_tokens").as("__w")),
          target2)
        .select(col("u").as("__bd")))
    val boundary = ties.crossJoin(broadcast(loc2))
      .filter(col("__bd").isNull || col("doc_id") < col("__bd"))
      .select(out.map(col): _*)
    above.union(boundary)
  }

  /** The shared scored frame under [[dsirResample]] and
    * [[dsirResampleTokens]] — one materialized pass holding, per
    * non-null-id doc: its source ('unknown'-coalesced), its q126
    * importance weight, its q144-convention token count, and the
    * deterministic base-2 Gumbel key (see [[dsirResample]] for the
    * arithmetic). Materialized because every consumer reads it at
    * least twice (cut + filter, or total + prefix). */
  private def gumbelScored(docs: DataFrame, textCol: String,
      targetPermille: Int, buckets: Int, salt: String,
      sampleSalt: String): DataFrame = {
    val w = dsirWeights(docs, textCol, targetPermille, buckets, salt)
    val bk = Sampling.withSplitBucket(
      docs.select(col("doc_id"),
        coalesce(col("source"), lit("unknown")).as("source"),
        graft.functions.TextFunctions.tokenCount(
          coalesce(col(textCol), lit(""))).as("n_tokens")),
      "doc_id", sampleSalt)
    Dedup.materialize(
      withGumbelKey(bk.join(w, "doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("n_bigrams"), col("weight_q"), col("key_q")))
  }

  /** The deterministic base-2 Gumbel KEY over `(weight_q, __bucket)`
    * — ONE textual definition shared by the batch scored frame
    * ([[gumbelScored]] → q161/q163/q165) and the streaming gate
    * ([[graft.streaming.Curation.resampleGate]]), so the two keyings
    * cannot drift: `eq = log2q(1001) − log2q(__bucket + 1)` (that is
    * −log2 u in 1/64 units for the q55 uniform draw
    * u = (bucket+1)/1001) and
    * `key_q = weight_q + 384 − log2q(eq + 1)`. Adds `key_q`. */
  private[graft] def withGumbelKey(df: DataFrame): DataFrame =
    df.withColumn("__eq",
        expr(log2qExpr("1001")) - expr(log2qExpr("__bucket + 1")))
      .withColumn("key_q",
        col("weight_q") + lit(384L) - expr(log2qExpr("__eq + 1")))
      .drop("__eq")

  /** Resample BUDGET SWEEP — the q166 convention applied to the
    * resample family's own bare constant: `budgetPermille` ships as a
    * hand-picked 250, so sweep the q161 keep rule across the whole
    * decile grid (100‰…900‰) and report, per budget, what the
    * resample WOULD keep — the exact percentile cut, docs kept, the
    * q24/q144 token count kept, and the kept importance mass
    * Σ weight_q — the curve whose knee a mixture owner reads instead
    * of trusting the shipped constant. Output (one row per budget):
    * `(budget_permille, cut_q, n_docs_kept, n_tokens_kept,
    * weight_q_kept, n_docs_total, n_tokens_total)` — corpus totals
    * repeated per row so keep fractions read straight off the sheet;
    * budget rows never vanish (an empty corpus yields nine all-zero
    * rows with NULL cuts).
    *
    * Determinism: the nine cuts are ONE [[Quantiles
    * .globalQuantileDisc]] call (exact percentile_disc, the q60 pin);
    * keeps are the q161 STRICT `key_q > cut` rule, so every sheet row
    * ties bitwise to [[dsirResample]] at that budget (MixingSpec pins
    * the 300 row against the keep-set and replays all nine cuts
    * locally); all-BIGINT rollups → bitwise oracle (q168).
    *
    * Scale shape (100 TB): the scored frame materializes once; the
    * nine cuts SHARE the radix kernel's four histogram passes (multi-
    * target locate — adding budgets adds histogram cells, not
    * passes); the sweep itself is ONE map-side pass: cuts are
    * nonincreasing in budget (a lower percentile rank selects a ≤
    * value), so the kept-sets are NESTED and each row classifies once
    * into the smallest budget that keeps it (a CASE against the
    * broadcast one-row cuts), nine cells then close by a 9-row
    * cumulative window — no 9× corpus scan, no per-budget shuffle,
    * nothing corpus-sized moves. */
  def resampleBudgetSweep(docs: DataFrame, textCol: String = "text",
      targetPermille: Int = 100, buckets: Int = 8192,
      salt: String = "graft", sampleSalt: String = "resample"): DataFrame = {
    require(salt != sampleSalt,
      "sampleSalt must differ from the target-split salt: a shared salt " +
        "correlates the Gumbel noise with target membership")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val budgets = 100 to 900 by 100
    val scored = gumbelScored(docs, textCol, targetPermille, buckets,
      salt, sampleSalt)
    val qs = budgets.map(b => s"c$b" ->
      (BigDecimal(1000 - b) / BigDecimal(1000)).toDouble)
    // materialized: the classifier CASE and the sheet universe both
    // read this one row
    val cuts = Dedup.materialize(
      Quantiles.globalQuantileDisc(scored, "key_q", qs,
        materializeInput = false)) // gumbelScored materializes
    // smallest budget whose cut this key clears — evaluated ascending,
    // valid because kept-sets are nested (cuts nonincreasing in budget)
    val firstKept = budgets.foldRight(lit(null).cast("long")) { (b, rest) =>
      when(col("key_q") > col(s"c$b"), lit(b.toLong)).otherwise(rest)
    }
    val cells = scored.crossJoin(broadcast(cuts))
      .select(firstKept.as("__fb"), col("n_tokens"), col("weight_q"))
      .filter(col("__fb").isNotNull)
      .groupBy(col("__fb"))
      .agg(count(lit(1)).as("__cd"), sum(col("n_tokens")).as("__ct"),
        sum(col("weight_q")).as("__cw"))
    val universe = cuts.select(explode(array(budgets.map(b =>
        struct(lit(b.toLong).as("budget_permille"),
          col(s"c$b").as("cut_q"))): _*)).as("e"))
      .select(col("e.budget_permille").as("budget_permille"),
        col("e.cut_q").as("cut_q"))
    val tot = scored.agg(count(lit(1)).as("n_docs_total"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens_total"))
    // 9-row sheet window (no identity columns — the plan net's
    // deliberate-sheet class)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("budget_permille"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    universe.join(broadcast(cells),
        col("budget_permille") === col("__fb"), "left")
      .withColumn("n_docs_kept", sum(coalesce(col("__cd"), lit(0L))).over(w))
      .withColumn("n_tokens_kept", sum(coalesce(col("__ct"), lit(0L))).over(w))
      .withColumn("weight_q_kept", sum(coalesce(col("__cw"), lit(0L))).over(w))
      .crossJoin(broadcast(tot))
      .select(col("budget_permille"), col("cut_q"), col("n_docs_kept"),
        col("n_tokens_kept"), col("weight_q_kept"),
        col("n_docs_total"), col("n_tokens_total"))
  }

  /** Per-source composition of the [[dsirResample]] keep-set — the
    * q76 reading of the resampled mixture: for every feed, how many
    * docs went in, how many the importance resample kept, the exact
    * two-step fixed-point keep rate, and the kept importance-weight
    * mass. The sheet an operator reviews before training on the mix:
    * DSIR's whole point is that the kept SHARE shifts toward
    * target-flavored feeds — this is where that shift is visible.
    * All-BIGINT → bitwise oracle (q163).
    *
    * Scale shape: [[dsirResample]]'s audited shape plus one map-side
    * rollup of the keep-set onto source keys and one of the corpus
    * (both sources-sized), joined with the kept sheet broadcast. */
  def resampleComposition(docs: DataFrame, budgetPermille: Int,
      textCol: String = "text", targetPermille: Int = 100,
      buckets: Int = 8192, salt: String = "graft",
      sampleSalt: String = "resample"): DataFrame = {
    val kept = dsirResample(docs, budgetPermille, textCol, targetPermille,
        buckets, salt, sampleSalt)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"),
        sum(col("weight_q")).as("w_kept_q"))
    val raw = docs.filter(col("doc_id").isNotNull)
      .groupBy(coalesce(col("source"), lit("unknown")).as("source"))
      .agg(count(lit(1)).as("n_raw"))
    raw.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("w_kept_q"), lit(0L)).as("w_kept_q"))
      .withColumn("kept_rate_q", expr(
        """CASE WHEN n_raw = 0 THEN CAST(0 AS BIGINT)
          |ELSE ((n_kept * 1024) DIV n_raw) * 1024
          |   + (((n_kept * 1024) % n_raw) * 1024) DIV n_raw
          |END""".stripMargin))
  }

  def sourceKlDivergence(docs: DataFrame, textCol: String = "text",
      buckets: Int = 8192): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    graft.GraftSession.ensureConfs(docs.sparkSession)
    val sb = Dedup.materialize(
      sourceBigramBuckets(docs, textCol, buckets)
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c_sb")))
    val gb = sb.groupBy(col("b")).agg(sum(col("c_sb")).as("c_gb"))
    val ts = sb.groupBy(col("source")).agg(sum(col("c_sb")).as("t_s"))
    val tg = sb.agg(coalesce(sum(col("c_sb")), lit(0L)).as("t_g"))
    val srcs = docs.select(coalesce(col("source"), lit("unknown")).as("source"))
      .distinct()
    val grid = srcs.join(ts, Seq("source"), "left")
      .select(col("source"), coalesce(col("t_s"), lit(0L)).as("t_s"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${buckets - 1} AS BIGINT))"))
          .as("b"))
      .join(sb, Seq("source", "b"), "left")
      .join(gb, Seq("b"), "left")
      .crossJoin(broadcast(tg))
      .select(col("source"), col("t_s"),
        coalesce(col("c_sb"), lit(0L)).as("c_sb"),
        coalesce(col("c_gb"), lit(0L)).as("c_gb"), col("t_g"))
    klPerSourceClose(grid, buckets)
  }

  /** The shared per-source hashed-bigram occurrence rows
    * `(source, b)` — one textual definition for the q155 batch sheet
    * and the streaming scorecard's KL member
    * ([[graft.operators.Drift.klBySourceAgainstModel]]), so the two
    * cannot drift. */
  private[graft] def sourceBigramBuckets(docs: DataFrame, textCol: String,
      buckets: Int): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(coalesce(col("source"), lit("unknown")).as("source"),
        explode(arrays_zip(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("p"))
      .select(col("source"),
        (Dedup.md5Base48Of(md5(concat(col("p.0"), lit(" "), col("p.1"))))
          % buckets.toLong).as("b"))
  }

  /** The q155 closing arithmetic over a per-source scoring grid
    * `(source, t_s, c_sb, c_gb, t_g)` — ONE definition shared by
    * [[sourceKlDivergence]] (corpus seat = the batch's own totals)
    * and [[graft.operators.Drift.klBySourceAgainstModel]] (corpus
    * seat = a standing model), so the streamed per-source KL sheet
    * is the batch sheet's arithmetic by construction. */
  private[graft] def klPerSourceClose(grid: DataFrame,
      buckets: Int): DataFrame =
    grid
      .withColumn("dq",
        expr(log2qExpr("c_sb + 1")) - expr(log2qExpr(s"t_s + $buckets")) -
          expr(log2qExpr("c_gb + 1")) + expr(log2qExpr(s"t_g + $buckets")))
      .groupBy(col("source"))
      .agg(max(col("t_s")).as("n_bigrams"),
        sum(when(col("c_sb") > 0L, 1L).otherwise(0L)).as("n_buckets"),
        sum((col("c_sb") + 1L) * col("dq")).as("__num"))
      .withColumn("kl_q", expr(
        s"""CASE WHEN __num >= 0 THEN __num DIV (n_bigrams + $buckets)
           |ELSE -((-__num) DIV (n_bigrams + $buckets)) END""".stripMargin))
      .drop("__num")
}
