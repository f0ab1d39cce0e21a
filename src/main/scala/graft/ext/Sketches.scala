package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency sketches with engine-neutral hashing (joining KMV distinct
  * counting in [[Dedup.kmvDistinctTokens]]): sublinear-state summaries whose
  * every step is explicit modular arithmetic, so even the approximation is
  * oracle-checkable by an external engine.
  */
object Sketches {

  /** Count-Min sketch build + probe in one plan: a `depth`×`width` counter
    * grid where row j counts keys by hash_j(key) = ((key + j·40503)·
    * 2654435761) mod width, probed as estimate(k) = min_j grid[j][hash_j(k)].
    * The classic one-sided frequency sketch: estimates NEVER undercount
    * (only collisions inflate), which the spec asserts and the probe output
    * makes visible as `overcount`.
    *
    * Scale shape: the build is one hash aggregation over an explode by the
    * constant `depth` — O(rows·depth) map-side-combined into O(depth·width)
    * cells, the whole grid a few KB — then the probe side joins against the
    * BROADCAST grid. At 100 TB the grid is identical (state is independent
    * of input size — the entire point of a sketch); only the build scan
    * grows.
    *
    * @param keys     input rows
    * @param keyCol   integral key column to sketch
    * @param probePred which keys to probe (evaluated on the same input)
    * @return (key, n_exact, n_est, overcount) for every distinct probed key
    */
  /** HyperLogLog-shaped distinct-count sketch with every step exact and
    * engine-neutral, so the APPROXIMATION itself is oracle-checkable (the
    * same discipline as [[countMin]] and KMV): affine hash into a 2⁴⁰
    * space, bucket = low 5 bits (m = 32 registers), register = max over
    * `rho` = trailing-zero count of the 35-bit suffix + 1 (a geometric
    * observable that a PURELY AFFINE hash cannot feed — linear maps keep
    * consecutive keys' trailing-zero patterns correlated (+75% bias
    * measured on 1..200) — so two xorshift rounds break the linearity;
    * xor/shift are engine-neutral (`^`/`xor()`), and the middle multiply
    * folds to 32 bits first so ANSI-mode 64-bit overflow is impossible
    * observable, extracted with pure integer ops — `bit_count((w & −w) − 1)`
    * — no floating point, no engine hash). The harmonic estimator's
    * indicator sum Σ2^(−M_b) is a sum of EXACT dyadic doubles (every
    * partial sum fits 53 bits), so it is association-free and bit-identical
    * across engines; the final α·m²/Z is one fixed multiply-divide chain.
    * Bias corrections are intentionally omitted — they need ln/pow, which
    * are engine-unsafe (libm last-ulp drift), and the raw estimator is the
    * oracle-checkable contract; `n_exact`/`rel_err` sit alongside so the
    * approximation quality is visible.
    *
    * Scale shape: one hash aggregation to O(groups·m) register cells, then
    * O(groups) — state independent of input size, the point of a sketch.
    */
  def hllDistinct(rows: DataFrame, groupCol: String,
                  keyCol: String): DataFrame = {
    val m = 32
    val logM = 5
    val maxRho = 36 // empty 35-bit suffix: all 35 positions + 1
    // the shared non-affine mix (graft.functions.Hashing.mix40 — q136 is
    // where the two-round recipe was born; q217/q219/q222 reuse it)
    val hv = graft.functions.Hashing.mix40(col(keyCol))
    val w = shiftright(hv, logM)
    val rho = when(w === 0, lit(maxRho))
      .otherwise(bit_count(w.bitwiseAND(-w) - 1) + 1)
    val reg = rows
      .select(col(groupCol).as("grp"), pmod(hv, lit(m.toLong)).as("bucket"),
        rho.as("rho"))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).as("rho_max"))
    val z = reg.groupBy(col("grp"))
      .agg((sum(lit(1.0) /
          expr("shiftleft(CAST(1 AS BIGINT), rho_max)").cast("double"))
        + (lit(m) - count(lit(1))).cast("double")).as("zsum"),
        count(lit(1)).as("filled"))
    val exact = rows.groupBy(col(groupCol).as("grp"))
      .agg(count_distinct(col(keyCol)).as("n_exact"))
    exact.join(z, "grp")
      .select(col("grp").as(groupCol), col("n_exact"), col("filled"),
        (lit(0.697) * m * m / col("zsum")).as("hll_est"),
        ((lit(0.697) * m * m / col("zsum") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
  }

  def countMin(keys: DataFrame, keyCol: String, probePred: Column,
               depth: Int = 3, width: Int = 64): DataFrame = {
    def bucket(j: Int, k: Column): Column =
      graft.functions.Hashing.knuthMod(k, width, offset = j * 40503L)
    val grid = keys
      .select(posexplode(array((0 until depth).map(j =>
        bucket(j, col(keyCol))): _*)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = keys.filter(probePred)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_exact"))
    probes
      .select(col("key"), col("n_exact"),
        posexplode(array((0 until depth).map(j =>
          bucket(j, col("key"))): _*)).as(Seq("j", "bucket")))
      .join(broadcast(grid), Seq("j", "bucket"))
      .groupBy(col("key"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
  }

  /** KMV set algebra: union and intersection cardinality estimates for
    * every event-type pair from MERGEABLE bottom-k sketches — the sketch
    * property that matters in a pipeline (per-partition/per-day sketches
    * combine without rescanning; exact distinct counts don't).
    *
    * Protocol (Beyer et al.): per type, the k smallest `spread(user_id)`
    * hashes; per pair, K = bottom-k of the hash-set union, kth = max(K),
    * |A∪B| ≈ (k−1)·M/kth, and |A∩B| ≈ (|K ∩ A ∩ B|/k)·|A∪B| — emitted as
    * the single integer-ratio division shared·(k−1)·M / (k·kth). Exact
    * pair counts sit alongside so the approximation quality is visible.
    *
    * Scale shape: one distinct on (type, user-hash) is the only
    * corpus-scale shuffle; the bottom-k window runs on a PRE-FILTERED
    * frame — h ≤ 8k·M/n (n = the type's exact distinct count, computed
    * anyway for the comparison columns) keeps ~8k rows per type, and the
    * probability the true kth hash exceeds the cut is < e^(−2k) (Chernoff
    * on Binomial(n, 8k/n) < k) — not a correctness assumption at any
    * realistic k. Everything after is pair-lattice-sized.
    */
  /** Histogram quantile SKETCH: per event type, locate each requested
    * quantile's position in a fixed-width `nBuckets` histogram — the
    * approximate-quantile member of the sketch family (CM = frequency,
    * HLL/KMV = distinct, this = order statistics). State is O(types ·
    * nBuckets) and MERGEABLE (histograms add cell-wise across partitions
    * or days — the property exact order statistics lack), so the answer
    * costs one aggregation pass; [[graft.ops.Percentiles]] is the exact
    * path when a re-scan is affordable.
    *
    * Output per (type, p): the located bucket's index and bounds, the
    * integer mass below it, and the EXACT percentile alongside (q44/q136
    * discipline: the approximation's quality is visible — `contained`
    * checks the exact value lies in the located bucket). Bucket bounds
    * are the q54 fixed-grid arithmetic, identical expressions both
    * engines; the position is the integer rank floor(p·(n−1)), the
    * quantile_cont coordinate. The exact column itself comes from
    * [[graft.ops.Percentiles.exactPercentiles]]' distributed
    * histogram-pruned strategy (forced), NOT a holistic per-group buffer
    * — the quality readout scales with the sketch it grades.
    */
  def histogramQuantileSketch(events: DataFrame, nBuckets: Int = 64,
                              ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val vals = events.select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val ext = vals.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
    // the exact comparison column rides the DISTRIBUTED histogram-pruned
    // strategy (q66's plan), not a holistic per-group buffer: the readout
    // must not be the one piece of the sketch query that stops scaling;
    // the interpolation doubles are the oracle-proven q37/q66 contract.
    val exact = graft.ops.Percentiles.exactPercentiles(
      vals, "event_type", "value", ps)
      .select(col("event_type").as("__et"), col("p").as("__pp"),
        col("value").as("exact"))
    val width = (col("hi") - col("lo")) / nBuckets
    val bucketed = vals.join(broadcast(ext.select(col("event_type"),
        col("lo"), col("hi"))), "event_type")
      .select(col("event_type"),
        when(col("hi") > col("lo"),
          least(floor((col("value") - col("lo")) /
            ((col("hi") - col("lo")) / nBuckets)).cast("long"),
            lit(nBuckets - 1L))).otherwise(0L).as("b"))
    val hist = bucketed.groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val targets = ext.select(col("event_type"), col("lo"), col("hi"),
        col("n"), explode(array(ps.map(lit): _*)).as("p"))
      .join(exact, col("event_type") === col("__et") &&
        col("p") === col("__pp"))
      .drop("__et", "__pp")
      .withColumn("rk", floor(col("p") * (col("n") - 1).cast("double"))
        .cast("long"))
    targets.join(hist, Seq("event_type"))
      .filter(col("rk") >= col("below") &&
        col("rk") < col("below") + col("cnt"))
      .select(col("event_type"), col("p"), col("n"), col("b").as("bucket"),
        col("below"), col("cnt").as("bucket_cnt"),
        (col("lo") + col("b").cast("double") * width).as("bucket_lo"),
        (col("lo") + (col("b") + 1).cast("double") * width).as("bucket_hi"),
        col("exact"),
        (col("lo") + col("b").cast("double") * width <= col("exact") &&
          col("exact") <= col("lo") + (col("b") + 1).cast("double") * width)
          .as("contained"))
  }

  def kmvSetAlgebra(events: DataFrame, k: Int = 64): DataFrame = {
    val M = 2147483648L
    val hashes = events.select(col("event_type"),
        graft.functions.Hashing.spread(col("user_id"), M).as("h"))
      .distinct()
    val counts = hashes.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val bk = hashes.join(broadcast(counts), "event_type")
      .filter(col("h") * col("n_distinct") <= lit(8L * k) * M)
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= k)
      .select(col("event_type"), col("h"))
    val pairs = counts.select(col("event_type").as("ta"),
        col("n_distinct").as("n_a"))
      .join(counts.select(col("event_type").as("tb"),
        col("n_distinct").as("n_b")), col("ta") < col("tb"))
    val contrib = pairs
      .join(bk.select(col("event_type"), col("h")),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("n_a"), col("n_b"), col("h"))
      .agg(max(when(col("event_type") === col("ta"), 1L).otherwise(0L))
        .as("in_a"),
        max(when(col("event_type") === col("tb"), 1L).otherwise(0L))
        .as("in_b"))
    val wP = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
    val merged = contrib.withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= k)
      .groupBy(col("ta"), col("tb"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth"),
        sum(col("in_a") * col("in_b")).as("shared_k"))
    // exact pair intersection for the quality readout
    val tu = events.select(col("event_type"), col("user_id")).distinct()
    val exactI = tu.as("x").join(tu.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("exact_inter"))
    merged.join(exactI, Seq("ta", "tb"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        (col("n_a") + col("n_b") - col("exact_inter")).as("exact_union"),
        col("exact_inter"), col("k_used"), col("kth"), col("shared_k"),
        (lit((k - 1).toDouble * M) / col("kth").cast("double"))
          .as("union_est"),
        (col("shared_k") * lit((k - 1)) * M).cast("double")
          ./((lit(k.toLong) * col("kth")).cast("double")).as("inter_est"))
  }

  /** Bloom-filter membership with engine-neutral hashing: build a `bits`-bit
    * filter over the DISTINCT build-side keys with `BloomHashes.length`
    * affine hash functions `h_i(x) = ((a_i·x + b_i) mod p) mod bits`
    * (p = 2³¹−1, Mersenne prime), then classify every probe-side key as
    * candidate iff ALL its positions are set. The join-pruning primitive:
    * at 100 TB the filter replaces a shuffle semi-join against the build
    * side with a broadcast bitset probed per-row on the scan — only
    * candidates (members + the FP tail) ever reach the real join.
    *
    * Exactly the [[countMin]]/KMV discipline: explicit modular arithmetic
    * instead of engine hashes, so the sketch's own false positives are
    * deterministic and oracle-checkable.
    *
    * Sizing: by default `bits` is DERIVED from the build side's distinct
    * key count (~10 bits/key, [[bloomBitsFor]]) — a fixed width silently
    * saturates when the key universe grows (an 83%-loaded mask prunes
    * almost nothing) — with an explicit positive `bits` kept as override.
    *
    * Plan shape: build = hash-aggregate to distinct keys → explode by the
    * constant k → ONE row holding the filter as a PACKED LONG BITMASK
    * (`bits`/64 words — 8192 bits is 1 KB, broadcast for free); probe =
    * 1-row broadcast nested-loop join + k O(1) word/bit tests per row
    * (`get(mask, pos>>6) & (1<<(pos&63))` — never an O(bits_set) array
    * scan; measured 7× on the sf0.1 probe). The probe side never shuffles.
    * The exact-membership comparison (the quality readout, same role as
    * [[kmvSetAlgebra]]'s exact columns) is the one shuffle in the plan —
    * production pruning would skip it.
    *
    * @return one row: n_probed, n_candidates, n_members, n_false_pos,
    *         bits_set
    */
  val BloomHashes: Seq[(Long, Long)] =
    Seq((1299721L, 15485863L), (2750161L, 32452843L), (4256233L, 49979687L))
  private val BloomP = 2147483647L

  /** |key| bound under which `k·a` cannot overflow a long for any of the
    * [[BloomHashes]] multipliers (largest is 4256233): ≈ 2.2e12. Enforced
    * per row — wider domains must hash into the envelope first.
    */
  val BloomKeyEnvelope: Long = Long.MaxValue / 4256233L

  /** Mask width for a build side of `nKeys` distinct keys: ~10 bits/key
    * (3-hash theoretical FP ≈ 1.7% at that load), rounded up to a 64-bit
    * word, floor one word, capped at [[BloomMaxBits]] (4 Mi bits = a
    * 512 KiB mask — still a trivially broadcast payload; past the cap the
    * FP rate rises gracefully instead of the mask growing without bound).
    */
  val BloomMaxBits: Int = 1 << 22
  private[graft] def bloomBitsFor(nKeys: Long): Int = {
    val words = math.max(1L, (nKeys * 10L + 63L) / 64L)
    math.min(words * 64L, BloomMaxBits.toLong).toInt
  }

  /** `bits` ≤ 0 (the default) derives the width from the build side's
    * distinct-key count. The count is a PLANNING action — one narrow
    * distinct-count job over the already-deduped dim keys decides a plan
    * parameter before the data path runs, the same role as the runtime
    * stats behind AQE's join re-plans; the data path itself stays fully
    * distributed. A fixed positive `bits` skips the job (and is how the
    * saturation specs pin their geometry).
    */
  private def resolvedBits(bits: Int, keys: DataFrame): Int =
    if (bits > 0) bits else bloomBitsFor(keys.count())

  /** The k bloom positions of a key. pmod, not %: the remainder operator is
    * sign-preserving, and a negative key (hash-derived ids) would yield
    * negative positions — dropped from the mask on the build side and
    * null-probed on the probe side, silently breaking the no-false-negative
    * guarantee. The [[BloomKeyEnvelope]] is ENFORCED: build and probe would
    * wrap identically (no false negatives), but positions would silently
    * diverge from any exact-arithmetic replay of the hash, so an
    * out-of-envelope key fails loudly instead.
    */
  private def bloomPositions(k: Column, bits: Int): Column = {
    val kk = k.cast("long")
    val guarded = when(abs(kk) <= BloomKeyEnvelope, kk).otherwise(
      raise_error(format_string(
        "bloom key %d outside the |key| <= %d hash envelope (k*multiplier " +
          "must not overflow long); hash wide domains into the envelope " +
          "first", kk, lit(BloomKeyEnvelope))).cast("long"))
    array(BloomHashes.map { case (a, b) =>
      pmod(guarded * a + b, lit(BloomP)) % bits }: _*)
  }

  /** Dynamic-shift 1L << n (the functions-API shiftleft only takes a
    * literal shift; ShiftLeft itself is any-expression).
    */
  private def shl1(n: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.ShiftLeft
    GraftBridge.column(ShiftLeft(
      GraftBridge.expression(lit(1L)),
      GraftBridge.expression(n.cast("int"))))
  }

  /** ONE row holding the filter over `keys.k` as a packed long bitmask
    * (`mask`: bits/64 words) plus its set-bit count (`n_bits_set`).
    *
    * The pack is LINEAR and distributed (round 10): positions aggregate
    * into per-word `bit_or` rows, densify against a `range(bits/64)`
    * frame, and one `sort_array(collect_list)` orders the ≤ bits/64 words
    * into the array. The previous single-expression pack
    * (`transform(sequence(words)) × filter(all positions)`) re-scanned
    * every set position per word — O(words · positions) inside ONE row's
    * expression evaluation, invisible at a fixed 8 Kbit mask but 39 s at
    * the 52 Kbit mask auto-sizing derives for a 10× build side.
    */
  private def bloomMask(keys: DataFrame, bits: Int): DataFrame = {
    require(bits > 0 && bits % 64 == 0,
      s"bits must be a positive multiple of 64, got $bits")
    val words = keys
      .select(explode(bloomPositions(col("k"), bits)).as("pos"))
      .distinct()
      .select(shiftright(col("pos"), 6).as("w"),
        shl1(pmod(col("pos"), lit(64L))).as("bit"))
      .groupBy(col("w"))
      .agg(expr("bit_or(bit)").as("mval"), count(lit(1)).as("nb"))
    keys.sparkSession.range(bits / 64).select(col("id").as("w"))
      .join(words, Seq("w"), "left")
      .agg(
        sort_array(collect_list(struct(col("w"),
          coalesce(col("mval"), lit(0L)).as("mval")))).as("wm"),
        sum(coalesce(col("nb"), lit(0L))).as("n_bits_set"))
      .select(transform(col("wm"), e => e.getField("mval")).as("mask"),
        col("n_bits_set"))
  }

  /** All k bits set ⟺ bloom candidate (O(1) per position). */
  private def bloomTest(mask: Column, ps: Column): Column =
    forall(ps, p => get(mask, shiftright(p, 6).cast("int"))
      .bitwiseAND(shl1(pmod(p, lit(64L)))) =!= 0L)

  def bloomSemiJoin(build: DataFrame, buildKey: Column,
                    probe: DataFrame, probeKey: Column,
                    bits: Int = 0): DataFrame = {
    val keys = build.select(buildKey.cast("long").as("k")).distinct()
    val width = resolvedBits(bits, keys)
    val members = keys.withColumn("__member", lit(1L))
    val probed = probe
      .select(probeKey.cast("long").as("k"))
      .withColumn("ps", bloomPositions(col("k"), width))
      .crossJoin(broadcast(bloomMask(keys, width)))
      .withColumn("cand", bloomTest(col("mask"), col("ps")))
      .join(members, Seq("k"), "left_outer")
      .withColumn("member", col("__member").isNotNull)
    probed.agg(
      count(lit(1)).as("n_probed"),
      sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"),
      sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
      sum(when(col("cand") && !col("member"), 1L).otherwise(0L))
        .as("n_false_pos"),
      max(col("n_bits_set")).as("bits_set"))
  }

  /** Bloom-PRUNED fact→dim equi-join — the production pattern the
    * [[bloomSemiJoin]] readout evaluates: the dim keys' bloom mask is
    * broadcast onto the fact scan, fact rows failing the k-bit test are
    * dropped BEFORE the shuffle join, and the surviving candidate set
    * (members + the FP tail) goes through the real join, which eliminates
    * the false positives. Semantics-preserving by construction (no false
    * negatives), so the result is oracle-checkable as the PLAIN join —
    * the pruning is invisible to correctness and visible to the shuffle:
    * at 100 TB a 10%-selective dim turns a full-fact shuffle into a
    * candidate-only shuffle for the cost of one broadcast KB.
    */
  def bloomPrunedJoin(fact: DataFrame, factKey: Column,
                      dim: DataFrame, dimKey: Column,
                      bits: Int = 0): DataFrame = {
    // reserved internal names — fail loudly on collision rather than
    // silently dropping or ambiguating a caller's column
    val reserved = Seq("__graft_bloom_ps", "__graft_bloom_mask",
      "__graft_bloom_nbits")
    val clash = fact.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty, s"fact columns collide with bloomPrunedJoin " +
      s"internals: ${clash.mkString(", ")}")
    val keys = dim.select(dimKey.cast("long").as("k")).distinct()
    val width = resolvedBits(bits, keys)
    val mask = bloomMask(keys, width)
      .select(col("mask").as("__graft_bloom_mask"),
        col("n_bits_set").as("__graft_bloom_nbits"))
    fact
      .withColumn("__graft_bloom_ps", bloomPositions(factKey, width))
      .crossJoin(broadcast(mask))
      .filter(bloomTest(col("__graft_bloom_mask"), col("__graft_bloom_ps")))
      .drop(reserved: _*)
      .join(dim, factKey === dimKey)
  }
}
