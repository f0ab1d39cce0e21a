package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Adaptive input-parallelism repair (round 19, guide §2.5 "one huge
  * unsplittable file → repartition immediately after the read").
  *
  * The local test tables are ONE parquet file with ONE row group, so a
  * scan is a single split no matter the split-size config — and the Bench
  * hot-table cache freezes that 1-partition layout, serializing every
  * consumer's pre-exchange map work (regex/tokenizer/shingle kernels ran
  * on 1 of 32 cores; StageAudit q172/q263). A deterministic hash
  * repartition on the table key repairs it — but ONLY when the input is
  * actually narrow: at lake scale a table arrives as thousands of splits
  * and an unconditional repartition would be a full-table shuffle for
  * nothing. Same small-input/large-input shape as the engine's
  * data-derived plan decisions in [[Cutover]], decided from the planned
  * partition count instead of a row count.
  *
  * Applied per-query where measurement showed pre-exchange map dominance
  * (a blanket spread in Tables was measured NET-NEGATIVE: the extra
  * exchange and 32-task scheduling on tiny stages cost more than the
  * parallel map gains on cheap queries — see OPTIMIZATION_r19.md).
  * Values are layout-independent: the hash key is deterministic (retry-
  * safe, no round-robin randomness), the count explicit (AQE-exempt).
  */
object Spread {
  def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    // physical partition count of the frame as planned (no job); < dp/2
    // means the map side leaves most cores idle — repair it
    if (df.rdd.getNumPartitions * 2 < dp) df.repartition(dp, key) else df
  }
}
