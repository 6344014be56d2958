package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** CPU-parallelism fan-out for kernel-dense stages (optimization
  * guide §2.5-2.6, §1.2 "the distributed algorithm first").
  *
  * The engine's hot map/verify stages are BYTE-thin but CPU-dense —
  * packed gram arrays, 301-way deletion-variant explodes, JSON
  * parses, per-pair merge kernels — which defeats both of Spark's
  * partitioning heuristics at once:
  *
  *  - a table below `maxPartitionBytes` (or with one row group) scans
  *    as ONE task no matter how much per-row compute sits on top of
  *    the scan, so the whole map side of a query runs on one core;
  *  - AQE's post-shuffle coalescing targets BYTES
  *    (`advisoryPartitionSizeInBytes` / `minPartitionSize`), so a
  *    600 KB shuffle feeding a quadratic pair verify coalesces to one
  *    task — measured r20: the d_lsh_recall truth join ran 2.6 s on a
  *    single task over a 641 KB shuffle read.
  *
  * Both serialize 31 of 32 cores exactly where the engine spends its
  * CPU. The remedies here are deliberately shaped to be NO-OPS at
  * scale, where the scan/shuffle is already wide:
  *
  *  - [[fan]] hash-repartitions to the session's default parallelism
  *    when (and only when) the current plan has fewer partitions than
  *    cores — the gate reads the PLANNED partition count, so a 100 TB
  *    fact (thousands of scan tasks) never pays a second full-fact
  *    exchange, while a one-file local scan spreads its per-row work
  *    across the machine for the cost of shuffling a few MB.
  *  - [[slices]] is the explicit width for kernel self-joins whose
  *    blocking relation is repartitioned by join key anyway: one
  *    slice per core bounds the worst task near 1/cores of the
  *    kernel mass (the r20 profile's hot-task wall: 24 AQE-coalesced
  *    partitions put 1.87 s of a 1.88 s stage on one task), and an
  *    explicit `repartition(n, keys)` both pre-positions the relation
  *    so the self-join needs ZERO further exchanges and keeps AQE
  *    from re-coalescing the kernel stage by bytes.
  */
private[graft] object Par {

  /** Kernel-stage width: one slice per core. On a cluster
    * `defaultParallelism` tracks total executor cores, so this stays
    * one wave of tasks at any deployment size. Per-task fixed costs
    * (plan deserialization, codegen cache lookup, shuffle fetch
    * setup — measured ~100-200 ms/task on the r20 sandbox) are paid
    * once per core, at the price of coarser skew smoothing; the
    * measured A/B at sf0.1 (d_edit_dup / d_lsh_jaccard /
    * d_minhash_est) put four waves' overhead above their skew win at
    * every tested query.
    */
  def slices(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Hash fan-out by `cols` to session parallelism when the plan is
    * narrower than the session's core count; identity otherwise.
    * Use on small scans feeding expensive per-row expressions.
    */
  def fan(df: DataFrame, cols: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, cols: _*) else df
  }

  /** Rows per partition that amortize this engine's per-task fixed
    * cost (~100-200 ms: plan deserialization, codegen cache lookup,
    * fetch setup) against the iterative families' per-row join/agg
    * work (~100-200 ns/row): ~1M rows ≈ parity, so below it the task
    * is scheduling-bound and wider is strictly worse.
    */
  val RowsPerSlice: Long = 1048576L

  /** Partition count for a loop-invariant relation of `rows` rows that
    * every ROUND of an iterative query re-joins (r21, guide §2.5/§2.6
    * applied to the per-round FIXED cost): the iterative families'
    * rounds are byte-tiny but the cached edge partitioning forces
    * every round's labels exchange AND join stage to ITS width — at
    * the old constant (session shuffle partitions) a 40 k-edge graph
    * paid 32 tasks × ~6 stages × rounds of pure scheduling (the whole
    * 4.7 s wall of q_report_components). Derived from row count, the
    * width is 1 for small graphs and grows with the data —
    * scale-adaptive, not tuned to either local mode or the cluster
    * (a 10 B-edge production graph gets ~10 k slices).
    */
  def roundWidth(rows: Long, perSlice: Long = RowsPerSlice): Int =
    math.max(1L, math.min((rows + perSlice - 1) / perSlice,
      1 << 20)).toInt

  /** Rows per slice for a compacted SCAN whose consumers derive real
    * work from every row (union + hash + exchange write ≈ 0.5-1 µs a
    * row): ~0.1-0.25 s per task — comfortably above the per-task
    * fixed cost, far below the single-task serialization a byte
    * target produced (parquet compresses a (long, long) edge ~10×,
    * so 32 MB of file bytes is ~30M rows of derivation).
    */
  val ScanRowsPerSlice: Long = 262144L

  /** Size-adaptive NO-SHUFFLE compaction of a small scan (r21): a
    * stored artifact keeps its build's partitioning, one file per
    * build task, and Spark's split packing assigns each tiny file its
    * own task (maxSplitBytes degenerates to openCostInBytes when the
    * byte mass is small) — so every read of a KB-sized artifact costs
    * one task × ~100 ms fixed per file, and the iterative families
    * re-scan per round. `coalesce` to ⌈rows / ScanRowsPerSlice⌉
    * merges those file splits without an exchange; a big artifact
    * keeps (or exceeds-and-keeps) its natural width — coalesce can
    * only narrow, so at scale this is a no-op by construction.
    * Row-count based (one cheap count job per HANDLE creation —
    * footer-only on plain parquet): the first cut used plan-estimated
    * BYTES and single-tasked a 2.7 MB artifact that decompressed to
    * ~3M edges of per-round derivation work at sf1.
    */
  def compactScan(df: DataFrame): DataFrame =
    df.coalesce(roundWidth(df.count(), ScanRowsPerSlice))
}
