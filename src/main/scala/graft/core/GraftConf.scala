package graft.core

import org.apache.spark.sql.SparkSession

/** Tuning knobs (O31): resolved from `spark.conf` (`graft.*` keys) with
  * environment-variable fallback, mirroring the reference's ctor+env
  * scheme (pico_vdb.py:110-164, PICOVDB_* vars;
  * tests/test_task48_tuning_knobs.py). Most reference knobs vanish on
  * Spark (Catalyst owns the physical plan); what remains are the ones
  * our own operators consult.
  *
  * Driver-only (deliberately NOT Serializable: it holds a SparkSession,
  * so capturing it in a task closure must fail at compile/serialization
  * time, not ship a broken reference).
  */
final class GraftConf(spark: SparkSession) {

  private def opt(key: String, env: String): Option[String] =
    spark.conf.getOption(s"graft.$key").orElse(sys.env.get(env))

  /** Id lists above this size ship as broadcast joins, not `isin`. */
  def inListMax: Int =
    opt("inlist.max", "GRAFT_INLIST_MAX").map(_.toInt)
      .getOrElse(VdbStore.InListMax)

  /** Incremental-vs-full ANN refresh ratio (reference default 0.2). */
  def annIncrRatio: Double =
    opt("ann.incr.ratio", "GRAFT_ANN_INCR_RATIO").map(_.toDouble)
      .getOrElse(VdbStore.AnnIncrRatio)

  /** Explicit probe-count override for IVF search (the efSearch
    * analog); None defers to the per-index recall-first default.
    */
  def annNProbeOpt: Option[Int] =
    opt("ann.nprobe", "GRAFT_ANN_NPROBE").map(_.toInt)

  /** Probe count for an index of `nList` lists: the explicit override
    * when set, else [[graft.operators.IvfIndex.defaultNProbe]]
    * (nList/2 — recall ≥ 0.8 even on structure-free vectors; see its
    * scaladoc for the trade).
    */
  def annNProbeFor(nList: Int): Int =
    annNProbeOpt.getOrElse(graft.operators.IvfIndex.defaultNProbe(nList))

  /** Probe-fraction crossover for IVF search (the argsort-vs-
    * argpartition crossover idea from the reference, pico_vdb.py:
    * 160-167, applied one level up): when a search's requested
    * nProbe covers at least this fraction of the lists, the probing
    * machinery (per-query centroid scan, per-bucket query routing,
    * subset heap views) costs as much as the pruning saves — measured
    * at the 100k x 1024 headline, probing HALF the lists walls the
    * same as the full exact scan. At or past the fraction every
    * search path snaps nProbe to nList: the all-bucket scan, exact
    * results, recall 1.0. >= 1.0 disables the snap (always probe as
    * requested). Applied uniformly across the searchMerged* and
    * searchPacked* searches so cross-path parity holds at every nProbe.
    */
  def annExactScanFraction: Double =
    opt("ann.exactscan.fraction", "GRAFT_ANN_EXACTSCAN_FRACTION")
      .map(_.toDouble).getOrElse(0.5)

  /** Driver-side sample cap for the k-means fit. */
  def annSampleCap: Int =
    opt("ann.sample.cap", "GRAFT_ANN_SAMPLE_CAP").map(_.toInt).getOrElse(20000)

  /** Opt-in filtered-accelerator routing (round 16 IVF, round 17
    * HNSW): when true and an accelerator is enabled,
    * ids/where/whereFn-restricted queries route through the
    * accelerated scan with the filter pushed in as a broadcast
    * membership set — [[graft.operators.IvfIndex.searchMergedAllowed]]
    * (probed bucket scan + adaptive re-probe on underfill — O16 made
    * real), or [[graft.operators.HnswStore.searchMergedMember]] when
    * the graph strategy is enabled (result-collection filtering in
    * the per-shard beam + exact-member-scan snap; outranks the IVF
    * rung like hnsw outranks ann). OFF by default deliberately: it
    * changes the recall semantics of filtered queries from exact to
    * accelerator-approximate at partial nProbe/ef, which must be the
    * user's explicit trade (the reference always serves filtered
    * queries exactly, pico_vdb.py:667-668, and so do we until asked).
    */
  def annFilteredEnabled: Boolean =
    opt("ann.filtered", "GRAFT_ANN_FILTERED").exists(_.toBoolean)

  /** Largest membership set the filtered-ANN path will broadcast
    * (ids). A filter whose match set fits broadcasts it as an allow
    * set; one whose COMPLEMENT fits broadcasts that as a deny set
    * (anti-selective filters); when both overflow, the query falls
    * back to the exact filtered scan with a logged reason — the
    * honest mid-selectivity boundary at extreme scale. 4M string ids
    * ≈ low hundreds of MB broadcast, the practical executor ceiling.
    */
  def annFilteredMax: Int =
    opt("ann.filtered.max", "GRAFT_ANN_FILTERED_MAX").map(_.toInt)
      .getOrElse(4000000)

  /** Bloom rung of the filtered-ANN path (on by default — it only
    * activates when `graft.ann.filtered` is already opted into AND
    * both the match set and its complement overflow
    * `graft.ann.filtered.max`): a constant-size Bloom broadcast
    * replaces the id set, false positives are dropped by an exact
    * verification semi-join after the scan, and any query the drops
    * underfill refills from the exact filtered scan — so results keep
    * the exact-membership semantics at any selectivity. false
    * disables the rung (both-overflow goes straight to the exact
    * filtered scan).
    */
  def annFilteredBloom: Boolean =
    opt("ann.filtered.bloom", "GRAFT_ANN_FILTERED_BLOOM")
      .forall(_.toBoolean)

  /** Bloom false-positive rate for the rung above. */
  def annFilteredBloomFpp: Double =
    opt("ann.filtered.bloom.fpp", "GRAFT_ANN_FILTERED_BLOOM_FPP")
      .map(_.toDouble).getOrElse(0.03)

  /** Opt-in: bulk (`queryDF`) filtered-IVF queries compose with the
    * int8 tier ([[graft.operators.IvfIndex.searchPackedQ8Allowed]])
    * when q8 is enabled. Default OFF — the fp32 twin serves: at
    * fp32-resident scale the bulk int8 filtered twin measured SLOWER
    * than its fp32 sibling (10M×256: 33.0 s vs 23.8 s min,
    * SCALING.md's bulk filtered rows), because the membership filter
    * already prunes the probed scan and the quantize/rescore
    * round-trip adds work without shrinking the resident set. Enable
    * it when the fp32 blocks do NOT fit in cluster storage — the
    * quantized candidate scan then replaces a spilling fp32 scan.
    * Routing is telemetry-visible (`lastQueryStrategy`:
    * "ann-filtered" vs "ann-filtered+q8"). The driver-batch `query()`
    * composition keeps its own measured-win routing and ignores this
    * knob.
    */
  def annFilteredBulkQ8: Boolean =
    opt("ann.filtered.bulkq8", "GRAFT_ANN_FILTERED_BULKQ8")
      .exists(_.toBoolean)

  /** Candidate over-fetch for the Bloom rung: the scan keeps
    * `k * overfetch` candidates so that dropping false positives
    * still leaves k verified rows in the common case (k + falsePos ≤
    * k·overfetch ⟹ no true top-k row was evicted — the exactness
    * argument in VdbStore.query's bloom branch).
    */
  def annFilteredBloomOverfetch: Int =
    opt("ann.filtered.bloom.overfetch", "GRAFT_ANN_FILTERED_BLOOM_OVERFETCH")
      .map(_.toInt).getOrElse(4)

  /** Default efSearch beam for the sharded-HNSW strategy (the
    * reference's `ef_search`/`hnsw_ef_search` kwarg, default 32 there;
    * 64 here is the recall-first choice matching the nList/2 IVF
    * default — the measured clustered recall is 1.0 at ef=32 and the
    * adversarial-uniform recall keeps growing through ef=128).
    */
  def hnswEf: Int =
    opt("hnsw.ef", "GRAFT_HNSW_EF").map(_.toInt).getOrElse(64)

  /** Cluster memory the auto tier selector budgets against, in bytes.
    * Unset (the default) measures the live block managers' storage
    * capacity; set it to plan for a DIFFERENT cluster than the one
    * running the sizing (or to pin the choice in tests).
    */
  def autoMemBytes: Option[Long] =
    opt("auto.mem.bytes", "GRAFT_AUTO_MEM_BYTES").map(_.toLong)

  /** Fraction of the memory budget a tier's candidate-scan substrate
    * may occupy to count as "resident" (default 0.5 — the other half
    * covers the fp32 rescore working set, shuffle buffers, and the
    * store DataFrame cache itself).
    */
  def autoHeadroom: Double = {
    val h = opt("auto.headroom", "GRAFT_AUTO_HEADROOM").map(_.toDouble)
      .getOrElse(0.5)
    require(h > 0 && h <= 1.0,
      s"graft.auto.headroom must be in (0, 1] (got $h)")
    h
  }

  /** Max touched-id count still eligible for the shard-local HNSW
    * refresh (the delta is collected to the driver and broadcast to
    * tag touched slabs, so it must stay driver-sized). Default 1M ids
    * (~tens of MB broadcast); beyond it — or beyond annIncrRatio of
    * the store — the refresh falls back to the full parallel rebuild,
    * which a mutation wave that large amortizes anyway.
    */
  def hnswIncrCap: Long = {
    val cap = opt("hnsw.incr.cap", "GRAFT_HNSW_INCR_CAP").map(_.toLong)
      .getOrElse(1000000L)
    require(cap >= 0, s"graft.hnsw.incr.cap must be >= 0 (got $cap)")
    cap
  }

  /** How many superseded snapshot dirs a save leaves behind as a reader
    * grace window (see StoreIO.save).
    */
  def snapshotsKeep: Int =
    opt("snapshots.keep", "GRAFT_SNAPSHOTS_KEEP").map(_.toInt).getOrElse(1)

  /** Distinct-endpoint bound for the incremental component fold
    * ([[graft.operators.Dedup.mergeComponents]]): every batch-derived
    * frame there (endpoint set, touched slice, quotient labeling) is
    * broadcast, so batches above this bound route to the full
    * `connectedComponents` recompute instead of dying on a broadcast
    * limit. Default 2M endpoints ≈ a ~100 MB broadcast hash relation —
    * conservative for a local driver; raise on a cluster with driver
    * memory to spare.
    */
  def mergeMaxBatch: Long =
    opt("merge.maxBatch", "GRAFT_MERGE_MAX_BATCH").map(_.toLong)
      .getOrElse(2000000L)

  /** Score queries with sequential-double accumulation (bit-parity with
    * the DotProduct expression / declarative plan) instead of the SIMD
    * float32 kernels. Default false: float32 is the reference's own
    * scoring precision (pico_vdb.py:26) and ~5x faster.
    */
  def queryExact: Boolean =
    opt("query.exact", "GRAFT_QUERY_EXACT").exists(_.toBoolean)

  /** Rescore overfetch for the q8 query strategy: the int8 scan keeps
    * `k * overfetch` candidates per query before the full-precision
    * rescore. Must be positive on the store path — the keep-ALL-rows
    * setting (`overfetch <= 0` on `Q8Store.rescoredTopK` directly) is
    * an exact-parity TEST mode that sizes every per-query heap to the
    * full store row count and would OOM executors on a large store;
    * production callers wanting exact results should disable q8 and
    * take the exact BlockStore scan instead.
    */
  def q8Overfetch: Int = {
    val of = opt("q8.overfetch", "GRAFT_Q8_OVERFETCH").map(_.toInt).getOrElse(4)
    require(of > 0,
      s"graft.q8.overfetch must be > 0 on the store query path (got $of); " +
        "disable q8 for exact results instead of overfetch<=0")
    of
  }

  /** Rescore overfetch for the pq query strategy (the q8Overfetch
    * analog; default 8 — PQ's ADC candidates are coarser than int8's,
    * so the default candidate cut is wider). Same positivity contract:
    * keep-all is a test-only mode, not a store-path setting.
    */
  def pqOverfetch: Int = {
    val of = opt("pq.overfetch", "GRAFT_PQ_OVERFETCH").map(_.toInt).getOrElse(8)
    require(of > 0,
      s"graft.pq.overfetch must be > 0 on the store query path (got $of); " +
        "disable pq for exact results instead of overfetch<=0")
    of
  }

  /** Rescore overfetch for the bit (binary-sketch) query strategy.
    * Default 16 — Hamming candidates are coarser than PQ's ADC ones
    * (1 bit/plane vs 8 bits/subspace), so the candidate cut is the
    * widest of the tiers. Same positivity contract as q8/pq.
    */
  def bitOverfetch: Int = {
    val of = opt("bit.overfetch", "GRAFT_BIT_OVERFETCH").map(_.toInt).getOrElse(16)
    require(of > 0,
      s"graft.bit.overfetch must be > 0 on the store query path (got $of); " +
        "disable bit for exact results instead of overfetch<=0")
    of
  }

  /** Per-task ADC table budget (MB) for the IVF-PQ merged scan. Tables
    * are per-query `m * ksub` float arrays built once per task, so a
    * driver batch costs `nq * m * ksub * 4` bytes PER TASK — query
    * batches are chunked so that footprint stays under this budget.
    * Default 64 MB: the 1000q/m=64 headline stays single-chunk (its
    * r14-measured working footprint), while 1000q/m=256 — which OOMs
    * local[32] unchunked at 256 MB/task x 32 tasks — splits into 4
    * sequential passes over the code pack instead of dying.
    */
  def pqTableBudgetMb: Int = {
    val mb = opt("pq.table.budget.mb", "GRAFT_PQ_TABLE_BUDGET_MB")
      .map(_.toInt).getOrElse(64)
    require(mb > 0, s"graft.pq.table.budget.mb must be > 0 (got $mb)")
    mb
  }
}
