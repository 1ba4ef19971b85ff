package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Fns

/** The flagship near-duplicate detection + clustering pipeline.
  *
  * Semantics contract (reference parity): two documents are duplicates iff
  * `cosine(HashingEmbedder(text_a), HashingEmbedder(text_b)) >= threshold`
  * (default 0.90), clusters are connected components of that edge relation,
  * components of size < 2 are dropped, components larger than `maxGroupSize`
  * (20) are split into deterministic-order chunks — exactly the reference's
  * `group_similar` (`/root/reference/src/news_recap/recap/dedup/cluster.py:13-50`)
  * with the canonical document order pinned to (warc_ts desc, url asc), the
  * retrieval order of `ingestion/repository.py:548`. Keepers carry the
  * merged-away members' `{url, source}` lineage (`alt_urls`), mirroring
  * `recap/tasks/deduplicate.py:436-455`.
  *
  * Scale design (this is the O(n²)→O(n) rewrite, SURVEY §2.4 J1):
  *   0. exact-duplicate pre-collapse: byte-identical texts are grouped by a
  *      128-bit content hash and only one representative enters the LSH
  *      stage. A boilerplate family of B identical pages would otherwise
  *      fill one LSH bucket and emit O(B²) candidate pairs; after collapse
  *      it contributes exactly one row. Members fan back in after CC
  *      (identical text ⇒ cosine 1.0 ⇒ same component — semantics identical).
  *   1. one UDF call per representative normalizes its text once and
  *      derives the OPH MinHash signature, the 128-bit SimHash and the
  *      sparse trigram embedding from the same code points
  *   2. LSH banding turns the all-pairs θ-join into an equi-self-join on
  *      (band, bucket) — shuffle-partitioned, AQE-skew-handled. Buckets
  *      hotter than `maxBucketSize` (near-identical-but-not-exact boilerplate
  *      that survives step 0) are dropped before the join — the standard
  *      web-scale df-cap; candidate loss is bounded and measured in tests.
  *   3. candidates are verified with the exact cosine predicate as a
  *      codegen'd column expression (no UDF in the join hot path)
  *   4. connected components: the verified edges are collected in one job
  *      and finished with an in-memory union-find on the driver
  *   5. >20 split + keeper selection as window functions per component
  *
  * Banding default (128 hashes, 32 bands × 4 rows) puts the LSH S-curve
  * 50%-collision point at Jaccard ≈ (1/32)^(1/4) ≈ 0.42 — far below the
  * shingle-Jaccard that corresponds to cosine 0.90 on 3-gram vectors — so
  * candidate recall at the contract threshold is ~1.0 (measured in
  * DedupParitySpec; BASELINE target ≥ 0.99).
  */
final case class DedupConfig(
    shingleK: Int = 3,
    numHashes: Int = 128,
    bands: Int = 32,
    threshold: Double = 0.90,
    maxGroupSize: Int = 20,
    seed: Long = 42L,
    /** SimHash hamming pre-gate on LSH candidates, applied before the
      * expensive embedding join. Evidence (`Probe pairmass`, 600k-doc corpus):
      * true-edge (cosine>=0.90) hamming peaks at 6/64 and dies ~2-3x per
      * bit — max observed 21 at 1.3M edges (17 at the 3k oracle fixture) —
      * while NOISE pairs (random hamming ~ N(32,4)) start dominating the
      * distinct-candidate set above ~22: at gate 26 the verify join was 81%
      * noise (7M pairs, 5.7M noise); at 23 it is ~2.8M pairs. Since every
      * surviving pair ships a ~1KB embedding through the verify shuffle
      * (the pipeline's single largest exchange), the gate is set just above
      * the measured true-edge maximum: 23 keeps 2 bits of margin at 600k
      * docs and 6 at fixture scale, at an expected loss rate < 1e-7 per
      * edge (north-rule recall bar: 0.99). Set < 0 to disable.
      */
    simhashPregateMaxHamming: Int = 23,
    /** 128-bit SimHash hamming pre-gate, applied on top of the 64-bit
      * gate: a candidate pair must ALSO satisfy hamming128(a, b) <= this,
      * where hamming128 sums the 64-bit hamming and the hamming of the
      * independent high half ([[graft.core.MinHash.simHash128]]).
      * Doubling the bits doubles the true/noise mean separation in
      * noise-sigma units, so at equal recall this gate rejects most of
      * the noise the 64-bit gate at 23 admits —
      * the verify join's pair exchange is the pipeline's largest shuffle
      * and was majority-noise at gate 23 (`Probe pairmass`, 2 M docs).
      * Evidence for the default (`Probe pairmass`, 2 M-doc bench corpus):
      * the 64-gated verify stream is 15.16 M distinct pairs of which only
      * 4.37 M are true edges (71 % noise); true-edge hamming128
      * maxes at 36 (35 at 600 k) with the mass dying ~2x per bit (2 edges
      * of 4.37 M at 36), while raw noise above the 35.1 % true plateau is
      * 0.26 M rows at gate 42 vs 10.8 M at 64-bit gate 23 — a ~40x noise
      * cut at equal recall. 42 keeps SIX bits of margin over the observed
      * maximum (the 64-bit gate's margin has eroded to 23-vs-22 at 2 M
      * docs, which the averaged 128-bit distance is much less exposed to:
      * the h64=22 edge sits at h128=36). Candidate recall stays 1.0 in
      * DedupParitySpec/PagesGenSpec and `p_dedup_edges` stays equal to the
      * brute-force oracle. Set < 0 to disable.
      */
    simhash128PregateMaxHamming: Int = 42,
    /** Drop (band, bucket) groups with more rows than this before the LSH
      * self-join (document-frequency cap on bucket keys). <= 0 disables.
      *
      * Why it must be tight: buckets that collect documents merely sharing
      * the corpus's most-common shingles (which pin the same OPH slot
      * minima) grow LINEARLY with corpus size, so their join output grows
      * QUADRATICALLY — measured on the synthetic corpus: pre-gate pair
      * mass 9.6M at 100k docs -> 27.8M at 2x the docs (2.9x), top bucket
      * 478 -> 1003, with true families capped at 32 docs throughout. Those
      * oversized buckets are pure cross-family noise (the hamming gate
      * rejects their pairs — after the join already paid for them).
      *
      * Recall: a true near-dup family only loses edges when EVERY band's
      * bucket exceeds the cap; families an order of magnitude below the
      * cap (the golden corpora: <= 32) are untouched — recall stays 1.0 in
      * DedupParitySpec/PagesGenSpec. Families of hundreds of near-identical
      * (non-exact) pages are boilerplate at web scale and are the standard
      * df-cap sacrifice; byte-identical families of any size are safe via
      * the exact pre-collapse.
      */
    maxBucketSize: Int = 200,
    /** Optional suffix-array longest-common-substring verification layer:
      * a candidate pair must additionally share a common substring of at
      * least this fraction of the shorter text (0 disables — the reference
      * contract is cosine-only). Catches near-exact overlap/containment the
      * bag-of-trigrams cosine can miss.
      */
    lcsMinRatio: Double = 0.0)

object DedupPipeline {

  /** Storage level for the pipeline's corpus-scale caches (`keyed`, `sigs`,
    * the bucket checkpoint — and callers' input persist via this same
    * field). Semantics are placement-independent; only where the bytes sit
    * changes. DISK_ONLY because on-heap corpus text is eviction bait for
    * the big sort stages (measured convoy: 27/32 task threads parked in
    * `UnifiedMemoryManager.acquireExecutionMemory`, 2M-doc bench) and the
    * scratch dir is tmpfs on the bench box / node-local SSD on a cluster.
    */
  private[graft] val bigCacheLevel: StorageLevel = StorageLevel.DISK_ONLY

  /** 128-bit numeric surrogate key for a url. Every downstream join/shuffle
    * (LSH self-join, verify, CC) moves 16 bytes instead of a ~60-byte url
    * string; collision probability at the 10^12-doc design point is
    * ~1e-15. The url is joined back only at the final assignment step.
    * With a `day`, the url is hashed together with it, so a url seen on
    * two days is two vertices.
    */
  private def uidOf(url: Column, day: Seq[Column] = Nil): Column = {
    val key = url +: day
    struct(xxhash64(key: _*).as("h1"), xxhash64(key :+ lit(0x9E3779B9L): _*).as("h2"))
  }

  /** 128-bit content hash for the exact pre-collapse grouping. */
  private def chashOf(text: Column): Column =
    struct(xxhash64(text).as("h1"), xxhash64(text, lit(0x5EED5EEDL)).as("h2"))

  /** Per-doc signatures: uid, url, warc_ts, n_chars, minhash, simhash,
    * simhash2, n_shingles, svec — every kernel value from one call of
    * [[Fns.signaturesUdf]] per row. `withText = true` additionally carries
    * the raw text (needed only when the LCS verify layer is enabled).
    */
  def signatures(pages: DataFrame, cfg: DedupConfig,
                 withText: Boolean = false): DataFrame = {
    val base = withKernel(pages.select(col("url"), col("warc_ts"), col("text")), cfg)
    val cols = Seq(
      uidOf(col("url")).as("uid"),
      col("url"), col("warc_ts"),
      length(col("text")).as("n_chars"),
      col("sig.minhash").as("minhash"),
      col("sig.simhash").as("simhash"),
      col("sig.simhash2").as("simhash2"),
      col("sig.nShingles").as("n_shingles"),
      col("sig.svec").as("svec")) ++ (if (withText) Seq(col("text")) else Nil)
    base.select(cols: _*)
  }

  /** `pages` plus the struct `sig` of every kernel value, from one call of
    * [[Fns.signaturesUdf]] per row. */
  private def withKernel(pages: DataFrame, cfg: DedupConfig): DataFrame =
    pages.withColumn("sig", Fns.signaturesUdf(cfg.shingleK, cfg.numHashes, cfg.seed)(col("text")))

  /** The pipeline's signature cache: only the columns its later stages read.
    * uid, simhash and simhash2 feed the bucket rows and the gates; `bands`,
    * the `cfg.bands` LSH band hashes, stands in for the `numHashes`-long
    * MinHash (a quarter of its bytes at the defaults); svec feeds the verify
    * join. The text rides along only for the LCS layer, and the `dayKey`
    * column only in a day-keyed call, where it is part of the uid and of the
    * bucket key.
    */
  private def signatureCache(reps: DataFrame, cfg: DedupConfig,
                             dayKey: Seq[String]): DataFrame = {
    val cols = Seq(
      uidOf(col("url"), dayKey.map(col)).as("uid"),
      col("sig.simhash").as("simhash"),
      col("sig.simhash2").as("simhash2"),
      Fns.lshBucketsUdf(cfg.bands)(col("sig.minhash")).as("bands"),
      col("sig.svec").as("svec")) ++
      (if (cfg.lcsMinRatio > 0) Seq(col("text")) else Nil) ++ dayKey.map(col)
    withKernel(reps, cfg).select(cols: _*)
  }

  /** [[signatures]] plus `bands`, the `cfg.bands` LSH band hashes of its
    * `minhash` (null where the MinHash is): the input [[candidatesRaw]]
    * reads. */
  private[graft] def withBands(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.withColumn("bands", Fns.lshBucketsUdf(cfg.bands)(col("minhash")))

  /** Candidate pairs from LSH banding: (uid_a, uid_b, simhash_hamming) with
    * uid_a < uid_b, deduplicated across bands. The 8-byte SimHash rides
    * along in the bucket rows so the hamming pre-gate runs inside the band
    * join — before any wide payload (signature/embedding) is shuffled for a
    * candidate that a cheap bit count can reject. Hot buckets
    * (> cfg.maxBucketSize rows) are dropped first — see
    * [[SkewOps.capHotBuckets]].
    *
    * The pair stream is
    * `repartition(uid_a)`-ed BEFORE the dedup aggregate: HashPartitioning
    * on uid_a co-locates every copy of a (uid_a, uid_b) pair, so it
    * satisfies the aggregate's ClusteredDistribution(uid_a, uid_b) — full
    * dedup, one exchange — AND the deduped output stays partitioned by
    * uid_a, which is exactly the distribution the verify join's first
    * probe (`join ... on uid_a`) needs. Compared to a bare
    * dropDuplicates, this removes one whole pair exchange from the hot
    * path (per-stage listener: the dedup-output→join1 exchange was 280 MB
    * at 600k docs).
    */
  def candidates(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    distinctPairs(candidatesRaw(withBands(sigs, cfg), cfg))

  private def distinctPairs(raw: DataFrame): DataFrame =
    raw.repartition(col("uid_a")).dropDuplicates("uid_a", "uid_b")

  /** The band-join pair stream BEFORE cross-band deduplication: one row per
    * (band, bucket) co-occurrence of a pair, hamming-gated. This is exactly
    * what crosses the pair-dedup exchange; exposed for diagnostics
    * (`Probe pairmass` measures its volume per gate threshold).
    *
    * Plan shape (the zero-extra-exchange bucket stage): the exploded
    * bucket rows are hash-partitioned by (band, bucket) ONCE and pinned
    * with an eager localCheckpoint. Everything downstream then reuses that
    * single exchange's layout: the df-cap's groupBy(band, bucket) needs no
    * exchange (partial = final), its hot set broadcasts back for the
    * anti-join, and the LSH self-join sees both sides already partitioned
    * on the join key — no per-side exchange, no duplicated bucket-count
    * exchange (the per-stage listener measured both duplicated: 2x698
    * + 2x262 MB at 600k docs; now one 700 MB write). The checkpoint blocks
    * (~50 B/bucket-row) are freed by the ContextCleaner once the run's
    * frames go out of scope.
    *
    * `sigs` carries uid, simhash, simhash2 and `bands` (a row whose `bands`
    * is null has no bucket rows): the pipeline's own signature cache, or
    * [[withBands]] of [[signatures]]. `dayKey` names the day column of a
    * day-keyed call; the bucket key is then (day, band, bucket), so the
    * df-cap counts and the join pairs docs of one day only.
    */
  private[graft] def candidatesRaw(sigs: DataFrame, cfg: DedupConfig,
                                   emitHamming128: Boolean = false,
                                   dayKey: Seq[String] = Nil): DataFrame = {
    val gate128 = cfg.simhash128PregateMaxHamming >= 0
    val key = dayKey ++ Seq("band", "bucket")
    val bucketCols = Seq(col("uid"), col("simhash")) ++
      (if (gate128 || emitHamming128) Seq(col("simhash2")) else Nil) ++ dayKey.map(col) ++
      Seq(posexplode(col("bands")))
    sigs.sparkSession.sparkContext.setJobDescription("dedup: bucket checkpoint")
    val buckets0 = sigs
      .select(bucketCols: _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .repartition(key.map(col): _*)
      // bigCacheLevel (DISK_ONLY): ~GBs of bucket rows held on-heap
      // are eviction bait for the self-join's sorts (same convoy as
      // `keyed`); tmpfs/SSD re-reads keep the pinned partitioning either way.
      .localCheckpoint(eager = true, bigCacheLevel)
    val buckets =
      if (cfg.maxBucketSize > 0)
        SkewOps.capHotBuckets(buckets0, key.map(col), cfg.maxBucketSize)
      else buckets0
    // Join strategy: SortMergeJoin, not SHUFFLE_HASH. A SHUFFLE_HASH hint
    // was A/B-ed against it at 600 k docs in a clean window — steady-state
    // CPU within 1.5 % (1,065 vs 1,080 core-s for the whole pipeline). Both
    // sides are the same checkpointed frame already partitioned by the
    // bucket key, so there is no exchange either way and the per-partition
    // sorts of 12-byte keys are cheap; SMJ is kept for its graceful spill on
    // a pathological partition (equal-size sides give the hash build no
    // advantage).
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    // hamming128 = low-half hamming + independent-high-half hamming; the
    // emitted `simhash_hamming` column stays the 64-bit (low-half) value —
    // it is part of the p_dedup_edges oracle contract. Both gates run
    // INSIDE the band join's projection, before the pair crosses any
    // further exchange; the h128 helper column is dropped pre-shuffle
    // unless a diagnostics caller (`Probe pairmass`) asks for it.
    val joined = a.join(b,
        key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.uid") < col("b.uid"))
      .select(Seq(col("a.uid").as("uid_a"), col("b.uid").as("uid_b"),
        Fns.hammingCol(col("a.simhash"), col("b.simhash")).as("simhash_hamming")) ++
        (if (gate128 || emitHamming128)
          Seq((Fns.hammingCol(col("a.simhash"), col("b.simhash")) +
            Fns.hammingCol(col("a.simhash2"), col("b.simhash2"))).as("simhash_hamming128"))
        else Nil): _*)
    val g64 =
      if (cfg.simhashPregateMaxHamming >= 0)
        joined.filter(col("simhash_hamming") <= cfg.simhashPregateMaxHamming)
      else joined
    val g128 =
      if (gate128)
        g64.filter(col("simhash_hamming128") <= cfg.simhash128PregateMaxHamming)
      else g64
    if (gate128 && !emitHamming128) g128.drop("simhash_hamming128") else g128
  }

  /** Verified duplicate edges: exact reference cosine >= threshold. Only the
    * embedding column is shuffled into this join (the hot path); pass
    * `diagnostics = true` to also carry MinHash signatures and emit the
    * estimated-Jaccard column. When `cfg.lcsMinRatio > 0`, `sigs` must have
    * been built with `withText = true` and a suffix-array LCS gate runs
    * after the cosine predicate.
    */
  def verifiedEdges(sigs: DataFrame, cand: DataFrame, cfg: DedupConfig,
                    diagnostics: Boolean = false): DataFrame = {
    val lcs = cfg.lcsMinRatio > 0
    val lhsCols = Seq(col("uid").as("uid_a"), col("svec").as("svec_a")) ++
      (if (diagnostics) Seq(col("url").as("url_a"), col("minhash").as("mh_a")) else Nil) ++
      (if (lcs) Seq(col("text").as("text_a")) else Nil)
    val rhsCols = Seq(col("uid").as("uid_b"), col("svec").as("svec_b")) ++
      (if (diagnostics) Seq(col("url").as("url_b"), col("minhash").as("mh_b")) else Nil) ++
      (if (lcs) Seq(col("text").as("text_b")) else Nil)
    // SHUFFLE_HASH on the pair-stream side: the default SortMergeJoin
    // sorts the corpus-scale signature side AND the pair stream for each
    // of the two probes; hashing the (narrow, post-128-bit-gate, hence
    // small) pair side instead streams the signature rows through
    // unsorted — the structurally right build side per the optimization
    // guide §3.1. Measured effect at 600 k steady state is
    // small (~1.5 % pipeline CPU together with the band-join variant, same
    // window A/B), kept because the asymmetry grows with corpus size (sig
    // rows sort O(n log n); the gate keeps pairs ~linear). Same rows out —
    // join strategy only; AQE skew-split supports SHJ.
    val cosVerified = cand
      .hint("SHUFFLE_HASH")
      .join(sigs.select(lhsCols: _*), "uid_a")
      .hint("SHUFFLE_HASH")
      .join(sigs.select(rhsCols: _*), "uid_b")
      .withColumn("cosine", Fns.cosineSparseCol(col("svec_a"), col("svec_b")))
      .filter(col("cosine") >= cfg.threshold)
    // LCS is the most expensive predicate (suffix-array build per pair), so
    // it runs last, on cosine survivors only.
    val verified =
      if (lcs) cosVerified.filter(
        Fns.lcsRatioUdf(col("text_a"), col("text_b")) >= cfg.lcsMinRatio)
      else cosVerified
    val base = Seq(col("uid_a"), col("uid_b"), col("cosine"), col("simhash_hamming"))
    if (diagnostics)
      verified.select(base ++ Seq(col("url_a"), col("url_b"),
        Fns.estJaccardCol(col("mh_a"), col("mh_b")).as("est_jaccard")): _*)
    else verified.select(base: _*)
  }

  /** Full run: pages -> cluster assignments.
    *
    * Output columns: url, warc_ts, n_chars, component (min url of the
    * pre-split component), chunk, cluster_id (sha1 of component key + chunk
    * index), cluster_size, is_keeper, alt_urls (keeper rows only: the
    * merged-away members' {url, source} in canonical order — the
    * reference's keeper lineage contract, `deduplicate.py:446-455`).
    * Docs not in any cluster (singletons) are omitted — the reference
    * returns only groups of >= 2.
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    dedup(spark, pages, cfg, byDay = false)

  /** [[run]] over every day of `pages` at once, each day on its own: the
    * day of `warc_ts` ([[Fns.dayKey]]) is part of every key that decides a
    * group — the exact pre-collapse key (day, chash), the uid (the url
    * hashed with its day) and the LSH bucket key (day, band, bucket) — so
    * no pair, exact group or component spans two days. The rows of each
    * day are exactly what [[run]] over that day alone returns; the output
    * columns are the same (the day is `Fns.dayKey(warc_ts)` of each row).
    * One call pays the pipeline's fixed cost once for all its days; its
    * driver-side CC envelope and scratch grow with the call's input.
    */
  def runDays(spark: SparkSession, pages: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    dedup(spark, pages, cfg, byDay = true)

  private def dedup(spark: SparkSession, pages: DataFrame, cfg: DedupConfig,
                    byDay: Boolean): DataFrame = {
    // the stages label their jobs; the caller's label is restored on exit
    val callerDescription = spark.sparkContext.getLocalProperty("spark.job.description")
    // the day as days since the epoch: an int key, one-to-one with Fns.dayKey
    val dayKey = if (byDay) Seq("day") else Nil
    val projected = pages.select(Seq(col("url"), col("warc_ts"), col("text")) ++
      (if (byDay) Seq(unix_date(to_date(Fns.dayKey(col("warc_ts")))).as("day")) else Nil): _*)

    // ---- stage 0: exact pre-collapse ---------------------------------
    // groupBy(content hash) is skew-safe (map-side partial agg) and moves
    // only (chash, url) — the text never enters that exchange. The corpus
    // then meets `dupGroups` in ONE left join: rep rows are the ones whose
    // url is the group's rep_url (or that have no group), member rows fall
    // out of the same joined frame. dupGroups is the output of a shuffle,
    // so AQE sizes it at runtime and broadcasts it when the
    // duplicated-hash set is small (the common case) — then the text
    // crosses NO wire here at all; otherwise it crosses exactly once.
    // (A join plus a left-anti of the same full-text frame would shuffle
    // the corpus text twice: BENCH_r03 measured shuffle ≈ read at 49 KB/doc
    // in that shape.)
    // n_chars is computed MAP-SIDE here so the member-rows plan below
    // never needs the text column: its copy of the join shuffles only
    // (chash, url, warc_ts, n_chars) — ~90 B/row, not the document.
    // bigCacheLevel (DISK_ONLY), deliberately: this is the full
    // corpus INCLUDING text — the pipeline's biggest cache. Held
    // on-heap (MEMORY_AND_DISK) it fills the unified pool's storage
    // side, and the big sort stages' execution requests then evict it
    // page-by-page under the UnifiedMemoryManager lock — at 32 threads
    // that is a measured convoy (27/32 task threads parked in
    // acquireExecutionMemory, 2M-doc bench) plus ~19 re-scans of the
    // source parquet as the evicted partitions recompute. Serialized on
    // scratch disk (tmpfs here, node-local SSD on a cluster) it costs
    // one write + cheap re-reads and leaves the whole pool to execution.
    val keyed = projected.withColumn("chash", chashOf(col("text")))
      .withColumn("n_chars", length(col("text")))
      .persist(bigCacheLevel)
    val exactKey = dayKey :+ "chash"
    val dupGroups = keyed.groupBy(exactKey.map(col): _*)
      .agg(min(col("url")).as("rep_url"), count(lit(1)).as("grp_n"))
      .filter(col("grp_n") >= 2)
    val reps = keyed.join(dupGroups, exactKey, "left")
      .filter(col("rep_url").isNull || col("url") === col("rep_url"))
      .select((Seq("url", "text") ++ dayKey).map(col): _*)
    // (url, warc_ts, n_chars, rep_uid, exact_grp_n) for every input row
    val members = keyed.drop("text").join(dupGroups, exactKey, "left")
      .select(col("url"), col("warc_ts"), col("n_chars"),
        uidOf(coalesce(col("rep_url"), col("url")), dayKey.map(col)).as("rep_uid"),
        coalesce(col("grp_n"), lit(1L)).as("exact_grp_n"))

    // `members` does not depend on stages 1-4, but left lazy it is
    // evaluated only inside the post-CC assignment join — a measured ~10 s
    // SERIAL tail at the 2M-doc bench (keyed re-scan + dupGroups
    // re-aggregation + a full-corpus exchange, all after CC finishes, at
    // both parallelism levels — i.e. pure fixed cost F in the t(p)=C/p+F
    // scaling model). Materialize it on a second scheduler thread instead:
    // the work overlaps the candidate/verify stages' barrier gaps (the
    // timed section runs at ~77% slot utilization), and the
    // repartition(rep_uid) pre-positions the rows so the assignment join
    // exchanges only the small CC-label side. The rows are slim
    // (~90 B/doc, no text), so MEMORY_AND_DISK is not eviction bait.
    // `keyed` is dropped as soon as both of its readers have filled their
    // own caches (sigs on the main thread, membersPart here).
    val membersPart = members.repartition(col("rep_uid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keyedReaders = new java.util.concurrent.atomic.AtomicInteger(2)
    val keyedRead = () => if (keyedReaders.decrementAndGet() == 0) keyed.unpersist(): Unit
    val membersPool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val membersFut = membersPool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        spark.sparkContext.setJobDescription("members: background materialize")
        val n = membersPart.count()
        keyedRead()
        n
      }
    })
    membersPool.shutdown()

    // If any stage below throws (candidate/verify/CC failure), cancel the
    // background members job and release every cache before rethrowing —
    // otherwise the count keeps running unobserved and the four persisted
    // frames leak for the life of the session.
    var done = false
    var sigs: DataFrame = null
    try {
      val out = runStages(spark, cfg, keyedRead, membersPart, membersFut,
        s => sigs = s, reps, dayKey)
      done = true
      out
    } finally {
      if (!done) {
        membersFut.cancel(true)
        if (sigs != null) sigs.unpersist()
        membersPart.unpersist()
      }
      keyed.unpersist()
      spark.sparkContext.setJobDescription(callerDescription)
    }
  }

  /** Stages 1-5 (signatures -> candidates -> verify -> CC -> keepers) —
    * split out of [[dedup]] so its error path can clean up the caches in one
    * place. `onSigs` hands the persisted signature frame back to the caller
    * for failure-path unpersist.
    */
  private def runStages(spark: SparkSession, cfg: DedupConfig,
                        keyedRead: () => Unit,
                        membersPart: DataFrame,
                        membersFut: java.util.concurrent.Future[Long],
                        onSigs: DataFrame => Unit,
                        reps: DataFrame,
                        dayKey: Seq[String]): DataFrame = {
    // ---- stages 1-4 over representatives ------------------------------
    // Multi-consumer caches must be FULLY materialized before any job fans
    // out over them: consumers' stages otherwise run concurrently inside
    // one job and race to compute the same uncached partitions — Spark's
    // block-level getOrElseUpdate lets every racer recompute the partition
    // (only one stores it), so the expensive UDF work is duplicated roughly
    // once per concurrent consumer, and the duplication grows with task
    // slots: measured 2.6 core-ms/doc at local[4] vs 23 core-ms/doc at
    // local[16] on the same corpus — the scaling-efficiency killer. The
    // materialization does NOT need a dedicated count() job, though: a
    // single-consumer job that scans the whole cache (the bucket checkpoint
    // for sigs, the eager edge checkpoint for the edge list) populates it
    // just as completely without the extra pass + barrier.
    // (keyed's three consumers race too, but its recompute is one cheap
    // hash pass — not worth a barrier; sigs carries the UDF work.)
    // bigCacheLevel for the same reason as `keyed` above: the embeddings
    // and band hashes are gigabytes at bench scale, and every byte held
    // on-heap is eviction bait for the candidate stage's sorts. Both
    // consumers (bucket explode, verify join) scan it sequentially —
    // serialized re-reads are cheap.
    val sc = spark.sparkContext
    // sigs is persisted but NOT eagerly counted: its FIRST consumer is the
    // bucket checkpoint inside candidatesRaw — a single-consumer job, so
    // there is no concurrent-recompute race to barrier against, and that
    // job's scan fills the cache for the verify join's two later reads. A
    // sigs.count() would be one full extra pass over the corpus-scale cache
    // plus a serial barrier (fixed cost F).
    val sigs = signatureCache(reps, cfg, dayKey).persist(bigCacheLevel)
    onSigs(sigs)
    val cand = distinctPairs(candidatesRaw(sigs, cfg, dayKey = dayKey))
    keyedRead() // the bucket checkpoint filled sigs
    // Edge list materialized once by an eager localCheckpoint, in a job of
    // its own, so the verify join's work is not charged to CC's collect.
    // Unlike persist(), a checkpoint runs through AQE, so it lands in
    // data-sized partitions instead of the verify join's 128 (cached plans
    // bypass coalescing).
    sc.setJobDescription("dedup: verify edges materialize")
    val edges = verifiedEdges(sigs, cand, cfg)
      .select(col("uid_a").as("src"), col("uid_b").as("dst"))
      .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)
    // Each frame's blocks are dropped once its last reader has run, not when
    // the driver's GC lets Spark's cleaner find them: a drain runs its days
    // back to back, and a day's leftovers would still be on the scratch disk
    // while the next day runs.
    sigs.unpersist()
    releaseCheckpoints(cand, sigs)

    // Only vertices that appear in at least one edge can be in a >=2
    // component; everything else is a singleton and drops out — keeps the
    // CC working set at the number of *duplicated* docs, not corpus size.
    // So CC collects the edges alone (32 B per edge).
    val comps = ConnectedComponents.run(spark, edges)
    releaseCheckpoints(edges, sigs)

    // ---- fan exact-dup members back in --------------------------------
    // component(row) = CC component of its representative, or the rep uid
    // itself when the rep has no near-dup edges but heads an exact-dup
    // group of >= 2 (that group IS a component).
    membersFut.get() // surface any background-materialization failure here
    val assigned = membersPart
      .join(comps, membersPart("rep_uid") === comps("id"), "left")
      .withColumn("component",
        coalesce(col("component"),
          when(col("exact_grp_n") >= 2, col("rep_uid"))))
      .filter(col("component").isNotNull)
      .select(col("url"), col("warc_ts"), col("n_chars"), col("component"))

    // Materialize before releasing the caches: the returned frame is the
    // small clustered subset, and callers (bench, checkpoint writer,
    // downstream ordering) all consume it more than once.
    sc.setJobDescription("dedup: assign + keepers")
    val out = splitAndSelectKeepers(assigned, cfg).localCheckpoint(eager = true)
    membersPart.unpersist()
    out
  }

  /** Drops the blocks of the local checkpoints that `df` reads and
    * `upstream` does not: the ones taken since `upstream` was built, never
    * a caller's. */
  private def releaseCheckpoints(df: DataFrame, upstream: DataFrame): Unit = {
    def checkpoints(d: DataFrame) = d.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.toSet
    (checkpoints(df) -- checkpoints(upstream)).foreach(_.unpersist(blocking = false))
  }

  /** The reference's post-CC steps: drop <2 components, split >maxGroupSize
    * components into canonical-order chunks of <= maxGroupSize, drop <2
    * chunks, pick the keeper (max text length, earliest canonical order on
    * ties — Python `max` keeps the first maximum), accumulate the
    * non-keepers' {url, source} onto the keeper as `alt_urls`
    * (`deduplicate.py:446-455`; source = host, the Spark-side analog of the
    * reference's feed source name).
    */
  def splitAndSelectKeepers(assigned: DataFrame, cfg: DedupConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val compW = Window.partitionBy(col("component"))
    val canonical = compW.orderBy(col("warc_ts").desc, col("url").asc)
    val withRn = assigned
      .withColumn("rn", row_number().over(canonical))
      .withColumn("comp_size", count(lit(1)).over(compW))
      // human-meaningful deterministic component key: min url of the component
      .withColumn("component_key", min(col("url")).over(compW))
      .filter(col("comp_size") >= 2)
      .withColumn("chunk", ((col("rn") - 1) / cfg.maxGroupSize).cast("int"))

    val chunkW = Window.partitionBy(col("component"), col("chunk"))
    val keeperW = chunkW.orderBy(col("n_chars").desc, col("rn").asc)
    val chunkFull = chunkW.orderBy(col("rn").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withRn
      .withColumn("cluster_size", count(lit(1)).over(chunkW))
      .filter(col("cluster_size") >= 2)
      .withColumn("is_keeper", row_number().over(keeperW) === 1)
      // every non-keeper's {url, source} in canonical order; kept on the
      // keeper row only (null elsewhere) — collect_list drops the keeper's
      // own null entry
      .withColumn("alt_urls_all",
        collect_list(when(!col("is_keeper"),
          struct(col("url"), parse_url(col("url"), lit("HOST")).as("source"))))
          .over(chunkFull))
      .withColumn("alt_urls", when(col("is_keeper"), col("alt_urls_all")))
      .select(col("url"), col("warc_ts"), col("n_chars"),
        col("component_key").as("component"), col("chunk"),
        sha1(concat_ws("#", col("component_key"), col("chunk"))).as("cluster_id"),
        col("cluster_size"), col("is_keeper"), col("alt_urls"))
  }
}
