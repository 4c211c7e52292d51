package graft.operators

import graft.functions.{PortableHash, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection: MinHash + LSH banding and SimHash.
  *
  * Scale shape: signatures are computed *within-row* with higher-order
  * functions (no explode, no shuffle — pure scan work over the
  * corpus). The only shuffle in the whole pipeline is the LSH
  * bucket self-join, which is an equi-join on band hashes — bounded
  * fan-out, never the O(n²) all-pairs join. Candidate verification
  * (exact Jaccard) happens only inside buckets. All hashing is
  * md5-derived (PortableHash), so the DuckDB oracle reproduces results
  * bit-for-bit.
  */
object NearDup {

  /** Default [[minhashPairs]] hot-bucket guard: buckets above this
    * size emit linear star edges instead of all pairs. 10⁴ keeps the
    * worst single bucket under ~5·10⁷ candidate pairs while being far
    * above any bucket a non-degenerate corpus produces (the gate
    * corpus' largest bucket is in the tens), so results are
    * bit-identical there — the safe path is the default path.
    */
  val DefaultMaxBucket: Int = 10000

  def sigCol(j: Int): String = s"sig_$j"

  /** Operator-internal persisted frames that outlive their call (the
    * LSH band/shingle-set indexes). Spark's CacheManager dedupes
    * identical plans, so repeated calls over the same inputs reuse one
    * copy — but *different* inputs would accumulate blocks for the
    * session's lifetime. Every such frame is registered here;
    * [[releaseCaches]] drops them all (safe at any time — an
    * unpersisted frame silently recomputes), and the registry is capped
    * so unattended long-running sessions evict the oldest index instead
    * of growing without bound. Only `persist`ed frames belong here:
    * `unpersist` does nothing to a checkpointed frame.
    */
  private val MaxCachedFrames = 8
  private val cachedFrames = scala.collection.mutable.Queue.empty[DataFrame]

  private[graft] def registerCache(df: DataFrame): DataFrame = synchronized {
    // dedupe by PLAN, not object: repeated calls over the same input
    // build fresh DataFrames whose persist() CacheManager dedupes to
    // one shared copy — but each naive enqueue still consumed a queue
    // slot, so the 3rd call over the same corpus EVICTED the shared
    // blocks the running query was using (measured: q_minhash_pairs
    // reps 1-2 ≈ 0.83 s, reps 3+ ≈ 1.9 s, every rep after the queue
    // first overflowed). Re-registering an equivalent plan refreshes
    // its LRU position instead.
    val dup = cachedFrames.dequeueAll(
      _.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
    // equivalent plans share ONE cache entry, so never unpersist a
    // duplicate (that would uncache the entry dup.head still uses);
    // the dedupe above keeps at most one queued
    assert(dup.size <= 1, s"${dup.size} equivalent cached plans queued")
    if (dup.nonEmpty) cachedFrames.enqueue(dup.head)
    else {
      cachedFrames.enqueue(df)
      while (cachedFrames.size > MaxCachedFrames)
        cachedFrames.dequeue().unpersist(blocking = false)
    }
    df
  }

  /** Unpersist every operator-internal cached frame registered by the
    * LSH operators ([[minhashPairs]], [[containmentPairs]], ...). Call
    * when done with a batch of near-dup work; subsequent use of
    * previously returned DataFrames stays correct (they recompute).
    * [[dupClusters]] registers nothing: its labels are a local relation.
    */
  def releaseCaches(): Unit = synchronized {
    cachedFrames.dequeueAll(_ => true).foreach(_.unpersist(blocking = false))
  }

  /** Append `numHashes` MinHash signature columns computed over char
    * `k`-shingles of `textCol`. Duplicate shingles don't affect a min,
    * so no distinct pass is needed.
    *
    * All signatures come from ONE `aggregate` traversal of the shingle
    * array: each shingle is md5-hashed exactly once and folded into an
    * array of running minima (one per seed, coefficient linear in the
    * seed index — bit-identical to the per-seed constants the oracle
    * uses). The naive per-seed formulation re-hashes every shingle per
    * signature column — 8 signatures cost 8 scans of the text; this
    * costs one.
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 8
  ): DataFrame =
    // two selects, not numHashes withColumns: every withColumn is a
    // full re-analysis of the growing plan — measured driver cost at
    // bench scale (construction is single-threaded, guide §7.3)
    df.withColumn("_sigs",
        graft.functions.MinHashSigs.minhash(col(textCol), k, numHashes))
      .select((df.columns.map(col) ++
        (0 until numHashes).map(j => element_at(col("_sigs"), j + 1).as(sigCol(j)))): _*)

  /** Declarative (higher-order-function) formulation of the signature
    * computation — the reference semantics [[graft.functions.MinHashSigs]]
    * must reproduce; kept for cross-checking in tests and as the
    * oracle-readable specification.
    */
  def minhashSignaturesDeclarative(
      df: DataFrame,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 8
  ): DataFrame = {
    val hashes = transform(Text.shingles(col(textCol), k), sh => PortableHash.md5Mod(sh))
    val sigs = aggregate(
      hashes,
      array_repeat(lit(PortableHash.Prime), numHashes),
      (acc, h) =>
        transform(acc, (m, j) => {
          val a = lit(PortableHash.A0) + lit(PortableHash.DA) * j
          val b = lit(PortableHash.B0) + lit(PortableHash.DB) * j
          least(m, (a * h + b) % PortableHash.Prime)
        }))
    val withSigs = df.withColumn("_sigs", sigs)
    (0 until numHashes)
      .foldLeft(withSigs) { (d, j) =>
        d.withColumn(sigCol(j), element_at(col("_sigs"), j + 1))
      }
      .drop("_sigs")
  }

  /** LSH band key: md5 over the '|'-joined signatures of the band. */
  def bandKey(sigs: Seq[Column]): Column =
    md5(concat_ws("|", sigs: _*))

  /** Candidate near-duplicate pairs via banding, verified with exact
    * shingle-set Jaccard; returns (a_id, b_id, jaccard, star) with
    * a_id < b_id and jaccard rounded to 4 decimals. Non-star rows
    * carry jaccard >= threshold; `star = true` rows are the
    * hot-bucket guard's connectivity edges (below) — they bypass the
    * threshold filter so an oversized bucket stays one connected
    * component, and their jaccard is still the exact verified value,
    * so a consumer wanting threshold-only semantics filters
    * `!star` (or `jaccard >= t`) explicitly instead of losing
    * connectivity silently.
    *
    * Banding S-curve: a pair with true Jaccard J collides with
    * probability 1-(1-J^r)^b for r = numHashes/bands rows per band.
    * The default (r=4, b=2) centers the curve near t* ≈ 0.84 — on a
    * broadly self-similar corpus (background J ≈ 0.25, like web text
    * after boilerplate) r=2 banding floods the verify stage with
    * ~30% of ALL pairs, while r=4 keeps the false-candidate rate
    * under 1% and still catches every exact/near-exact duplicate.
    *
    * Shuffle discipline: the band self-join carries only
    * (band, hash, id) — the shingle sets are attached to the deduped
    * candidate pairs afterwards by two id-equi-joins, so large arrays
    * never ride through the bucket shuffle.
    *
    * `maxBucket` bounds the quadratic bucket blow-up at corpus scale:
    * buckets above it emit a linear STAR of candidates around the
    * bucket's min id instead of all pairs (see the inline note).
    */

  /** The md5 shingle pass is CPU-bound and its parallelism is capped
    * by the INPUT's partition count — a small corpus arriving as one
    * parquet split would hash on one core while the rest idle. Widen
    * narrow inputs to the session's parallelism (the skinny
    * projection's shuffle is pennies next to the hashing);
    * already-wide corpus inputs pass through untouched, so the 100 TB
    * shape gains no extra shuffle.
    */
  private def widened(df: DataFrame, cols: Seq[String]): DataFrame =
    // static narrowness check (no Dataset.rdd: that builds the executed
    // plan — and runs jobs under AQE — at query-construction time)
    Widen.toParallelism(df.select(cols.map(col): _*))

  /** Pin the candidate-pair shuffle at the session's parallelism.
    *
    * The exact-verify stage downstream does heavy per-ROW work
    * (sorted-set intersections over shingle arrays) on skinny
    * (idA, idB) rows, so AQE's BYTE-based partition coalescing is
    * blind to its cost: a few MB of candidate pairs coalesce to ONE
    * post-shuffle partition and the whole verify runs on one core
    * (measured: a 1.05 s single-task stage inside a 2.8 s
    * q_minhash_pairs — the bench's slowest stage). An explicit
    * numbered repartition on the pair key replaces the implicit
    * ENSURE_REQUIREMENTS exchange the pair-dedup needs anyway (same
    * exchange count, same key, so the dedup reuses it) and —
    * because REPARTITION_BY_NUM exchanges are exempt from AQE
    * coalescing — keeps the verify at full parallelism at every
    * scale. defaultParallelism is the total core count on a cluster
    * too, the right width for a CPU-bound stage — and the FLOOR here:
    * at corpus scale billions of skinny pairs over exactly core-count
    * partitions would make multi-GB fixed partitions with both AQE
    * coalescing and skew-splitting opted out, so the width scales with
    * the corpus scan bytes: pair rows are two ids (~32 B) against a
    * ~1 KB document row, so pair bytes ≈ scan bytes / 32, and one
    * partition per 2 GB of corpus keeps pair partitions in the tens of
    * MB. At bench scale (MB-sized corpora) the floor binds and plans
    * are byte-identical to the pinned-parallelism shape.
    */
  private[operators] def spreadPairs(pairs: DataFrame, keyA: String, keyB: String): DataFrame = {
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    val n = Widen.scanBytes(pairs) match {
      case Some(bytes) =>
        math.max(par.toLong, (bytes / (2L * 1024 * 1024 * 1024)).toLong).toInt
      case None => par
    }
    pairs.repartition(n, col(keyA), col(keyB))
  }

  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 8,
      bands: Int = 2,
      threshold: Double = 0.5,
      /** Hot-bucket guard threshold — ON by default: a 10⁴ bucket is
        * already 5·10⁷ pairs (seconds of one executor's time), and
        * anything bigger is boilerplate whose star edges keep the
        * cluster connected. Pass `Int.MaxValue` to force all-pairs.
        */
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val rowsPerBand = numHashes / bands

    // HASHED shingle sets (sorted distinct 48-bit md5 longs) — the ONE
    // md5 pass over the corpus text. Both stages derive from it: the
    // signatures fold the affine minima over the cached hash arrays
    // (MinHash over the distinct set == over all shingles — a
    // duplicate never changes a min), and the verify stage joins the
    // same relation, so each document is shingled+hashed exactly once
    // instead of once per stage. Hashed sets have identical
    // cardinalities to the string sets in every engine and make the
    // verify a merge walk over longs.
    val shsets = widened(df, Seq(idCol, textCol)).select(
      col(idCol).as("_sid"),
      graft.functions.TextHashExpressions.shingleHashSet(col(textCol), k).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(shsets)

    // two selects, not numHashes withColumns (each is a re-analysis)
    val signed = shsets
      .select(col("_sid").as(idCol),
        graft.functions.MinHashSigs.minhashFromHashes(col("_sh"), numHashes).as("_sigs"))
      .select((col(idCol) +:
        (0 until numHashes).map(j => element_at(col("_sigs"), j + 1).as(sigCol(j)))): _*)

    // skinny band relation: (band, bh, id) — persisted so the self-join
    // (and its two join sides) reads the cached hash sets exactly once
    // instead of re-evaluating the signature subtree per side.
    val banded = signed.select(
      col(idCol).as("_id"),
      array((0 until bands).map { b =>
        val sigs = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(sigCol(j)))
        struct(lit(b).as("band"), bandKey(sigs).as("bh"))
      }: _*).as("_bands"))
      .select(col("_id"), explode(col("_bands")).as("_b"))
      .select(col("_id"), col("_b.band").as("band"), col("_b.bh").as("bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(banded)

    // hot-bucket guard: a bucket of B members yields B²/2 candidate
    // pairs — one boilerplate bucket of 10⁶ identical docs at corpus
    // scale is 5·10¹¹ pairs and a dead executor. Buckets above
    // `maxBucket` switch from all-pairs to a STAR around the bucket's
    // min id (B−1 pairs, linear). Star edges are TAGGED and exempt
    // from the threshold filter below — the bucket stays one
    // connected component even when a member's similarity to the
    // representative verifies under the threshold (without the
    // exemption a mixed hot bucket silently loses both pairs and
    // connectivity). The remaining recall loss, documented: a member
    // near ANOTHER member but not near the representative yields no
    // member↔member pair.
    val candidates =
      if (maxBucket == Int.MaxValue) {
        spreadPairs(banded.as("a")
          .join(banded.as("b"), Seq("band", "bh"))
          .where(col("a._id") < col("b._id"))
          .select(col("a._id").as("a_id"), col("b._id").as("b_id")), "a_id", "b_id")
          .dropDuplicates("a_id", "b_id")
          .withColumn("star", lit(false))
      } else {
        // only the HOT buckets materialize (≤ rows/maxBucket of them,
        // and normally NONE): broadcast-anti-joining that tiny set
        // keeps the default-on guard at near-zero cost on healthy
        // corpora — the earlier shape joined the FULL per-bucket
        // stats into every banded row and paid ~30% on the bench
        val hot = banded.groupBy("band", "bh")
          .agg(count(lit(1)).as("_n"), min(col("_id")).as("_rep"))
          .where(col("_n") > maxBucket)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        registerCache(hot)
        // healthy corpora have ZERO hot buckets, and the plan below
        // already collapses to near-nothing for them AT RUN TIME: the
        // tiny `hot` aggregate broadcasts empty, so the anti-join
        // passes every banded row through a probe of an empty hash
        // relation and AQE's empty-relation propagation prunes the
        // star branch outright. r15 gated this shape behind a driver
        // `hot.isEmpty` action instead — one extra SYNCHRONOUS job
        // (plus its scheduling floor) per pipeline construction, paid
        // mid-plan on every run (guide §7.3); folding the existence
        // check into the plan gives identical results with one fewer
        // job (measured on q_minhash_pairs, OPTIMIZATION_r16.md)
        val small = banded.join(
          broadcast(hot.select("band", "bh")), Seq("band", "bh"), "left_anti")
        val allPairs = small.as("a")
          .join(small.select("band", "bh", "_id").as("b"), Seq("band", "bh"))
          .where(col("a._id") < col("b._id"))
          .select(col("a._id").as("a_id"), col("b._id").as("b_id"))
          .withColumn("star", lit(false))
        // oversized buckets: star edges rep→member, one linear pass
        val starPairs = banded
          .join(broadcast(hot.select("band", "bh", "_rep")), Seq("band", "bh"))
          .where(col("_id") =!= col("_rep"))
          .select(col("_rep").as("a_id"), col("_id").as("b_id"))
          .withColumn("star", lit(true))
        // a pair can be both a small-bucket candidate (one band) and
        // a star edge (another): max() keeps the STAR provenance —
        // an extra banding collision must never REDUCE connectivity
        // (min() would re-drop a sub-threshold star edge and
        // disconnect the hot bucket, the exact loss the exemption
        // exists to prevent); the output tag below narrows to pairs
        // actually kept by the exemption
        spreadPairs(allPairs.unionByName(starPairs), "a_id", "b_id")
          .groupBy("a_id", "b_id").agg(max(col("star")).as("star"))
      }

    // attach the cached hash sets only to surviving candidates
    // (no broadcast hint: at corpus scale this must stay a shuffle join;
    // AQE upgrades it to broadcast when runtime stats allow)
    val withSets = candidates
      .join(shsets, col("a_id") === col("_sid"))
      .withColumnRenamed("_sh", "a_sh").drop("_sid")
      .join(shsets, col("b_id") === col("_sid"))
      .withColumnRenamed("_sh", "b_sh").drop("_sid")

    val inter = graft.functions.TextHashExpressions
      .sortedIntersectCount(col("a_sh"), col("b_sh")).cast("double")
    val union = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    withSets
      .withColumn("jaccard", round(inter / union, 4))
      .where(col("jaccard") >= threshold || col("star"))
      // the tag narrows to pairs the exemption ALONE kept: a
      // threshold-passing pair is an ordinary verified near-dup
      // regardless of which buckets surfaced it (so `!star` consumers
      // never lose verified pairs), and star = true ⟺ kept only for
      // hot-bucket connectivity
      .withColumn("star", col("star") && col("jaccard") < lit(threshold))
      .select("a_id", "b_id", "jaccard", "star")
  }

  /** [[minhashPairs]] restricted to VERIFIED threshold-passing pairs —
    * the original three-column (a_id, b_id, jaccard) contract, without
    * the hot-bucket guard's connectivity-only star edges. Use this
    * when consuming pairs positionally or aggregating jaccard; use
    * [[minhashPairs]] (and keep the star edges) when feeding a
    * connected-components clustering, where dropping them would
    * silently split oversized buckets.
    */
  def minhashPairsVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 8,
      bands: Int = 2,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame =
    minhashPairs(df, idCol, textCol, k, numHashes, bands, threshold, maxBucket)
      .where(!col("star"))
      .select("a_id", "b_id", "jaccard")

  /** Asymmetric near-duplication by SHINGLE CONTAINMENT —
    * `|A∩B| / min(|A|, |B|)` — the subset/quote detector Jaccard
    * misses: a 50-word passage copied verbatim into a 5000-word doc
    * has tiny Jaccard but containment 1.0. MinHash-LSH banding is the
    * WRONG index for this (signatures of the small and the large doc
    * differ almost everywhere), so candidates come from an inverted
    * RARE-SHINGLE index instead: each doc's shingle-hash set explodes
    * to skinny (shingle, id) rows, shingles with corpus document
    * frequency in [2, maxDf] block the join (rare-token blocking, the
    * clone-detection standard), and candidates verify exactly via the
    * sorted-set intersect. Declared blocking assumption: a pair
    * sharing ONLY above-`maxDf` shingles is not reported — the oracle
    * replays the identical blocking, so the operator's contract is
    * exact.
    *
    * Scale shape: the inverted index carries 48-bit longs + ids; the
    * df cap bounds every blocking shingle's join fan-out at
    * maxDf²/2 pairs; text never shuffles (sets attach to surviving
    * candidates by id).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      threshold: Double = 0.8,
      maxDf: Int = 20
  ): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val shsets = widened(df, Seq(idCol, textCol)).select(
      col(idCol).as("_sid"),
      graft.functions.TextHashExpressions.shingleHashSet(col(textCol), k).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(shsets)

    val inv = shsets.select(col("_sid"), explode(col("_sh")).as("_g"))
    val dfreq = inv.groupBy("_g").agg(count(lit(1)).as("_df"))
      .where(col("_df").between(2, maxDf))
    val blocked = inv.join(dfreq, "_g").select("_g", "_sid")
    // the inverted-index self-join is pinned to sort-merge: its sides
    // grow with the corpus (every blocking (gram, id) row), so a
    // broadcast is never scale-safe — and CBO sessions were measured
    // picking exactly that (cardinality under-estimate through the
    // explode): q_containment_dups 0.93 → 1.36 s when the whole
    // blocked relation broadcast. The hint restores the measured-good
    // shuffled shape in every session type.
    val candidates = spreadPairs(
      blocked.as("a").hint("merge").join(blocked.as("b"), Seq("_g"))
      .where(col("a._sid") < col("b._sid"))
      .select(col("a._sid").as("a_id"), col("b._sid").as("b_id")), "a_id", "b_id")
      .dropDuplicates("a_id", "b_id")

    val withSets = candidates
      .join(shsets, col("a_id") === col("_sid"))
      .withColumnRenamed("_sh", "a_sh").drop("_sid")
      .join(shsets, col("b_id") === col("_sid"))
      .withColumnRenamed("_sh", "b_sh").drop("_sid")
    val inter = graft.functions.TextHashExpressions
      .sortedIntersectCount(col("a_sh"), col("b_sh")).cast("double")
    withSets
      .withColumn("containment",
        round(inter / least(size(col("a_sh")), size(col("b_sh"))).cast("double"), 4))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** Cross-corpus fuzzy decontamination: MinHash-LSH candidate join
    * between a training corpus and a (benchmark) probe set, verified
    * with exact shingle-set Jaccard — returns
    * `(c_id, p_id, jaccard ≥ threshold)`, the corpus documents that
    * near-duplicate a probe document. The fuzzy complement of
    * [[ProbeFilter]]'s exact-key decontamination: eval-set phrasing
    * that survives light edits still gets caught.
    *
    * Same shuffle discipline as [[minhashPairs]]: only skinny
    * `(band, bh, id)` rows ride the bucket join — never all-pairs,
    * never text — and the shingle sets attach to the surviving
    * candidates by id-equi-joins. At 100 TB the probe side (a
    * benchmark suite) is tiny, so its banded relation and shingle
    * sets broadcast under AQE while the corpus streams through once.
    */
  def crossMinhashPairs(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 8,
      bands: Int = 2,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // one md5 pass per side (same discipline as minhashPairs): the
    // cached hash sets feed BOTH the banding (signatures folded from
    // the distinct set — bit-identical, a duplicate never moves a min)
    // and the verification joins
    def shsets(df: DataFrame): DataFrame = {
      val s = df.select(
        col(idCol).as("_sid"),
        graft.functions.TextHashExpressions.shingleHashSet(col(textCol), k).as("_sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      registerCache(s)
      s
    }
    def banded(sets: DataFrame): DataFrame = {
      val signed = sets
        .select(col("_sid").as("_id"),
          graft.functions.MinHashSigs.minhashFromHashes(col("_sh"), numHashes).as("_sigs"))
        .select((col("_id") +:
          (0 until numHashes).map(j => element_at(col("_sigs"), j + 1).as(sigCol(j)))): _*)
      signed.select(
        col("_id"),
        array((0 until bands).map { band =>
          val sigs = (band * rowsPerBand until (band + 1) * rowsPerBand).map(j => col(sigCol(j)))
          struct(lit(band).as("band"), bandKey(sigs).as("bh"))
        }: _*).as("_bands"))
        .select(col("_id"), explode(col("_bands")).as("_b"))
        .select(col("_id"), col("_b.band").as("band"), col("_b.bh").as("bh"))
    }

    val corpusSets = shsets(corpus)
    val probeSets = shsets(probe)
    val candidates = spreadPairs(banded(corpusSets).as("c")
      .join(banded(probeSets).as("p"), Seq("band", "bh"))
      .select(col("c._id").as("c_id"), col("p._id").as("p_id")), "c_id", "p_id")
      .dropDuplicates("c_id", "p_id")

    val withSets = candidates
      .join(corpusSets, col("c_id") === col("_sid"))
      .withColumnRenamed("_sh", "c_sh").drop("_sid")
      .join(probeSets, col("p_id") === col("_sid"))
      .withColumnRenamed("_sh", "p_sh").drop("_sid")

    val inter = graft.functions.TextHashExpressions
      .sortedIntersectCount(col("c_sh"), col("p_sh")).cast("double")
    val union = (size(col("c_sh")) + size(col("p_sh"))).cast("double") - inter
    withSets
      .withColumn("jaccard", round(inter / union, 4))
      .where(col("jaccard") >= threshold)
      .select("c_id", "p_id", "jaccard")
  }

  /** Connected components over a near-duplicate pair graph: every doc
    * in a cluster gets the cluster's minimum doc id as its label — the
    * standard final stage of corpus dedup (keep one doc per cluster,
    * drop the rest). Delegates to [[ConnectedComponents.labels]].
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    ConnectedComponents.labels(pairs, aCol, bCol)

  /** Soft (probabilistic) near-dup down-sampling — the CCNet/C4-style
    * alternative to hard keep-one ([[Dedup]] / cluster-best): every
    * member of a duplicate cluster survives with probability
    * ~1/|cluster| via the portable md5 gate, so duplicate MASS drops
    * by the cluster factor while the corpus keeps cluster diversity
    * (expected one copy per cluster; occasionally 0 or 2 — the
    * "soft"). Unclustered docs always survive. Membership is EXACT
    * integer arithmetic — `md5(salt|id) · size < 2³¹−1` — so it is
    * deterministic under any partitioning and bit-replayable in SQL.
    *
    * Scale shape: `clusters` is the skinny (id, cluster_id) frame
    * from [[dupClusters]]; sizes are one groupBy over THAT map (the
    * corpus never shuffles), and docs join the size-annotated map
    * once on id. Schema is preserved — the operator only decides
    * membership.
    */
  def softDedup(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      salt: String = "soft"
  ): DataFrame = {
    val cmap = clusters.select(col("id").as(idCol), col("cluster_id"))
    val sizes = cmap.groupBy("cluster_id").agg(count(lit(1)).as("_csz"))
    val h = PortableHash.md5Mod(
      concat_ws("|", lit(salt), col(idCol).cast("string")))
    docs.join(cmap.join(sizes, "cluster_id"), Seq(idCol), "left")
      .where(h * coalesce(col("_csz"), lit(1L)) < PortableHash.Prime)
      .drop("cluster_id", "_csz")
  }

  /** Exact n-gram Jaccard similarity between two text columns. */
  def ngramJaccard(a: Column, b: Column, k: Int = 5): Column = {
    val sa = array_distinct(Text.shingles(a, k))
    val sb = array_distinct(Text.shingles(b, k))
    val inter = size(array_intersect(sa, sb)).cast("double")
    round(inter / (size(sa) + size(sb) - inter).cast("double"), 4)
  }

  /** SimHash over whitespace tokens: `bits`-wide bit-majority of
    * md5-derived token hashes (token multiplicity = natural term
    * weighting). Pure per-row arithmetic; DuckDB mirror uses the same
    * shift/mask expressions.
    */
  def simhash(textCol: Column, bits: Int = 16): Column = {
    val hashes = transform(Text.wsTokens(textCol), t => PortableHash.md5Long(t))
    // one traversal: fold token hashes into per-bit vote counters, then
    // collapse votes to a bit pattern (tokens are md5-hashed once, not
    // once per bit)
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) =>
        transform(acc, (v, i) => {
          // dynamic-index shiftright: h < 2^48 so the double division by
          // 2^i is exact and floor() == h >> i
          val bit = floor(h / pow(lit(2.0), i)).cast("long") % 2
          v + when(bit === 1, 1L).otherwise(-1L)
        }))
    val bitVals = transform(votes, (v, i) => when(v > 0, pow(lit(2.0), i)).otherwise(lit(0.0)))
    aggregate(bitVals, lit(0.0), (acc, x) => acc + x).cast("long")
  }

  /** Hamming distance between two simhash values (for near-dup
    * thresholding at query time).
    */
  def hammingDistance(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits)
      .map(i => (shiftright(a.bitwiseXOR(b), i) % 2).cast("int"))
      .reduce(_ + _)
}
